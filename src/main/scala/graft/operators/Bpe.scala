package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic byte-pair-encoding tokenizer: train the merge table
  * on the corpus (Sennrich et al. 2016, "Neural Machine Translation
  * of Rare Words with Subword Units" — greedy most-frequent-pair
  * merges over a word-frequency table), then count corpus tokens
  * under the learned merges. This closes the gap between the
  * engine's WHITESPACE token accounting (`mix_token_budget`,
  * `seq_pack`, `text_tokencount`) and the tokenizer tokens a real
  * training budget is denominated in — the two diverge 2-5× on web
  * text, so a mixture tuned on whitespace counts misallocates the
  * actual budget.
  *
  * Determinism contract (what makes the full DuckDB oracle possible):
  * each round merges the pair with the HIGHEST total count, ties
  * broken by (left, right) ascending binary string order. No
  * randomness, no hash maps — re-runs and engines agree exactly.
  *
  * Representation: a word's symbol sequence is one STRING, every
  * symbol PREFIXED by the separator `\u0001` (SEP) (a char outside any
  * text corpus this engine contracts on): `"hello"` starts as
  * `SEP+h+SEP+e+SEP+l+SEP+l+SEP+o`. Applying a merge (l, r)
  * is then one literal `replace(repr, SEP+l+SEP+r, SEP+l+r)` — and
  * because both Spark's `StringReplace` and DuckDB's `replace` scan
  * left-to-right, non-overlapping, resuming AFTER each replacement,
  * the string form reproduces BPE's left-to-right greedy merge
  * exactly (on `[a,a,a,a]`, merge (a,a) yields `[aa,aa]`, never
  * `[aa,a,a]`). The prefix form (separator BEFORE each symbol, none
  * after the last) is what makes the pattern unable to match a
  * symbol SUFFIX (`…al + l` contains no `SEP+l+SEP+l`) or to consume
  * the delimiter the next match needs (spec'd).
  *
  * Scale shape: the corpus is scanned ONCE into a (word, count)
  * table — vocabulary-bounded (Heap's law: ~10⁷-10⁸ distinct words
  * even on 100 TB web text, shuffle-sized, never corpus-sized). All
  * R training rounds are aggregations over THAT table: pair counts
  * explode distinct-word symbol arrays (vocab × word-length rows),
  * the argmax is a 1-row driver collect, the merge application is a
  * map-only `replace` over the vocab table. Corpus tokenization then
  * JOINS the corpus word stream against the trained vocab's
  * final symbol counts — one shuffle on `word`, never R string
  * passes over 100 TB ([[vocabTokenCounts]]); the R-deep
  * [[bpeCountExpr]] replace chain is the map-only path for UNSEEN
  * text (streams, deltas) where no vocab row exists.
  *
  * Reference scope: the reference job (DataStreamJob.java:1) counts
  * no tokens at all — this operator family exists for the
  * training-data-pipeline surface, not the reference parity surface.
  */
object Bpe {

  /** Symbol separator inside a word representation. Outside every
    * printable corpus; callers feeding binary-ish text must pre-clean
    * (the train/count lanes contract on the documents table, ASCII).
    */
  val Sep = "\u0001"

  /** Merge rounds for the driver lanes — deep enough that multi-step
    * merges (merged symbols re-merging) occur on the test corpus,
    * bounded so the unrolled oracle SQL stays readable.
    */
  val TrainRounds = 16

  /** Hard ceiling on training rounds: each round is one vocab-table
    * aggregation + one 1-row collect; 2^12 rounds ≈ real-tokenizer
    * vocab growth (GPT-2 ran 40k merges of this exact loop) and
    * bounds a runaway caller before the driver loop becomes the job.
    */
  val MaxRounds = 4096

  /** (word, cnt, repr): distinct corpus words with occurrence counts
    * and the initial (per-character) symbol representation. The ONE
    * corpus-scale scan of training.
    */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // prefix every char with SEP — the initial symbol sequence.
      // "([^ ])" and not "(.)": the words are space-split so the
      // classes are equivalent on every char EXCEPT line terminators,
      // which "." does not match — with "(.)" a token containing \n
      // would tokenize differently here than in [[bpeCountExpr]]
      // (which always used "([^ ])") and merges trained over symbols
      // containing \n could never apply on the expr path (r12 ADVICE).
      // One charset across all three formulations (this, bpeCountExpr,
      // the oracle CTEs).
      .withColumn("repr", regexp_replace(col("word"), "([^ ])", Sep + "$1"))

  /** Adjacent-pair counts over the CURRENT symbol sequences, weighted
    * by word count — one aggregation over the vocab table. Overlapping
    * occurrences count naively (classic BPE: "aaa" holds (a,a) twice).
    * zip_with/slice are interpreted HOFs — acceptable here because
    * they run on the vocab table, never the corpus (see the engine's
    * HOF doctrine in the verify notes).
    */
  private[operators] def pairCounts(words: DataFrame): DataFrame = {
    val s = split(col("repr"), Sep) // ["", s1, …, sk]
    words.select(col("cnt"), s.as("s"))
      .filter(size(col("s")) >= 3) // single-symbol words: no pairs
      .select(col("cnt"), explode(zip_with(
        slice(col("s"), lit(2), size(col("s")) - 2),
        slice(col("s"), lit(3), size(col("s")) - 2),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** Train `rounds` greedy merges. Driver-coordinated loop — each
    * round collects exactly ONE row (the argmax pair); the vocab
    * table is persisted and re-persisted per round so lineage stays
    * flat. Fails loud if the corpus exhausts (every word one symbol)
    * before `rounds` merges exist — a short merge table would make
    * the unrolled oracle diverge silently.
    */
  /** Cache re-anchor cadence: the lazy merge chain grows one narrow
    * `replace` projection per round on top of the cached vocab;
    * re-materialize every this-many rounds so expression depth stays
    * codegen-friendly at large R without paying a materialization
    * job per round (which DOMINATED the lane at bench SFs — 3 jobs
    * per round × 16 rounds × tiny tables is pure scheduling overhead).
    * The re-anchor is a localCheckpoint, NOT persist: persist caches
    * DATA but the logical plan keeps the whole accumulated replace
    * chain, and plan stringification on the ~1000-deep expression
    * OOMed the driver at R = 1000 on the Heap's-law corpus (the
    * pagerank/HNSW truncate-the-growing-lineage lesson, third
    * sighting). The checkpoint truncates plan and lineage to a
    * LogicalRDD; the driver lanes (R = 16 < cadence) never hit it.
    * Each superseded anchor is released once its successor exists.
    */
  private val RepersistEvery = 64

  def trainMerges(docs: DataFrame, rounds: Int = TrainRounds,
      textCol: String = "text"): Seq[(String, String)] = {
    require(rounds > 0 && rounds <= MaxRounds,
      s"trainMerges: rounds=$rounds outside (0, $MaxRounds]")
    var anchor = Materialize.cache(wordCounts(docs, textCol))
    anchor.count() // ONE corpus scan; every round below is vocab-sized
    var words = anchor
    val out = Seq.newBuilder[(String, String)]
    try {
      for (k <- 1 to rounds) {
        // one distributed job per round: the argmax collect. The
        // merge application stays LAZY — round k's pair counting
        // evaluates ≤ RepersistEvery replace projections over the
        // cached vocab, never a per-round re-materialization.
        val top: Array[Row] = pairCounts(words)
          .orderBy(col("c").desc, col("l"), col("r")).limit(1).collect()
        require(top.nonEmpty,
          s"trainMerges: corpus exhausted after ${k - 1} merges " +
            "(every word is a single symbol); ask for fewer rounds")
        val l = top(0).getAs[String]("l")
        val r = top(0).getAs[String]("r")
        out += ((l, r))
        words = words.withColumn("repr",
          replace(col("repr"), lit(Sep + l + Sep + r), lit(Sep + l + r)))
        if (k % RepersistEvery == 0 && k < rounds) {
          anchor = Materialize.replace(anchor, Materialize.cut(words))
          words = anchor
        }
      }
    } finally Materialize.release(anchor)
    out.result()
  }

  /** Batched training: provably SEQUENTIAL-EQUIVALENT — returns the
    * exact merge list [[trainMerges]] returns, in fewer driver rounds.
    * At R = 16 the sequential loop is fine; at a real-tokenizer
    * R ≈ 40k (GPT-2's merge count) R sequential argmax jobs ARE the
    * job, so each round here collects the top-(B+1) ranked pairs and
    * applies the longest safe prefix at once.
    *
    * The rule, and why it equals the sequential greedy exactly:
    * rank pairs by (count desc, l asc, r asc) — the sequential
    * tie-break. Accept the maximal CONSECUTIVE prefix r_1..r_m that is
    * pairwise symbol-disjoint INCLUDING each accepted pair's produced
    * string l·r, contains no SELF-merge (l == r) after the head, and
    * produces no string equal to a previously produced merge output;
    * stop at the first violating pair; then drop trailing accepted
    * pairs whose count equals the first non-accepted pair's count
    * cStop (always keeping r_1). Sequential equivalence, by induction
    * on the batch: when the sequential greedy reaches step j (having
    * applied r_1..r_{j-1}),
    *   - accepted pairs are symbol-disjoint, so applying any of them
    *     leaves the others' counts untouched (matches align to whole
    *     symbols — the SEP-prefix argument above — and disjoint
    *     replacements can't create or destroy each other's
    *     adjacencies);
    *   - any OTHER pair sharing a symbol with an applied merge cannot
    *     sit in the accepted prefix (it would have to be accepted,
    *     contradicting pairwise disjointness), so it ranks at or below
    *     the stop position: its count ≤ cStop < c(r_j) by the tie
    *     guard, and application only ever DECREASES an existing
    *     pair's count;
    *   - a NEW pair created by an applied merge ((x, l·r) or (l·r, y))
    *     is bounded by its progenitor's old count (every occurrence
    *     of x·(lr) was an occurrence of x·l). The progenitor shares a
    *     symbol with the applied merge, so it is NOT another accepted
    *     pair (disjointness) — UNLESS it is the applied pair ITSELF,
    *     which requires l == r (the progenitor (r, y) of (l·r, y)
    *     equals (l, r) only when r == l and y == r): on "ccc"×12 +
    *     "bd"×10, merging (c,c) creates (cc,c)=12 which outranks an
    *     already-accepted (b,d)=10 — a REAL divergence the r13 rule
    *     missed (found by a 10⁶-corpus brute-force replica). Hence
    *     self-merges hard-stop the batch: a self-merge is accepted
    *     only as the head and applied ALONE (batch of 1 ≡ the
    *     sequential argmax). For non-self merges the progenitor is a
    *     non-accepted sharing pair, so ≤ cStop < c(r_j);
    *   - a new pair's count ADDS to a pre-existing pair's only if the
    *     produced string l·r already exists as a symbol. That cannot
    *     happen: two occurrences of the same character string whose
    *     final symbols tile it exactly evolve IDENTICALLY under the
    *     globally-ordered merge sequence (induction over rounds: a
    *     symbol that ever crosses the string's edge keeps its outside
    *     characters forever, so exact-tiling sites never cross-merge,
    *     and non-crossing sites hold identical partitions at every
    *     round — replace matches align to whole symbols and never
    *     span the edge at such sites). So a symbol equal to l·r
    *     existing elsewhere forces THIS site to carve l·r as one
    *     symbol too — the pair (l, r) would have count 0. The
    *     producedEver guard below enforces this invariant defensively
    *     anyway (a driver-side HashSet; zero distributed cost);
    *   - pairs ranked above r_j are exactly r_1..r_{j-1}, already
    *     applied, whose own counts fall to zero (the replace is
    *     exhaustive per round).
    * Hence r_j is the strict argmax at step j — the same pair, same
    * order, as the sequential loop. The tie guard is what closes the
    * remaining hole: without it a new pair could TIE an accepted count
    * and win the lexicographic tie-break ((l·r) sorts before l's
    * successor strings). Spec'd ≡ [[trainMerges]] on the corpus, on an
    * adversarial tie fixture, and on the self-merge divergence fixture
    * above.
    *
    * Worst case (every top pair shares a symbol — common for natural
    * text's vowel-heavy head) degrades to batch size 1 = the
    * sequential loop; clean corpora batch tens of merges per round.
    */
  def trainMergesBatched(docs: DataFrame, rounds: Int = TrainRounds,
      textCol: String = "text", batch: Int = 64): Seq[(String, String)] =
    trainMergesBatchedFromVocab(wordCounts(docs, textCol), rounds, batch)

  /** [[trainMergesBatched]] over a caller-built (cnt, repr) vocabulary
    * frame — the shared trainer core: the char path feeds
    * [[wordCounts]]; the byte path feeds [[BpeBytes.byteVocab]]'s
    * remapped reprs. Training only reads `cnt`/`repr`.
    */
  def trainMergesBatchedFromVocab(vocab: DataFrame,
      rounds: Int = TrainRounds, batch: Int = 64): Seq[(String, String)] = {
    require(rounds > 0 && rounds <= MaxRounds,
      s"trainMergesBatched: rounds=$rounds outside (0, $MaxRounds]")
    require(batch > 0, s"trainMergesBatched: batch=$batch must be positive")
    var anchor = Materialize.cache(vocab)
    anchor.count()
    var words = anchor
    val out = collection.mutable.ArrayBuffer[(String, String)]()
    // every merge output so far — the producedEver invariant guard
    // (see the proof above; provably never hit, enforced anyway)
    val producedEver = collection.mutable.HashSet[String]()
    var sinceRepersist = 0
    try {
      while (out.length < rounds) {
        val want = math.min(batch, rounds - out.length)
        val ranked = pairCounts(words)
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(want + 1).collect()
        require(ranked.nonEmpty,
          s"trainMergesBatched: corpus exhausted after ${out.length} " +
            "merges (every word is a single symbol); ask for fewer rounds")
        val accepted = collection.mutable.ArrayBuffer[(String, String, Long)]()
        val used = collection.mutable.HashSet[String]()
        var stopCount: Option[Long] = None
        var i = 0
        while (i < ranked.length && stopCount.isEmpty &&
            accepted.length < want) {
          val l = ranked(i).getAs[String]("l")
          val r = ranked(i).getAs[String]("r")
          val c = ranked(i).getAs[Long]("c")
          val s = l + r
          // a self-merge can boost a pair it creates to its OWN count
          // (progenitor = itself — the "ccc" case in the proof above);
          // a pre-existing produced string would let a created pair ADD
          // to unknown counts. Either hazard ends the batch: at the
          // head the pair is applied ALONE (stopCount = own count ⇒
          // the tie guard reduces kept to the head — batch of 1 is the
          // sequential argmax); mid-batch it is deferred to the next
          // round's head.
          val hazard = l == r || producedEver(s)
          if (accepted.isEmpty) {
            accepted += ((l, r, c)); used += l; used += r; used += s
            if (hazard) stopCount = Some(c)
          } else if (used(l) || used(r) || used(s) || hazard) {
            stopCount = Some(c)
          } else {
            accepted += ((l, r, c)); used += l; used += r; used += s
          }
          i += 1
        }
        // budget stop (no conflict seen): the next ranked pair still
        // bounds every changed/new count — same guard applies
        if (stopCount.isEmpty && i < ranked.length)
          stopCount = Some(ranked(i).getAs[Long]("c"))
        val kept = stopCount match {
          case Some(cs) =>
            val safe = accepted.takeWhile(_._3 > cs)
            if (safe.isEmpty) accepted.take(1) else safe
          case None => accepted // list exhausted: no competitor exists
        }
        kept.foreach { case (l, r, _) =>
          out += ((l, r))
          producedEver += l + r
          words = words.withColumn("repr",
            replace(col("repr"), lit(Sep + l + Sep + r), lit(Sep + l + r)))
        }
        sinceRepersist += kept.length
        if (sinceRepersist >= RepersistEvery && out.length < rounds) {
          anchor = Materialize.replace(anchor, Materialize.cut(words))
          words = anchor
          sinceRepersist = 0
        }
      }
    } finally Materialize.release(anchor)
    out.toSeq
  }

  /** Incremental PAIR-COUNT-DELTA trainer — the production-depth path
    * to real vocabulary sizes (GPT-2 shipped 40k merges of this exact
    * greedy loop): ONE distributed corpus scan reduces to the
    * Heap's-law-bounded (word, count) vocabulary, which is collected,
    * and every merge round then runs DRIVER-SIDE over an incrementally
    * maintained pair-count index. Applying the argmax merge touches
    * ONLY the words that contain it (an occurrence index) and updates
    * only the pair counts those words change — O(affected words ×
    * word length) per round and ZERO Spark jobs, vs the distributed
    * loop's per-round aggregation + collect whose ~0.54 s/round job
    * floor is the measured cost at depth (BpeScale R = 4000, SURVEY
    * §4.5 r14). This is the architecture every shipping tokenizer
    * trainer uses (HuggingFace tokenizers, SentencePiece): the
    * word-count reduce is the only corpus-scale stage; training runs
    * in RAM over the vocabulary.
    *
    * Driver-state contract: the collected vocab — ~10⁷-10⁸ rows at
    * 100 TB web scale (Heap's law), a few GB with counts — the upper
    * end of the bounded-collect class this engine documents
    * (alphabet/centroid collects are its smaller members). Beyond
    * that, shard the vocab by word hash and sum per-shard pair-count
    * deltas; the loop is unchanged.
    *
    * Sequential equivalence is by CONSTRUCTION — one argmax merge per
    * round with exact delta bookkeeping, no batching rule to prove:
    * same (count desc, l asc, r asc) order as [[trainMerges]]
    * (driver String compareTo = UTF-16 code-unit order ≡ the engines'
    * binary order on BMP text, the [[symbolIds]] collation note).
    * Spec'd equal to [[trainMerges]]/[[trainMergesBatched]] on the
    * fixtures (ties, self-merge) and a random-corpus sweep.
    */
  /** `resumeFrom`: an already-trained merge prefix — the vocabulary
    * EXTENSION path (continue a 32k vocab to 48k as the corpus or the
    * budget grows, without re-deriving the prefix): the resumed merges
    * replay over the fresh vocab (cheap — mergeGreedy per word per
    * merge, driver-side) and training continues from that state.
    * `rounds` is the TOTAL (prefix included); the returned list
    * carries the prefix. On the SAME corpus, resume(train(R1), R) ≡
    * train(R) exactly (spec'd) — the greedy is history-deterministic.
    */
  def trainMergesIncremental(docs: DataFrame, rounds: Int,
      textCol: String = "text",
      resumeFrom: Seq[(String, String)] = Nil,
      maxVocabRows: Long = MaxIncrementalVocabRows)
      : Seq[(String, String)] = {
    require(rounds > 0 && rounds <= 65536,
      s"trainMergesIncremental: rounds=$rounds outside (0, 65536]")
    val vocab = collectVocabGuarded(
      wordCounts(docs, textCol).select(col("word"), col("cnt")),
      "trainMergesIncremental", maxVocabRows)
    trainIncrementalFromVocab(vocab, rounds, resumeFrom)
  }

  /** Driver-vocab ceiling for the incremental trainer's collect.
    * Heap's law bounds distinct corpus words far below token count
    * (≈ K·N^β, β ≈ 0.5 — a 100 TB corpus lands around 10⁷–10⁸
    * distinct words), but the TOP of that range is multi-GB of driver
    * heap: 2·10⁷ rows ≈ 1-2 GB of (word, cnt) state is the safe
    * default for an 8-16 GB driver. Beyond the ceiling the trainer
    * fails LOUDLY (below) instead of OOMing mid-collect.
    */
  val MaxIncrementalVocabRows: Long = 20000000L

  /** The incremental family's ONE vocab collect, guarded: counts the
    * distinct-word vocabulary BEFORE collecting it and refuses past
    * `maxVocabRows` with the remedy in the message — the fully
    * distributed [[trainMergesBatched]] (one job per batch of rounds,
    * no driver vocab state) is the documented path for corpora whose
    * vocabulary outgrows the driver. The count is one cheap
    * aggregation job next to the collect it protects.
    */
  private[graft] def collectVocabGuarded(vc: DataFrame, what: String,
      maxVocabRows: Long): Array[(String, Long)] = {
    // materialize ONCE before the guard count + the collect (r18,
    // guide §2.4): both actions otherwise re-ran the corpus-scale
    // word-count aggregation — two full scans per call, at every
    // call site (incremental char/byte trainers, unigram encode/EM).
    // The checkpoint is the vocab-bounded (word, cnt) frame; its
    // blocks are released as soon as both actions are done.
    val m = Materialize.cut(vc)
    try {
      val n = m.count()
      require(n <= maxVocabRows,
        s"$what: distinct-word vocabulary has $n rows > " +
          s"maxVocabRows=$maxVocabRows — the incremental trainer keeps " +
          "the whole vocab as driver state and would risk an OOM here. " +
          "Train with trainMergesBatched (fully distributed, no driver " +
          "vocab) or raise maxVocabRows if the driver heap genuinely " +
          "holds it.")
      m.collect().map(r => (r.getString(0), r.getLong(1)))
    } finally Materialize.release(m)
  }

  /** Left-to-right non-overlapping single-pass merge — the exact
    * semantics the SEP-prefixed string `replace` reproduces (on
    * [a,a,a,a], (a,a) → [aa,aa]).
    */
  private def mergeGreedy(s: Array[String], l: String,
      r: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += s(i); i += 1 }
    }
    b.result()
  }

  private[graft] def trainIncrementalFromVocab(
      vocab: Array[(String, Long)], rounds: Int,
      resumeFrom: Seq[(String, String)] = Nil): Seq[(String, String)] = {
    type Pair = (String, String)
    require(rounds > resumeFrom.length,
      s"trainMergesIncremental: rounds=$rounds must exceed the " +
        s"${resumeFrom.length}-merge resume prefix")
    // Initial symbols are CODEPOINTS, not chars: wordCounts /
    // bpeCountExpr / the DuckDB oracle all symbolize per codepoint
    // (`([^ ])` matches a full codepoint in Java regex and RE2 alike),
    // so non-BMP text (emoji) must not be split into surrogate halves
    // here or the learned merges diverge from trainMerges/the oracle.
    val syms: Array[Array[String]] =
      vocab.map { case (w, _) =>
        val cps = w.codePoints().toArray
          .map(cp => new String(Character.toChars(cp)))
        resumeFrom.foldLeft(cps) {
          case (s, (l, r)) => mergeGreedy(s, l, r)
        }
      }
    val cnts: Array[Long] = vocab.map(_._2)
    val pc = new java.util.HashMap[Pair, Long]()
    // pair → word indices currently containing it (≥ once)
    val occ = new java.util.HashMap[Pair, java.util.HashSet[Integer]]()
    // argmax view: (count desc, l asc, r asc) — the trainMerges order
    val ranked = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String),
            b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c
          else {
            val l = a._2.compareTo(b._2)
            if (l != 0) l else a._3.compareTo(b._3)
          }
        }
      })
    def bump(p: Pair, d: Long): Unit = if (d != 0L) {
      val old = pc.getOrDefault(p, 0L)
      if (old != 0L) ranked.remove((old, p._1, p._2))
      val now = old + d
      if (now != 0L) {
        pc.put(p, now)
        ranked.add((now, p._1, p._2))
      } else pc.remove(p)
    }
    def pairBag(s: Array[String]): java.util.HashMap[Pair, Long] = {
      val m = new java.util.HashMap[Pair, Long]()
      var i = 0
      while (i + 1 < s.length) {
        m.merge((s(i), s(i + 1)), 1L, (a, b) => a + b)
        i += 1
      }
      m
    }
    // initial fill: one pass over the vocab
    var wi = 0
    while (wi < syms.length) {
      val bag = pairBag(syms(wi))
      val it = bag.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        pc.merge(e.getKey, e.getValue * cnts(wi), (a, b) => a + b)
        occ.computeIfAbsent(e.getKey, _ => new java.util.HashSet[Integer]())
          .add(wi)
      }
      wi += 1
    }
    pc.forEach((p, c) => { ranked.add((c, p._1, p._2)); () })
    val out = Seq.newBuilder[(String, String)]
    out ++= resumeFrom
    var k = resumeFrom.length
    while (k < rounds) {
      require(!ranked.isEmpty,
        s"trainMergesIncremental: corpus exhausted after $k merges " +
          "(every word is a single symbol); ask for fewer rounds")
      val top = ranked.first()
      val (l, r) = (top._2, top._3)
      out += ((l, r))
      // delta pass: only words holding (l, r) change; subtract each
      // word's old pair bag, merge, add the new one — counts touched
      // are exactly the pairs adjacent to a merge site (plus no-op
      // cancellations inside the bag diff)
      val affected = occ.get((l, r)).toArray(Array.empty[Integer])
      var ai = 0
      while (ai < affected.length) {
        val w = affected(ai).intValue()
        val oldBag = pairBag(syms(w))
        val merged = mergeGreedy(syms(w), l, r)
        val newBag = pairBag(merged)
        syms(w) = merged
        val oi = oldBag.entrySet().iterator()
        while (oi.hasNext) {
          val e = oi.next()
          val nw = newBag.getOrDefault(e.getKey, 0L)
          bump(e.getKey, (nw - e.getValue) * cnts(w))
          if (nw == 0L) {
            val s = occ.get(e.getKey)
            if (s != null) {
              s.remove(affected(ai))
              if (s.isEmpty) occ.remove(e.getKey)
            }
          }
        }
        val ni = newBag.entrySet().iterator()
        while (ni.hasNext) {
          val e = ni.next()
          if (!oldBag.containsKey(e.getKey)) {
            bump(e.getKey, e.getValue * cnts(w))
            occ.computeIfAbsent(e.getKey,
              _ => new java.util.HashSet[Integer]()).add(affected(ai))
          }
        }
        ai += 1
      }
      k += 1
    }
    out.result()
  }

  /** Apply an ordered merge list to a representation column — the
    * R-deep literal-replace chain (codegen'd string ops, no regex).
    */
  private[operators] def applyMerges(repr: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(repr) { case (acc, (l, r)) =>
      replace(acc, lit(Sep + l + Sep + r), lit(Sep + l + r))
    }

  /** Per-doc BPE token counts via the VOCAB JOIN — the corpus-scale
    * path: the merge chain runs once per DISTINCT word (vocab table),
    * the corpus word stream joins the final per-word symbol count and
    * sums per doc. One corpus scan + one shuffle on `word` + one on
    * the id — independent of R.
    */
  /** (word, n_syms): the final per-word BPE symbol counts under an
    * ordered merge list — the merge chain evaluated once per DISTINCT
    * word. The shared vocab side of [[vocabTokenCounts]] and
    * [[chunkDocsBpe]].
    */
  private def vocabSymCounts(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    wordCounts(docs, textCol)
      .select(col("word"),
        (size(split(applyMerges(col("repr"), merges), Sep)) - 1)
          .cast("long").as("n_syms"))

  def vocabTokenCounts(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vocab = vocabSymCounts(docs, merges, textCol)
    // pre-aggregate to (doc, word, k) BEFORE the vocab join: the r12
    // form joined the per-OCCURRENCE word stream on `word`, making
    // stopwords the hottest join keys imaginable; the (doc, word)
    // groupBy collapses repeats MAP-SIDE (partial aggregation), so
    // the word-keyed shuffle carries distinct (doc, word) pairs —
    // smaller by the corpus's repetition factor — instead of leaning
    // on AQE skew splitting (r12 VERDICT "What's wrong" #5)
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("k"))
      .join(vocab, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("n_syms") * col("k")).as("n_tokens_bpe"))
  }

  /** Map-only BPE token count for UNSEEN text (streams, deltas — no
    * vocab row to join): sep-prefix every non-space char of the whole
    * doc, run the merge chain over it (merges cannot cross a word
    * boundary — the bare space breaks the SEP+l+SEP+r pattern), count
    * surviving separators. R string passes per row; prefer
    * [[vocabTokenCounts]] when a vocab table exists.
    */
  def bpeCountExpr(text: Column, merges: Seq[(String, String)]): Column = {
    val repr0 = regexp_replace(text, "([^ ])", Sep + "$1")
    val reprN = applyMerges(repr0, merges)
    (length(reprN) - length(replace(reprN, lit(Sep), lit(""))))
      .cast("long")
  }

  // ------------------------------------------------------------------
  // Driver lanes
  // ------------------------------------------------------------------

  /** The merge table is a PURE function of (corpus dir, rounds) — the
    * four driver lanes train on the same corpus, and the r12 suite
    * re-derived one identical 16-round table three times (~9 s of
    * 146 s; r12 VERDICT "What's wrong" #5). Memoize per (dir, rounds):
    * training is deterministic, so the cache is semantics-free (same
    * key ⟹ bit-identical table). Keyed by the input PATH — the test
    * and bench corpora are immutable per run; callers training on a
    * mutating location use [[trainMerges]]/[[trainMergesBatched]]
    * directly. Bounded: a handful of (dir, rounds) keys per process,
    * each R small tuples.
    */
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      Seq[(String, String)]]()

  private[graft] def cachedMerges(spark: SparkSession, dir: String,
      rounds: Int = TrainRounds): Seq[(String, String)] =
    mergeCache.computeIfAbsent((dir, rounds),
      // the incremental trainer (spec'd merge-list-equal to the
      // sequential/batched loops; r15) — one corpus scan, zero-job
      // rounds: measured 3.4 s vs batched 614 s at R=1000 on the
      // Heap's-law corpus, and the lane memo train drops with it
      _ => trainMergesIncremental(Tables.documents(spark, dir), rounds))

  /** Driver query `tok_bpe_train`: the learned merge table —
    * (rank, lhs, rhs, merged) for [[TrainRounds]] greedy rounds over
    * the documents corpus. R rows; the oracle re-derives every round
    * from scratch (unrolled CTEs — [[trainOracleSql]]). Trains via
    * [[trainMergesBatched]] (spec'd ≡ sequential) through the shared
    * [[cachedMerges]] memo.
    */
  def trainLane(spark: SparkSession, dir: String): DataFrame = {
    val merges = cachedMerges(spark, dir)
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1L, l, r, l + r) }
      .toDF("rank", "lhs", "rhs", "merged")
  }

  /** Driver query `tok_count_bpe`: per-doc token counts under the
    * merges trained on the same corpus — the number every
    * token-denominated lane SHOULD budget on (whitespace counts are
    * its upper bound; equality iff every word merged to one symbol).
    */
  def countLane(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    vocabTokenCounts(docs, cachedMerges(spark, dir))
  }

  /** Driver query `mix_token_budget_bpe`: the `mix_token_budget`
    * recipe (½ src0, ¼ src1, ⅛ src2+src3 of a 2000-token budget,
    * u16 hash-gate keeps) with the token mass measured in BPE tokens
    * instead of whitespace tokens — same doc set, different rates
    * wherever the per-source BPE/whitespace ratio differs, which is
    * exactly the misallocation the whitespace lane cannot see.
    */
  def budgetLane(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    budgetFromCounts(docs, vocabTokenCounts(docs, cachedMerges(spark, dir)))
  }

  /** Driver query `text_chunk_bpe`: split each document into
    * `budget`-BPE-token chunks at WORD granularity — the
    * context-window chunker denominated in tokenizer tokens instead
    * of `text_chunk`'s whitespace windows (the remaining half of the
    * whitespace→tokenizer gap: a 32-whitespace-token chunk is 64-160
    * REAL tokens on web text, blowing the context budget it was cut
    * for). Convention mirrors seq_pack: a word's chunk is the one its
    * FIRST token lands in (chunk = start_offset div budget) — fixed
    * token-offset bins, associative, windowable; a greedy
    * never-straddle packer would be order-SEQUENTIAL per doc (each
    * boundary depends on the previous) and is deliberately not this
    * operator.
    *
    * Scale shape: one vocab join (word-keyed, pre-aggregation not
    * applicable — position must survive), one per-doc window (the
    * seq_pack shard-window shape with doc_id as the shard), one
    * aggregation per (doc, chunk). Chunk text ships as md5 (32
    * bytes), the text_chunk convention.
    */
  def chunkDocsBpe(spark: SparkSession, dir: String,
      budget: Long = 32L): DataFrame =
    chunkByBudget(Tables.documents(spark, dir),
      cachedMerges(spark, dir), budget)

  def chunkByBudget(docs: DataFrame, merges: Seq[(String, String)],
      budget: Long = 32L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"chunkByBudget: budget=$budget must be positive")
    val vocab = vocabSymCounts(docs, merges, textCol)
    val words = Par.ensure(docs)
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "word")
      .filter(length(col("word")) > 0)
      .join(vocab, Seq("word"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    words
      .withColumn("__off", coalesce(sum(col("n_syms")).over(w), lit(0L)))
      .withColumn("chunk_id", call_function("div", col("__off"), lit(budget)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_tokens_bpe"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("__pos"), col("word")))),
          s => s.getField("word")), " ")).as("chunk_md5"))
  }

  /** The mix_token_budget recipe over an EXPLICIT per-doc token-count
    * table (doc_id, n_tokens_bpe) — shared by [[budgetLane]] and the
    * whitespace-degeneracy equality spec (with a fully-merged vocab,
    * BPE counts equal whitespace counts, so this function must return
    * the whitespace lane's rows bit-for-bit).
    */
  /** (symbol, token_id) vocabulary table under an ordered merge list
    * — the deterministic id scheme real tokenizers ship: base symbols
    * (every distinct corpus character, sorted ascending) take ids
    * 0..B−1, merge outputs take B+rank−1 in rank order (the GPT-2
    * byte-then-merge id layout re-expressed at char granularity).
    * The alphabet comes from the SAME SEP-prefixed repr charset as
    * training (one charset across every formulation — the r12
    * lesson), collected: bounded driver state, the centroid-table
    * class (a corpus alphabet, not a corpus). Merged strings are
    * length ≥ 2 so they cannot collide with single-char ids, and two
    * merges cannot produce the same string (the exact-tiling proof at
    * [[trainMergesBatched]]) — ids are unique by construction.
    * Sort order note: driver-side String sorting is UTF-16 code-unit
    * order vs the oracle's UTF-8 byte order — identical on BMP text
    * (the corpus class); a supplementary-plane alphabet would need a
    * codepoint collation pin.
    */
  def symbolIds(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val alphabet = wordCounts(docs, textCol)
      .select(explode(split(col("repr"), Sep)).as("sym"))
      .filter(length(col("sym")) > 0)
      .distinct().collect().map(_.getString(0)).sorted
    val rows = alphabet.zipWithIndex.toSeq
      .map { case (s, i) => (s, i.toLong) } ++
      merges.zipWithIndex.map { case ((l, r), i) =>
        (l + r, alphabet.length + i.toLong) }
    rows.toDF("sym", "token_id")
  }

  /** Per-doc BPE ENCODE: the token-ID SEQUENCE (not just the count) —
    * what a training pipeline actually writes to disk. Ids under
    * [[symbolIds]]; sequence order is (word position, symbol
    * position). Ships as a comma-joined string (`ids_csv`) so the
    * oracle compare is engine-neutral, plus `n_tokens` (≡ the
    * [[vocabTokenCounts]] count — spec'd).
    *
    * Scale shape: EVERYTHING per-token happens at VOCAB scale — the
    * merge chain, the symbol→id join, and the within-word id ordering
    * all run once per DISTINCT word, producing a per-word csv
    * fragment + symbol count (Heap's-law bounded). The corpus word
    * stream joins those fragments WITH position (pre-aggregation not
    * applicable — order must survive, the chunk-lane precedent) and
    * one aggregation per doc splices fragments in word order: the
    * corpus-scale shuffle carries one small-string row per word
    * OCCURRENCE, never one row per token (the first cut did, and paid
    * ~5× the shuffle volume at 10×). The per-doc sort/transform HOFs
    * run on doc-length-bounded arrays POST-aggregation — the text
    * itself already sits in one row, same boundedness class.
    */
  def encodeDocs(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // MATERIALIZE the per-word symbol arrays BEFORE the posexplode
    // (r18, guide §1.2 per-task work): project collapse inlines the
    // R-deep replace chain + split + slice into the Generate stage,
    // where it is evaluated WITHOUT whole-stage codegen or
    // subexpression elimination (the slice's size() operand carries a
    // second full copy of the chain) — measured 10.6 s vs 0.08 s for
    // the identical explode over a materialized frame at the 10×
    // corpus, and ~121 s of the 137 s 100× lane. The checkpoint is
    // the narrow vocab-bounded (word, syms) frame (Heap's-law rows,
    // bytes ≈ the reprs themselves), read by the returned frame.
    val vocab = Materialize.cut(wordCounts(docs, textCol)
      .select(col("word"),
        split(applyMerges(col("repr"), merges), Sep).as("arr"))
      // split of the SEP-prefixed repr yields a leading empty element
      .select(col("word"),
        slice(col("arr"), lit(2), size(col("arr")) - 1).as("syms")))
    val vocabIds = vocab
      .select(col("word"), posexplode(col("syms")))
      .withColumnRenamed("pos", "spos").withColumnRenamed("col", "sym")
      .join(broadcast(symbolIds(docs, merges, textCol)), Seq("sym"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_syms"),
        array_join(transform(array_sort(collect_list(struct(
            col("spos"), col("token_id")))),
          x => x.getField("token_id").cast("string")), ",")
          .as("word_csv"))
    val words = docs
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .withColumnRenamed("pos", "wpos").withColumnRenamed("col", "word")
      .filter(length(col("word")) > 0)
    // vocabIds LOOKS like the broadcastable BM25-df-dictionary class
    // (vocabulary-keyed), but its rows carry the per-word id-CSV
    // payload — a FORCED broadcast measured 12.9 → 11.7 s at the 10×
    // corpus and then 118.6 → 149.1 s at 100× (the broadcast build +
    // per-task deserialization of the string-heavy table outgrows
    // the word shuffle it saves). Leave the join unhinted: AQE
    // broadcasts it while it is small and shuffles when it is not —
    // exactly the crossover the measurements show.
    words.join(vocabIds, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("n_syms")).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(
            col("wpos"), col("word_csv")))),
          x => x.getField("word_csv")), ",").as("ids_csv"))
  }

  /** Driver query `tok_encode_bpe`: per-doc token-id sequences under
    * the corpus-trained merges (shared [[cachedMerges]] memo).
    */
  def encodeLane(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    encodeDocs(docs, cachedMerges(spark, dir))
  }

  def budgetFromCounts(docs: DataFrame, toks: DataFrame): DataFrame = {
    val weights = Map("src0" -> 0.5, "src1" -> 0.25,
      "src2" -> 0.125, "src3" -> 0.125)
    val wCase = weights.foldLeft(lit(0.0)) { case (acc, (k, w)) =>
      when(col("source") === k, lit(w)).otherwise(acc)
    }
    val perDoc = docs.select(col("doc_id"), col("source"))
      .join(toks, Seq("doc_id"))
    val rates = perDoc.groupBy(col("source"))
      .agg(sum(col("n_tokens_bpe")).as("toks_obs"))
      .select(col("source"), col("toks_obs"),
        floor(least(lit(1.0),
          wCase * lit(2000.0) / col("toks_obs").cast("double"))
          * lit(65536.0)).as("rate_u16"))
      .filter(col("rate_u16") > 0)
    perDoc.join(broadcast(rates), Seq("source"))
      .groupBy(col("source"), col("toks_obs"), col("rate_u16"))
      .agg(
        sum(when(Sampling.hashUnit16(col("doc_id")) < col("rate_u16"), 1L)
          .otherwise(0L)).as("docs_kept"),
        sum(when(Sampling.hashUnit16(col("doc_id")) < col("rate_u16"),
          col("n_tokens_bpe")).otherwise(0L)).as("toks_kept"))
    // no trailing sort (r17): presentation-only, and its sampling
    // pass re-ran the BPE token-count join a second time per run
  }

  // ------------------------------------------------------------------
  // Oracle SQL (generated — unrolled-recurrence convention, the
  // graph_kcore/pagerank pattern: one CTE triple per merge round)
  // ------------------------------------------------------------------

  /** w0 (initial vocab) plus, per round k: pair counts p_k over
    * w_{k-1}, the 1-row argmax b_k, and the merged vocab w_k. DuckDB
    * `replace`/`regexp_replace('g')` share Spark's literal-replace
    * and global-prefix semantics (validated in the spec); side-by-
    * side `unnest`s zip positionally, reproducing the slice/zip_with
    * pair extraction.
    */
  private def unrolledCtes(rounds: Int): String =
    """w0 AS MATERIALIZED (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    regexp_replace(word, '([^ ])', chr(1) || '\1', 'g') AS repr
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE len(word) > 0 GROUP BY word)""".stripMargin +
      roundCtes(rounds)

  /** The per-round (p_k, b_k, w_k) CTE chain over an existing `w0` —
    * shared by the char-granularity oracle above and the byte-level
    * one ([[BpeBytes.encodeBytesOracleSql]]), whose w0 differs only in
    * tokenization + symbol alphabet.
    */
  private[operators] def roundCtes(rounds: Int): String = {
    val sb = new StringBuilder
    for (k <- 1 to rounds) {
      sb ++= s""",
        |p$k AS MATERIALIZED (SELECT l, r, SUM(cnt) AS c FROM (
        |  SELECT cnt, unnest(s[2:len(s)-1]) AS l, unnest(s[3:]) AS r
        |  FROM (SELECT cnt, string_split(repr, chr(1)) AS s FROM w${k - 1})
        |  WHERE len(s) >= 3) GROUP BY l, r),
        |b$k AS MATERIALIZED (SELECT l, r FROM p$k
        |  ORDER BY c DESC, l, r LIMIT 1),
        |w$k AS MATERIALIZED (SELECT word, cnt,
        |  replace(repr, (SELECT chr(1)||l||chr(1)||r FROM b$k),
        |                (SELECT chr(1)||l||r FROM b$k)) AS repr
        |  FROM w${k - 1})""".stripMargin
    }
    sb.toString
  }

  /** Oracle for `tok_bpe_train`: the b_k argmax rows stitched into
    * the ranked merge table.
    */
  def trainOracleSql(rounds: Int = TrainRounds): String = {
    val rows = (1 to rounds).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, l AS lhs, r AS rhs, " +
        s"l||r AS merged FROM b$k").mkString("\n  UNION ALL ")
    s"WITH ${unrolledCtes(rounds)}\n  $rows"
  }

  /** Oracle for `tok_count_bpe`: final-vocab symbol counts joined
    * back onto the corpus word stream.
    */
  def countOracleSql(rounds: Int = TrainRounds): String =
    s"""WITH ${unrolledCtes(rounds)},
       |v AS (SELECT word,
       |  CAST(len(string_split(repr, chr(1))) - 1 AS BIGINT) AS n_syms
       |  FROM w$rounds)
       |SELECT d.doc_id,
       |  CAST(SUM(v.n_syms) AS BIGINT) AS n_tokens_bpe
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |      FROM documents) d
       |JOIN v USING (word)
       |WHERE len(d.word) > 0
       |GROUP BY d.doc_id""".stripMargin

  /** Oracle for `seq_pack_bpe`: the seq_pack oracle with the
    * whitespace token CTE swapped for the BPE vocab-join count.
    */
  def packOracleSql(rounds: Int = TrainRounds, nShards: Int = 8,
      budget: Long = 256L): String =
    s"""WITH ${unrolledCtes(rounds)},
       |v AS (SELECT word,
       |  CAST(len(string_split(repr, chr(1))) - 1 AS BIGINT) AS n_syms
       |  FROM w$rounds),
       |tok AS (SELECT d.doc_id,
       |  CAST(SUM(v.n_syms) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents) d
       |  JOIN v USING (word) WHERE len(d.word) > 0 GROUP BY d.doc_id),
       |o AS (SELECT doc_id, doc_id % $nShards AS shard, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id % $nShards
       |    ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS start_off
       |  FROM tok)
       |SELECT doc_id, shard, n_tokens, start_off,
       |  start_off // $budget AS bin FROM o""".stripMargin

  /** Oracle for `text_chunk_bpe`: positions from side-by-side unnest
    * (positional zip, the pairCounts convention), the same vocab CTEs,
    * a per-doc prefix-sum window, md5 of the ordered chunk words.
    */
  def chunkOracleSql(rounds: Int = TrainRounds,
      budget: Long = 32L): String =
    s"""WITH ${unrolledCtes(rounds)},
       |v AS (SELECT word,
       |  CAST(len(string_split(repr, chr(1))) - 1 AS BIGINT) AS n_syms
       |  FROM w$rounds),
       |wds AS (SELECT doc_id, unnest(t) AS word,
       |        unnest(range(1, len(t) + 1)) AS pos
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents)),
       |j AS (SELECT w.doc_id, w.pos, w.word, v.n_syms
       |      FROM wds w JOIN v USING (word) WHERE len(w.word) > 0),
       |o AS (SELECT doc_id, pos, word, n_syms,
       |  COALESCE(SUM(n_syms) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM j)
       |SELECT doc_id, CAST(off // $budget AS BIGINT) AS chunk_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_syms) AS BIGINT) AS n_tokens_bpe,
       |  md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_md5
       |FROM o GROUP BY doc_id, off // $budget""".stripMargin

  /** Oracle for `tok_encode_bpe`: the same vocab CTEs, the alphabet
    * from w0's repr (SEP-split — no engine-specific char splitting),
    * ids via row_number over the sorted alphabet then B+rank−1 per
    * merge round's b_k row, sequences re-assembled by ordered
    * string_agg over side-by-side-unnest positions.
    */
  def encodeOracleSql(rounds: Int = TrainRounds): String = {
    val mids = (1 to rounds).map(k =>
      s"SELECT l||r AS sym, CAST((SELECT nb FROM bcnt) + $k - 1 " +
        s"AS BIGINT) AS token_id FROM b$k").mkString("\n  UNION ALL ")
    s"""WITH ${unrolledCtes(rounds)},
       |v AS (SELECT word, string_split(repr, chr(1))[2:] AS syms
       |      FROM w$rounds),
       |alpha AS (SELECT DISTINCT sym FROM (
       |  SELECT unnest(string_split(repr, chr(1))) AS sym FROM w0)
       |  WHERE sym <> ''),
       |bcnt AS (SELECT COUNT(*) AS nb FROM alpha),
       |aid AS (SELECT sym,
       |  CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT)
       |    AS token_id FROM alpha),
       |sid AS (SELECT * FROM aid
       |  UNION ALL $mids),
       |wds AS (SELECT doc_id, unnest(t) AS word,
       |        unnest(range(1, len(t) + 1)) AS pos
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents)),
       |js AS (SELECT w.doc_id, w.pos, unnest(v.syms) AS sym,
       |       unnest(range(1, len(v.syms) + 1)) AS spos
       |       FROM wds w JOIN v USING (word) WHERE len(w.word) > 0),
       |tok AS (SELECT j.doc_id, j.pos, j.spos, s.token_id
       |        FROM js j JOIN sid s USING (sym))
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY pos, spos)
       |    AS ids_csv
       |FROM tok GROUP BY doc_id""".stripMargin
  }

  /** Oracle for `mix_token_budget_bpe`: the mix_token_budget oracle
    * with the whitespace `n_toks` CTE swapped for the BPE count.
    */
  def budgetOracleSql(rounds: Int = TrainRounds): String =
    s"""WITH ${unrolledCtes(rounds)},
       |v AS (SELECT word,
       |  CAST(len(string_split(repr, chr(1))) - 1 AS BIGINT) AS n_syms
       |  FROM w$rounds),
       |tok AS (SELECT ANY_VALUE(d.source) AS source, d.doc_id,
       |  CAST(SUM(v.n_syms) AS BIGINT) AS n_toks
       |  FROM (SELECT source, doc_id,
       |        unnest(string_split(text, ' ')) AS word FROM documents) d
       |  JOIN v USING (word) WHERE len(d.word) > 0 GROUP BY d.doc_id),
       |agg AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS toks_obs
       |        FROM tok GROUP BY source),
       |rates AS (SELECT source, toks_obs,
       |  CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
       |    (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
       |      WHEN 'src2' THEN 0.125 WHEN 'src3' THEN 0.125
       |      ELSE 0.0 END)
       |    * 2000.0 / CAST(toks_obs AS DOUBLE)) * 65536.0) AS BIGINT)
       |    AS rate_u16
       |  FROM agg),
       |r2 AS (SELECT * FROM rates WHERE rate_u16 > 0),
       |u AS (SELECT source, n_toks,
       |  (strpos('0123456789abcdef',
       |     substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096 +
       |  (strpos('0123456789abcdef',
       |     substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256 +
       |  (strpos('0123456789abcdef',
       |     substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16 +
       |  (strpos('0123456789abcdef',
       |     substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS u16
       |  FROM tok)
       |SELECT r2.source, r2.toks_obs, r2.rate_u16,
       |  CAST(SUM(CASE WHEN u.u16 < r2.rate_u16 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS docs_kept,
       |  CAST(SUM(CASE WHEN u.u16 < r2.rate_u16 THEN u.n_toks ELSE 0 END)
       |    AS BIGINT) AS toks_kept
       |FROM u JOIN r2 ON u.source = r2.source
       |GROUP BY 1, 2, 3 ORDER BY r2.source""".stripMargin
}
