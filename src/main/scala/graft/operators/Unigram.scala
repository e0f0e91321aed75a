package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** UNIGRAM-LM tokenizer family — the SentencePiece shape (Kudo 2018:
  * a vocabulary of variable-length pieces with per-piece scores;
  * encoding picks the best-scoring segmentation of each word via
  * Viterbi; training is EM over segmentation lattices with iterative
  * vocabulary pruning). The LLaMA/T5-style tokenizer — the one
  * production family the BPE lanes (char + byte) do not cover,
  * because its trainer and encoder are genuinely different shapes:
  * BPE grows a vocab bottom-up by merge; unigram starts from a large
  * seed and PRUNES top-down under a probabilistic model.
  *
  * Two models ship here, split by oracle discipline:
  *
  *  1. The FULL-ORACLE lane model ([[unigramVocab]] +
  *     [[encodeDocsUnigram]]): piece scores are SHANNON CODE LENGTHS
  *     in whole bits — cost(piece) = ⌈log2(T / cnt(piece))⌉, computed
  *     by EXACT integer algebra (ceil-div then bit-length via
  *     `bin()`, identical in Spark and DuckDB — no transcendental
  *     ever crosses the engine boundary, the repo's FP doctrine).
  *     Viterbi then MINIMIZES total bits — the MDL segmentation under
  *     a bit-quantized unigram model. Every score is an integer, the
  *     DP tie-break is total-ordered, and the whole pipeline (vocab
  *     selection, costs, segmentation, id sequences) hash-matches a
  *     generated DuckDB oracle that re-derives ALL of it.
  *
  *  2. The EM trainer ([[trainUnigramEm]]): the real SentencePiece
  *     estimator — forward-backward expected piece counts over each
  *     word's lattice, M-step renormalization, prune-lowest-
  *     probability rounds down to the target size (singles are
  *     never pruned: coverage by construction). FP-iterative →
  *     no_oracle by declaration; the hard signals are spec'd
  *     (planted-vocab recovery; EM likelihood monotonicity) and the
  *     lane output is deterministic (driver-side strict-FP doubles,
  *     fixed iteration order).
  *
  * Scale shape (the Bpe encode doctrine): every per-token cost runs
  * at VOCAB scale — candidate extraction, EM lattices, and Viterbi
  * all work on the DISTINCT-WORD table (Heap's-law bounded, guarded
  * by [[Bpe.collectVocabGuarded]]'s loud ceiling); the corpus-scale
  * work is one word-count scan plus the positional splice join that
  * reassembles per-doc id sequences.
  */
object Unigram {

  /** Oracle DP unroll depth: the generated encode oracle carries one
    * CTE per word position, so lane corpora must keep words at or
    * under this many codepoints ([[encodeDocsUnigram]] checks loudly;
    * the driver-side Viterbi itself has no limit).
    */
  val MaxOracleWordLen = 16

  val DefaultVocabSize = 256
  val DefaultMaxPieceLen = 4

  // -----------------------------------------------------------------
  // Deterministic MDL vocab (full oracle)
  // -----------------------------------------------------------------

  /** (piece_id, piece, pcnt, cost_bits): candidate pieces are every
    * substring of length ≤ maxPieceLen of every distinct word,
    * counted per OCCURRENCE and weighted by word count; the vocab is
    * the top `vocabSize` by (count desc, piece asc) UNION all
    * single-codepoint pieces (coverage guarantee — every word is
    * segmentable). cost_bits is the piece's Shannon code length
    * ⌈log2(T / pcnt)⌉ over the selected vocab's total mass T —
    * integer algebra end-to-end (ceil-div, then bit length of q−1
    * via `bin`), so the whole table is FULL-oracle.
    *
    * The vocab-sized single-partition windows here are the bounded
    * class (≤ vocabSize + alphabet rows), the tfidf convention.
    */
  def unigramVocab(docs: DataFrame, vocabSize: Int = DefaultVocabSize,
      maxPieceLen: Int = DefaultMaxPieceLen,
      textCol: String = "text"): DataFrame =
    unigramVocabFromCounts(
      Bpe.wordCounts(docs, textCol).select(col("word"), col("cnt")),
      vocabSize, maxPieceLen)

  /** [[unigramVocab]] over a caller-built (word, cnt) frame — lets
    * the encode lane derive the vocab AND the driver word collect
    * from ONE materialized word-count pass (r18, guide §2.4).
    */
  private[operators] def unigramVocabFromCounts(w: DataFrame,
      vocabSize: Int = DefaultVocabSize,
      maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    val occ = w
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("cnt"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen),
            length(col("word")) - col("i") + lit(1)))).as("l"))
      .select(col("word").substr(col("i"), col("l")).as("piece"),
        col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("pcnt"))
    val sel = occ
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("pcnt").desc, col("piece"))))
      .filter(col("rk") <= vocabSize).drop("rk")
    val vocab0 = sel
      .unionByName(occ.filter(length(col("piece")) === 1))
      .distinct()
    val t = vocab0.agg(sum(col("pcnt")).as("t"))
    vocab0.crossJoin(broadcast(t))
      .withColumn("q", expr("(t + pcnt - 1) div pcnt"))
      .withColumn("cost_bits", when(col("q") <= 1, lit(0L))
        .otherwise(length(bin(col("q") - 1)).cast("long")))
      .withColumn("piece_id", row_number()
        .over(Window.orderBy(col("pcnt").desc, col("piece")))
        .cast("long"))
      .select(col("piece_id"), col("piece"), col("pcnt"),
        col("cost_bits"))
  }

  // -----------------------------------------------------------------
  // Viterbi (driver-side DP over the guarded word vocab)
  // -----------------------------------------------------------------

  /** Min-cost segmentation of one word under integer piece costs —
    * DP over codepoint positions; tie order (total cost asc, piece
    * count asc, zero-padded id-csv asc) is TOTAL and engine-portable
    * (the oracle's window ORDER BY is the same padded-string key, so
    * no list-comparison or collation semantics are load-bearing).
    * Maximizing a score is the same DP with negated costs.
    */
  private[graft] def viterbiSegment(word: String,
      costOf: Map[String, (Long, Long)],
      maxPieceLen: Int): Seq[Long] = {
    val cps = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    val n = cps.length
    // (bits, np, ids, paddedKey)
    val dp = new Array[(Long, Long, Vector[Long], String)](n + 1)
    dp(0) = (0L, 0L, Vector.empty, "")
    var j = 1
    while (j <= n) {
      var best: (Long, Long, Vector[Long], String) = null
      var l = 1
      while (l <= math.min(maxPieceLen, j)) {
        if (dp(j - l) != null) {
          val piece = cps.slice(j - l, j).mkString
          costOf.get(piece) match {
            case Some((id, cost)) =>
              val (b0, n0, ids0, k0) = dp(j - l)
              val key =
                if (k0.isEmpty) f"$id%08d" else k0 + "," + f"$id%08d"
              val cand = (b0 + cost, n0 + 1, ids0 :+ id, key)
              if (best == null || cand._1 < best._1 ||
                  (cand._1 == best._1 && (cand._2 < best._2 ||
                    (cand._2 == best._2 && cand._4 < best._4))))
                best = cand
            case None => ()
          }
        }
        l += 1
      }
      dp(j) = best
      j += 1
    }
    require(dp(n) != null,
      s"unigram: word '$word' not segmentable — a single-codepoint " +
        "piece is missing from the vocab (coverage violated)")
    dp(n)._3
  }

  /** Per-doc token-id sequences under the MDL vocab — output shape
    * (doc_id, n_tokens, ids_csv), the [[Bpe.encodeDocs]] contract.
    * Viterbi runs ONCE PER DISTINCT WORD on the driver (guarded
    * Heap's-bounded collect, the incremental-BPE convention); the
    * corpus-scale join splices per-word csv fragments in word order.
    * FULL oracle ([[encodeUnigramOracleSql]] re-derives vocab, costs,
    * and the DP itself in unrolled position CTEs).
    */
  def encodeDocsUnigram(docs: DataFrame,
      vocabSize: Int = DefaultVocabSize,
      maxPieceLen: Int = DefaultMaxPieceLen, textCol: String = "text",
      idCol: String = "doc_id", oracleCompat: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    // ONE corpus word-count pass feeds both the vocab derivation and
    // the driver word collect (r18, guide §2.4): the lane otherwise
    // paid three corpus scans — the vocab collect plus the guard's
    // count + collect. Blocks released after the collect below.
    val wcDf = Materialize.cut(Bpe.wordCounts(docs, textCol)
      .select(col("word"), col("cnt")))
    val (vocabRows, wc) = try {
      (unigramVocabFromCounts(wcDf, vocabSize, maxPieceLen).collect(),
        Bpe.collectVocabGuarded(wcDf, "encodeDocsUnigram",
          Bpe.MaxIncrementalVocabRows))
    } finally Materialize.release(wcDf)
    val costOf = vocabRows.map(r =>
      r.getString(1) -> ((r.getLong(0), r.getLong(3)))).toMap
    // The 16-codepoint cap is the ORACLE's CTE-unroll constraint, not
    // the operator's: driver Viterbi handles any length. Enforce only
    // on the oracle-verified lane path (r16 ADVICE — real text has
    // URLs/compounds/long identifiers and must not throw here).
    if (oracleCompat) {
      val maxLen = if (wc.isEmpty) 0
        else wc.iterator.map(w => w._1.codePointCount(0, w._1.length)).max
      require(maxLen <= MaxOracleWordLen,
        s"encodeDocsUnigram: corpus has a $maxLen-codepoint word but " +
          s"the generated oracle unrolls $MaxOracleWordLen DP rounds — " +
          "raise MaxOracleWordLen (and regenerate) or pre-chunk words")
    }
    val perWord = wc.toSeq.map { case (w, _) =>
      val ids = viterbiSegment(w, costOf, maxPieceLen)
      (w, ids.length.toLong, ids.mkString(","))
    }
    val frames = spark.createDataFrame(perWord)
      .toDF("word", "n_syms", "word_csv")
    val words = docs
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .withColumnRenamed("pos", "wpos").withColumnRenamed("col", "word")
      .filter(length(col("word")) > 0)
    words.join(frames, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("n_syms")).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(
            col("wpos"), col("word_csv")))),
          x => x.getField("word_csv")), ",").as("ids_csv"))
  }

  // -----------------------------------------------------------------
  // EM trainer (SentencePiece estimator — driver-side, no_oracle)
  // -----------------------------------------------------------------

  /** Train a unigram LM vocabulary by EM with iterative pruning over
    * the guarded (word, cnt) vocab:
    *  - seed: top `seedFactor`·vocabSize candidate substrings by
    *    count, plus all singles; p initialized ∝ counts;
    *  - each prune round runs `emRounds` EM sweeps (E: forward-
    *    backward expected piece counts per word lattice, weighted by
    *    word count; M: renormalize), then drops the lowest-probability
    *    multi-codepoint pieces down to ~75 % of the excess over the
    *    target (the SentencePiece shrink schedule; singles are never
    *    pruned — coverage is structural);
    *  - final vocab: AT MOST the target size (plus singles) — the
    *    last round's EM sweeps run after the final prune, so a
    *    multi-codepoint piece whose expected count underflows to zero
    *    in those sweeps drops out below target (singles are floored,
    *    never lost; coverage holds.) Scores
    *    ln p quantized to integer micro-units (round(10⁶·ln p)) — the
    *    ARTIFACT is integers, so downstream Viterbi is deterministic.
    *
    * Returns (piece, score_micro) sorted by (score desc, piece).
    * FP-iterative (EM) → no_oracle; signals spec'd in UnigramSpec:
    * planted-piece recovery and EM-likelihood monotonicity.
    */
  def trainUnigramEm(docs: DataFrame,
      vocabSize: Int = DefaultVocabSize,
      maxPieceLen: Int = DefaultMaxPieceLen, emRounds: Int = 4,
      pruneRounds: Int = 3, seedFactor: Int = 4,
      textCol: String = "text"): Seq[(String, Long)] = {
    val wc = Bpe.collectVocabGuarded(
      Bpe.wordCounts(docs, textCol).select(col("word"), col("cnt")),
      "trainUnigramEm", Bpe.MaxIncrementalVocabRows)
    trainUnigramEmFromVocab(wc, vocabSize, maxPieceLen, emRounds,
      pruneRounds, seedFactor)
  }

  private def cpSplit(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  private[graft] def trainUnigramEmFromVocab(wc: Array[(String, Long)],
      vocabSize: Int, maxPieceLen: Int, emRounds: Int,
      pruneRounds: Int, seedFactor: Int): Seq[(String, Long)] = {
    // candidate counts (per occurrence, weighted)
    val cand = new java.util.TreeMap[String, Long]()
    wc.foreach { case (w, c) =>
      val cps = cpSplit(w)
      var i = 0
      while (i < cps.length) {
        var l = 1
        while (l <= math.min(maxPieceLen, cps.length - i)) {
          val p = cps.slice(i, i + l).mkString
          cand.merge(p, c, (a, b) => a + b)
          l += 1
        }
        i += 1
      }
    }
    import scala.jdk.CollectionConverters._
    val all = cand.asScala.toSeq
    val singles = all.filter(p => p._1.codePointCount(0, p._1.length) == 1)
    val seedSize = math.max(vocabSize * seedFactor, singles.size)
    val seed = (all.sortBy { case (p, c) => (-c, p) }.take(seedSize) ++
      singles).distinct
    // p ∝ counts over the seed (plain immutable Map; every iteration
    // over it below goes through a sorted view, so map ordering is
    // never load-bearing)
    var probs: Map[String, Double] =
      seed.map { case (p, c) => p -> c.toDouble }.toMap
    def normalize(m: Map[String, Double]): Map[String, Double] = {
      val z = m.values.sum
      m.map { case (p, v) => p -> v / z }
    }
    probs = normalize(probs)
    // Required-character floor (the SentencePiece required_chars
    // discipline): a single always covered by larger pieces decays
    // DOUBLE-exponentially under EM (measured: 1e-3 → 3e-6 → 1e-10 →
    // 2e-18 in four sweeps) and would underflow out of the expected-
    // count map entirely — losing coverage. After every M-step each
    // single is floored back to a tiny fixed mass and the map
    // renormalized; segmentability survives no matter how much the
    // lattices prefer longer pieces.
    val singleSet = singles.map(_._1).toSet
    val SingleFloor = 1e-9
    def withSingleFloor(m: Map[String, Double]): Map[String, Double] =
      normalize(singleSet.foldLeft(m)((acc, s) =>
        if (acc.getOrElse(s, 0.0) >= SingleFloor) acc
        else acc.updated(s, SingleFloor)))
    var round = 0
    while (round <= pruneRounds) {
      var r = 0
      while (r < emRounds) {
        probs = withSingleFloor(emSweep(wc, probs, maxPieceLen)._1)
        r += 1
      }
      val multis = probs.keys
        .filter(p => p.codePointCount(0, p.length) > 1).toSeq
      val targetMultis = vocabSize -
        probs.keys.count(p => p.codePointCount(0, p.length) == 1)
      if (round < pruneRounds && multis.size > math.max(0, targetMultis)) {
        // shrink the excess by 25 % per intermediate round, all the
        // way to the target on the LAST prune (drop lowest p; ties by
        // piece desc so the lexicographically-smaller piece survives)
        val excess = multis.size - math.max(0, targetMultis)
        val drop = if (round == pruneRounds - 1) excess
          else math.max(1, excess / 4)
        val toDrop = multis.map(p => (probs(p), p))
          .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering,
            Ordering.String.reverse))
          .take(drop).map(_._2).toSet
        probs = normalize(probs.filterNot { case (p, _) => toDrop(p) })
      }
      round += 1
    }
    probs.toSeq
      .map { case (p, v) => (p, math.round(1e6 * math.log(v))) }
      .sortBy { case (p, s) => (-s, p) }
  }

  /** One EM sweep over the word vocab: E-step forward-backward
    * expected piece counts per lattice (weighted by word count),
    * M-step renormalization. Returns (new probs, log-likelihood of
    * the corpus under the INPUT probs). private[graft] so the
    * monotonicity signal spec can drive sweeps directly.
    */
  private[graft] def emSweep(wc: Array[(String, Long)],
      ps: Map[String, Double],
      maxPieceLen: Int): (Map[String, Double], Double) = {
    import scala.jdk.CollectionConverters._
    val expected = new java.util.TreeMap[String, Double]()
    var ll = 0.0
    wc.foreach { case (w, c) =>
      val cps = cpSplit(w)
      val n = cps.length
      val alpha = new Array[Double](n + 1)
      alpha(0) = 1.0
      var j = 1
      while (j <= n) {
        var s = 0.0
        var l = 1
        while (l <= math.min(maxPieceLen, j)) {
          val piece = cps.slice(j - l, j).mkString
          ps.get(piece).foreach(p => s += alpha(j - l) * p)
          l += 1
        }
        alpha(j) = s
        j += 1
      }
      if (alpha(n) > 0.0) {
        ll += c * math.log(alpha(n))
        val beta = new Array[Double](n + 1)
        beta(n) = 1.0
        var i = n - 1
        while (i >= 0) {
          var s = 0.0
          var l = 1
          while (l <= math.min(maxPieceLen, n - i)) {
            val piece = cps.slice(i, i + l).mkString
            ps.get(piece).foreach(p => s += p * beta(i + l))
            l += 1
          }
          beta(i) = s
          i -= 1
        }
        var i2 = 0
        while (i2 < n) {
          var l = 1
          while (l <= math.min(maxPieceLen, n - i2)) {
            val piece = cps.slice(i2, i2 + l).mkString
            ps.get(piece).foreach { p =>
              val post = alpha(i2) * p * beta(i2 + l) / alpha(n)
              if (post > 0.0)
                expected.merge(piece, post * c, (a, b) => a + b)
            }
            l += 1
          }
          i2 += 1
        }
      }
    }
    val z = expected.asScala.values.sum
    (expected.asScala.toMap.map { case (p, v) => p -> v / z }, ll)
  }

  // -----------------------------------------------------------------
  // Driver lanes
  // -----------------------------------------------------------------

  /** Lane `tok_unigram_vocab` (FULL oracle). */
  def vocabLane(spark: SparkSession, dir: String): DataFrame =
    unigramVocab(Tables.documents(spark, dir))

  /** Lane `tok_encode_unigram` (FULL oracle; oracleCompat enforces
    * the [[MaxOracleWordLen]] unroll cap the generated SQL needs).
    */
  def encodeLane(spark: SparkSession, dir: String): DataFrame =
    encodeDocsUnigram(Tables.documents(spark, dir), oracleCompat = true)

  /** Lane `tok_unigram_train` (no_oracle — EM is FP-iterative; the
    * output is deterministic driver FP with fixed iteration order, so
    * the rows check is stable; hard signals live in UnigramSpec).
    */
  def trainLane(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    trainUnigramEm(Tables.documents(spark, dir))
      .toDF("piece", "score_micro")
  }

  // -----------------------------------------------------------------
  // Oracle SQL (generated — the Bpe unrolled-CTE convention)
  // -----------------------------------------------------------------

  /** Vocab CTE chain shared by both oracles (ends at `vocab`). */
  private def vocabCtes(vocabSize: Int, maxPieceLen: Int): String =
    s"""wc AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE len(word) > 0 GROUP BY word),
    occ AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS pcnt
      FROM (SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
              cnt
            FROM (SELECT word, cnt, i,
                unnest(generate_series(1,
                  least($maxPieceLen, length(word) - i + 1))) AS l
              FROM (SELECT word, cnt,
                  unnest(generate_series(1, length(word))) AS i
                FROM wc)))
      GROUP BY piece),
    sel AS (SELECT piece, pcnt FROM (
        SELECT piece, pcnt,
          row_number() OVER (ORDER BY pcnt DESC, piece) AS rk
        FROM occ) WHERE rk <= $vocabSize),
    vocab0 AS (SELECT DISTINCT piece, pcnt FROM (
        SELECT * FROM sel
        UNION ALL
        SELECT piece, pcnt FROM occ WHERE length(piece) = 1)),
    tt AS (SELECT CAST(SUM(pcnt) AS BIGINT) AS t FROM vocab0),
    vocab AS MATERIALIZED (SELECT
        CAST(row_number() OVER (ORDER BY pcnt DESC, piece) AS BIGINT)
          AS piece_id,
        piece, pcnt,
        CAST(CASE WHEN q <= 1 THEN 0
          ELSE length(bin(q - 1)) END AS BIGINT) AS cost_bits
      FROM (SELECT piece, pcnt, (t + pcnt - 1) // pcnt AS q
            FROM vocab0, tt))"""

  /** Oracle for `tok_unigram_vocab`. */
  def vocabOracleSql(vocabSize: Int = DefaultVocabSize,
      maxPieceLen: Int = DefaultMaxPieceLen): String =
    s"""WITH ${vocabCtes(vocabSize, maxPieceLen)}
       SELECT piece_id, piece, pcnt, cost_bits FROM vocab"""

  /** Oracle for `tok_encode_unigram`: the vocab chain plus the
    * position-ordered Viterbi DP unrolled to [[MaxOracleWordLen]]
    * CTEs. The DP tie-break orders by (bits, piece count, the
    * zero-padded id-csv string) — the same total order the driver DP
    * uses, with no list-comparison or collation dependence.
    */
  def encodeUnigramOracleSql(vocabSize: Int = DefaultVocabSize,
      maxPieceLen: Int = DefaultMaxPieceLen,
      maxWordLen: Int = MaxOracleWordLen): String = {
    val dpCtes = new StringBuilder
    for (p <- 1 to maxWordLen) {
      val arms = (1 to math.min(maxPieceLen, p)).map { l =>
        s"""SELECT d.word, d.bits + e.cost_bits AS bits,
              d.np + 1 AS np,
              CASE WHEN d.key = '' THEN lpad(CAST(e.piece_id AS VARCHAR), 8, '0')
                ELSE d.key || ',' || lpad(CAST(e.piece_id AS VARCHAR), 8, '0')
              END AS key,
              CASE WHEN d.csv = '' THEN CAST(e.piece_id AS VARCHAR)
                ELSE d.csv || ',' || CAST(e.piece_id AS VARCHAR)
              END AS csv
            FROM dp${p - l} d
            JOIN edges e ON e.word = d.word
              AND e.i = ${p - l} AND e.j = $p"""
      }.mkString("\n            UNION ALL\n            ")
      dpCtes ++= s""",
    dp$p AS MATERIALIZED (SELECT word, bits, np, key, csv FROM (
        SELECT word, bits, np, key, csv,
          row_number() OVER (PARTITION BY word
            ORDER BY bits, np, key) AS rk
        FROM ($arms))
      WHERE rk = 1)"""
    }
    val segArms = (1 to maxWordLen).map(p =>
      s"SELECT word, np, csv FROM dp$p WHERE length(word) = $p")
      .mkString("\n        UNION ALL ")
    s"""WITH ${vocabCtes(vocabSize, maxPieceLen)},
    dw AS (SELECT DISTINCT word FROM wc),
    edges AS MATERIALIZED (SELECT e0.word, e0.i, e0.i + e0.l AS j,
        v.piece_id, v.cost_bits
      FROM (SELECT word, i,
          unnest(generate_series(1,
            least($maxPieceLen, length(word) - i))) AS l
        FROM (SELECT word,
            unnest(generate_series(0, length(word) - 1)) AS i
          FROM dw)) e0
      JOIN vocab v
        ON v.piece = substr(e0.word, CAST(e0.i + 1 AS INT),
             CAST(e0.l AS INT))),
    dp0 AS (SELECT word, CAST(0 AS BIGINT) AS bits,
        CAST(0 AS BIGINT) AS np, '' AS key, '' AS csv FROM dw)${dpCtes},
    seg AS (SELECT word, np AS n_syms, csv AS word_csv FROM (
        $segArms)),
    wds AS (SELECT doc_id, unnest(t) AS word,
        unnest(range(1, len(t) + 1)) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS t
            FROM documents)),
    jx AS (SELECT w.doc_id, w.pos, s.n_syms, s.word_csv
      FROM wds w JOIN seg s USING (word) WHERE len(w.word) > 0)
    SELECT doc_id, CAST(SUM(n_syms) AS BIGINT) AS n_tokens,
      string_agg(word_csv, ',' ORDER BY pos) AS ids_csv
    FROM jx GROUP BY doc_id"""
  }
}
