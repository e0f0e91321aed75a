package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deduplication operators for LLM training-data pipelines:
  * exact, n-gram Jaccard (exact near-dup), MinHash+LSH (scalable
  * near-dup), SimHash. All pure column algebra — no UDFs.
  *
  * Algorithms follow the public literature: MinHash resemblance
  * sketches (Broder, "On the resemblance and containment of
  * documents", 1997) with banded LSH (Indyk & Motwani 1998; the
  * bands/rows S-curve analysis as popularized in Mining of Massive
  * Datasets ch. 3); SimHash (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002) with the
  * Hamming-block trick of Manku et al., WWW 2007.
  */
object Dedup {

  /** Word n-gram shingle set (distinct), for docs with >= n tokens.
    * Shingle i (0-based) covers tokens [i, i+n); count = size - n + 1.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    // Guard short texts: sequence(0, negative) is a DESCENDING sequence
    // in Spark, which would emit bogus slices for texts with < n tokens.
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * One shuffle on the hash; at 100 TB this is the cheapest possible
    * dedup (no pairwise work, partial-agg combines map-side).
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(spark, dir))

  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard near-dup pairs via inverted-index self-join:
    * explode shingles, join on shingle, count common per pair, J = |∩| /
    * (|A|+|B|-|∩|). Shuffles on the shingle hash — pairwise work is
    * bounded by shared-shingle pairs, not n².
    *
    * `maxDf` is the hot-shingle cap: shingles appearing in more than
    * `maxDf` documents are dropped BEFORE the pair join, so one
    * stopword shingle at 100 TB cannot produce an unbounded
    * O(df²) pair bucket. Recall contract: the result is EXACT as
    * long as every qualifying pair (J >= tau) still shares at least
    * one shingle with df <= maxDf — true whenever near-dup overlap
    * isn't composed *entirely* of corpus-hot shingles (boilerplate);
    * a pair whose every common shingle is hotter than maxDf is
    * missed. The default (no cap) is the exact oracle twin.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, dir))

  def ngramJaccardPairs(docs: DataFrame,
      n: Int = 4, tau: Double = 0.5,
      maxDf: Int = Int.MaxValue): DataFrame = {
    // The inverted index keys on a 128-bit shingle hash (two
    // structurally independent rolling-hash lanes), not the shingle
    // STRING: the shuffle ships 16 fixed bytes instead of ~n words and
    // the sort-merge compares longs instead of strings. Same exactness
    // basis as `exact`'s md5 keying — a cross-doc 128-bit double
    // collision is ~2^-128 per candidate pair. The hash-pair sets come
    // from the native ShingleWindows expression — both lanes AND the
    // per-doc distinct in one compiled pass (the composed
    // array_distinct(arrays_zip(...)) form paid an interpreted
    // struct-compare per window on top of the lane hashing).
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val toks = split(col("text"), " ")
    val ex = Par.ensure(docs)
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"),
        column(graft.functions.ShingleWindows(expression(toks), n)).as("hp"))
      .select(col("doc_id"), size(col("hp")).as("sz"),
        explode(col("hp")).as("p"))
      .select(col("doc_id"), col("sz"),
        col("p.h1").as("h1"), col("p.h2").as("h2"))
    // EXACT pruning before the self-join:
    //  - shingles in a single document generate no pairs — drop them
    //    (most shingles, in any diverse corpus);
    //  - a pair can only reach J >= tau if sizes are within a tau
    //    ratio (|∩| <= min ⟹ J <= min/max) — enforce in the join.
    // One shuffle on the hash for the df annotation (unordered window
    // frame — no sort), reused by the join's own hash partitioning.
    val shared = ex.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("h1"), col("h2"))))
      .filter(col("df") > 1 && col("df") <= maxDf).drop("df")
    // Alias BOTH sides of the self-join (like minhashLshPairs below):
    // a.join(b, a("g") === b("g")) on same-parent frames resolves both
    // columns to one attribute ("trivially true equals predicate") and
    // only works via legacy disambiguation — one version bump from a
    // cross join.
    shared.as("x").join(shared.as("y"),
        col("x.h1") === col("y.h1") && col("x.h2") === col("y.h2") &&
        col("x.doc_id") < col("y.doc_id") &&
        col("x.sz") >= col("y.sz") * tau && col("y.sz") >= col("x.sz") * tau)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")), 6))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard.
    *
    * k=128 hashes, 32 bands × 4 rows: P(candidate miss | J >= 0.8) =
    * (1 - 0.8^4)^32 ≈ 5e-8, so the verified output equals the exact
    * brute-force pairs at tau=0.8 (the DuckDB oracle) while doing
    * O(n·bands) candidate work instead of O(n²). Candidate generation
    * shuffles on (band, bucket-hash).
    *
    * `maxBucket` is the mega-bucket guard for adversarial skew: a
    * (band, bucket) cell with more than `maxBucket` members — a
    * boilerplate cluster that exact-dedup didn't catch — contributes
    * O(cell²) candidate pairs; with the cap, hot cells are dropped
    * from candidate generation via a broadcast anti-join (the hot
    * list is tiny by definition). Recall contract: a true pair is
    * missed only if EVERY band where the two docs collide is hot; a
    * J ≥ 0.8 pair collides in ≈ bands·τ^rows ≈ 13 of 32 bands in
    * expectation, so misses require the pair itself to sit inside a
    * mega-cluster. Default (no cap) keeps the exact-oracle plan
    * unchanged; the capped branch costs one extra pass over the
    * banded signatures (count + anti-join).
    */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables.documents(spark, dir))

  def minhashLshPairs(docs: DataFrame,
      n: Int = 4, k: Int = 128, bands: Int = 32,
      tau: Double = 0.8, maxBucket: Int = Int.MaxValue): DataFrame = {
    val rows = k / bands
    // Whole signature in one native-expression pass per document
    // (functions.MinHashSig): rolling shingle hashes + double-hashing
    // family, no explode, no wide k-column aggregate shuffle.
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val sig = Par.ensure(docs)
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"),
        column(graft.functions.MinHashSig(
          expression(split(col("text"), " ")), n, k)).as("mh"))
    val bandedAll = sig.select(col("doc_id"),
      posexplode(array((0 until bands).map(j =>
        hash(slice(col("mh"), lit(j * rows + 1), lit(rows)))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val banded = if (maxBucket == Int.MaxValue) bandedAll else {
      val hot = bandedAll.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
        .select(col("band"), col("bucket"))
      bandedAll.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    }
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // Exact-Jaccard verify over the NATIVE 128-bit ShingleWindows
    // keys (r18, guide §1.2/§4.1): the old verify joined the
    // candidate set against per-doc shingle STRING ARRAYS built by
    // the interpreted `shingles` HOF and intersected them with the
    // interpreted array_intersect — ~13 s of the 100× corpus against
    // ~4 s for the whole native signature pass. |∩| is now counted
    // relationally: each candidate side explodes its doc's distinct
    // window keys (the compiled ShingleWindows expression — same
    // per-doc distinct windows, so sz and common are the SAME
    // numbers) and matching (h1, h2) rows count per pair. The
    // exactness basis becomes the 128-bit double-hash equality the
    // Jaccard/containment/substring lanes already stand on (~2^-128
    // per candidate pair); a pair with zero common windows has
    // J = 0 < tau and was filtered before, so the inner join drops
    // nothing the filter kept.
    val toks = split(col("text"), " ")
    val ex = Par.ensure(docs)
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"),
        column(graft.functions.ShingleWindows(expression(toks), n)).as("hp"))
      .select(col("doc_id"), size(col("hp")).as("sz"),
        explode(col("hp")).as("p"))
      .select(col("doc_id"), col("sz"),
        col("p.h1").as("h1"), col("p.h2").as("h2"))
    val wa = cand.join(ex.select(col("doc_id").as("id_a"),
        col("sz").as("sz_a"), col("h1"), col("h2")), Seq("id_a"))
    wa.join(ex.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
        col("h1"), col("h2")), Seq("h1", "h2", "id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")), 6))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Canonical id per document: the minimum doc_id reachable through
    * the near-duplicate pair graph (connected components via min-label
    * propagation). Each iteration is one distributed join + agg;
    * convergence needs O(component diameter) rounds — near-dup
    * clusters are shallow, and the loop stops at fixpoint. Lineage is
    * truncated per round so plans stay bounded.
    *
    * Durability: `reliable = false` (default) truncates with
    * `localCheckpoint` — executor-local blocks, cheapest, but an
    * executor loss forces recomputing the WHOLE iteration lineage. At
    * 100 TB / 1000 executors over a multi-round job, losses are
    * expected, not exceptional: pass `reliable = true` (with
    * `spark.sparkContext.setCheckpointDir` on durable storage, e.g.
    * HDFS/S3) so each round's labels survive executor loss and a
    * failure re-runs at most one round.
    *
    * A user deduplicates a corpus with:
    *   docs.join(canonicalIds(docs, pairs).filter($"doc_id" === $"canonical_id"), "doc_id")
    */
  def canonicalIds(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = 15, reliable: Boolean = false): DataFrame =
      Materialize.scope {
    // pre-partition the edge list by the per-round join key BEFORE the
    // checkpoint (r18, guide §2.4 — the pageRank edge-layout rule): a
    // checkpointed frame keeps its physical partitioning, so every
    // round's `edges ⋈ labels ON v` consumes the fixed layout and only
    // the node-sized label frame moves; without this the edge set (the
    // largest frame of the loop) re-shuffled in EVERY round.
    val edges = Materialize.cut(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .repartition(col("v")), reliable)
    var labels = Materialize.cut(docs.select(col("doc_id").as("u"),
      col("doc_id").as("canonical_id")), reliable)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("u").as("v"), col("canonical_id").as("vl")), "v")
        .groupBy(col("u")).agg(min(col("vl")).as("nl"))
      // the convergence flag RIDES the materialized round (r17, guide
      // §2.4): labels only ever decrease, so "changed" ⟺ the new
      // label is strictly below the old one — computable inside the
      // same projection. The old form re-joined next against labels
      // per round (one extra shuffle + job); now the count is a
      // filter over the round's own checkpoint blocks (every read of
      // `labels` selects past the flag).
      labels = Materialize.replace(labels, Materialize.cut(
        labels.join(nbrMin, Seq("u"), "left").select(col("u"),
          least(col("canonical_id"), coalesce(col("nl"), col("canonical_id")))
            .as("canonical_id"),
          (coalesce(col("nl"), col("canonical_id")) < col("canonical_id"))
            .as("__chg")), reliable))
      changed = labels.filter(col("__chg")).count()
      iter += 1
    }
    labels.select(col("u").as("doc_id"), col("canonical_id"))
  }

  /** Driver-contract form: components of the exact near-dup graph at
    * tau=0.8 (candidates via MinHash LSH, verified exactly — equals
    * the brute-force pair set, see minhashLshPairs).
    */
  def nearDupComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    canonicalIds(docs, minhashLshPairs(docs))
  }

  /** Near-dup canonical ids through Spark 4's RECURSIVE CTE SQL
    * surface — the same answer as [[canonicalIds]] expressed
    * declaratively. Spark supports only UNION ALL recursion (no
    * cycle-absorbing UNION), so the walk carries a depth counter and
    * stops at `maxDepth`: EXACT whenever every component's diameter is
    * ≤ maxDepth (near-dup clusters are shallow; the DuckDB oracle runs
    * the identical bounded walk, so the compare is semantics-equal at
    * any scale, not just result-equal on shallow data). The iterative
    * [[canonicalIds]] remains the 100 TB path — per-round truncation
    * beats materializing every ≤k-step walk.
    */
  def recursiveCanonicalIds(spark: SparkSession, dir: String,
      maxDepth: Int = 6): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Views exist only while the SQL text resolves (the returned
    // DataFrame keeps its analyzed plan): unique names + drop, so a
    // shared session never sees a collision with user views.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val pairsV = s"graft_rc_pairs_$tag"
    val docsV = s"graft_rc_docs_$tag"
    // MATERIALIZE the pair set before the recursion (r17, guide §2.4/
    // §3.3): CTEs are inlined, so a view over the lazy minhashLshPairs
    // plan re-ran the ENTIRE LSH pipeline (shingle explode → signature
    // agg → band join → exact verify) inside EVERY UNION-ALL step of
    // the bounded walk — maxDepth+2 times per execution. The pair set
    // is the small output of that pipeline (near-dup pairs, orders of
    // magnitude below the corpus); localCheckpoint pins it as
    // executor-local blocks and each recursion step re-reads blocks
    // instead of recomputing the pipeline. Same rows, same oracle.
    // Measured sf0.1: 4.39 s → 1.74 s isolated (min of 4); the 100×
    // lane was 107 s with the per-step recompute.
    Materialize.cut(minhashLshPairs(docs)).createOrReplaceTempView(pairsV)
    docs.createOrReplaceTempView(docsV)
    try spark.sql(
      s"""WITH RECURSIVE
         |edges AS (SELECT id_a AS u, id_b AS v FROM $pairsV
         |          UNION ALL SELECT id_b, id_a FROM $pairsV),
         |reach(u, v, d) AS (
         |  SELECT u, v, 1 FROM edges
         |  UNION ALL
         |  SELECT r.u, e.v, r.d + 1 FROM reach r JOIN edges e ON r.v = e.u
         |  WHERE r.d < $maxDepth),
         |canon AS (SELECT u, MIN(v) AS mn FROM reach GROUP BY u)
         |SELECT d.doc_id,
         |  LEAST(d.doc_id, COALESCE(c.mn, d.doc_id)) AS canonical_id
         |FROM $docsV d LEFT JOIN canon c ON d.doc_id = c.u""".stripMargin)
    finally {
      spark.catalog.dropTempView(pairsV)
      spark.catalog.dropTempView(docsV)
    }
  }

  /** 64-bit SimHash per document: bit i of the hash is the sign of the
    * sum over tokens of ±1 according to bit i of xxhash64(token).
    */
  def simhash64(toks: Column): Column =
    (0 until 64).map { i =>
      when(
        aggregate(toks, lit(0L), (s, t) =>
          s + when(shiftright(xxhash64(t), i).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L)) > 0L,
        lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** 60-bit CROSS-ENGINE token hash: the integer value of the first
    * 15 hex chars of md5(token). Both engines ship md5 over the same
    * UTF-8 bytes with the same lowercase-hex rendering, and 15 hex
    * chars (60 bits) fit a signed BIGINT so the conv→cast is
    * overflow-free on both sides. This is what lets the DRIVER's
    * dedup_simhash lane be oracle-checked end to end (DuckDB extracts
    * the identical bits per hex digit); the scale default stays
    * [[org.apache.spark.sql.functions.xxhash64]] — one 64-bit mix vs
    * a crypto digest per token — which has no cross-engine twin.
    */
  def md5Hash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** SimHash near-dup candidate pairs with Hamming distance <= maxDist,
    * using combo-banded LSH (pigeonhole: any pair within distance 3 shares
    * an exact block; we verify with the true bit_count).
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir))

  /** (doc_id, sig): the nBits-bit SimHash per document, explode +
    * codegen'd aggregate formulation — the fast path that
    * `simhashPairs` uses. `simhash64` is the single-Column HOF twin;
    * DedupSpec asserts the two agree. `tokenHash` picks the per-token
    * hash family: xxhash64 (default, the 100 TB lane) or
    * [[md5Hash60]] with nBits = 60 (the oracle-checkable lane).
    */
  def simhashSignatures(docs: DataFrame,
      tokenHash: Column => Column = xxhash64(_),
      nBits: Int = 64): DataFrame = {
    // Same rationale as minhash: explode + codegen'd aggregates beat
    // interpreted nested HOF lambdas on the tokens×nBits hot loop.
    val ex = Par.ensure(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), tokenHash(col("t")).as("h"))
    val bitSums = (0 until nBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s_$i"))
    ex.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(i => when(col(s"s_$i") > 0L, lit(1L << i))
          .otherwise(0L)).reduce(_ + _).as("sig"))
  }

  def simhashPairs(docs: DataFrame,
      maxDist: Int = 3,
      tokenHash: Column => Column = xxhash64(_),
      nBits: Int = 64): DataFrame =
    signaturePairs(simhashSignatures(docs, tokenHash, nBits),
      maxDist, nBits)

  /** Banded candidate join + exact Hamming verify over ANY (doc_id,
    * sig) frame — pigeonhole machinery shared by the simhash text
    * lane and the multimodal block-hash lane
    * ([[Multimodal.phashDedup]]): with maxDist+2 blocks, any pair
    * within distance maxDist shares TWO exact blocks, so the
    * candidate join keys on 2-block combos (see the combo-banding
    * note in the body) and never a corpus cross join.
    */
  private[operators] def signaturePairs(d: DataFrame, maxDist: Int,
      nBits: Int): DataFrame = {
    // COMBO banding (r18, guide §2.5 hot keys / §2.4): maxDist+2
    // blocks instead of maxDist+1, joined on PAIRS of blocks. A pair
    // within Hamming maxDist perturbs at most maxDist blocks, so at
    // least TWO blocks match exactly and the pair shares a 2-block
    // combo key — still exhaustive by pigeonhole. The point is the
    // key width: the old 4×15-bit single-block keys birthday-collide
    // at corpus scale (E[candidates] ≈ 4·n²/2^15 — ~15 M rows at the
    // 100× corpus, 8×+/decade superlinear), while ~24-26-bit combo
    // keys cut uniform collisions by ~2^11 for 2.5× more (tiny)
    // banded rows. The exact Hamming verify rides the join condition
    // BEFORE the dedup distinct (the dedup_fuzzy r17 lesson — the
    // filter commutes with distinct), so only true pairs reach the
    // distinct exchange.
    val nb = maxDist + 2
    require(maxDist >= 1 && nBits <= 64 && nBits >= nb,
      s"signaturePairs: need 1 <= maxDist, maxDist+2 <= nBits <= 64; " +
        s"got maxDist=$maxDist, nBits=$nBits")
    val base = nBits / nb
    val rem = nBits % nb
    val widths = (0 until nb).map(i => base + (if (i < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(j: Int) =
      shiftright(col("sig"), offsets(j))
        .bitwiseAND(lit((1L << widths(j)) - 1L))
    val combos = for { i <- 0 until nb; j <- i + 1 until nb } yield (i, j)
    val keyed = d.select(col("doc_id"), col("sig"),
      posexplode(array(combos.map { case (i, j) =>
        struct(block(i).as("k1"), block(j).as("k2")) }: _*)))
      .withColumnRenamed("pos", "combo")
      .select(col("doc_id"), col("sig"), col("combo"),
        col("col.k1").as("k1"), col("col.k2").as("k2"))
    keyed.as("x").join(keyed.as("y"),
        col("x.combo") === col("y.combo") &&
        col("x.k1") === col("y.k1") && col("x.k2") === col("y.k2") &&
        col("x.doc_id") < col("y.doc_id") &&
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))) <= maxDist)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Driver contract `dedup_simhash`: the md5-60 oracle lane — DuckDB
    * computes the IDENTICAL signatures (per-hex-digit bit extraction
    * + sum of signs) and brute-forces all pairs at Hamming ≤ 3, which
    * the 4×15-bit block LSH finds EXHAUSTIVELY by pigeonhole, so the
    * outputs match row-for-row. Production callers use the default
    * xxhash64/64-bit lane of [[simhashPairs]].
    */
  def simhashPairsOracle(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir),
      maxDist = 3, tokenHash = md5Hash60, nBits = 60)

  /** SUBSTRING-level duplication profile (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): the
    * doc-level near-dup family misses the boilerplate case — two
    * mostly-different documents sharing one long verbatim span
    * (licenses, headers, quoted chunks). Here every n-token window
    * whose text occurs in ≥2 DISTINCT docs marks its positions;
    * overlapping-or-adjacent marked windows merge into maximal
    * duplicated spans per doc (the paper's suffix-array span find,
    * re-expressed relationally at fixed granularity n — windows of a
    * shared span of length L ≥ n are themselves all shared, so the
    * merged spans recover the span up to n-1 boundary tokens).
    *
    * Scale shape: windows ride the native 128-bit [[graft.functions
    * .ShingleHashes]] lanes — the cross-doc equality join never
    * shuffles gram STRINGS, only (h1, h2, pos); the dup-window set is
    * found from per-doc DISTINCT windows (ShingleWindows — repeats
    * don't inflate df) and joined back hash-keyed; the span merge is
    * the interval-islands window (one (doc) partition sort of the
    * MARKED positions only — duplicated windows, not the corpus).
    * 128-bit collisions (~2^-128) are the same exactness basis as the
    * rest of the hash-keyed dedup family — the oracle joins on gram
    * TEXT and hash-matches.
    */
  def substringDupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val spans = dupSpanBounds(docs, n)
      .select(col("doc_id"),
        (col("p1") + lit(n) - col("p0")).as("span_tokens"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_tokens")).as("dup_tokens"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long")
        .as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_ratio"))
  }

  /** The shared span-discovery pipeline of [[substringDupSpans]] and
    * [[substringScrub]]: per doc, each MAXIMAL duplicated region as
    * its first and last marked window START positions (p0, p1) — the
    * region's token coverage is [p0, p1 + n − 1]. See
    * [[substringDupSpans]] for the full algorithm commentary.
    */
  private def dupSpanBounds(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val toks = split(col("text"), " ")
    val eligible = Par.ensure(docs)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= n)
    // per-doc DISTINCT windows -> df per 128-bit window key
    val dupKeys = eligible
      .select(col("doc_id"),
        explode(column(graft.functions.ShingleWindows(
          expression(col("tk")), n))).as("w"))
      .groupBy(col("w.h1").as("h1"), col("w.h2").as("h2"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("h1"), col("h2"))
    // ALL window positions (repeats included), marked by key join
    val allWins = eligible.select(col("doc_id"),
      posexplode(arrays_zip(
        column(graft.functions.ShingleHashes(expression(col("tk")), n, 0))
          .as("h1"),
        column(graft.functions.ShingleHashes(expression(col("tk")), n, 1))
          .as("h2"))))
      .select(col("doc_id"), col("pos"),
        col("col.h1").as("h1"), col("col.h2").as("h2"))
    val marked = allWins.join(dupKeys, Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"))
    // interval islands over marked positions: windows at pos p and q
    // (p < q) merge iff q - p <= n (overlap OR exact adjacency — a
    // contiguous duplicated region is one span)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("g", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
      .select(col("doc_id"), col("p0"), col("p1"))
  }

  /** SUBSTRING SCRUB — the missing half of [[substringDupSpans]] and
    * the operation Lee et al. 2021 actually perform: DROP every
    * duplicated span's tokens and reassemble each document from what
    * remains. The profile lane reports the damage; this lane repairs
    * it — a corpus cleaned of cross-document verbatim regions while
    * each document's unique prose survives in order.
    *
    * Output per input doc: token counts before/after and the md5 of
    * the scrubbed text (the text_chunk/segment convention — the
    * compare ships 32 bytes per doc, not the text). A doc whose every
    * token sat in duplicated spans reassembles to "" (md5('') — the
    * row survives so the caller sees the doc went empty, exactly
    * [[Segments]]' convention); a doc with no duplicated spans hashes
    * to its original token-joined text.
    *
    * Scale shape: span DISCOVERY is the shared [[dupSpanBounds]]
    * pipeline (hash-keyed joins, marked-positions-only window). The
    * scrub itself is pure per-doc map work: spans collapse to one
    * bounded array per doc (a doc's span count ≤ tokens/n), ride a
    * doc_id equi-join back onto the corpus, and the token filter is
    * one pass over each doc's own tokens — no corpus-wide sort, no
    * explode of unmarked positions.
    */
  def substringScrub(docs: DataFrame, n: Int = 8): DataFrame = {
    val ivs = dupSpanBounds(docs, n)
      .select(col("doc_id"),
        struct(col("p0").as("s"), (col("p1") + lit(n - 1)).as("e")).as("iv"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("iv")).as("ivs"))
    val toks = split(col("text"), " ")
    docs.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), toks.as("tk"),
        coalesce(col("ivs"),
          array().cast("array<struct<s:int,e:int>>")).as("ivs"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        filter(col("tk"), (_, i) =>
          !exists(col("ivs"), iv =>
            i >= iv.getField("s") && i <= iv.getField("e"))).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("scrub_md5"))
  }

  /** Driver contract `dedup_substring`: the per-doc duplicated-span
    * profile of the corpus at n = 8 (the paper's 50-token threshold
    * scaled to the synthetic corpus's ~60-token docs).
    */
  def substringProfile(spark: SparkSession, dir: String): DataFrame =
    substringDupSpans(Tables.documents(spark, dir), n = 8)

  /** Driver contract `dedup_substring_scrub`: the scrubbed corpus at
    * n = 8 — the profile lane's twin that actually removes the spans.
    */
  def substringScrubbed(spark: SparkSession, dir: String): DataFrame =
    substringScrub(Tables.documents(spark, dir), n = 8)

  /** CONTAINMENT near-dup pairs (Broder 1997's second resemblance
    * measure): C = |A∩B| / min(|A|,|B|) over n-token shingle sets —
    * the asymmetric relation [[ngramJaccardPairs]] cannot see. A doc
    * quoted whole inside a much larger one has Jaccard ≈ |A|/|B| ≈ 0
    * but containment ≈ 1; it is the right lens for quote extraction,
    * wrapper pages, and forum-thread accretion, where the duplicated
    * unit is one side's entirety.
    *
    * Same inverted-index shape as Jaccard — 128-bit ShingleWindows
    * keys, single-doc shingles dropped before the self-join — but the
    * size-ratio prune is structurally UNAVAILABLE (any size gap can
    * still contain: that asymmetry is the point), so the skew guard
    * does the bounding instead: `maxDf` caps the per-shingle fan-out
    * exactly as the LSH family's mega-bucket guard does, and — unlike
    * the Jaccard lane, where the ratio prune already bounds the hot
    * path — the cap is the ONLY bound, so it ships FINITE by default
    * (1000): one corpus-wide boilerplate shingle shared by d docs is
    * O(d²) candidate pairs, and real web corpora have exactly such
    * shingles. Recall trade (the LSH family's contract): a
    * ≥-tau-contained pair is missed only when EVERY shingle the two
    * docs share is hotter than maxDf — i.e. the overlap is pure
    * corpus boilerplate, which is the overlap this operator exists to
    * NOT count as containment. Pass `Int.MaxValue` explicitly for the
    * exhaustive (oracle-twin) plan on corpora known to be cold.
    */
  val ContainmentDefaultMaxDf = 1000

  def containmentPairs(docs: DataFrame,
      n: Int = 4, tau: Double = 0.9,
      maxDf: Int = ContainmentDefaultMaxDf): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val toks = split(col("text"), " ")
    val ex = Par.ensure(docs)
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"),
        column(graft.functions.ShingleWindows(expression(toks), n)).as("hp"))
      .select(col("doc_id"), size(col("hp")).as("sz"),
        explode(col("hp")).as("p"))
      .select(col("doc_id"), col("sz"),
        col("p.h1").as("h1"), col("p.h2").as("h2"))
    val shared = ex.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("h1"), col("h2"))))
      .filter(col("df") > 1 && col("df") <= maxDf).drop("df")
    shared.as("x").join(shared.as("y"),
        col("x.h1") === col("y.h1") && col("x.h2") === col("y.h2") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment", round(col("common").cast("double") /
        least(col("sz_a"), col("sz_b")), 6))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("common"), col("containment"))
  }

  /** Driver contract `dedup_containment`: ≥0.9-contained pairs of the
    * corpus at 4-token shingles — the quoted/wrapped-document finder.
    * Runs at the BOUNDED default maxDf (= [[ContainmentDefaultMaxDf]]),
    * and the DuckDB oracle MIRRORS the cap (df-filtered intersect over
    * full-set denominators), so the compare is exact at any df
    * distribution — not merely at driver scales where the hottest
    * shingle (df ≤ 6 at sf0.1) sits under the cap.
    */
  def containedDocuments(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir))
}
