package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The end-to-end training-data curation pipeline — the flow this
  * engine exists for, composed from the §2.3 operators:
  *
  *   1. exact dedup          (hash-groupBy, keep min id)
  *   2. near-dup dedup       (MinHash-LSH pairs → connected
  *                            components → keep canonical ids)
  *   3. quality filter       (distinct-token ratio, length floor)
  *   4. train/val split      (deterministic content-hash split)
  *
  * Every stage is a bounded-shuffle distributed operator (see the
  * individual operators' scale notes); the composition is linear in
  * corpus size. Output is fully deterministic — the whole pipeline is
  * DuckDB-oracle-checked end to end (`curate_corpus`).
  */
object Curation {

  /** Broadcast ceiling for [[qualityBuckets]]' per-(domain, score)
    * offsets table: 10^6 groups ≈ tens of MB broadcast — safely under
    * driver/executor limits; anything larger means the score is not
    * the bounded quantized signal the operator contracts on.
    */
  val MaxOffsetGroups: Long = 1000000L

  def curate(docs: DataFrame,
      nearDupTau: Double = 0.8,
      minUniqRatio: Double = 0.2,
      minTokens: Int = 20,
      trainSixteenths: Int = 14): DataFrame = {
    // 1. exact dedup
    val keepExact = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exactDocs = docs.join(keepExact, "doc_id")
    // 2. near-dup components among the exact survivors
    val pairs = Dedup.minhashLshPairs(exactDocs, tau = nearDupTau)
    val canon = Dedup.canonicalIds(exactDocs, pairs)
      .filter(col("doc_id") === col("canonical_id"))
      .select(col("doc_id"))
    val unique = exactDocs.join(canon, "doc_id")
    // 3. quality floor
    val toks = split(col("text"), " ")
    val quality = unique
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("uniq_ratio",
        size(array_distinct(toks)).cast("double") / size(toks))
      .filter(col("uniq_ratio") >= minUniqRatio &&
        col("n_tokens") >= minTokens)
    // 4. deterministic split
    Sampling.trainValSplit(quality, "doc_id", trainSixteenths)
      .select(col("doc_id"), col("lang"), col("split"), col("n_tokens"))
  }

  def curateCorpus(spark: SparkSession, dir: String): DataFrame =
    curate(Tables.documents(spark, dir))

  /** v2: the full pipeline plus language rebalancing — after dedup +
    * quality, dominant languages are hash-downsampled per
    * [[Sampling.stratifiedSample]] before the split. Same bounded-
    * shuffle stages, still ONE composed DuckDB oracle
    * (`curate_corpus_v2`) hash-checking the whole five-stage flow.
    */
  def curateRebalanced(docs: DataFrame,
      rates: Map[String, Int] = Map("en" -> 8, "es" -> 12),
      nearDupTau: Double = 0.8,
      minUniqRatio: Double = 0.2,
      minTokens: Int = 20,
      trainSixteenths: Int = 14): DataFrame = {
    val curated = curate(docs, nearDupTau, minUniqRatio, minTokens,
      trainSixteenths)
    Sampling.stratifiedSample(curated, "doc_id", "lang", rates)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
  }

  def curateCorpusV2(spark: SparkSession, dir: String): DataFrame =
    curateRebalanced(Tables.documents(spark, dir))

  /** Per-domain QUALITY-QUANTILE BUCKETING — the CCNet shape (Wenzek
    * et al., "CCNet: Extracting High Quality Monolingual Datasets
    * from Web Crawl Data", 2020): within each domain, order docs by a
    * quality score and cut into `tiles` equal buckets (CCNet's
    * head/middle/tail perplexity terciles); downstream recipes keep
    * head+middle or weight buckets differently. The score column is
    * pluggable — CCNet uses LM perplexity; any monotone quality proxy
    * slots in (lower = better, matching CCNet's ascending-perplexity
    * head).
    *
    * Semantics are EXACTLY SQL `ntile(tiles) OVER (PARTITION BY
    * domain ORDER BY score, id)` — but a literal per-domain window is
    * the scale trap: a handful of domains means a handful of tasks
    * each sorting a corpus-sized slice. Instead the exact tile
    * derives from a distributed rank: (1) aggregate counts per
    * (domain, score) — parallel, output rows = distinct score values
    * per domain, which for an integer-quantized score is BOUNDED by
    * the score range, not the corpus; (2) a running sum over that
    * small aggregate gives each (domain, score) group its rank
    * offset; (3) `row_number` within (domain, score) by id —
    * parallelism = #(domain, score) groups, not #domains. The tile
    * then falls out of the standard ntile split (first `n mod k`
    * tiles get `ceil(n/k)` rows) in pure integer arithmetic — rung-1
    * exact against any engine's ntile.
    *
    * The score column must be an INTEGRAL type — that is what bounds
    * the broadcast offsets table by the score RANGE; a continuous
    * double (raw LM perplexity) would grow it to ~one row per doc
    * and ship a corpus-sized broadcast. Quantize first (CCNet itself
    * buckets by perplexity percentile) — the require makes the
    * misuse loud instead of an executor OOM. NULL scores and domains
    * are kept and ordered nulls-first, matching Spark's own ntile
    * window (the join back to the offsets is null-safe `<=>`); note
    * a DuckDB twin orders nulls LAST by default, so the oracle
    * contract assumes non-null keys.
    */
  def qualityBuckets(docs: DataFrame, domainCol: String,
      scoreCol: String, idCol: String, tiles: Int = 3,
      maxGroups: Long = MaxOffsetGroups): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(tiles > 0, "qualityBuckets: tiles must be positive")
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(docs.schema(scoreCol).dataType),
      s"qualityBuckets: score column '$scoreCol' must be integral " +
        "(quantize continuous scores first — an unquantized double " +
        "makes the offsets broadcast corpus-sized)")
    val base = Par.ensure(docs)
    // (1) per-(domain, score) counts; (2) per-domain running offset
    // over the ordered distinct scores — the window runs on the
    // AGGREGATED table (bounded by domains × distinct scores)
    val offs = base.groupBy(col(domainCol), col(scoreCol))
      .agg(count(lit(1)).as("__gn"))
      .withColumn("__off", coalesce(
        sum(col("__gn")).over(Window.partitionBy(col(domainCol))
          .orderBy(col(scoreCol))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__gn"))
        .over(Window.partitionBy(col(domainCol))))
      .select(col(domainCol), col(scoreCol), col("__off"), col("__n"))
    // (3) rank within the (domain, score) group by id
    val wIn = Window.partitionBy(col(domainCol), col(scoreCol))
      .orderBy(col(idCol))
    // offs is bounded by domains × distinct scores (the integral
    // score range, not the corpus) — broadcast, so the corpus-side
    // exchange planned for the window is the ONLY corpus shuffle.
    // Null-safe keys: a plain equi-join would silently DROP rows
    // with a null score/domain that the window above still ranked.
    // Integral typing bounds the offsets table only if the score's
    // VALUE RANGE is bounded — an integral-but-high-cardinality score
    // (row ids, epoch millis) still makes the broadcast corpus-sized.
    // Materialize the bounded table ONCE by collecting it (capped at
    // ceiling+1 rows, so a continuous-in-disguise score fails loud
    // BEFORE the driver holds more than the ceiling): the broadcast
    // exchange below collects to the driver anyway, so this costs
    // nothing extra — and unlike the r12 persist() it leaves no
    // session-lifetime cached plan behind (r12 ADVICE: every
    // qualityBuckets call leaked one cached DataFrame until LRU).
    val offsRows = offs.limit(
      math.min(maxGroups, Int.MaxValue - 1L).toInt + 1).collect()
    require(offsRows.length <= maxGroups,
      s"qualityBuckets: more than $maxGroups distinct " +
        s"($domainCol, $scoreCol) groups exceed the broadcast ceiling " +
        s"— the score '$scoreCol' looks continuous-in-disguise (ids? " +
        "timestamps?); quantize it to a bounded range first")
    val offsLocal = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(offsRows: _*), offs.schema)
    val offsR = offsLocal.withColumnRenamed(domainCol, "__jd")
      .withColumnRenamed(scoreCol, "__js")
    val ranked = base
      .withColumn("__r", row_number().over(wIn).cast("long") - 1)
      .join(broadcast(offsR),
        col(domainCol) <=> col("__jd") && col(scoreCol) <=> col("__js"))
      .drop("__jd", "__js")
      .withColumn("__g", col("__off") + col("__r"))
    // standard ntile split: q = n div k, rem = n mod k; the first rem
    // tiles hold q+1 rows. Pure integer `div`/`mod` — no double ever
    // enters (rung 1). greatest(q, 1) only guards the UNTAKEN
    // else-branch when n < k (CaseWhen evaluates lazily, but ANSI
    // mode must never see a div-by-zero expression light up).
    val kL = s"${tiles}L"
    val tile = expr(
      s"""CASE WHEN __g < (__n % $kL) * ((__n div $kL) + 1L)
         |     THEN __g div ((__n div $kL) + 1L)
         |     ELSE (__n % $kL) +
         |          (__g - (__n % $kL) * ((__n div $kL) + 1L))
         |            div greatest(__n div $kL, 1L)
         |END + 1L""".stripMargin)
    ranked.select(col(idCol), col(domainCol),
      col(scoreCol), tile.cast("long").as("tile"))
  }

  /** Driver query `curate_ppl_buckets`: CCNet head/middle/tail over
    * the documents corpus, per source, on a deterministic integer
    * quality proxy (mean chars-per-token ×100 — rung-1 in place of
    * the LM perplexity this sandbox cannot run; the operator takes
    * any score column). The oracle recomputes with a literal
    * `ntile(3)` window — equal by the exact-split construction.
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    // project to the three columns qualityBuckets consumes and
    // MATERIALIZE once (r17, guide §2.4): qualityBuckets executes its
    // input twice — the bounded offsets collect and the ranked join —
    // and without the checkpoint each execution re-scanned the corpus
    // and re-tokenized text for the score. The narrow (id, domain,
    // score) frame is O(n)·~24 bytes — the same storage class as one
    // shuffle of the keys. The returned frame reads these blocks
    // lazily; the lane runner releases them once it is consumed.
    val docs = Materialize.cut(Par.ensure(Tables.documents(spark, dir))
      .withColumn("score",
        expr("n_chars * 100L div cast(size(split(text, ' ')) as long)"))
      .select(col("doc_id"), col("source"), col("score")))
    qualityBuckets(docs, "source", "score", "doc_id", tiles = 3)
      .withColumn("bucket",
        when(col("tile") === 1, "head")
          .when(col("tile") === 2, "middle").otherwise("tail"))
  }

  /** Driver query `curate_ppl_buckets_v2`: the CCNet head/middle/tail
    * split driven by a REAL model-based quality signal — the NB
    * classifier's score MARGIN ([[Classifier.nbPredict]], the number
    * a Brown-2020-style quality filter thresholds on) in place of v1's
    * chars-per-token proxy. The margin is a ROUND(4) double already
    * proven bit-equal cross-engine by the curate_classifier lane, so
    * `floor(margin · 100)` is an exact integral quantization on both
    * engines and [[qualityBuckets]]' integral-score contract holds —
    * the composition keeps a FULL oracle (classifier CTEs → quantize →
    * literal ntile window). Docs with no in-vocabulary token have no
    * prediction and drop from the split (the [[Classifier.nbPredict]]
    * no-evidence contract; none exist on this corpus at any SF).
    */
  def pplBucketsV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val preds = Classifier.nbPredict(docs,
      Classifier.nbWeights(docs, "source"))
    // materialize the narrow scored frame once (r17, guide §2.4):
    // qualityBuckets executes its input twice (offsets collect +
    // ranked join), and each execution otherwise re-runs the whole
    // NB classifier chain — train aggregation, token explode,
    // broadcast weight join, per-doc argmax. Same rows, same oracle;
    // measured sf0.1: 4.27 s → see OPTIMIZATION_r17.md.
    val scored = Materialize.cut(docs.select(col("doc_id"), col("source"))
      .join(preds.select(col("doc_id"),
        floor(col("margin") * lit(100)).cast("long").as("score")),
        Seq("doc_id")))
    qualityBuckets(scored, "source", "score", "doc_id", tiles = 3)
      .withColumn("bucket",
        when(col("tile") === 1, "head")
          .when(col("tile") === 2, "middle").otherwise("tail"))
  }
}
