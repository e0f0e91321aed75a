package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Materialize

/** The LLM-data ingest chain END-TO-END on one stream — quality gate →
  * exact-novelty gate → segment-novelty gate → HNSW index ingest —
  * composed through one `foreachBatch` (the searchPipeline composition
  * convention applied to the ingest side: every stage is its own
  * spec'd operator; the seams between them are where replay and
  * ordering bugs live, so the chain is packaged and spec'd as a whole).
  *
  * Per micro-batch, against a state directory `base` plus the HNSW
  * index at `indexPath`:
  *  1. QUALITY — [[StreamQuality.annotated]]'s rule columns, failing
  *     rows dropped (quarantine routing is the standalone
  *     op_stream_quality lane's job);
  *  2. EXACT NOVELTY — md5(text) against `base/doc_catalog`, with a
  *     within-batch lowest-doc_id-first dedup (the IndexIngest
  *     same-batch lesson);
  *  3. SEGMENT NOVELTY — token-window segments
  *     ([[graft.operators.Segments.segmented]]) against
  *     `base/seg_catalog`: a document ALL of whose segments are
  *     already known is a recombined duplicate and drops even when its
  *     exact hash is new; a document with ≥ 1 novel segment survives;
  *  4. INDEX INGEST — survivors' embeddings through
  *     [[IndexIngest.hnswIngestBatch]] (by-id replay gate) +
  *     the compaction cadence;
  *  5. CATALOG APPENDS LAST — the epoch rides every catalog row, and
  *     the gates in steps 2-3 only read rows with `epoch <` the
  *     CURRENT epoch, so a replayed epoch sees exactly the pre-epoch
  *     catalog state no matter how much of the failed attempt's
  *     appends landed — replay idempotence across the WHOLE chain by
  *     construction, not by append ordering. Appends themselves
  *     anti-join by key so a replay cannot duplicate catalog rows.
  *
  * Scale shape: every stage is map-side or key-anti-join against a
  * hash catalog (16-byte rows per distinct doc/segment — the
  * StreamNovelty catalog contract); the batch never self-joins; the
  * index append is the documented bounded-delta HNSW path.
  */
object IngestPipeline {

  /** Seed the catalogs from the corpus the index was built on — the
    * batch side owns catalog initialization (the StreamNovelty
    * doctrine). Epoch −1 marks pre-stream state (visible to every
    * stream epoch ≥ 0).
    */
  def initCatalogs(corpusDocs: DataFrame, base: String,
      window: Int = 10): Unit = {
    corpusDocs.select(md5(col("text")).as("text_hash"))
      .distinct().withColumn("epoch", lit(-1L))
      .write.mode("overwrite").parquet(s"$base/doc_catalog")
    graft.operators.Segments
      .segmented(corpusDocs.select(col("doc_id"), col("text")), window)
      .select(md5(col("seg")).as("seg_md5"))
      .distinct().withColumn("epoch", lit(-1L))
      .write.mode("overwrite").parquet(s"$base/seg_catalog")
  }

  /** One micro-batch of the chain (public so the replay spec can drive
    * a committed epoch twice). `batch` carries (doc_id, text,
    * embedding).
    */
  def llmIngestBatch(batch: DataFrame, epoch: Long, base: String,
      indexPath: String, rules: Seq[(String, Column)],
      window: Int = 10, dims0: Int = -1): Unit = Materialize.scope {
    // the scope releases planBatch's catalog snapshots once both
    // appends are written
    val (surviving, segAppend, docAppend) =
      planBatch(batch, epoch, base, rules, window)
    // 4. index ingest (its own by-id replay gate)
    IndexIngest.hnswIngestBatch(
      surviving.select(col("doc_id").as("vec_id"), col("embedding")),
      indexPath, dims0)
    // 5. catalog appends — the frames carry NO scan of the directory
    //    they are written to (planBatch pinned the snapshots), so no
    //    job both lists and writes a catalog dir
    segAppend.write.mode("append").parquet(s"$base/seg_catalog")
    docAppend.write.mode("append").parquet(s"$base/doc_catalog")
  }

  /** The batch's three output frames — (surviving docs for index
    * ingest, seg-catalog append rows, doc-catalog append rows) —
    * factored out so the no-read-while-append property is
    * SPEC-ASSERTABLE on the exact production frames: neither append
    * frame's physical plan may contain a file scan of the catalog
    * directory it will be appended to.
    */
  private[graft] def planBatch(batch: DataFrame, epoch: Long,
      base: String, rules: Seq[(String, Column)],
      window: Int): (DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    // Catalogs are snapshotted ONCE per batch and pinned with
    // localCheckpoint: the appends below target the same directories,
    // and a job that both lists and writes a directory is a known
    // flake source on object stores (listing-vs-commit races). The
    // pinned frame serves BOTH the epoch-gated novelty reads (a
    // replayed epoch must gate against exactly the state its first
    // attempt saw — `epoch < epoch` filters out any partially-landed
    // failed attempt) and the append-side dedup anti-joins
    // (epoch-unfiltered). Catalog rows are 16-byte hashes — the
    // checkpoint is the StreamNovelty catalog contract's bounded size.
    val docCatAll = Materialize.cut(spark.read.parquet(s"$base/doc_catalog")
      .select(col("text_hash"), col("epoch")))
    val segCatAll = Materialize.cut(spark.read.parquet(s"$base/seg_catalog")
      .select(col("seg_md5"), col("epoch")))
    def catalog(snap: DataFrame): DataFrame =
      snap.filter(col("epoch") < epoch)
    // 1. quality
    val clean = StreamQuality.annotated(batch, rules)
      .filter(col("dq_ok")).drop("dq_ok", "dq_failed")
    // 2. exact novelty (within-batch argmin + catalog anti-join)
    val hashed = clean.withColumn("text_hash", md5(col("text")))
    val firstIds = hashed.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    val novel = hashed
      .join(firstIds, Seq("text_hash", "doc_id"), "left_semi")
      .join(catalog(docCatAll).select(col("text_hash")),
        Seq("text_hash"), "left_anti")
    // 3. segment novelty: fresh segments = first within-batch
    //    occurrence AND not in the catalog; docs with none drop
    val segs = graft.operators.Segments
      .segmented(novel.select(col("doc_id"), col("text")), window)
      .withColumn("seg_md5", md5(col("seg")))
    val freshSegs = segs.groupBy(col("seg_md5"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("fo"))
      .select(col("seg_md5"), col("fo.doc_id").as("doc_id"))
      .join(catalog(segCatAll).select(col("seg_md5")),
        Seq("seg_md5"), "left_anti")
    val surviving = novel.join(
      freshSegs.select(col("doc_id")).distinct(), Seq("doc_id"),
      "left_semi")
    // catalog appends — key-anti-joined against the PINNED snapshots
    // so replays cannot duplicate rows (the epoch filter above, not
    // append ordering, is what makes the chain replay-safe). The doc
    // catalog records ALL of `novel` — survivors AND segment-novelty
    // drops: a recombined duplicate was fully adjudicated this epoch
    // (its segments are all catalogued, so it would drop again
    // anyway), and cataloguing its hash lets future identical
    // arrivals short-circuit at the exact gate instead of re-running
    // quality + segmentation every time.
    val segAppend = freshSegs.select(col("seg_md5")).distinct()
      .join(segCatAll.select(col("seg_md5")), Seq("seg_md5"),
        "left_anti")
      .withColumn("epoch", lit(epoch))
    val docAppend = novel.select(col("text_hash")).distinct()
      .join(docCatAll.select(col("text_hash")), Seq("text_hash"),
        "left_anti")
      .withColumn("epoch", lit(epoch))
    (surviving, segAppend, docAppend)
  }

  def startLlmIngest(stream: DataFrame, base: String, indexPath: String,
      checkpoint: String, rules: Seq[(String, Column)],
      window: Int = 10, compactEvery: Int = 8,
      dims0: Int = -1): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        llmIngestBatch(batch, epoch, base, indexPath, rules, window,
          dims0)
        if (compactEvery > 0 && epoch % compactEvery == compactEvery - 1)
          graft.operators.Hnsw.compactHnswIndex(batch.sparkSession,
            indexPath)
      }
      .start()
}
