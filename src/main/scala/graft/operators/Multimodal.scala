package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal column handling: media as opaque `binary` columns with
  * typed metadata. The codec decode itself is STUBBED (deterministic
  * fake — this container has no image/audio libs); everything Spark
  * cares about — schema, binary column plumbing, partitioned batch
  * shape, offset arithmetic — is real and oracle-checked.
  */
object Multimodal {

  /** Materialize an opaque binary payload per document (UTF-8 bytes
    * stand in for encoded media) + typed metadata columns, the way a
    * 100 TB media table would carry (bytes, width, height, ...)
    * alongside scalar columns in the same parquet row group.
    */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    binaryMeta(Tables.documents(spark, dir))

  def binaryMeta(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      md5(col("text")).as("payload_md5"),
      (((col("doc_id") % 64) + 1) * 8).cast("long").as("width"),
      (((col("doc_id") % 48) + 1) * 8).cast("long").as("height"))
      .withColumn("n_pixels", col("width") * col("height"))

  /** Frame sampling over a (stubbed) media payload: every 10th
    * 100-byte "frame", with real offset arithmetic and a content
    * checksum per sampled frame. The explode happens map-side — no
    * shuffle; at scale this is the standard patch/frame extraction
    * shape feeding a Pandas-UDF-style batched decoder.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    frameSample(Tables.documents(spark, dir))

  def frameSample(docs: DataFrame,
      frameBytes: Int = 100, stride: Int = 10): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        floor(length(col("text")) / frameBytes).cast("long").as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"), col("text"),
        explode(sequence(lit(0L), col("n_frames") - 1L,
          lit(stride.toLong))).as("frame_idx"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        (col("frame_idx") * frameBytes).as("byte_offset"),
        md5(substr(col("text"), (col("frame_idx") * frameBytes + 1)
          .cast("int"), lit(frameBytes))).as("frame_md5"))

  /** Resize planning: target box + preserved aspect ratio, pure column
    * arithmetic over the metadata (the actual pixel resample lives in
    * the decode stub's partition batch at a real deployment).
    */
  def resizePlan(meta: DataFrame, maxSide: Int = 224): DataFrame = {
    val scale = least(
      lit(maxSide.toDouble) / col("width"),
      lit(maxSide.toDouble) / col("height"),
      lit(1.0))
    meta.select(col("doc_id"), col("width"), col("height"),
      round(scale, 6).as("scale"),
      floor(col("width") * scale).cast("long").as("out_w"),
      floor(col("height") * scale).cast("long").as("out_h"))
  }

  /** ViT-style patch-grid extraction over a (stubbed) image payload:
    * the `patch`×`patch` pixel grid implied by the [[binaryMeta]]
    * width/height, sampled every `stride` patches in each dimension
    * (stride 1 = the full grid a ViT consumes). Offsets are real
    * row-major RGB888 byte arithmetic; the pixel content itself is
    * the stand-in payload, so the per-patch checksum wraps its offset
    * into the available bytes (labeled stub — a real decoder reads
    * `bytes` at `byte_offset`). Double map-side explode (rows ≤
    * docs × (nx/stride) × (ny/stride)), zero shuffle — the image twin
    * of [[frameSample]] feeding the same batched-decode shape.
    */
  def patchGrid(spark: SparkSession, dir: String): DataFrame =
    patchGrid(Tables.documents(spark, dir))

  def patchGrid(docs: DataFrame, patch: Int = 16, stride: Int = 4): DataFrame =
    docs
      .select(col("doc_id"),
        (((col("doc_id") % 64) + 1) * 8).cast("long").as("width"),
        (((col("doc_id") % 48) + 1) * 8).cast("long").as("height"))
      .withColumn("nx", expr(s"(width + ${patch - 1}) div $patch"))
      .withColumn("ny", expr(s"(height + ${patch - 1}) div $patch"))
      .select(col("doc_id"), col("width"), col("height"), col("nx"),
        explode(sequence(lit(0L), col("ny") - 1L,
          lit(stride.toLong))).as("py"))
      .select(col("doc_id"), col("width"), col("height"), col("nx"),
        col("py"),
        explode(sequence(lit(0L), col("nx") - 1L,
          lit(stride.toLong))).as("px"))
      .select(col("doc_id"), col("px"), col("py"),
        ((col("py") * patch * col("width") + col("px") * patch) * 3L)
          .as("byte_offset"))

  /** Audio windowing over a (stubbed) PCM payload: 25 ms windows with
    * a 10 ms hop (the standard ASR/feature framing — defaults sized to
    * a 4 kHz rate so the small test payloads produce windows; at a
    * real 16 kHz deployment pass 400/160), with real sample-offset
    * arithmetic from byte-length metadata (16-bit mono ⇒ n_samples =
    * bytes/2). Map-side explode, no shuffle — the audio twin of
    * [[frameSample]]; windows feed the same batched decode/feature
    * stubs.
    */
  def audioWindows(spark: SparkSession, dir: String): DataFrame =
    audioWindows(Tables.documents(spark, dir))

  def audioWindows(docs: DataFrame,
      winSamples: Int = 100, hopSamples: Int = 40,
      sampleRate: Int = 4000): DataFrame = {
    val msPerHop = hopSamples * 1000 / sampleRate
    docs
      .select(col("doc_id"),
        (length(encode(col("text"), "UTF-8")).cast("long") / 2)
          .cast("long").as("n_samples"))
      .filter(col("n_samples") >= winSamples)
      .withColumn("n_windows",
        expr(s"(n_samples - $winSamples) div $hopSamples") + 1L)
      .select(col("doc_id"), col("n_samples"),
        explode(sequence(lit(0L), col("n_windows") - 1L)).as("win_idx"))
      .select(col("doc_id"), col("n_samples"), col("win_idx"),
        (col("win_idx") * hopSamples).as("start_sample"),
        (col("win_idx") * msPerHop).as("start_ms"))
  }

  /** Feature-extraction record produced by the stubbed encoder. */
  final case class FrameFeatures(doc_id: Long, frame_idx: Long,
      features: Array[Float])

  /** STUB feature extractor (image/audio embedding model absent):
    * deterministic 8-dim feature vector derived from the frame
    * checksum, emitted per partition batch — the output feeds
    * directly into graft.operators.Similarity (ANN / near-dup), which
    * is the real multimodal-dedup composition at scale.
    */
  def extractFeaturesStub(spark: SparkSession, dir: String): Dataset[FrameFeatures] = {
    import spark.implicits._
    frameSample(spark, dir)
      .select(col("doc_id"), col("frame_idx"), col("frame_md5"))
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        // real impl: load model once per partition, batch-infer frames
        it.map { case (docId, idx, checksum) =>
          val feats = Array.tabulate(8) { i =>
            val h = java.lang.Long.parseLong(
              checksum.substring(i * 4, i * 4 + 4), 16)
            (h.toFloat / 65535.0f) * 2.0f - 1.0f
          }
          FrameFeatures(docId, idx, feats)
        }
      }
  }

  /** Decoded-frame record produced by the stubbed codec. */
  final case class DecodedFrame(doc_id: Long, frame_idx: Long,
      width: Int, height: Int, mean_intensity: Double)

  /** STUB decoder — deterministic fake in place of a real codec
    * (libjpeg etc. absent here). Runs as mapPartitions so a real
    * decoder would amortize per-partition init (model load, codec
    * context) exactly like a Pandas-UDF batch would.
    */
  def decodeFramesStub(spark: SparkSession, dir: String): Dataset[DecodedFrame] = {
    import spark.implicits._
    frameSample(spark, dir)
      .select(col("doc_id"), col("frame_idx"), col("frame_md5"))
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        // real impl: init codec once per partition, decode each frame
        it.map { case (docId, idx, checksum) =>
          val h = java.lang.Long.parseLong(checksum.substring(0, 8), 16)
          DecodedFrame(docId, idx, ((h % 64) + 1).toInt * 8,
            ((h % 48) + 1).toInt * 8, (h % 256).toDouble)
        }
      }
  }

  def phashDedup(spark: SparkSession, dir: String): DataFrame =
    phashDedup(Tables.documents(spark, dir))

  /** Perceptual-hash-style near-duplicate detection over the media
    * payload — the image/video dedup a 100 TB multimodal pipeline
    * runs BEFORE any decode (re-encoded copies, recuts and
    * watermarked variants share most payload blocks): a compact
    * block signature per payload, banded LSH candidate join, exact
    * Hamming verify — the standard pHash-bucket dedup shape.
    *
    * The signature is a 60-bit BLOCK hash (15 equal payload slices ×
    * the first md5 nibble each): a localized payload edit perturbs
    * few slices ⟹ few nibbles ⟹ small Hamming distance — the
    * robustness-to-local-edits property that makes bucketing work.
    * Honest stub note (the family convention): a real pHash DCTs
    * DECODED pixels; no codec lives in this container, so the
    * per-block feature hashes the ENCODED bytes (deterministic,
    * cross-engine md5). The scale-relevant plumbing — signature
    * column, combo-banded pigeonhole join (exhaustive at Hamming ≤ 3),
    * exact verify — is real and shared verbatim with the simhash
    * lane ([[Dedup.signaturePairs]]).
    *
    * 60 bits, not 64: the top nibble of a 16-block signature would
    * overflow signed BIGINT on both engines (the md5Hash60 lesson).
    * Block boundaries are floor(j·n/15) — IEEE division is correctly
    * rounded, so floor(x/15.0) ≡ x//15 exactly for every document
    * length that fits a double (spec'd boundary fixture). Payloads
    * under `minChars` are excluded: with slices this short the
    * constant md5('') nibble dominates and unrelated tiny payloads
    * all collide.
    */
  def phashDedup(docs: DataFrame, blocks: Int = 15, maxDist: Int = 3,
      minChars: Int = 64): DataFrame = {
    require(blocks * 4 <= 60, s"blocks*4 must fit 60 bits: $blocks")
    val base = Par.ensure(docs)
      .filter(length(col("text")) >= minChars)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("double").as("__n"))
    val bd = lit(blocks.toDouble)
    val nib = (0 until blocks).map { j =>
      val off = floor(lit(j.toDouble) * col("__n") / bd).cast("long")
      val end = floor(lit(j + 1.0) * col("__n") / bd).cast("long")
      conv(substring(md5(col("text").substr((off + lit(1L)).cast("int"),
        (end - off).cast("int"))), 1, 1), 16, 10).cast("long") *
        lit(1L << (4 * j))
    }
    // MATERIALIZE the (doc_id, sig) frame before the banded self-join
    // (r18, guide §1.2): the 15-md5 signature expression otherwise
    // re-evaluates on EACH side of the join (no subtree reuse without
    // an exchange) and a third time inside the pushed isnotnull(sig)
    // filter — the whole expression is visible verbatim in the plan's
    // Filter node. The checkpoint is 16 bytes/row; measured 100×:
    // the lane's candidate join dropped from ~26 s to the cost of one
    // signature pass.
    Dedup.signaturePairs(
      Materialize.cut(base.select(col("doc_id"), nib.reduce(_ + _).as("sig"))),
      maxDist, 4 * blocks)
  }

  /** Generated oracle for [[phashDedup]]: DuckDB recomputes the
    * identical block signatures (integer // boundaries, same md5
    * nibble) and brute-forces all pairs — the combo-banded LSH is
    * exhaustive at Hamming ≤ 3 by pigeonhole, so the row sets
    * coincide (the dedup_simhash oracle convention).
    */
  def phashOracleSql(blocks: Int = 15, maxDist: Int = 3,
      minChars: Int = 64, from: String = "documents"): String = {
    val terms = (0 until blocks).map { j =>
      val off = s"($j * n) // $blocks"
      val len = s"(${j + 1} * n) // $blocks - ($j * n) // $blocks"
      s"""(strpos('0123456789abcdef', substr(md5(substr(text,
         CAST($off + 1 AS INTEGER), CAST($len AS INTEGER))), 1, 1)) - 1)
         * ${1L << (4 * j)}"""
    }.mkString(" + ")
    s"""WITH base AS (SELECT doc_id, text, length(text) AS n
           FROM $from WHERE length(text) >= $minChars),
         sig AS (SELECT doc_id, CAST($terms AS BIGINT) AS sig FROM base)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= $maxDist"""
  }

  /** Planted-copy offset for [[phashEffect]] — far above any real
    * doc_id (the semanticDedupEffect convention).
    */
  val PhashPlantOffset = 1000000L

  def phashEffect(spark: SparkSession, dir: String): DataFrame =
    phashEffect(Tables.documents(spark, dir))

  /** Hard per-round SIGNAL for the phash lane: the corpus of
    * synthetic random docs legitimately contains no payload
    * near-dups, so the main lane's oracle-green can be an
    * empty-vs-empty match — this lane PLANTS exact payload copies of
    * the first five docs and reports one deterministic row (pair
    * count, exact-collision count). Planting is itself relational,
    * so the lane stays FULL-oracle (the SQL replants identically)
    * rather than rows-checked: a signature bug that empties the main
    * lane hash-mismatches here instead of passing silently.
    */
  def phashEffect(docs: DataFrame): DataFrame = {
    val planted = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + lit(PhashPlantOffset)).as("doc_id"),
        col("text"))
    phashDedup(docs.select(col("doc_id"), col("text"))
        .unionByName(planted))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(when(col("hamming") === 0L, 1L).otherwise(0L))
          .cast("long").as("n_exact"))
  }

  def phashEffectOracleSql(): String = {
    val inner = phashOracleSql(from = "all_docs")
    s"""WITH all_docs AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + $PhashPlantOffset, text FROM documents
           WHERE doc_id < 5)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact
         FROM ($inner) pairs"""
  }
}
