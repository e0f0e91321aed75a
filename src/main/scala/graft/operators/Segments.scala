package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Sub-document (segment/paragraph) dedup operators — the CCNet/
  * RefinedWeb curation steps that act BELOW document granularity:
  * exact segment dedup (keep the first corpus-wide occurrence of
  * every repeated paragraph) and boilerplate scrubbing (drop segments
  * that recur across many documents — headers, footers, licence
  * blurbs). Reference corpora carry newline paragraph structure; the
  * synthetic test corpus has none, so the default segmentation is
  * fixed-width token windows (the `window` parameter) — the operator
  * shape (segment → global resolve → in-order reassembly) is
  * identical either way: [[paragraphs]] is the separator-based
  * segmenter, and the `*Frames` overloads run both ops over any
  * precomputed (doc_id, seg_idx, seg) frame.
  *
  * Scale shape (both ops): segment generation is pure map-side
  * (sequence + explode, zero shuffle); the global resolve shuffles
  * once keyed on the segment's md5 (16-byte-class key, never the
  * text); reassembly is one groupBy(doc_id) whose state is bounded by
  * the document's own size. Reassembled text is emitted as md5 so the
  * oracle compare ships 32 bytes per doc.
  */
object Segments {

  /** Separator-based segmentation for corpora that carry structure —
    * one segment per `sep`-delimited paragraph, with the per-doc
    * ordinal. Pure map-side (posexplode), zero shuffle; feed the
    * result to [[segmentDedupFrames]] / [[boilerplateScrubFrames]].
    */
  def paragraphs(docs: DataFrame, sep: String = "\n"): DataFrame =
    Par.ensure(docs)
      .select(col("doc_id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep))))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
        col("col").as("seg"))

  /** Non-overlapping `window`-token segments with per-doc ordinal.
    * The final segment keeps the tail even when shorter.
    */
  def segmented(docs: DataFrame, window: Int): DataFrame = {
    require(window > 0)
    val toks = split(col("text"), " ")
    // ceil(n / window) in pure long arithmetic (IntegralDivide)
    val nSegs = call_function("div",
      size(toks).cast("long") + (window - 1), lit(window.toLong))
    Par.ensure(docs)
      .select(col("doc_id"), toks.as("t"), nSegs.as("n_segs"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L), col("n_segs") - 1)).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        // The int cast cannot wrap: seg_idx <= ceil(n/w)-1, so the 1-based
        // start (seg_idx*w + 1) <= n, and n = size(t) is IntegerType by
        // construction (a JVM array never holds 2^31 elements) — the
        // long arithmetic above exists so the INTERMEDIATE product is
        // exact before the bounded cast.
        array_join(slice(col("t"),
          (col("seg_idx") * window + 1).cast("int"), lit(window)), " ")
          .as("seg"))
  }

  /** Reassemble kept segments in document order; md5 of the joined
    * text (md5('') for docs whose every segment was dropped — the row
    * survives so the caller sees the doc went empty). `keep` marks
    * surviving segments. GetArrayStructFields (`.getField`) extracts
    * the text column from the sorted struct array without an
    * interpreted transform lambda; the array_sort struct comparator
    * is per-doc (≤ tokens/window elements), not corpus-wide.
    */
  private def reassemble(segs: DataFrame, keep: org.apache.spark.sql.Column,
      dropped: String, outMd5: String, sep: String = " "): DataFrame =
    segs
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(keep, 0L).otherwise(1L)).as(dropped),
        md5(array_join(
          array_sort(collect_list(when(keep,
            struct(col("seg_idx"), col("seg"))))).getField("seg"),
          sep)).as(outMd5))

  def segmentDedup(spark: SparkSession, dir: String): DataFrame =
    segmentDedup(Tables.documents(spark, dir))

  /** Exact segment-level dedup: every distinct segment text survives
    * only at its FIRST corpus occurrence — ordered by (doc_id,
    * seg_idx), so the winner is deterministic regardless of partition
    * layout. One row per input doc: total segments, kept count, md5
    * of the doc reassembled from surviving segments.
    *
    * First occurrence is resolved as an ARGMIN, not a rank:
    * `min(struct(doc_id, seg_idx, seg))` per segment hash is
    * algebraic, so a viral segment's copies collapse map-side to ONE
    * partial per task BEFORE the shuffle — where a
    * `row_number over partitionBy(md5(seg))` window would ship every
    * copy of the hottest segment (10^6-10^7x on boilerplate-heavy web
    * text) into a single task's sort. Carrying `seg` in the struct
    * costs nothing (it is constant within the group) and makes the
    * argmin output self-sufficient: the winners ARE the deduped
    * corpus, so no join back onto the input is needed at all.
    *
    * Plan note: a struct-typed min buffer isn't hash-aggregable in
    * Spark (UnsafeRow buffers need fixed-width mutable fields), so the
    * resolve plans as partial+final SortAggregate. The partial's local
    * sort is by grouping key WITHIN each map partition — bounded by
    * the partition, never by the hot key — and the map-side collapse
    * (the property that kills the skew) is unchanged.
    */
  def segmentDedup(docs: DataFrame, window: Int = 10): DataFrame =
    segmentDedupFrames(segmented(docs, window))

  /** [[segmentDedup]] over any precomputed (doc_id, seg_idx, seg)
    * frame — token windows, newline paragraphs ([[paragraphs]]), or a
    * caller's own splitter. `sep` is the reassembly joiner (match it
    * to the segmentation separator so the md5 reflects the document a
    * reader would see).
    */
  def segmentDedupFrames(segs: DataFrame, sep: String = " "): DataFrame = {
    // The argmin CARRIES the winning occurrence's text: seg is
    // functionally determined by the md5 grouping key, so
    // min(struct(doc_id, seg_idx, seg)) picks the same (first) winner
    // and emits the kept text directly — no join back onto the corpus
    // at all. Duplicates still collapse map-side to one partial per
    // task before the shuffle (the viral-segment property), and the
    // shuffle carries one struct per DISTINCT segment per task, never
    // per occurrence. Reassembly then aggregates only the KEPT
    // (deduped) text by doc_id; per-doc totals come from a text-free
    // count branch, and the final doc_id equi-join of the two
    // aggregates reuses their shared partitioning with no exchange of
    // its own (plan-spec'd). Net data motion: full text rides ONE
    // shuffle (collapsed by dedup), kept text one more, counts are
    // 16-byte rows. (Two earlier shapes measured worse: the r6
    // md5-keyed join-back — 1.78 s isolated at sf0.1, text rode two
    // full shuffles; a positional (doc_id, seg_idx) join-back —
    // defeated by requireAllClusterKeysForCoPartition inserting
    // compound-key exchanges that break the doc_id layout reuse.)
    val winners = segs
      .groupBy(md5(col("seg")).as("seg_md5"))
      .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg"))).as("fo"))
    val kept = winners
      .groupBy(col("fo.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          array_sort(collect_list(struct(col("fo.seg_idx").as("seg_idx"),
            col("fo.seg").as("seg")))).getField("seg"),
          sep)).as("dedup_md5"))
    val totals = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs"))
    totals.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_md5"), md5(lit(""))).as("dedup_md5"))
  }

  def boilerplateScrub(spark: SparkSession, dir: String): DataFrame =
    boilerplateScrub(Tables.documents(spark, dir))

  /** Boilerplate removal: segments whose DOCUMENT frequency reaches
    * `dfThreshold` are dropped from EVERY document (unlike
    * [[segmentDedup]], no occurrence survives — a licence blurb in
    * 10k docs is noise in all of them). df counts distinct docs, so a
    * segment repeated inside one doc doesn't self-promote. The df
    * side is corpus-scale and joins back on the segment hash —
    * sort-merge at 100 TB, never broadcast.
    */
  def boilerplateScrub(docs: DataFrame, window: Int = 10,
      dfThreshold: Int = 2): DataFrame =
    boilerplateScrubFrames(segmented(docs, window), dfThreshold)

  /** [[boilerplateScrub]] over any precomputed (doc_id, seg_idx, seg)
    * frame; see [[segmentDedupFrames]] for the frame contract and
    * `sep`. (An exchange-sharing variant — repartition segs on
    * seg_md5 so the agg and probe branches reuse one shuffle — was
    * measured neutral at sf0.1 (0.62s vs 0.61s; commit 829b62c, SURVEY.md)
    * while forfeiting the df-count's map-side partial, so the
    * two-map-stage shape stays.)
    */
  def boilerplateScrubFrames(segs: DataFrame, dfThreshold: Int = 2,
      sep: String = " "): DataFrame = {
    require(dfThreshold >= 2)
    // The df count runs over a TEXT-FREE projection (16-byte hashes +
    // doc ids through its exchange), and — unlike the r6 shape, which
    // joined the FULL distinct-segment count table back — the join
    // side is pre-filtered to the segments that actually cross the
    // threshold. That set is the boilerplate itself: orders of
    // magnitude smaller than the corpus's distinct segments, so AQE
    // broadcasts it on real corpora and the keeper tag costs no text
    // shuffle at all; under forced-shuffle (the 100 TB worst case,
    // plan-spec'd) it degrades to one sort-merge pass, never a
    // broadcast of corpus-scale state. Keep = left-join miss.
    val boiler = segs
      .select(col("doc_id"), md5(col("seg")).as("seg_md5"))
      .groupBy(col("seg_md5"))
      .agg(countDistinct(col("doc_id")).as("seg_df"))
      .filter(col("seg_df") >= dfThreshold)
      .select(col("seg_md5"), lit(true).as("w_boiler"))
    val tagged = segs.join(boiler, md5(col("seg")) === col("seg_md5"), "left")
    reassemble(tagged, col("w_boiler").isNull, "n_boiler", "clean_md5", sep)
  }
}
