package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Materialize, Packing, Profile, Segments}
import graft.sources.Tables

/** Scale probe for the segment/packing/profile family (r6 VERDICT
  * item 7): times each operator on an arbitrary corpus dir (sf0.1 or
  * a ScaleData output), min of 2 runs, one JSON line — plus a
  * PLANTED-duplication corpus check for the de-skewed segmentDedup.
  *
  * ScaleData replicas are token-suffix-disjoint by construction, so a
  * scaled corpus has NO cross-replica duplicate segments — linear
  * curves there prove throughput, not skew-safety. The planted
  * corpus appends one fixed 10-token boilerplate block to ~30% of
  * docs (hash-chosen, deterministic), making a single segment hash
  * carry ~0.3·n occurrences — the viral-segment regime the argmin
  * resolve exists for. Usage:
  *   runMain graft.tools.SegScale <corpusDir> [plant]
  */
object SegScale {

  private def time2(label: String, f: () => DataFrame): (String, Double) = {
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      f().count()
      (System.nanoTime() - t0) / 1e9
    }
    (label, times.min)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val plant = args.lift(1).contains("plant")
    val spark = graft.GraftSession.localFor(graft.GraftSession.cpus,
      dir, "graft-seg-scale")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(2000000L).selectExpr("sum(id * 2)").collect() // JIT warm

    val docs = Tables.documents(spark, dir)
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    results += time2("dedup_segment", () => Segments.segmentDedup(docs))
    results += time2("text_boilerplate", () => Segments.boilerplateScrub(docs))
    results += time2("seq_pack_8", () => Packing.packDocs(docs))
    results += time2("seq_pack_64", () => Packing.packDocs(docs, nShards = 64))
    results += time2("profile_exact", () =>
      Profile.profile(Tables.orders(spark, dir), exact = true))
    results += time2("profile_approx", () =>
      Profile.profile(Tables.orders(spark, dir), exact = false))

    if (plant) {
      // Deterministic viral block: pad each planted doc to the next
      // 10-token boundary first, so the window=10 default segments the
      // block as ONE identical repeated segment in EVERY planted doc
      // (without padding only docs already at a boundary reproduce it
      // — ~10% — and the hot key is 10× weaker than intended).
      val viral = (1 to 10).map(i => s"boilerplate$i").mkString(" ")
      val pad = repeat(lit(" pp"),
        pmod(lit(10) - pmod(size(split(col("text"), " ")), lit(10)), lit(10)))
      val planted = Materialize.cache(docs.withColumn("text",
        when(pmod(xxhash64(col("doc_id")), lit(10)) < 3,
          concat(col("text"), pad, lit(" " + viral))).otherwise(col("text"))))
      planted.count()
      results += time2("dedup_segment_planted", () =>
        Segments.segmentDedup(planted))
      // sanity: the viral segment must survive exactly once corpus-wide
      val keptViral = Segments.segmented(planted, 10)
        .filter(col("seg") === viral).count()
      val survivors = Segments.segmentDedupFrames(
        Segments.segmented(planted, 10))
      results += ("planted_viral_copies" -> keptViral.toDouble)
      survivors.count()
      Materialize.release(planted)
    }

    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    println(results.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString(s"""{"dir":"$dir","probes":{""", ",", "}}"))
    spark.stop()
  }
}
