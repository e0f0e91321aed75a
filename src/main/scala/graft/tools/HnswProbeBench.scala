package graft.tools

import org.apache.spark.sql.functions._

/** Measure persisted-HNSW probe latency: driver-local descent
  * ([[graft.operators.Hnsw.hnswIndexProbe]]) vs the distributed twin
  * ([[graft.operators.Hnsw.hnswIndexProbeDistributed]]) over the same
  * on-disk index — the r13 VERDICT item 4 measurement (the
  * distributed path pays ~7 eager localCheckpoint jobs per probe; the
  * local path pays one shuffle-free scan per hop).
  * Usage: runMain graft.tools.HnswProbeBench [sfDir] [nProbes]
  */
object HnswProbeBench {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession.localFor(graft.GraftSession.cpus,
      dir, "graft-hnsw-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-hnsw-probe-bench").toString
    val t0 = System.nanoTime()
    graft.operators.Hnsw.writeHnswIndex(e, tmp, dims0 = 64)
    println(f"HNSW index build+write: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val queries = e.filter(col("vec_id") < n)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def time(label: String,
        probe: Seq[Double] => org.apache.spark.sql.DataFrame): Double = {
      // one untimed warm probe (parquet footer cache, codegen)
      probe(queries.head._2).collect()
      val t = System.nanoTime()
      queries.foreach { case (_, qv) => probe(qv).collect() }
      val sec = (System.nanoTime() - t) / 1e9
      println(f"$label%-12s $n probes in $sec%.2f s " +
        f"(${sec / n * 1000}%.0f ms/probe)")
      sec
    }
    val dLoc = time("local", qv =>
      graft.operators.Hnsw.hnswIndexProbe(spark, tmp, qv, k = 5))
    val dDist = time("distributed", qv =>
      graft.operators.Hnsw.hnswIndexProbeDistributed(spark, tmp, qv, k = 5))
    println(f"speedup: ${dDist / dLoc}%.1fx")
    spark.stop()
  }
}
