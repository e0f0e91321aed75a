package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Decade curve for [[Similarity.embeddingPairsExactHighTau]] on the
  * workload it exists for: a CLUSTERED corpus (fixed cluster size,
  * growing cluster count — the shape of a web corpus with near-dup
  * families). The pair OUTPUT grows linearly (within-cluster pairs ×
  * cluster count), so a sub-quadratic time curve is attributable to
  * the triangle-inequality prune, not to output shrinkage. The
  * isotropic driver corpus cannot show this (nothing prunes isotropy
  * — intrinsic to exactness), which is why the measurement lives in a
  * tool instead of the bench suite; results recorded in SURVEY §4.5.
  *
  * Data is hash-generated (deterministic, no RNG state): cluster
  * centers are 64-dim xxhash64-uniform vectors, members jitter each
  * coordinate by ±3 % of the coordinate scale — within-cluster cosine
  * ≈ 0.999, cross-cluster ≈ isotropic-random (≈ 0 at 64 dims).
  * nlist is passed = cluster count: the operator's documented knob —
  * cells must track the corpus's NATURAL cluster granularity for the
  * radii to stay tight (nlist ≪ clusters ⟹ multi-cluster cells ⟹
  * π-wide radii ⟹ no pruning).
  *
  * Usage: runMain graft.tools.ExactPairsScale [maxN]
  */
object ExactPairsScale {

  private val Dims = 64
  private val PerCluster = 50

  /** (vec_id, embedding): `n` vectors in `n / PerCluster` tight
    * clusters, all coordinates hash-derived.
    */
  private def clustered(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n).select(col("id").as("vec_id"),
      (col("id") / PerCluster).cast("long").as("cl"))
    // coordinate d of the center: xxhash64(cl, d) → [-1, 1);
    // member jitter: xxhash64(vec_id, d) → ±0.03
    val coords = (0 until Dims).map { d =>
      val c = (pmod(xxhash64(col("cl"), lit(d)), lit(2000001L))
        .cast("double") / 1000000.0) - 1.0
      val j = (pmod(xxhash64(col("vec_id"), lit(d + 7919)), lit(2000001L))
        .cast("double") / 1000000.0) - 1.0
      (c + j * 0.03).cast("float")
    }
    base.select(col("vec_id"), array(coords: _*).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val maxN = args.lift(0).map(_.toLong).getOrElse(200000L)
    val spark = graft.GraftSession.localFor(graft.GraftSession.cpus,
      "/root/testdata/sf0.01", "graft-exact-pairs-scale")
    spark.sparkContext.setLogLevel("ERROR")
    val sizes = Iterator.iterate(2000L)(_ * 10).takeWhile(_ <= maxN).toSeq
    for (n <- sizes) {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_eps_$n").toString
      // materialize the corpus first — generation cost must not ride
      // the measured operator
      clustered(spark, n).write.mode("overwrite").parquet(tmp)
      val e = spark.read.parquet(tmp)
      val nlist = (n / PerCluster).toInt
      val t0 = System.nanoTime()
      val pairs = Similarity
        .embeddingPairsExactHighTau(e, tau = 0.85, nlist = nlist)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"n":$n,"nlist":$nlist,"pairs":$pairs,"sec":$sec%.2f}""")
    }
    spark.stop()
  }
}
