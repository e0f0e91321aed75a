package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Derive an N×-replicated copy of a test-scale dataset for scale
  * benchmarking (the driver ships sf ≤ 0.1; nonlinear operators only
  * show their curve above that). Replication is SEMANTICS-PRESERVING
  * per replica, not row duplication:
  *
  *  - facts/dims get per-replica key shifts (r × 10^9) applied
  *    consistently to primary AND foreign keys, so each replica is an
  *    intact star and join selectivities scale linearly;
  *  - document text gets a per-replica token suffix (replica 0
  *    untouched), so cross-replica shingle Jaccard is 0 and the
  *    near-dup pair count scales linearly — naive duplication would
  *    make every replica an exact dup and blow pairs up
  *    quadratically, benchmarking a different (broken) workload;
  *  - embeddings are dimension-rotated per replica (rotation preserves
  *    within-replica cosine exactly; cross-replica pairs decorrelate),
  *    same reasoning as the text suffix;
  *  - event timestamps stay fixed: windows get N× rows per window,
  *    the streaming/window-agg stress profile of a larger feed.
  *
  * Usage: runMain graft.tools.ScaleData [srcDir] [outDir] [replicas]
  *          [tables]
  * `tables` (optional, comma-separated) restricts output to a subset —
  * a single-lane decade study (e.g. tok_encode_bpe at 1000×) only
  * needs `documents`, not a 12 GB full star.
  */
object ScaleData {

  private val K = 1000000000L

  /** Cross-join with replica index r = 0..n-1. */
  private def replicate(df: DataFrame, n: Int): DataFrame =
    df.crossJoin(org.apache.spark.sql.functions.broadcast(
      df.sparkSession.range(n).select(col("id").as("__r"))))

  private def shift(c: String): org.apache.spark.sql.Column =
    col(c) + col("__r") * K

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sfscaled")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).toSet)
    // GraftSession keeps timestamps LTZ on the round-trip — a scaled
    // copy that flips o_orderdate to TIMESTAMP_NTZ breaks unix_micros
    val spark = graft.GraftSession.local(graft.GraftSession.cpus,
      "graft-scale-data")
    spark.sparkContext.setLogLevel("WARN")

    def write(df: => DataFrame, name: String): Unit =
      if (only.forall(_.contains(name)))
        df.drop("__r").write.mode("overwrite").parquet(s"$out/$name.parquet")

    // tiny fixed dims: copy untouched
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    write(replicate(Tables.customer(spark, src), n)
      .withColumn("c_custkey", shift("c_custkey")), "customer")
    write(replicate(Tables.supplier(spark, src), n)
      .withColumn("s_suppkey", shift("s_suppkey")), "supplier")
    write(replicate(Tables.part(spark, src), n)
      .withColumn("p_partkey", shift("p_partkey")), "part")
    write(replicate(Tables.orders(spark, src), n)
      .withColumn("o_orderkey", shift("o_orderkey"))
      .withColumn("o_custkey", shift("o_custkey")), "orders")
    write(replicate(Tables.lineitem(spark, src), n)
      .withColumn("l_orderkey", shift("l_orderkey"))
      .withColumn("l_partkey", shift("l_partkey"))
      .withColumn("l_suppkey", shift("l_suppkey")), "lineitem")
    write(replicate(Tables.events(spark, src), n)
      .withColumn("event_id", shift("event_id"))
      .withColumn("user_id", shift("user_id")), "events")

    write(replicate(Tables.documents(spark, src), n)
      .withColumn("doc_id", shift("doc_id"))
      .withColumn("text", when(col("__r") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1~"), col("__r")))))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    val dims = 64
    write(replicate(Tables.embeddings(spark, src), n)
      .withColumn("vec_id", shift("vec_id"))
      // rotation (r*17) mod 64 — nonzero and distinct for r = 1..9
      .withColumn("__rot", pmod(col("__r") * 17, lit(dims)).cast("int"))
      .withColumn("embedding", when(col("__rot") === 0, col("embedding"))
        .otherwise(concat(
          slice(col("embedding"), col("__rot") + 1, lit(dims) - col("__rot")),
          slice(col("embedding"), lit(1), col("__rot")))))
      .drop("__rot"), "embeddings")

    println(s"""{"scaled":"$out","replicas":$n,"src":"$src"}""")
    spark.stop()
  }
}
