package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Hnsw, Materialize}

/** Runs `SparkEntry` lanes for `Bench`, `Verify` and `QuickTime` under
  * one release policy ([[graft.operators.Materialize]]): a lane's
  * result is built and consumed, then every RDD persisted during the
  * run that the result's plan reads is released, and every other one
  * is reported as leaked and left persisted (so `LaneMetrics`'
  * `rdds_left` counts exactly the leaks; [[Materialize.settle]]).
  */
private[graft] object LaneRunner {
  type Lane = (SparkSession, String) => DataFrame

  /** One run: seconds to build and consume the result, the failure if
    * it threw, and the RDDs it leaked (`id name`).
    */
  final case class Run(seconds: Double, failure: Option[Throwable],
      leaked: Seq[String])

  def run(spark: SparkSession, dir: String, lane: Lane)(
      consume: DataFrame => Unit): Run = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val t0 = System.nanoTime()
    var result: Option[DataFrame] = None
    val failure =
      try { result = Some(lane(spark, dir)); consume(result.get); None }
      catch { case t: Throwable => Some(t) }
    val seconds = (System.nanoTime() - t0) / 1e9
    Run(seconds, failure, Materialize.settle(spark, before, result))
  }

  /** `each` over `lanes` in order. The `ann_hnsw*` lanes share one
    * memoized graph ([[Hnsw.prebuildLaneGraph]]): it is built through
    * `prebuild` (so a caller can time it) before the first lane of a
    * run of them, and released after the last, GB-scale blocks that
    * must not stay pinned under later lanes.
    */
  def inOrder[T](spark: SparkSession, dir: String, lanes: Seq[(String, Lane)],
      prebuild: (() => Unit) => Unit = _())(each: (String, Lane) => T): Seq[T] = {
    var memo = false
    try lanes.map { case (name, lane) =>
      if (memo != name.startsWith("ann_hnsw")) {
        if (memo) Hnsw.releaseGraphCache(spark)
        else prebuild(() =>
          try Hnsw.prebuildLaneGraph(spark, dir) catch { case _: Throwable => () })
        memo = !memo
      }
      each(name, lane)
    } finally Hnsw.releaseGraphCache(spark)
  }
}
