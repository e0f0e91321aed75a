package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Materialize}

/** The lane runner `Bench`, `Verify` and `QuickTime` share: what a run
  * releases and reports as leaked, and the lanes whose checkpoints and
  * caches outlived them before every materialization went through
  * [[graft.operators.Materialize]].
  */
class LaneRunnerSpec extends GraftSpecBase {

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a run releases the checkpoints its result reads and reports the " +
      "ones it cannot reach as leaked") {
    initLog()
    var orphan: DataFrame = null
    val before = persisted()
    val r = LaneRunner.run(spark, sf, (s, _) => {
      orphan = Materialize.cut(s.range(20).toDF("id"))
      Materialize.cut(s.range(10).toDF("id")).filter(col("id") > 3)
    })(noop)
    assert(r.failure.isEmpty)
    val orphanId = Materialize.pinnedBy(orphan)
    assert(r.leaked.map(_.split(" ")(0).toInt).toSet == orphanId)
    assert(persisted() -- before == orphanId)
    Materialize.release(orphan)
  }

  // rdds_left > 0 in the sf0.1 artifact before this runner existed
  private val leakers = Seq("ann_ivfpq", "ann_ivfpq_filtered",
    "ann_ivfpq_filtered_recall", "ann_ivfpq_recall", "curate_corpus",
    "curate_corpus_v2", "curate_ppl_buckets", "curate_ppl_buckets_v2",
    "dedup_components", "dedup_keep_best", "dedup_semantic_inc",
    "graph_jaccard", "graph_kcore", "graph_lpa", "graph_pagerank",
    "mm_phash_dedup", "mm_phash_effect", "q_recursive_cte", "q_skyline",
    "split_cluster_safe")

  test("the lanes that left RDDs pinned leak nothing through the runner; " +
      "only the HNSW memo outlives a lane, and only inside its family") {
    initLog()
    Hnsw.releaseGraphCache(spark)
    val before = persisted()
    val lanes = (leakers :+ "ann_hnsw").sorted
      .map(n => n -> SparkEntry.queries(n))
    val runs = LaneRunner.inOrder(spark, sf, lanes) { (name, fn) =>
      val r = LaneRunner.run(spark, sf, fn)(noop)
      val memo = spark.sparkContext.getPersistentRDDs.collect {
        case (id, rdd) if Option(rdd.name).exists(_.startsWith(Hnsw.LaneMemoRddName)) => id
      }.toSet
      (name, r, persisted() -- before -- memo, memo.nonEmpty)
    }
    runs.foreach { case (name, r, _, _) => assert(r.failure.isEmpty, s"$name: ${r.failure}") }
    val leaked = runs.collect { case (n, r, _, _) if r.leaked.nonEmpty => s"$n: ${r.leaked}" }
    assert(leaked.isEmpty, leaked.mkString("leaked:\n", "\n", ""))
    val left = runs.collect { case (n, _, l, _) if l.nonEmpty => s"$n: $l" }
    assert(left.isEmpty, left.mkString("left persisted:\n", "\n", ""))
    assert(runs.collect { case (n, _, _, true) => n } == Seq("ann_hnsw"))
    assert(persisted() -- before == Set.empty)
    assert(Hnsw.graphCacheSize == 0)
  }
}
