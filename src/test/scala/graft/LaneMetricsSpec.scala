package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-lane collector that `Bench` and `QuickTime` attach: plan
  * counts from the final adaptive plan, task CPU and GC time,
  * run-to-run stability, the heavy-generator flag (the r18 finding)
  * and detach.
  */
class LaneMetricsSpec extends GraftSpecBase {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def measured(body: => Unit): LaneMetrics.Counts = {
    val m = LaneMetrics.attach(spark)
    body
    m.detach()
  }

  private def lane(name: String): LaneMetrics.Counts =
    measured(noop(SparkEntry.queries(name)(spark, sf)))

  test("q_broadcast_join reports its broadcast exchange, join and tasks") {
    initLog()
    val m = lane("q_broadcast_join")
    assert(m.broadcasts >= 1)
    assert(m.joins.getOrElse("BroadcastHashJoin", 0) >= 1)
    assert(m.jobs > 0 && m.stages > 0 && m.tasks > 0)
    assert(m.taskMaxMs >= m.taskMedianMs)
  }

  test("task_cpu_ms: a CPU-bound aggregate reports CPU time, at most " +
      "the wall time of its cores") {
    initLog()
    val agg = spark.range(0L, 4000000L, 1L, 4)
      .select(max(xxhash64(col("id"), col("id") * 3)))
    noop(agg) // cold: plans and compiles
    val t0 = System.nanoTime()
    val m = measured(noop(agg))
    val wallMs = (System.nanoTime() - t0) / 1000000L
    assert(m.taskCpuMs > 0, m)
    assert(m.taskCpuMs <= 4 * wallMs, s"${m.taskCpuMs} ms CPU in $wallMs ms wall")
  }

  test("gc_ms: the JVM's collection time over the run, a forced GC included") {
    initLog()
    def gcMs() = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val outer0 = gcMs()
    val m = LaneMetrics.attach(spark)
    val inner0 = gcMs()
    noop(SparkEntry.queries("q_broadcast_join")(spark, sf))
    System.gc()
    val inner = gcMs() - inner0
    val c = m.detach()
    val outer = gcMs() - outer0
    assert(inner > 0, "a full GC of the spec JVM took no measurable time")
    assert(c.gcMs >= inner && c.gcMs <= outer, (inner, c.gcMs, outer))
  }

  test("two warm runs of one lane give equal counts; the second compiles nothing") {
    initLog()
    lane("q_topn_join") // cold: plans and compiles
    val a = lane("q_topn_join")
    val b = lane("q_topn_join")
    assert((a.jobs, a.stages, a.exchanges, a.broadcasts) ==
      (b.jobs, b.stages, b.exchanges, b.broadcasts))
    assert(a.exchanges + a.broadcasts > 0)
    assert(b.compiles == Seq(0L))
  }

  test("a merge chain inlined under posexplode is generate_heavy; " +
      "the same explode over a checkpointed frame is not") {
    initLog()
    val words = spark.range(200).select(concat(lit("ab"), col("id")).as("word"))
    // the r18 shape: a 16-deep replace chain, split, and a slice whose
    // size() operand carries a second copy of the chain
    def chain(c: org.apache.spark.sql.Column) = split((1 to 16).foldLeft(
        regexp_replace(c, "([^ ])", " $1")) { (acc, i) =>
      replace(acc, lit(s" a$i"), lit(s" b$i"))
    }, " ")
    val inline = words.select(col("word"),
      posexplode(slice(chain(col("word")), lit(2), size(chain(col("word"))) - 1)))
    assert(measured(noop(inline)).generateHeavy >= 1)
    // the Bpe.encodeDocs shape: the chain in projections below the explode
    val syms = words.select(col("word"), chain(col("word")).as("arr"))
      .select(col("word"), slice(col("arr"), lit(2), size(col("arr")) - 1).as("syms"))
    assert(measured(noop(syms.select(col("word"), posexplode(col("syms")))))
      .generateHeavy >= 1)
    val ckpt = graft.operators.Materialize.cut(syms)
    try assert(measured(noop(ckpt.select(col("word"), posexplode(col("syms")))))
      .generateHeavy == 0)
    finally graft.operators.Materialize.release(ckpt)
  }

  test("after detach a further query leaves the collector's counts unchanged") {
    initLog()
    val m = LaneMetrics.attach(spark)
    noop(SparkEntry.queries("q_broadcast_join")(spark, sf))
    val before = m.detach()
    assert(before.jobs > 0)
    // a second collector's detach drains the listener queue past the
    // further query's events
    val other = measured(noop(SparkEntry.queries("q_multijoin")(spark, sf)))
    assert(other.jobs > 0)
    assert(m.snapshot == before)
  }
}
