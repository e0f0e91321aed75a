package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Wall clock in milliseconds with sub-millisecond resolution: one
  * `currentTimeMillis` anchor plus `nanoTime` deltas, so the harness's
  * spans, the generator schedule and Spark's own event times share one
  * time base.
  */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all threads, in milliseconds. Unlike
    * wall time it does not grow while other processes or guests hold
    * the CPU.
    */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** The JIT compiler threads (their names start "C1 CompilerThread" or
    * "C2 CompilerThread"). `run.py` starts the JVM with a fixed number of
    * them, so the set found at the first call stays complete.
    */
  private lazy val compilerTasks: Seq[java.nio.file.Path] =
    Files.list(Paths.get("/proc/self/task")).iterator().asScala.toList.filter { t =>
      val name = new String(Files.readAllBytes(t.resolve("comm")), StandardCharsets.UTF_8)
      name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")
    }

  /** CPU time the JIT compiler threads have used, in milliseconds (from
    * their utime and stime, in clock ticks of 10 ms).
    */
  def jitCpuMs(): Double = compilerTasks.map { t =>
    val stat = new String(Files.readAllBytes(t.resolve("stat")), StandardCharsets.UTF_8)
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) * 10.0
  }.sum

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Wait until the JIT compiler has been idle for `quietMs` (its total
    * compilation time stops growing), at most `maxMs`; returns the wait.
    * Called at the end of set-up, so that the compilations the warm-up
    * queued are done before timing starts, however much CPU the host
    * gave the compiler threads during set-up.
    */
  def awaitJitIdle(quietMs: Double = 500, maxMs: Double = 10000): Double = {
    val t0 = nowMs()
    var last = jit.getTotalCompilationTime
    var since = t0
    while (nowMs() - since < quietMs && nowMs() - t0 < maxMs) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; since = nowMs() }
    }
    nowMs() - t0
  }


  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - nowMs()
    }
  }
}

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (0 for a root); job spans of a streaming query
  * carry the micro-batch id instead, and are linked to their trigger
  * when the run is analysed.
  */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, attrs: Map[String, Any])

/** Spans kept in memory and written out as JSON lines when the run ends. */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = spans.add(s)

  def span[T](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T = {
    val id = newId()
    val t0 = Clock.nowMs()
    try body(id) finally record(Span(id, parent, name, t0, Clock.nowMs(), attrs))
  }

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.start).map(s => Main.json.writeValueAsString(Map(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)))
    Files.write(Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Attributes Spark's jobs, tasks and SQL executions to the harness
  * span that started them. The harness tags its calls with
  * `setJobGroup(<span id>)`; a streaming query tags its own jobs with
  * its run id and the micro-batch id. Every job becomes a child span
  * carrying its task counters; every SQL execution becomes a span
  * carrying the number of exchanges in its final plan.
  */
final class EngineListener(tracer: Tracer) extends SparkListener {
  import EngineListener.{JobInfo, StageAcc}

  private val jobs = mutable.Map[Int, JobInfo]()
  private val stageAcc = mutable.Map[Int, StageAcc]()
  private val stageOwner = mutable.Map[Int, Int]()
  private val plans = mutable.Map[Long, (Long, String, SparkPlanInfo)]()
  private val execBatch = mutable.Map[Long, String]()
  @volatile private var markers = 0L

  private def parentOf(group: String): Long =
    if (group != null && group.nonEmpty && group.forall(_.isDigit)) group.toLong
    else 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val stages = e.stageInfos.map(_.stageId)
    jobs(e.jobId) = JobInfo(e.time, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), stages)
    stages.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
    val exec = prop("spark.sql.execution.id")
    if (exec.nonEmpty && prop("streaming.sql.batchId").nonEmpty)
      execBatch(exec.toLong) = prop("streaming.sql.batchId")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
    acc.tasks += 1
    acc.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      acc.busyMs += m.executorRunTime
      acc.gcMs += m.jvmGCTime
      acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      if (j.group == EngineListener.MarkerGroup) markers += 1
      else {
        val own = j.stages.filter(s => stageOwner.get(s).contains(e.jobId))
        val accs = own.flatMap(stageAcc.remove)
        val stages = accs.filter(_.tasks > 0).map { a =>
          val d = a.durations.sorted
          Map("tasks" -> a.tasks, "max_ms" -> d.last, "median_ms" -> d(d.size / 2))
        }
        tracer.record(Span(tracer.newId(), parentOf(j.group), "job",
          j.start.toDouble, e.time.toDouble, Map(
            "job" -> e.jobId, "batch" -> j.batch,
            "ok" -> (e.jobResult == JobSucceeded),
            "tasks" -> accs.map(_.tasks).sum,
            "busy_ms" -> accs.map(_.busyMs).sum,
            "gc_ms" -> accs.map(_.gcMs).sum,
            "spill_bytes" -> accs.map(_.spillBytes).sum,
            "shuffle_read_bytes" -> accs.map(_.shuffleReadBytes).sum,
            "shuffle_write_bytes" -> accs.map(_.shuffleWriteBytes).sum,
            "stages" -> stages)))
        own.foreach(stageOwner.remove)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      plans(s.executionId) = (s.time, s.jobGroupId.getOrElse(""), s.sparkPlanInfo)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      plans.get(u.executionId).foreach { case (t, g, _) =>
        plans(u.executionId) = (t, g, u.sparkPlanInfo)
      }
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      plans.remove(x.executionId).foreach { case (t, g, plan) =>
        if (g != EngineListener.MarkerGroup)
          tracer.record(Span(tracer.newId(), parentOf(g), "sql", t.toDouble,
            x.time.toDouble, Map("execution" -> x.executionId,
              "batch" -> execBatch.remove(x.executionId).getOrElse(""),
              "exchanges" -> EngineListener.exchanges(plan))))
      }
    }
    case _ => ()
  }

  /** Block until every event posted before this call has been handled:
    * a marker job goes through the same FIFO listener queue, so once
    * its end is seen, all earlier jobs and executions are recorded.
    */
  def drain(sc: SparkContext): Unit = {
    val seen = markers
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(EngineListener.MarkerGroup, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally {
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    }
    val deadline = Clock.nowMs() + 10000
    while (markers <= seen && Clock.nowMs() < deadline) Thread.sleep(1)
  }
}

object EngineListener {
  val MarkerGroup = "perfbench-marker"

  private final class StageAcc {
    var tasks = 0
    var busyMs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }

  private final case class JobInfo(start: Long, group: String, batch: String,
      stages: Seq[Int])

  /** Shuffle and broadcast exchanges in a (final, adaptive) plan. A
    * reused exchange runs nothing and is not counted.
    */
  def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1 else 0) +
      p.children.map(exchanges).sum
}

/** The traced run's recorder: spans from the harness plus the engine
  * listener, attached only around the traced part of the run.
  */
final class Tracing(val tracer: Tracer) {
  val listener = new EngineListener(tracer)

  def attach(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(listener)

  def detach(spark: SparkSession): Unit = {
    listener.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }
}
