package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Expression}
import org.apache.spark.sql.execution.{BaseSubqueryExec, CommandResultExec,
  GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec,
  ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Where one lane run's time went, from Spark's own metrics: a
  * `SparkListener` that `Bench` and `QuickTime` attach around each
  * lane run and detach after it. Not installed by [[GraftSession]] or
  * [[GraftExtensions]], so other sessions never carry it.
  *
  * Task events give jobs, stages, tasks, task CPU time, shuffle, spill,
  * peak execution memory and task-time skew; the JVM's collectors give
  * the run's GC time. Each finished SQL execution's final (adaptive)
  * plan gives exchanges, join strategies, operators outside
  * whole-stage codegen and heavy generators, plus the map from
  * SQL-metric ids to operators that names the slowest stage's
  * operators.
  */
final class LaneMetrics private (spark: SparkSession) extends SparkListener {
  import LaneMetrics._

  private val sc = spark.sparkContext
  private val compiles0 = METRIC_COMPILATION_TIME.getCount
  private val gcMs0 = gcMs()
  private val rdds0 = sc.getPersistentRDDs.keySet
  private var jobs, stages, tasks = 0
  private var exchanges, broadcasts, noCodegen, generateHeavy = 0
  private val joins = mutable.TreeMap[String, Int]()
  private var shuffleReadBytes, shuffleReadRecords = 0L
  private var shuffleWriteBytes, shuffleWriteRecords = 0L
  private var spillBytes, peakMemBytes, taskCpuNs = 0L
  private val taskMs = mutable.ArrayBuffer[Long]()
  private val stageBusyMs = mutable.Map[Int, Long]()
  private val stageMetricIds = mutable.Map[Int, Set[Long]]()
  private val metricOwner = mutable.Map[Long, String]()
  private val markerJobs, markerStages = mutable.Set[Int]()
  @volatile private var markers = 0
  private var finals: Option[(Long, Int, Long)] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (!isMarker(e.properties)) jobs += 1
    else { markerJobs += e.jobId; markerStages ++= e.stageIds }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs(e.jobId)) markers += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!markerStages(e.stageId)) {
      tasks += 1
      taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        stageBusyMs(e.stageId) = stageBusyMs.getOrElse(e.stageId, 0L) +
          m.executorRunTime
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        taskCpuNs += m.executorCpuTime
        peakMemBytes = math.max(peakMemBytes, m.peakExecutionMemory)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      if (!markerStages(id)) {
        stages += 1
        stageMetricIds(id) = e.stageInfo.accumulables.keySet.toSet
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      ColumnBridge.queryExecution(end).foreach(qe => addPlan(qe.executedPlan))
    case _ => ()
  }

  private def addPlan(root: SparkPlan): Unit = synchronized {
    walk(root, inCodegen = false) { (p, inCodegen) =>
      p.metrics.values.foreach(m => metricOwner(m.id) = p.nodeName)
      p match {
        case _: ShuffleExchangeLike => exchanges += 1
        case _: BroadcastExchangeLike => broadcasts += 1
        case j: BaseJoinExec => joins(j.nodeName) = joins.getOrElse(j.nodeName, 0) + 1
        case g: GenerateExec if generatorNodes(g) > HeavyGeneratorNodes =>
          generateHeavy += 1
        case _ => ()
      }
      if (!inCodegen && !structural(p)) noCodegen += 1
    }
  }

  /** Block until every event posted before this call has been handled
    * (a marker job rides the same FIFO listener queue), then stop
    * listening and return the run's figures. Later events are ignored.
    */
  def detach(): Counts = {
    val seen = markers
    val group = sc.getLocalProperty(JobGroup)
    sc.setLocalProperty(JobGroup, MarkerGroup)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobGroup, group)
    val deadline = System.nanoTime() + 10000000000L
    while (markers <= seen && System.nanoTime() < deadline) Thread.sleep(1)
    sc.removeSparkListener(this)
    synchronized {
      finals = Some((METRIC_COMPILATION_TIME.getCount - compiles0,
        sc.getPersistentRDDs.keySet.count(!rdds0(_)), gcMs() - gcMs0))
    }
    snapshot
  }

  /** The figures recorded so far (compiles, `rdds_left` and `gc_ms`
    * are read at [[detach]]; 0 before it).
    */
  def snapshot: Counts = synchronized {
    val ms = taskMs.sorted
    val slow = stageBusyMs.maxByOption(_._2)
    val slowOps = slow.toSeq.flatMap { case (id, _) =>
      stageMetricIds.getOrElse(id, Set.empty).toSeq.sorted.flatMap(metricOwner.get)
    }.map(_.trim).filterNot(_.startsWith("WholeStageCodegen")).distinct
    val (compiles, rddsLeft, gc) = finals.getOrElse((0L, 0, 0L))
    Counts(jobs, stages, tasks, exchanges, broadcasts, joins.toMap,
      shuffleReadBytes, shuffleReadRecords, shuffleWriteBytes,
      shuffleWriteRecords, spillBytes, peakMemBytes,
      ms.lastOption.getOrElse(0L), if (ms.isEmpty) 0L else ms(ms.size / 2),
      taskCpuNs / 1000000L, gc, slow.map(_._2).getOrElse(0L), slowOps,
      noCodegen, generateHeavy, Seq(compiles), rddsLeft)
  }
}

object LaneMetrics {

  /** Generators larger than this many expression nodes, counted with
    * the aliases of their own stage expanded, are `generate_heavy`.
    * Spark evaluates such a tree inside the Generate's stage without
    * subexpression elimination, once per consuming subtree: the r18
    * central finding. In `plans/r18/tok_encode_bpe_before.txt` the
    * Generate (13) reads `syms`, which its stage computes as
    * `slice(arr, 2, size(arr) - 1)` over `arr = split(<16 replace
    * calls over a regexp_replace>)`: 56 nodes per copy of the merge
    * chain, 118 with the two copies, the slice and the posexplode.
    * The plain word generators in the same plan
    * (`posexplode(split(text, " ", -1))`) have 5. 32 sits between:
    * one copy of a 16-merge chain, the "no slice" variant r18
    * measured at half the inlined cost, is already heavy.
    */
  val HeavyGeneratorNodes = 32

  private val MarkerGroup = "graft-lane-metrics-marker"
  private val JobGroup = "spark.jobGroup.id"

  /** Collection time of every garbage collector of this JVM, in ms. */
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Start collecting on `spark`'s listener bus. */
  def attach(spark: SparkSession): LaneMetrics = {
    val m = new LaneMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** One lane run's figures. `compiles` holds one Janino compile count
    * per run (`Bench` joins its two timed runs); `rdds_left` counts
    * RDDs persisted during the run that are still persisted after it.
    * `task_cpu_ms` sums the tasks' executor CPU time. `gc_ms` is this
    * JVM's collection time over the run: in local mode the driver and
    * every task (summed task `jvmGCTime` would count one pause once
    * per task it stopped); on a cluster, the driver alone.
    */
  final case class Counts(jobs: Int, stages: Int, tasks: Int,
      exchanges: Int, broadcasts: Int, joins: Map[String, Int],
      shuffleReadBytes: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      spillBytes: Long, peakMemBytes: Long, taskMaxMs: Long,
      taskMedianMs: Long, taskCpuMs: Long, gcMs: Long, slowStageMs: Long,
      slowStageOps: Seq[String], noCodegen: Int, generateHeavy: Int, compiles: Seq[Long],
      rddsLeft: Int) {
    def json: String = {
      def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val joinsJson = joins.toSeq.sorted.map { case (k, v) => str(k) + ":" + v }
        .mkString("{", ",", "}")
      Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "exchanges" -> exchanges, "broadcasts" -> broadcasts,
        "joins" -> joinsJson, "shuffle_read_bytes" -> shuffleReadBytes,
        "shuffle_read_records" -> shuffleReadRecords,
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "shuffle_write_records" -> shuffleWriteRecords,
        "spill_bytes" -> spillBytes, "peak_mem_bytes" -> peakMemBytes,
        "task_max_ms" -> taskMaxMs, "task_median_ms" -> taskMedianMs,
        "task_cpu_ms" -> taskCpuMs, "gc_ms" -> gcMs,
        "slow_stage_ms" -> slowStageMs,
        "slow_stage_ops" -> slowStageOps.map(str).mkString("[", ",", "]"),
        "no_codegen" -> noCodegen, "generate_heavy" -> generateHeavy,
        "compiles" -> compiles.mkString("[", ",", "]"),
        "rdds_left" -> rddsLeft)
        .map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    }
  }

  private def isMarker(props: java.util.Properties): Boolean =
    props != null && props.getProperty(JobGroup) == MarkerGroup

  /** Visit every operator of a plan: through adaptive wrappers, query
    * stages and subqueries, flagging whether it runs inside a
    * whole-stage-codegen stage.
    */
  private def walk(p: SparkPlan, inCodegen: Boolean)(
      f: (SparkPlan, Boolean) => Unit): Unit = {
    f(p, inCodegen)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, false)(f)
      case q: QueryStageExec => walk(q.plan, false)(f)
      case w: WholeStageCodegenExec => walk(w.child, true)(f)
      case i: InputAdapter => walk(i.child, false)(f)
      case _ => p.children.foreach(walk(_, inCodegen)(f))
    }
    p.subqueries.foreach(walk(_, false)(f))
  }

  /** Plan nodes that move, wrap or write data rather than compute it. */
  private def structural(p: SparkPlan): Boolean = p match {
    case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
        _: QueryStageExec | _: Exchange | _: ReusedExchangeExec |
        _: AQEShuffleReadExec | _: BaseSubqueryExec | _: V2CommandExec |
        _: CommandResultExec | _: ExecutedCommandExec |
        _: DataWritingCommandExec => true
    case _ => false
  }

  /** Expression nodes of `g`'s generator, with every attribute its own
    * stage defines (an alias below it, above the stage's exchanges and
    * scans) expanded to the defining expression.
    */
  private def generatorNodes(g: GenerateExec): Long = {
    def defs(p: SparkPlan): Map[ExprId, Expression] = p match {
      case _: Exchange => Map.empty
      case _ => p.children.map(defs).foldLeft(p.expressions.flatMap(
        _.collect { case a: Alias => a.exprId -> a.child }).toMap)(_ ++ _)
    }
    val aliases = defs(g.child)
    val memo = mutable.Map[ExprId, Long]()
    def size(e: Expression): Long = e match {
      case a: Attribute if aliases.contains(a.exprId) =>
        memo.get(a.exprId).getOrElse {
          memo(a.exprId) = 1L // an alias that reads its own id stops here
          val n = size(aliases(a.exprId))
          memo(a.exprId) = n
          n
        }
      case _ => 1L + e.children.map(size).sum
    }
    size(g.generator)
  }
}
