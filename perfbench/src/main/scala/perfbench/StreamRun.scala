package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.{DocStoreSink, EditStream, WikiEditPipeline}
import graft.streaming.DocStoreSink.{DirDocStore, DocStore}

/** The reference job end to end: JSON-lines files appear in a watched
  * directory on a fixed schedule (an open loop: a file is moved in when
  * it is due, whatever the query is doing), flow through
  * `EditStream.readJsonFiles` → `WikiEditPipeline.windowedEditSize` →
  * `DocStoreSink.start` with a `DirDocStore`, update mode and a 1 s
  * flush. The feed itself is generated before the run and staged on
  * disk, so the generator thread only renames files.
  */
object StreamRun {

  /** One staged file of the feed and when it is due, in ms after the
    * schedule's base time; a warm-up file (due < 0) is written as soon
    * as everything before it is committed.
    */
  final case class Due(name: String, dueMs: Double, events: Int, phase: String)

  /** Phase whose burst runs with tracing switched off, so a traced run
    * can compare a traced burst with an untraced one.
    */
  val UntracedPhase = "burst_untraced"

  def run(spark: SparkSession, work: String, tracing: Option[Tracing]): Map[String, Any] = {
    val schedule = Files.readAllLines(Paths.get(work, "schedule.tsv")).asScala
      .filter(_.nonEmpty).map(_.split("\t")).map(a =>
        Due(a(0), a(1).toDouble, a(2).toInt, a(3))).toIndexedSeq
    val staging = Paths.get(work, "staging")
    val in = Files.createDirectories(Paths.get(work, "in"))
    val dir = DirDocStore(Paths.get(work, "docs").toString)
    val store: DocStore = tracing.fold[DocStore](dir) { tr =>
      TimedStore.tracer = tr.tracer
      TimedStore(dir)
    }
    val cpu = new CpuSampler
    cpu.start()
    tracing.foreach(_.attach(spark))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val q = DocStoreSink.start(
      WikiEditPipeline.windowedEditSize(EditStream.readJsonFiles(spark, in.toString)),
      store, Paths.get(work, "ckpt").toString, outputMode = "update")
    def processed = q.recentProgress.map(_.numInputRows).sum
    val written = new Array[Double](schedule.size)
    var base = 0.0
    var jitWait = 0.0
    var traced = tracing.isDefined
    def awaitCommitted(files: Int): Unit = {
      val events = schedule.take(files).map(_.events.toLong).sum
      val deadline = Clock.nowMs() + 60000
      while (processed < events && Clock.nowMs() < deadline) Thread.sleep(10)
    }
    val gen = new Thread(() => schedule.indices.foreach { i =>
      val d = schedule(i)
      if (d.dueMs < 0) awaitCommitted(i)
      else {
        if (base == 0.0) {
          // A whole second at least 1 s after the warm-up: the
          // processing-time trigger fires on whole seconds, so the
          // schedule keeps a fixed phase against it in every run.
          awaitCommitted(i)
          jitWait = Clock.awaitJitIdle()
          base = math.ceil((Clock.nowMs() + 1000) / 1000) * 1000
        }
        Clock.sleepUntil(base + d.dueMs)
      }
      tracing.filter(_ => (d.phase != UntracedPhase) != traced).foreach { tr =>
        traced = !traced
        TimedStore.on.set(traced)
        if (traced) tr.attach(spark)
        else spark.sparkContext.removeSparkListener(tr.listener)
      }
      Files.move(staging.resolve(d.name), in.resolve(d.name),
        StandardCopyOption.ATOMIC_MOVE)
      written(i) = Clock.nowMs()
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val total = schedule.map(_.events.toLong).sum
    val deadline = Clock.nowMs() + 60000
    while (processed < total && Clock.nowMs() < deadline && q.isActive)
      Thread.sleep(20)
    val error = q.exception.map(_.toString).getOrElse("")
    q.stop()
    cpu.finish()

    if (traced) tracing.foreach(_.detach(spark))
    val steady = schedule.indexWhere(_.phase == "steady")
    Map("timed_start_ms" -> (base + schedule(math.max(steady, 0)).dueMs),
      "base_ms" -> base, "jit_wait_ms" -> jitWait, "error" -> error, "events_total" -> total,
      "events_processed" -> processed,
      "written_ms" -> written.toSeq.map(_ - base),
      "cpu_samples" -> cpu.samples,
      "progress" -> q.recentProgress.map(p => Main.json.readTree(p.json)).toSeq)
  }
}

/** Samples (wall ms, process CPU ms) every few milliseconds, so the
  * CPU time spent inside each micro-batch can be read off afterwards
  * from the trigger's start and duration in the query progress.
  */
final class CpuSampler extends Thread("perfbench-cpu-sampler") {
  private val buf = mutable.ArrayBuffer[Seq[Double]]()
  @volatile private var running = true
  setDaemon(true)

  override def run(): Unit = while (running) {
    val s = Seq(Clock.nowMs(), Clock.cpuMs(), Clock.jitCpuMs())
    buf.synchronized(buf += s)
    Thread.sleep(CpuSampler.EveryMs)
  }

  def finish(): Unit = { running = false; join() }

  def samples: Seq[Seq[Double]] = buf.synchronized(buf.toList)
}

object CpuSampler {
  val EveryMs = 5L
}

/** `DocStore` that records each `insertMany` as a span (key, documents,
  * duration, whether it threw) around the real store. A failed attempt
  * is one retry of `DocStoreSink.writeBatch`. Executors run in this JVM
  * (local mode), so the recorder is process-wide.
  */
final case class TimedStore(inner: DocStore) extends DocStore {
  override def insertMany(key: String, docs: Seq[String]): Unit =
    if (!TimedStore.on.get) inner.insertMany(key, docs)
    else {
      val t0 = Clock.nowMs()
      var ok = false
      try { inner.insertMany(key, docs); ok = true }
      finally {
        val tr = TimedStore.tracer
        tr.record(Span(tr.newId(), 0L, "insertMany", t0, Clock.nowMs(),
          Map("key" -> key, "docs" -> docs.size, "ok" -> ok)))
      }
    }
}

object TimedStore {
  val on = new AtomicBoolean(true)
  @volatile var tracer: Tracer = new Tracer("unset")
}
