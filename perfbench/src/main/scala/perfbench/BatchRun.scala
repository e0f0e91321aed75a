package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A batch workload: a cold set-up pass that writes every lane's output
  * for the correctness gate, then timed passes over the same lanes into
  * the `noop` sink. A traced run alternates untraced and traced passes;
  * the difference between their medians is the tracing overhead.
  *
  * Lanes memoize their tokenizer and index builds per data directory,
  * so those builds run in the set-up pass and the timed passes reuse
  * them. The set-up pass therefore records each lane's cold time and
  * the RDDs it leaves persisted.
  *
  * Every timed pass and lane records the process's CPU time as well as
  * its wall time.
  */
object BatchRun {
  /** About the wall time of one warm pass on four cores. */
  val PassSeconds = 10.0

  def run(spark: SparkSession, lanes: Seq[Lane], data: String, out: String,
      seconds: Double, tracing: Option[Tracing]): Map[String, Any] = {
    val setup = lanes.map { l =>
      val rdds0 = pinned(spark)
      val t0 = Clock.nowMs()
      val error = attempt(SparkEntry.queries(l.name)(spark, data)
        .write.mode("overwrite").parquet(s"$out/${l.name}"))
      val ms = Clock.nowMs() - t0
      Map("lane" -> l.name, "module" -> l.module, "ms" -> ms, "error" -> error,
        "pinned_rdds" -> (pinned(spark) - rdds0))
    }
    val jitWait = Clock.awaitJitIdle()
    val timedStart = Clock.nowMs()
    val timedStartCpu = Clock.cpuMs()
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()

    def pass(i: Int, t: Option[Tracing], parent: Long): Unit = {
      val t0 = Clock.nowMs()
      val c0 = Clock.cpuMs()
      val j0 = Clock.jitCpuMs()
      def body(passId: Long): Unit = lanes.foreach { l =>
        execs += t.fold(lane(spark, l, data, i, None, 0L))(tr =>
          tr.tracer.span("lane", passId, Map("lane" -> l.name,
            "module" -> l.module, "pass" -> i))(id => lane(spark, l, data, i, t, id)))
      }
      t.fold(body(0L)) { tr =>
        tr.attach(spark)
        try tr.tracer.span("pass", parent, Map("pass" -> i))(body)
        finally tr.detach(spark)
      }
      val ms = Clock.nowMs() - t0
      passes += Map("pass" -> i, "traced" -> t.isDefined, "ms" -> ms,
        "cpu_ms" -> (Clock.cpuMs() - c0), "jit_cpu_ms" -> (Clock.jitCpuMs() - j0))
    }

    // One pass per `PassSeconds` of `seconds`, at least one, so the
    // number of passes does not depend on how fast the host runs them
    // (later passes are cheaper: the JIT is still compiling). A traced
    // run alternates untraced and traced passes, untraced first and
    // last, so the warm-up trend weighs on both sides alike.
    val untraced = math.max(1, (seconds / PassSeconds).toInt)
    def timedPasses(parent: Long): Unit = {
      val n = if (tracing.isDefined) 2 * untraced + 1 else untraced
      while (passes.size < n)
        pass(passes.size, tracing.filter(_ => passes.size % 2 == 1), parent)
    }

    tracing.fold(timedPasses(0L))(tr =>
      tr.tracer.span("workload", 0L, Map("lanes" -> lanes.size))(timedPasses))
    Map("timed_start_ms" -> timedStart, "timed_start_cpu_ms" -> timedStartCpu,
      "jit_wait_ms" -> jitWait,
      "lanes" -> lanes.map(l => Map("lane" -> l.name, "module" -> l.module)),
      "setup" -> setup, "execs" -> execs, "passes" -> passes)
  }

  private def lane(spark: SparkSession, l: Lane, data: String, pass: Int,
      t: Option[Tracing], laneId: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    def phase[T](name: String)(f: => T): (T, Double) = {
      val t0 = Clock.nowMs()
      val r = t.fold(f)(tr => tr.tracer.span(name, laneId) { id =>
        sc.setJobGroup(id.toString, s"${l.name} $name")
        try f finally sc.clearJobGroup()
      })
      (r, Clock.nowMs() - t0)
    }
    var buildMs, execMs = 0.0
    val c0 = Clock.cpuMs()
    val j0 = Clock.jitCpuMs()
    val error = attempt {
      val (df, b) = phase("build")(SparkEntry.queries(l.name)(spark, data))
      buildMs = b
      execMs = phase("exec")(df.write.format("noop").mode("overwrite").save())._2
    }
    Map("lane" -> l.name, "module" -> l.module, "pass" -> pass,
      "traced" -> t.isDefined, "build_ms" -> buildMs, "exec_ms" -> execMs,
      "cpu_ms" -> (Clock.cpuMs() - c0), "jit_cpu_ms" -> (Clock.jitCpuMs() - j0), "error" -> error)
  }

  /** Persisted RDDs registered with the context now. */
  private def pinned(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size

  /** Run `f`; return "" on success or the failure's message. */
  private def attempt(f: => Unit): String =
    try { f; "" } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
}
