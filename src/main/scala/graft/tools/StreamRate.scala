package graft.tools

/** Repeated isolated runs of the two Bench streaming lanes — the
  * distribution adjudicates host contention vs real throughput moves
  * (the Bench suite runs each once, after 160+ batch lanes have
  * churned the JVM). Usage: runMain graft.tools.StreamRate [n] [secs]
  */
object StreamRate {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(3)
    val secs = args.lift(1).map(_.toInt).getOrElse(12)
    val spark = graft.GraftSession.localFor(graft.GraftSession.cpus,
      "/root/testdata/sf0.1", "graft-stream-rate")
    spark.sparkContext.setLogLevel("ERROR")
    val win = (1 to n).map(_ => graft.Bench.streamBench(spark, secs))
    val st = (1 to n).map(_ => graft.Bench.streamBenchStateful(spark, secs))
    println("windowed rows/s: " + win.map(v => f"$v%.0f").mkString(" "))
    println("stateful rows/s: " + st.map(v => f"$v%.0f").mkString(" "))
    spark.stop()
    // the stream sink/checkpoint temp dirs register in Bench's
    // deferred list — sweep them here or every StreamRate run leaks
    // 2n directories into /tmp (session must be stopped first)
    graft.Bench.cleanupStreamTmps()
  }
}
