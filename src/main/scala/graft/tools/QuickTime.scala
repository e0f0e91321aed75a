package graft.tools

/** Dev-loop per-run timer: run named SparkEntry queries N times each
  * through the noop sink and print EVERY run's wall seconds and, after
  * a `/`, its threads' CPU seconds (Bench keeps only the min — the
  * distribution is what tells contention from real cost: waiting for a
  * core on a busy host stretches the wall figure, not the CPU one),
  * plus one `QM <query> {…}` line per run with the run's
  * [[graft.LaneMetrics]]. Usage:
  *   runMain graft.tools.QuickTime <sfDir> <n> <query>[,<query>...]
  */
object QuickTime {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(4)
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(Seq("q_filter_project"))
    // timing path: quadratic-contract lanes cap like Bench, so a
    // QuickTime figure is comparable to the Bench lane at any scale.
    // Cleared in the finally: a correctness run sharing a non-forked
    // JVM must never inherit the cap (r13 ADVICE).
    System.setProperty(graft.operators.Similarity.QuadraticCapProp, "true")
    try run(dir, n, names)
    finally System.clearProperty(graft.operators.Similarity.QuadraticCapProp)
  }

  private def run(dir: String, n: Int, names: Seq[String]): Unit = {
    val spark = graft.GraftSession.localFor(graft.GraftSession.cpus, dir,
      "graft-quicktime")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(2000000L).selectExpr("sum(id * 2)").collect()
    graft.LaneRunner.inOrder(spark, dir,
        names.map(name => name -> graft.SparkEntry.queries(name))) { (name, fn) =>
      val runs = (1 to n).map { _ =>
        val m = graft.LaneMetrics.attach(spark)
        val r = graft.LaneRunner.run(spark, dir, fn)(
          _.write.format("noop").mode("overwrite").save())
        r.failure.foreach(throw _)
        println(s"QM $name ${m.detach().json}")
        r
      }
      println(f"QT $name%-24s " +
        runs.map(r => f"${r.seconds}%.3f/${r.cpuSeconds}%.3f").mkString(" ") +
        f"  min=${runs.map(_.seconds).min}%.3f/${runs.map(_.cpuSeconds).min}%.3f")
    }
    spark.stop()
  }
}
