package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dumps the formatted physical plan of every SparkEntry query —
  * the review artifact for shuffle/pushdown/broadcast auditing.
  * Run-specific ids are replaced by fixed placeholders (see
  * [[normalizeIds]]), so two dumps diff cleanly between commits.
  * Usage: runMain graft.tools.ExplainAll [sfDir] [outFile]
  */
object ExplainAll {

  /** Plan text with expression ids (`#123`), plan ids (`[id=#12]`,
    * `plan_id=3`), RDD ids (`MapPartitionsRDD[45]`), the source line of
    * an RDD's call site (`at Similarity.scala:2254`) and the identity
    * hash of an array literal (`[[[D@40bd17ab`) replaced by `x`.
    */
  private def normalizeIds(plan: String): String =
    Seq("#\\d+" -> "#x", "plan_id=\\d+" -> "plan_id=x",
        "RDD\\[\\d+\\]" -> "RDD[x]", "\\.scala:\\d+" -> ".scala:x",
        "(\\[+[A-Za-z][\\w.$;]*)@[0-9a-f]+" -> "$1@x")
      .foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "target/plans.txt"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n===== $name =====\n")
      try {
        val df = fn(spark, sfDir)
        sb.append(normalizeIds(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)))
      } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain-all] wrote ${Paths.get(out).toAbsolutePath}")
    spark.stop()
  }
}
