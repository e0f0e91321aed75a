package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.localFor(GraftSession.cpus, sfDir, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY=a,b,c dumps just those queries.
    // The driver never sets it, so its runs stay complete.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    LaneRunner.inOrder(spark, sfDir, selected.toSeq.sortBy(_._1)) { (name, fn) =>
      val r = LaneRunner.run(spark, sfDir, fn)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      r.failure.foreach(e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      if (r.leaked.nonEmpty)
        System.err.println(s"[verify] $name leaked: ${r.leaked.mkString(", ")}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
