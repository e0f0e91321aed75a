package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{GraftSession, SparkEntry}

/** A `SparkEntry` lane and the repository module whose object it calls;
  * per-layer metrics are keyed by the module.
  */
final case class Lane(name: String, module: String)

/** Runs one workload in this JVM and writes its raw measurements to
  * `<work>/result.json` (and, when traced, its spans to
  * `<work>/spans.jsonl`). `perfbench/run.py` generates the inputs,
  * launches this, checks the outputs and reports the metrics.
  *
  * Arguments: `--workload <name> --data <dir> --work <dir>
  * --seconds <s> --trace <0|1> --run <id> --cores <n>`, and for a batch
  * workload `--lanes <lane>:<module>,...`.
  */
object Main {
  /** Writes the result and span files; Spark ships Jackson with its
    * Scala module.
    */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val data = opt("data")
    val cores = opt.getOrElse("cores", "4").toInt
    val tracing =
      if (opt.getOrElse("trace", "0") == "1") Some(new Tracing(new Tracer(opt("run")))) else None
    val spark = GraftSession.localFor(cores, data, s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = Clock.nowMs()
    val result = workload match {
      case "stream_wiki" => StreamRun.run(spark, work, tracing)
      case _ =>
        val lanes = opt("lanes").split(",").toSeq.map(_.split(":")).map(a => Lane(a(0), a(1)))
        BatchRun.run(spark, lanes, data, s"$work/out", opt("seconds").toDouble, tracing) ++
          Map("oracle_sql" -> SparkEntry.oracleSql)
    }
    tracing.foreach(_.tracer.write(s"$work/spans.jsonl"))
    val out = result ++ Map(
      "session_ready_ms" -> sessionReadyMs,
      "peak_rss_mb" -> peakRssMb(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version)
    json.writeValue(Paths.get(work, "result.json").toFile, out)
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
