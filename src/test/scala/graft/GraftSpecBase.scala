package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object GraftSpecBase {
  /** Per-JVM warehouse dir. Specs that CREATE TABLE get a fresh
    * in-memory catalog every test-JVM run, so `DROP TABLE IF EXISTS`
    * is a no-op while the previous run's warehouse DIRECTORY
    * persists — the second consecutive `sbt test` would fail with
    * LOCATION_ALREADY_EXISTS. A unique temp dir per run makes the
    * suite idempotent with no manual cleanup.
    */
  lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse-").toString
}

/** Shared session per suite (lazy; local[4], UTC, nanos handling).
  * Usually the test JVM's first session to generate code, so it sizes
  * the JVM-wide codegen cache: specs run with the cache lanes get.
  * Streaming specs write their checkpoints through graft's checkpoint
  * file manager, as every `GraftSession` stream does, and every job
  * broadcasts its task binary in `GraftSession.BroadcastBlockSize`
  * pieces.
  */
trait GraftSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries",
      GraftSession.CodegenCacheEntries.toLong)
    .config("spark.sql.streaming.checkpointFileManagerClass",
      GraftSession.CheckpointFileManagerClass)
    .config("spark.broadcast.blockSize", GraftSession.BroadcastBlockSizeConf)
    .config("spark.sql.warehouse.dir", GraftSpecBase.warehouseDir)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  def initLog(): Unit = spark.sparkContext.setLogLevel("ERROR")
}
