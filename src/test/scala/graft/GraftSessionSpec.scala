package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class GraftSessionSpec extends GraftSpecBase {

  // First in this suite, so that in a JVM running only this suite the
  // shared session (not a GraftSession one) is the first to generate
  // code and so sizes the JVM-wide cache, as it does in the full run.
  test("a warm re-run of the batch_2x lanes compiles no generated class") {
    initLog()
    val lanes = Seq("q_edit_window", "q1_pricing_agg", "q_asof_join",
      "q_range_join", "graph_degree", "dedup_exact", "tok_encode_bpe",
      "tok_encode_bpe_bytes", "tok_encode_unigram", "text_quality",
      "curate_ppl_buckets", "ann_lsh", "ann_hnsw", "search_mmr")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      lanes.foreach(n => SparkEntry.queries(n)(spark, sf)
        .write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    try {
      val cold = pass()
      // the pass generates more classes than Spark's default 100-entry
      // LRU holds, so at that size every warm lane recompiles
      assert(pass() == 0, s"warm pass recompiled (cold pass: $cold)")
    } finally graft.operators.Hnsw.releaseGraphCache(spark)
  }

  test("GraftSession.local: nanos events readable, SQL functions live, confs set") {
    initLog()
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.local(2, "graft-session-spec")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
      // the shared session already put the cache size in this JVM's
      // SparkConf, so `s.conf` reads it either way: check what
      // GraftSession itself sets, the builder options (package-private
      // in Scala, a public method in bytecode)
      val b = GraftSession.builder()
      val options = b.getClass.getMethod("options").invoke(b)
        .asInstanceOf[scala.collection.Map[String, String]]
      assert(options.get("spark.sql.codegen.cache.maxEntries")
        .contains(GraftSession.CodegenCacheEntries.toString))
      assert(options.get("spark.sql.streaming.checkpointFileManagerClass")
        .contains(GraftSession.CheckpointFileManagerClass))
      assert(options.get("spark.broadcast.blockSize")
        .contains(GraftSession.BroadcastBlockSizeConf))
      // the value Spark reads (bare numbers are KiB) is the constant
      assert(s.sparkContext.getConf.getSizeAsKb("spark.broadcast.blockSize") * 1024 ==
        GraftSession.BroadcastBlockSize)
      // the nanos-timestamp feed reads through Tables.events
      val n = graft.sources.Tables.events(s, sf).limit(5).count()
      assert(n == 5)
      // extension-registered native functions are available in SQL
      assert(s.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head().getDouble(0) == 11.0)
      val sh = s.sql(
        "SELECT shingle_hashes(split('a b c d', ' '), 2, 0), " +
          "shingle_hashes(split('a b c d', ' '), 2, 1)").head()
      assert(sh.getSeq[Long](0).size == 3)
      assert(sh.getSeq[Long](0) != sh.getSeq[Long](1), "independent lanes")
      // the as-of planner strategy rides the extension too
      assert(s.sessionState.planner.strategies
        .contains(graft.plans.AsOfJoinStrategy))
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  test("dataSizedPartitions: floors at cores, grows linearly with bytes") {
    initLog()
    // small inputs: parallelism = cores (sf0.1 stays at 32 — identical
    // bench behavior to every prior round)
    assert(GraftSession.dataSizedPartitions(sf, 32) == 32)
    // a dir of known size with a tiny divisor exercises the ceil path
    val dir = java.nio.file.Files.createTempDirectory("graft-dsp")
    val sub = dir.resolve("nested"); java.nio.file.Files.createDirectory(sub)
    java.nio.file.Files.write(dir.resolve("a.bin"), new Array[Byte](700))
    java.nio.file.Files.write(sub.resolve("b.bin"), new Array[Byte](500))
    assert(GraftSession.dataSizedPartitions(dir.toString, 2,
      bytesPerPartition = 256) == 5)   // ceil(1200/256) = 5 > cores
    assert(GraftSession.dataSizedPartitions(dir.toString, 8,
      bytesPerPartition = 256) == 8)   // cores floor wins
    // unreadable/missing dir falls back to cores, never throws
    assert(GraftSession.dataSizedPartitions("/no/such/dir", 4) == 4)
    // the r9 300× calibration point: the ~5.1 GiB 300× corpus derives
    // ~160 partitions — at least the 128 that restored the linear
    // envelope for graph_pagerank/graph_jaccard (SURVEY §4.5)
    assert(GraftSession.dataSizedPartitions(sf, 32,
      bytesPerPartition = 32L << 20) == 32)
    val at300x = math.ceil(5.1 * (1L << 30).toDouble / (32L << 20)).toInt
    assert(at300x >= 128, s"300×-sized corpus derives only $at300x")
  }

  test("non-local URI schemes fail loud instead of silently sizing to cores") {
    initLog()
    // an hdfs:// path walked with java.io.File returns 0 bytes — the
    // r10 VERDICT's silent misconfiguration. It must be an ERROR.
    for (bad <- Seq("hdfs://namenode/warehouse/t", "s3a://bucket/prefix")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.dataSizedPartitions(bad, 8))
      assert(e.getMessage.contains("non-local scheme"), e.getMessage)
      assert(e.getMessage.contains("getContentSummary"), e.getMessage)
    }
    // file: URIs and plain paths stay on the local walk
    assert(GraftSession.dataSizedPartitions("file:" + sf, 32) == 32)
    assert(GraftSession.localInputBytes("file:" + sf) ==
      GraftSession.localInputBytes(sf))
    // triple-slash (empty authority) resolves like the plain path
    assert(GraftSession.localInputBytes("file://" + sf) ==
      GraftSession.localInputBytes(sf))
    // authority-form file://host/path passes the scheme test but a
    // textual strip would walk //host/path → silent 0 bytes; it must
    // be an ERROR (java.io.File cannot reach a remote host)
    val a = intercept[IllegalArgumentException](
      GraftSession.localInputBytes("file://namenode" + sf))
    assert(a.getMessage.contains("authority"), a.getMessage)
  }

  test("localInputBytes parquetOnly excludes sidecar files") {
    initLog()
    val dir = java.nio.file.Files.createTempDirectory("graft-lib")
    java.nio.file.Files.write(dir.resolve("part-0.parquet"),
      new Array[Byte](300))
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), new Array[Byte](0))
    java.nio.file.Files.write(dir.resolve(".part-0.parquet.crc"),
      new Array[Byte](12))
    assert(GraftSession.localInputBytes(dir.toString) == 312L)
    assert(GraftSession.localInputBytes(dir.toString, parquetOnly = true)
      == 300L)
  }

  test("localFor wires the derived partition count into the session") {
    initLog()
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.localFor(2, sf, "graft-session-spec-dsp")
      // sf0.001 is tiny — derived = cores
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }
}
