package graft

import org.apache.spark.sql.SparkSession

/** Turnkey SparkSession wiring for graft — every config the library's
  * correctness or performance depends on, in one place:
  *
  *  - `legacy.parquet.nanosAsLong`: the events feed is parquet
  *    TIMESTAMP(NANOS), which Spark otherwise refuses to read
  *    (`Tables.events` then normalizes the raw long to µs);
  *  - `parquet.inferTimestampNTZ.enabled=false`: keep timestamps LTZ
  *    so `unix_micros` callers work on every table;
  *  - session timezone UTC: window/oracle determinism;
  *  - AQE on: runtime coalescing + skew-join splitting is part of the
  *    documented 100 TB design;
  *  - [[GraftExtensions]]: native functions in SQL + the as-of join
  *    planner strategy;
  *  - `codegen.cache.maxEntries` = [[CodegenCacheEntries]]: every
  *    generated class the lane catalog needs stays compiled (see there);
  *  - `streaming.checkpointFileManagerClass` =
  *    [[CheckpointFileManagerClass]]: checkpoint writes fork no process;
  *  - `spark.broadcast.blockSize` = [[BroadcastBlockSize]]: a stage's
  *    task binary is no humongous G1 object (see there).
  *
  * `local(n)` sizes `shuffle.partitions` to the core count (the 200
  * default just fragments a single-JVM run); cluster deploys should
  * size it ≈ 2-3× total cores and let AQE coalesce — `builder()`
  * leaves it untouched for that reason.
  *
  * NOTE `getOrCreate` ignores `withExtensions` when a session already
  * exists — create the graft session first (or use
  * `GraftExtensions.register(spark)` on a pre-existing session).
  */
object GraftSession {

  /** Size of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark default 100). One
    * pass over the 14-lane `batch_2x` set generates about 380 distinct
    * classes, so at 100 the LRU cycles and every warm lane re-runs
    * Janino (about 300 compiles a pass) and the JIT warms each fresh
    * class again. The value is the next power of two above the
    * distinct classes a cold pass over all 203 lanes generates.
    * Measured (4 cores, sf0.001 / sf0.01): 2,993 / 2,987 classes cold
    * with an unbounded cache; warm-pass compiles 4,195 / 4,188 at 100,
    * 133 / 99 at 4096 (wall 154 → 128 s / 173 → 117 s).
    *
    * A STATIC conf: the cache is built once per JVM, by the first code
    * generation, from the conf of the session active then. A session
    * built by hand (plus `GraftExtensions.register`) keeps Spark's 100
    * unless it sets this conf itself. It rides SparkConf to executors,
    * so each executor JVM's cache is sized the same way.
    */
  val CodegenCacheEntries: Int = 4096

  /** Checkpoint file manager of every graft stream
    * (`spark.sql.streaming.checkpointFileManagerClass`): its offsets,
    * commits, source and sink logs and state deltas. Local paths are
    * written through java.nio and one atomic rename; on a host without
    * libhadoop Spark's default forks `readlink`/`chmod` for every
    * checkpoint file (3,913 process starts in one 12 s run of the
    * reference job). Other schemes keep Spark's default. See
    * [[graft.streaming.LocalCheckpointFileManager]].
    */
  val CheckpointFileManagerClass: String =
    classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Piece size of every torrent broadcast (`spark.broadcast.blockSize`,
    * Spark default 4 MiB). Every Spark job broadcasts its task binary,
    * and `TorrentBroadcast.blockifyObject` first allocates one whole
    * piece, even for a binary of a few KiB. G1 treats an object of half
    * a region or more as humongous; every heap over 2 GiB has regions
    * of 2 MiB or more, so 512 KiB is the largest power of two that is
    * never humongous there, while 4 MiB takes three 2 MiB regions. Dead
    * at once, such a piece stays resident until the next young GC:
    * with 4 MiB pieces, one 12 s perfbench run of the reference job
    * allocated 165 of them (660 MiB), one `batch_2x` run 383; at
    * 512 KiB its median peak RSS went 1426 → 1275 MiB (4 cores, 3 GiB
    * heap).
    *
    * The trade-off: a large broadcast relation is cut into 8 times as
    * many pieces, and each executor reports every piece it fetches to
    * the driver's block manager. Larger pieces are humongous garbage on
    * every stage.
    *
    * A Spark CORE conf: read once, when the SparkContext is created. A
    * session built by hand (plus `GraftExtensions.register`), or any
    * session on a SparkContext that already exists, keeps 4 MiB unless
    * its SparkConf sets this itself.
    */
  val BroadcastBlockSize: Int = 512 << 10

  /** [[BroadcastBlockSize]] as the conf's value: a bare number there
    * means KiB, so the unit is spelled out.
    */
  private[graft] val BroadcastBlockSizeConf: String = s"${BroadcastBlockSize}b"

  /** Local cores every graft main runs with: `SPARK_GRAFT_CPUS`,
    * default 4. One default, so `Bench`, `Verify` and the tools time
    * a lane at the same `local[N]`.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Master-agnostic pre-configured builder (cluster deploys: set
    * master/resources downstream, or rely on spark-submit).
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        CheckpointFileManagerClass)
      .config("spark.broadcast.blockSize", BroadcastBlockSizeConf)
      .withExtensions(new GraftExtensions)

  /** Local session for tests/tools: `cores` threads, shuffle
    * partitions = cores (override with SPARK_GRAFT_SHUFFLE_PARTITIONS;
    * prefer [[localFor]] when the input directory is known — it sizes
    * partitions to DATA), no UI.
    */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString))
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Local session whose shuffle partitions are sized to the DATA
    * about to be processed, not just the core count — the §5 scale
    * rule ("partitions ≈ 2-3× cores AND bounded per-partition bytes")
    * as default behavior instead of a hand-turned env knob. The r9
    * 300× study measured why: with partitions fixed at 32, each task
    * carries 300× the rows — graph_jaccard went superlinear
    * (213.7 s) and graph_pagerank OOM'd on per-task hash-agg state;
    * re-sized to data (128 partitions) both return to the linear
    * envelope (185.0 s / completes at the default heap). AQE coalesces
    * the extra partitions away on the stages that don't need them, so
    * over-provisioning costs little; under-provisioning costs spills
    * and OOMs. SPARK_GRAFT_SHUFFLE_PARTITIONS still overrides for
    * experiments.
    */
  def localFor(cores: Int, dataDir: String,
      appName: String = "graft"): SparkSession =
    builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
          dataSizedPartitions(dataDir, cores).toString))
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** max(cores, ceil(input bytes / bytesPerPartition)): at small
    * inputs parallelism floors at the core count (the 200 default
    * just fragments a single-JVM run); as data grows, partition count
    * grows linearly so PER-TASK shuffle state stays bounded —
    * compressed parquet expands ~5-10× into row form, so 32 MiB of
    * input per partition keeps in-flight task state in the low
    * hundreds of MiB even for fan-out-heavy operators (graph edges,
    * pair joins). Unreadable/missing dirs fall back to cores (the
    * pre-r10 behavior). Local-fs walk — a cluster deploy would ask
    * the Hadoop FileSystem for `getContentSummary` instead.
    */
  def dataSizedPartitions(dataDir: String, cores: Int,
      bytesPerPartition: Long = 32L << 20): Int = {
    // the scheme guard's failure must PROPAGATE — an hdfs://-sized-to-
    // cores session is exactly the silent misconfiguration it exists
    // to prevent; only walk errors (missing/unreadable LOCAL dirs)
    // keep the pre-r10 cores fallback
    val total = try localInputBytes(dataDir) catch {
      case e: IllegalArgumentException => throw e
      case _: Throwable => 0L
    }
    math.max(cores, math.ceil(total.toDouble / bytesPerPartition).toInt)
  }

  /** Total bytes under a LOCAL directory tree — the sandbox stand-in
    * for the Hadoop FileSystem's `getContentSummary`. Fails LOUD on a
    * non-local URI scheme (`hdfs://`, `s3a://`, …): a `java.io.File`
    * walk over a remote URI silently returns 0 bytes, and every
    * caller here turns 0 into a wrong-but-plausible default (cores
    * for [[dataSizedPartitions]], 1 output file for `Layout.compact`)
    * — the misconfiguration must be an error, not a slow job.
    * `parquetOnly` restricts the sum to `*.parquet` data files
    * (sidecars — `_SUCCESS`, `.crc` — excluded), the form file-count
    * derivation wants.
    */
  def localInputBytes(path: String, parquetOnly: Boolean = false): Long = {
    val uri = try Option(new java.net.URI(path)) catch {
      case _: Exception => None // not a parseable URI — a plain local path
    }
    val scheme = uri.flatMap(u => Option(u.getScheme))
    require(scheme.forall(_ == "file"),
      s"localInputBytes: non-local scheme '${scheme.getOrElse("")}' in " +
        s"'$path' — the local-fs walk cannot size remote data; on a " +
        "cluster ask the Hadoop FileSystem (FileSystem.get(uri, conf)" +
        ".getContentSummary) instead")
    // An authority-form URI (`file://host/path`) passes the scheme
    // guard but a TEXTUAL `stripPrefix("file:")` walk would start at
    // `//host/path` — the silent-0-bytes hole the guard exists to
    // close. Resolve through java.net.URI instead, and refuse a
    // non-empty authority outright (java.io.File cannot reach a
    // remote host either way).
    val root = uri.filter(_ => scheme.isDefined) match {
      case Some(u) =>
        require(Option(u.getAuthority).forall(_.isEmpty),
          s"localInputBytes: file URI with authority '${u.getAuthority}' " +
            s"in '$path' — a remote-host file URI cannot be walked locally")
        new java.io.File(new java.net.URI("file", null, u.getPath, null))
      case None => new java.io.File(path)
    }
    def bytes(f: java.io.File): Long =
      if (f.isFile) {
        if (!parquetOnly || f.getName.endsWith(".parquet")) f.length() else 0L
      } else Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    bytes(root)
  }
}
