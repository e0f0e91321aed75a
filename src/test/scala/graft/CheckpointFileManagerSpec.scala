package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import graft.streaming.{DocStoreSink, EditStream, LocalCheckpointFileManager, WikiEditPipeline}
import graft.streaming.DocStoreSink.DirDocStore

/** graft's checkpoint file manager: the `createAtomic` contract Spark's
  * metadata logs and state stores rely on, restarts across it and
  * Spark's default manager, and the fork gate on the reference job.
  */
class CheckpointFileManagerSpec extends GraftSpecBase {
  import CheckpointFileManagerSpec.batchFile

  private val key = "spark.sql.streaming.checkpointFileManagerClass"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def manager(dir: String): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSet

  test("createAtomic: invisible before close, cancel leaves nothing, " +
      "no-overwrite throws, overwrite replaces, no temp file left") {
    val dir = tmp("graft_cfm")
    val fm = manager(dir)
    val p = new Path(dir, "1")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    assert(!fm.exists(p))
    out.close()
    assert(read(fm, p) == "v1")

    val cancelled = fm.createAtomic(new Path(dir, "2"), overwriteIfPossible = false)
    cancelled.write("x".getBytes(UTF_8))
    cancelled.cancel()
    assert(names(dir) == Set("1"))

    // HDFSMetadataLog's concurrent-writer check catches this type at close
    intercept[FileAlreadyExistsException](write(fm, p, "v2", overwrite = false))
    assert(read(fm, p) == "v1")
    write(fm, p, "v3", overwrite = true)
    assert(read(fm, p) == "v3")
    assert(fm.list(new Path(dir)).map(_.getPath.getName).toSet == Set("1"))
    assert(!names(dir).exists(_.endsWith(".tmp")), names(dir))
  }

  test("dispatch: file paths get the nio manager, other schemes Spark's default") {
    val conf = new Configuration()
    conf.set("fs.mock.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    conf.set("fs.mock.impl.disable.cache", "true")
    val local = new Path(s"file:${tmp("graft_cfm_d")}")
    val remote = new Path("mock:///graft/ckpt")
    assert(LocalCheckpointFileManager.sparkDefault(local, conf)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    // the setting naming graft's manager is ignored by the fallback
    conf.set(key, GraftSession.CheckpointFileManagerClass)
    val viaRemote = LocalCheckpointFileManager.forPath(remote, conf)
    assert(viaRemote.getClass ==
      LocalCheckpointFileManager.sparkDefault(remote, conf).getClass)
    // a scheme without a FileContext binding: Spark picks the FS-based one
    assert(viaRemote.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val viaLocal = LocalCheckpointFileManager.forPath(local, conf)
    assert(!viaLocal.isInstanceOf[FileContextBasedCheckpointFileManager] &&
      !viaLocal.isInstanceOf[FileSystemBasedCheckpointFileManager])
    // scheme-less paths resolve against the (local) default FS
    assert(LocalCheckpointFileManager.forPath(new Path("/tmp/x"), conf)
      .getClass == viaLocal.getClass)
  }

  test("rewriting a state delta that has a stale Hadoop .crc sidecar " +
      "stays readable by both managers") {
    val dir = tmp("graft_cfm_crc")
    val conf = new Configuration()
    val p = new Path(s"file:$dir/1.delta")
    val sparkFm = LocalCheckpointFileManager.sparkDefault(p, conf)
    write(sparkFm, p, "first attempt", overwrite = true)
    assert(names(dir).contains(".1.delta.crc"))
    // the re-run of the last uncommitted batch rewrites the delta
    write(manager(dir), p, "re-run, longer than the first attempt",
      overwrite = true)
    assert(read(sparkFm, p) == "re-run, longer than the first attempt")
    assert(read(manager(dir), p) == "re-run, longer than the first attempt")
    write(sparkFm, p, "sidecar again", overwrite = true)
    manager(dir).delete(p)
    assert(names(dir).isEmpty, names(dir))
  }

  /** Runs the reference job over `batches` input files, one restart of
    * the query per segment, each segment under the named manager.
    */
  private def runSegments(segments: Seq[(String, Seq[Int])]): Seq[String] = {
    val in = tmp("graft_cfm_in")
    val store = tmp("graft_cfm_store")
    val ck = tmp("graft_cfm_ck")
    try {
      segments.foreach { case (fmClass, batches) =>
        spark.conf.set(key, fmClass)
        val q = DocStoreSink.start(
          WikiEditPipeline.windowedEditSize(EditStream.readJsonFiles(spark, in)),
          DirDocStore(store), ck, outputMode = "update")
        try batches.foreach { b =>
          batchFile(in, b)
          q.processAllAvailable()
        } finally q.stop()
      }
    } finally spark.conf.set(key, GraftSession.CheckpointFileManagerClass)
    Files.list(Paths.get(store)).iterator().asScala
      .filter(_.toString.endsWith(".jsonl"))
      .flatMap(f => Files.readAllLines(f).asScala).toSeq.sorted
  }

  test("a query restarts across Spark's default manager and graft's, " +
      "both ways, to the store of an uninterrupted run") {
    initLog()
    val graftFm = GraftSession.CheckpointFileManagerClass
    val sparkFm = classOf[FileContextBasedCheckpointFileManager].getName
    val uninterrupted = runSegments(Seq(graftFm -> (1 to 6)))
    val restarted = runSegments(Seq(
      sparkFm -> (1 to 2), graftFm -> (3 to 4), sparkFm -> (5 to 6)))
    assert(uninterrupted.nonEmpty)
    assert(restarted == uninterrupted)
  }

  test("fork gate: micro-batches of the windowed pipeline start no " +
      "chmod or readlink process under the checkpoint dir") {
    initLog()
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val in = tmp("graft_fork_in")
    val ck = tmp("graft_fork_ck")
    val q = DocStoreSink.start(
      WikiEditPipeline.windowedEditSize(EditStream.readJsonFiles(spark, in)),
      DirDocStore(tmp("graft_fork_store")), ck, outputMode = "update")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("graft_fork", ".jfr")
    val starts = try {
      q.processAllAvailable()
      rec.start()
      (1 to 6).foreach { b =>
        batchFile(in, b)
        q.processAllAvailable()
      }
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).toSeq
    } finally {
      q.stop()
      rec.close()
      Files.deleteIfExists(dump)
    }
    assert(q.recentProgress.count(_.numInputRows > 0) >= 5)
    val forks = starts.filter(c =>
      (c.startsWith("chmod") || c.startsWith("readlink")) && c.contains(ck))
    assert(forks.isEmpty,
      s"${forks.size} forks, e.g. ${forks.take(3).mkString(" | ")}")
  }
}

object CheckpointFileManagerSpec {
  private def edit(i: Int, minute: Int): String =
    s"""{"id":"$i","domain":"d${i % 3}.wikipedia.org","namespace":""" +
      s""""main namespace","title":"T$i","timestamp":"2024-01-01T00:""" +
      f"""$minute%02d:${i % 60}%02dZ","user_name":"u$i","user_type":""" +
      s""""human","old_length":${i * 7 % 100},"new_length":${i * 13 % 100}}"""

  /** Input file `b` of the reference job's feed: 20 human main-namespace
    * edits over three domains, event time minute `4 * b`.
    */
  def batchFile(in: String, b: Int): Unit =
    Files.write(Paths.get(in, s"b$b.json"),
      (0 until 20).map(i => edit(b * 100 + i, b * 4)).mkString("\n")
        .getBytes(UTF_8))
}
