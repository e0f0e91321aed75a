package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import graft.streaming.{DocStoreSink, EditStream, WikiEditPipeline}
import graft.streaming.DocStoreSink.DirDocStore

/** The humongous gate: with `spark.broadcast.blockSize` at
  * `GraftSession.BroadcastBlockSize`, no broadcast piece of the
  * reference job or of a broadcast hash join is a humongous G1 object.
  * Spark's 4 MiB default allocates one such piece per job.
  */
class BroadcastBlockSizeSpec extends GraftSpecBase {
  import CheckpointFileManagerSpec.batchFile

  /** A byte array's header on a 64-bit JVM, with or without
    * compressed class pointers.
    */
  private val ArrayHeader = 24

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `jdk.ObjectAllocationOutsideTLAB` events, with stack traces, of
    * everything `body` allocates on any thread.
    */
  private def allocationsOutsideTlab(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ObjectAllocationOutsideTLAB").withStackTrace()
    val dump = Files.createTempFile("graft_humongous", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def blockified(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists { f =>
      f.getMethod.getName == "blockifyObject" &&
        f.getMethod.getType.getName.contains("TorrentBroadcast")
    })

  test("humongous gate: micro-batches of the windowed pipeline and a " +
      "broadcast hash join allocate no broadcast piece above the block size") {
    initLog()
    val in = tmp("graft_humongous_in")
    val q = DocStoreSink.start(
      WikiEditPipeline.windowedEditSize(EditStream.readJsonFiles(spark, in)),
      DirDocStore(tmp("graft_humongous_store")), tmp("graft_humongous_ck"),
      outputMode = "update")
    val events = try {
      q.processAllAvailable()
      allocationsOutsideTlab {
        (1 to 4).foreach { b =>
          batchFile(in, b)
          q.processAllAvailable()
        }
        SparkEntry.queries("q_broadcast_join")(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    assert(events.nonEmpty, "the recording saw no allocation at all")
    val limit = GraftSession.BroadcastBlockSize + ArrayHeader
    val over = events.filter(blockified).map(_.getLong("allocationSize"))
      .filter(_ > limit)
    assert(over.size == 0,
      s"${over.size} broadcast pieces above $limit bytes, " +
        s"e.g. ${over.distinct.sorted.take(3).mkString(", ")}")
  }
}
