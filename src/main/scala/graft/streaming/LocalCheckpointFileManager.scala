package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/** The checkpoint file manager of every graft session
  * (`spark.sql.streaming.checkpointFileManagerClass`, set by
  * `GraftSession.builder()` from [[graft.GraftSession.CheckpointFileManagerClass]]).
  * Spark builds one per metadata log (offsets, commits, source and sink
  * logs) and per state-store directory, through this class's
  * `(Path, Configuration)` constructor; it delegates to [[forPath]].
  *
  * Why: without libhadoop, Spark's default manager
  * (`FileContextBasedCheckpointFileManager` over Hadoop's local FS)
  * forks `chmod` for each create-with-permission (the file and its
  * checksum sidecar) and `readlink` for the FileContext rename's symlink
  * probes: 793 `chmod` and 3,120 `readlink` starts in one 12 s run of
  * the reference job (perfbench `stream_wiki`, 4 cores), none with this
  * manager. Spark's `FileSystemBasedCheckpointFileManager` still forks a
  * `chmod` on every create.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val underlying = LocalCheckpointFileManager.forPath(path, hadoopConf)

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = underlying.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(path, filter)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** `file:` paths (and scheme-less ones under a local default FS) get
    * the fork-free [[NioFiles]] manager; every other scheme gets what
    * `CheckpointFileManager.create` returns with the key unset.
    */
  def forPath(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new NioFiles(path, hadoopConf)
    else sparkDefault(path, hadoopConf)
  }

  /** Spark's own choice for `path`, whatever the conf names. */
  def sparkDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key)
    CheckpointFileManager.create(path, conf)
  }

  /** Writes through java.nio: a temp file beside the target, then one
    * `rename(2)` (`ATOMIC_MOVE`). Reads and listings go through Hadoop's
    * raw local FS, which forks nothing for them and verifies no `.crc`
    * sidecar; the sidecar a Hadoop write left at a path is deleted when
    * the path is rewritten or deleted, so Spark's default manager can
    * still read the checkpoint after a restart.
    */
  private final class NioFiles(path: Path, hadoopConf: Configuration)
      extends CheckpointFileManager {

    private val fs: RawLocalFileSystem = {
      val raw = new RawLocalFileSystem()
      raw.initialize(URI.create("file:///"), hadoopConf)
      raw
    }

    private def local(p: Path): NioPath = fs.pathToFile(p).toPath

    private def crcOf(p: NioPath): NioPath =
      p.resolveSibling(s".${p.getFileName}.crc")

    override def createAtomic(path: Path,
        overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(path)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new CancellableFSDataOutputStream(new BufferedOutputStream(
          Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW))) {
        private var done = false

        override def close(): Unit = synchronized {
          if (!done) {
            done = true
            try {
              underlyingStream.close()
              // checked at close, as Spark's rename-based stream does:
              // HDFSMetadataLog catches the exception around `close`
              if (!overwriteIfPossible && Files.exists(target))
                throw new FileAlreadyExistsException(s"$path already exists")
              Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
              Files.deleteIfExists(crcOf(target))
            } finally Files.deleteIfExists(temp)
          }
        }

        override def cancel(): Unit = synchronized {
          if (!done) {
            done = true
            try underlyingStream.close()
            catch { case _: IOException => () }
            finally Files.deleteIfExists(temp)
          }
        }
      }
    }

    override def open(path: Path): FSDataInputStream = fs.open(path)

    override def list(path: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(path, filter)

    override def mkdirs(path: Path): Unit = Files.createDirectories(local(path))

    override def exists(path: Path): Boolean = Files.exists(local(path))

    override def delete(path: Path): Unit = {
      fs.delete(path, true)
      Files.deleteIfExists(crcOf(local(path)))
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      mkdirs(qualified)
      qualified
    }
  }
}
