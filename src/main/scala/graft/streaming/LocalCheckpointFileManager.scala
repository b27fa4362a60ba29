package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, Path => JPath}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that writes `file:` checkpoints through
  * `java.nio` and hands every other scheme to Spark's default
  * `FileContextBasedCheckpointFileManager`.
  *
  * Why: every micro-batch writes its offset-log, commit-log and
  * file-source-log entries through this interface. Spark's default
  * goes through Hadoop's local file system, which without the native
  * Hadoop library forks `chmod`/`readlink` processes around each file
  * it creates (≈30 forks per micro-batch), and that fixed cost
  * dominated a small serving batch. Here a metadata write is a few
  * system calls.
  *
  * The `HDFSMetadataLog` contract is kept:
  *  - no-overwrite `createAtomic` writes a temp sibling and publishes
  *    it with `link(2)`, which is atomic and never replaces a file, so
  *    a lost race throws Hadoop's `FileAlreadyExistsException` (the
  *    log turns it into its concurrent-writer error);
  *  - overwrite publishes with an atomic rename over the target;
  *  - `cancel` deletes the temp file;
  *  - durability is Spark's local default: neither path fsyncs. No
  *    `.crc` side files are written.
  *
  * Spark instantiates it by name through
  * `spark.sql.streaming.checkpointFileManagerClass`; the graft stream
  * readers set that key with [[LocalCheckpointFileManager.install]]
  * unless the user already chose a manager.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new LocalCheckpointFileManager.NioFiles(path)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the session's checkpoint manager, unless the user set
    * [[ConfKey]] (their choice wins). */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def isFileScheme(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Recursive delete; a missing path is not an error. */
  private[streaming] def deleteRecursively(p: JPath): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      try Using.resource(Files.list(p))(_.iterator.asScala.toVector).foreach(deleteRecursively)
      catch { case _: NoSuchFileException => () }
    Files.deleteIfExists(p)
  }

  private final class NioFiles(root: Path) extends CheckpointFileManager {
    private def local(p: Path): JPath = Paths.get(p.toUri.getPath).toAbsolutePath
    private def hadoop(p: JPath): Path = new Path("file", null, p.toString)
    private def notFound(p: Path) = new FileNotFoundException(s"$p does not exist")

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      new AtomicOutput(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp"),
        overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = {
      val ch = try FileChannel.open(local(p)) catch { case _: NoSuchFileException => throw notFound(p) }
      new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(ch), 65536))
    }

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val names = try Using.resource(Files.newDirectoryStream(local(p)))(_.asScala.toVector)
        catch { case _: NoSuchFileException => throw notFound(p) }
      names.filter(f => filter.accept(hadoop(f))).flatMap { f =>
        try {
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, hadoop(f)))
        } catch { case _: NoSuchFileException => None } // purged while listing
      }.toArray
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))
    override def exists(p: Path): Boolean = Files.exists(local(p))
    override def delete(p: Path): Unit = deleteRecursively(local(p))
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = hadoop(Files.createDirectories(local(root)))
  }

  /** Bytes go to `tmp`; `close` publishes them at `target`. */
  private final class AtomicOutput(target: JPath, tmp: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp, CREATE_NEW, WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite) Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
          else try Files.createLink(target, tmp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp)
      }
    }
  }

  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 1) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def close(): Unit = ch.close()
  }
}
