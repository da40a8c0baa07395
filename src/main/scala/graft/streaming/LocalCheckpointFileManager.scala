package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's checkpoint file manager for graft's streaming queries
  * (`spark.sql.streaming.checkpointFileManagerClass`, set by
  * [[LocalCheckpointFileManager.conf]]). A `file:` checkpoint is written
  * with java.nio: Hadoop's local filesystem, without its native library,
  * forks a `chmod` or `readlink` process for most file operations, about
  * 10 per offset-log or commit-log write under Spark's default manager,
  * so each micro-batch's two checkpoint writes started some 20 processes.
  *
  *  - `createAtomic` writes a hidden temp sibling, then publishes it:
  *    without overwrite by a hard link, which fails atomically with
  *    Hadoop's `FileAlreadyExistsException` and keeps the old bytes;
  *    with overwrite by an atomic rename, after deleting any stale
  *    `.<name>.crc` sibling a checksummed manager left. `cancel` and a
  *    failed close delete the temp file.
  *  - No `.crc` files are written and nothing is fsynced (neither does
  *    Spark's default manager on a local disk sync). Reads ignore `.crc`
  *    files, so a checkpoint started under Spark's default manager
  *    resumes under this one, and the reverse.
  *  - Any other scheme goes to Spark's own managers, chosen as
  *    `CheckpointFileManager.create` chooses when no class is set.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val impl: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, hadoopConf))
      new LocalCheckpointFileManager.NioFiles(path)
    // not through CheckpointFileManager.create: with this class set it
    // would build this class again
    else try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch { case _: UnsupportedFileSystemException =>
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** The session conf a streaming query starts with to checkpoint
    * through this manager; none if the session already names a manager,
    * which then wins.
    */
  private[graft] def conf(s: SparkSession): Seq[(String, String)] =
    if (s.conf.getOption(Key).isDefined) Nil
    else Seq(Key -> classOf[LocalCheckpointFileManager].getName)

  /** Whether `p` resolves to the local filesystem, decided without
    * building a Hadoop filesystem.
    */
  private def isLocal(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  private def qualified(f: NioPath): Path =
    new Path("file", null, f.toAbsolutePath.toString)

  /** The checksum sibling Hadoop's checksummed filesystems keep. */
  private def crc(f: NioPath): NioPath =
    f.resolveSibling(s".${f.getFileName}.crc")

  private def isCrc(f: NioPath): Boolean = {
    val n = f.getFileName.toString
    n.startsWith(".") && n.endsWith(".crc")
  }

  private final class NioFiles(root: Path) extends CheckpointFileManager {

    override def createAtomic(p: Path,
        overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val dst = nio(p)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
      // no parent is created, as with Spark's default manager: a write
      // into a deleted checkpoint fails instead of bringing it back
      new AtomicOutput(dst, tmp, overwriteIfPossible,
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE))
    }

    override def open(p: Path): FSDataInputStream =
      try new FSDataInputStream(new ChannelInput(
        FileChannel.open(nio(p), StandardOpenOption.READ)))
      catch { case _: NoSuchFileException =>
        throw new FileNotFoundException(p.toString)
      }

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val ds = try Files.newDirectoryStream(nio(p)) catch {
        case _: NoSuchFileException => throw new FileNotFoundException(p.toString)
      }
      try ds.iterator().asScala.filterNot(isCrc).flatMap { f =>
        // an entry deleted since the listing is not listed
        try {
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, 0L,
            a.lastModifiedTime.toMillis, qualified(f)))
        } catch { case _: NoSuchFileException => None }
      }.filter(st => filter.accept(st.getPath)).toArray
      finally ds.close()
    }

    override def mkdirs(p: Path): Unit = { Files.createDirectories(nio(p)); () }

    override def exists(p: Path): Boolean = Files.exists(nio(p))

    /** Deletes `p`, recursively, and its checksum sibling; a missing
      * path is no error.
      */
    override def delete(p: Path): Unit = {
      val f = nio(p)
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
        val walk = Files.walk(f)
        try walk.sorted(java.util.Comparator.reverseOrder[NioPath]())
          .forEach(c => Files.deleteIfExists(c))
        finally walk.close()
      } else Files.deleteIfExists(f)
      Files.deleteIfExists(crc(f))
      ()
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      qualified(nio(root))
    }
  }

  /** Buffered writes into `tmp`; `close` publishes it as `dst`. */
  private final class AtomicOutput(dst: NioPath, tmp: NioPath,
      overwrite: Boolean, raw: OutputStream)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(raw)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(crc(dst))
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          } else
            try Files.createLink(dst, tmp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$dst already exists")
            }
        } finally Files.deleteIfExists(tmp)
        ()
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try raw.close() finally Files.deleteIfExists(tmp)
        ()
      }
    }
  }

  /** A seekable stream over a file channel. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len), pos)
    override def seek(pos: Long): Unit = { ch.position(pos); () }
    override def getPos: Long = ch.position()
    override def seekToNewSource(target: Long): Boolean = false
    override def available(): Int =
      math.min(Int.MaxValue.toLong, math.max(0L, ch.size - ch.position)).toInt
    override def close(): Unit = ch.close()
  }
}
