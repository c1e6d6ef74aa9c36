package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files on the local file system through
  * `java.nio`, installed by [[AdsbStream]] for the queries it starts.
  *
  * Without native `libhadoop`, Hadoop's local file system forks a
  * process for every `chmod` (each create with a permission) and every
  * `readlink` (each `FileContext` rename), and writes a `.crc` side
  * file next to each file. A checkpoint writes several files per
  * trigger (offsets, commits, source log, and two per state-store
  * partition), so those forks were most of a trigger's fixed cost.
  * Here a file is one nio write and one rename, with no side file.
  *
  * Spark's contract is kept: `createAtomic` writes a hidden
  * `.<name>.<uuid>.tmp` file and renames it onto the target with
  * `ATOMIC_MOVE` on `close`; without `overwriteIfPossible` an existing
  * target fails the close with Hadoop's `FileAlreadyExistsException`
  * (the check-then-rename of Hadoop's local `FileContext`), which is
  * how a metadata log notices a concurrent writer; `cancel` deletes
  * the temp file. `list` hides what Hadoop's `ChecksumFs` hides (a `.`
  * prefix and a `.crc` suffix), and a write or delete also removes the
  * target's Hadoop `.crc` side file, so a checkpoint written by either
  * manager restarts under the other. Like Hadoop's local file system,
  * nothing is fsynced. Spark's `ChecksumCheckpointFileManager` still
  * wraps this manager for state stores, so state files keep their
  * checksums.
  *
  * A path outside the local file system goes to the manager Spark
  * would have chosen itself. */
class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  import NioCheckpointFileManager._

  private val other: Option[CheckpointFileManager] =
    if (Option(path.toUri.getScheme)
        .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file") None
    else {
      val c = new Configuration(conf)
      c.unset(Key)
      Some(CheckpointFileManager.create(path, c))
    }

  def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    other.fold[CancellableFSDataOutputStream] {
      val f = local(p)
      Files.createDirectories(f.getParent)
      new AtomicOutput(f, overwriteIfPossible,
        f.resolveSibling(s".${f.getFileName}.${UUID.randomUUID}.tmp"))
    }(_.createAtomic(p, overwriteIfPossible))

  def open(p: Path): FSDataInputStream = other.fold(
    new FSDataInputStream(new BufferedFSInputStream(
      new Input(found(p)(FileChannel.open(local(p)))), 1 << 16)))(_.open(p))

  def list(p: Path, filter: PathFilter): Array[FileStatus] = other.fold {
    val dir = found(p)(Files.newDirectoryStream(local(p)))
    try dir.asScala.toArray.flatMap { f =>
      val name = f.getFileName.toString
      val child = new Path(p, name)
      if (hidden(name) || !filter.accept(child)) None
      else try {
        val a = Files.readAttributes(f, classOf[BasicFileAttributes],
          LinkOption.NOFOLLOW_LINKS)
        Some(new FileStatus(a.size, a.isDirectory, 1, BlockSize,
          a.lastModifiedTime.toMillis, child))
      } catch {
        // deleted between the listing and its stat: not listed
        case _: NoSuchFileException => None
      }
    } finally dir.close()
  }(_.list(p, filter))

  def mkdirs(p: Path): Unit =
    other.fold[Unit](Files.createDirectories(local(p)))(_.mkdirs(p))

  def exists(p: Path): Boolean = other.fold(Files.exists(local(p)))(_.exists(p))

  /** Recursive; a missing path is not an error. */
  def delete(p: Path): Unit = other.fold {
    val f = local(p)
    if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
      val all = Files.walk(f)
      try all.sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(g => Files.deleteIfExists(g))
      finally all.close()
    } else Files.deleteIfExists(f)
    dropSideFile(f)
  }(_.delete(p))

  def isLocal: Boolean = other.fold(true)(_.isLocal)

  def createCheckpointDirectory(): Path = other.fold {
    val f = Files.createDirectories(local(path)).toAbsolutePath
    new Path("file", null, f.toString)
  }(_.createCheckpointDirectory())

  override def close(): Unit = other.foreach(_.close())
}

object NioCheckpointFileManager {

  /** Spark's key for the class its streaming queries build their
    * checkpoint file managers from. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private val BlockSize = 32L << 20

  private def local(p: Path): JPath = Paths.get(p.toUri.getPath)

  /** The names Hadoop's `ChecksumFs` keeps out of a listing. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private def dropSideFile(f: JPath): Unit =
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))

  /** Spark's readers expect `FileNotFoundException`, not nio's. */
  private def found[T](p: Path)(body: => T): T =
    try body
    catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

  private final class AtomicOutput(target: JPath, overwrite: Boolean,
      temp: JPath) extends CancellableFSDataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(temp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (!overwrite && Files.exists(target))
            throw new FileAlreadyExistsException(s"$target already exists")
          Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          dropSideFile(target)
        } finally Files.deleteIfExists(temp)
      }
    }

    def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      }
    }
  }

  private final class Input(ch: FileChannel) extends FSInputStream {
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) == 1) b(0) & 0xff else -1
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len), pos)
    def seek(pos: Long): Unit = ch.position(pos)
    def getPos: Long = ch.position()
    def seekToNewSource(target: Long): Boolean = false
    override def close(): Unit = ch.close()
  }
}
