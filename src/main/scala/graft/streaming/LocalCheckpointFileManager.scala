package graft.streaming

import java.io.{BufferedOutputStream, File, FileNotFoundException}
import java.net.URI
import java.nio.ByteBuffer
import java.nio.channels.SeekableByteChannel
import java.nio.file.{Files, NoSuchFileException, Path => NioPath, StandardCopyOption,
  StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.{Comparator, UUID}

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, FSDataInputStream, FSInputStream, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A [[CheckpointFileManager]] that writes `file:` checkpoints (offset log,
  * commit log, state-store deltas) through `java.nio`. Hadoop's local FS
  * forks a `chmod`/`stat` subprocess per create or rename when its native
  * library is missing, which makes each atomic write cost milliseconds;
  * here it costs a create, a write and a rename. Any other scheme goes to
  * Spark's own default choice of manager.
  *
  * Same contract as Spark's managers: `createAtomic` writes a hidden
  * `.<name>.<uuid>.tmp` beside the target and publishes it on `close()`
  * (an atomic rename; without overwrite, a hard link that fails with
  * Hadoop's `FileAlreadyExistsException` when the target exists), and
  * `cancel()` deletes it. Publishing or deleting a file also deletes its
  * `.<name>.crc` sibling, which Hadoop's local FS would otherwise verify a
  * later read against. Like Hadoop's local FS, it does not fsync. */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  // Spark's default choice, spelled out: `CheckpointFileManager.create`
  // would build this class again once the session conf names it
  private val nonLocal: Option[CheckpointFileManager] =
    if (Option(path.toUri.getScheme)
        .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file") None
    else Some(
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch { case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf) })

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    nonLocal.fold(atomicStream(p, overwriteIfPossible))(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = nonLocal.fold(
    new FSDataInputStream(new BufferedFSInputStream(
      new NioInput(missingAsFnf(p)(Files.newByteChannel(local(p)))), 1 << 16)))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = nonLocal.fold(
    missingAsFnf(p)(Using.resource(Files.list(local(p)))(_.iterator.asScala.toArray))
      .map(f => new Path(p, f.getFileName.toString))
      .filter(c => !isCrc(c.getName) && filter.accept(c))
      .flatMap { c =>
        // a file deleted between the listing and its stat is not listed
        try {
          val a = Files.readAttributes(local(c), classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, 0, a.lastModifiedTime.toMillis, c))
        } catch { case _: NoSuchFileException => None }
      })(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    nonLocal.fold[Unit](Files.createDirectories(local(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = nonLocal.fold(Files.exists(local(p)))(_.exists(p))

  override def delete(p: Path): Unit = nonLocal.fold {
    val f = local(p)
    if (Files.isDirectory(f))
      Using.resource(Files.walk(f))(_.sorted(Comparator.reverseOrder[NioPath]())
        .forEach { c => Files.deleteIfExists(c); () })
    else { Files.deleteIfExists(f); Files.deleteIfExists(crcOf(f)); () }
  }(_.delete(p))

  override def isLocal: Boolean = nonLocal.forall(_.isLocal)

  override def createCheckpointDirectory(): Path = nonLocal.fold {
    val q = path.makeQualified(URI.create("file:///"), new Path(System.getProperty("user.dir")))
    Files.createDirectories(local(q))
    q
  }(_.createCheckpointDirectory())

  override def close(): Unit = nonLocal.foreach(_.close())
}

object LocalCheckpointFileManager {
  private def local(p: Path): NioPath = new File(p.toUri.getPath).toPath

  private def isCrc(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")

  private def crcOf(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  private def missingAsFnf[T](p: Path)(body: => T): T =
    try body catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

  private def atomicStream(p: Path, overwrite: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    Files.createDirectories(target.getParent)
    new CancellableFSDataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW))) {
      private var done = false

      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          try {
            underlyingStream.close()
            if (overwrite) {
              Files.deleteIfExists(crcOf(target))
              Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
            } else {
              try Files.createLink(target, temp)
              catch { case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists") }
              Files.deleteIfExists(crcOf(target))
            }
          } finally Files.deleteIfExists(temp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          // the write is abandoned: a failing close must not stop the cleanup
          try underlyingStream.close() catch { case NonFatal(_) => () }
          finally Files.deleteIfExists(temp)
        }
      }
    }
  }

  /** Seekable, positioned reads over one file channel, as `FSDataInputStream`
    * requires of what it wraps. */
  private final class NioInput(ch: SeekableByteChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def close(): Unit = ch.close()
  }
}
