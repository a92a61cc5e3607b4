package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, IOException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Path => NioPath, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A streaming [[CheckpointFileManager]] for `file:` paths built on
  * `java.nio`. Without libhadoop, Hadoop's local filesystem forks a
  * `readlink` or `chmod` process for each link lookup, permission read or
  * directory creation, so every offset/commit log entry, metadata file and
  * state-store delta of a stream cost process starts. This manager makes
  * the same calls without any.
  *
  *  - `createAtomic` writes a hidden temp file next to the target
  *    (`.<name>.<uuid>.tmp`) and publishes it on `close()`: by rename when
  *    overwriting, by `Files.createLink` otherwise, so an existing target
  *    raises Hadoop's [[FileAlreadyExistsException]] and keeps its bytes —
  *    `HDFSMetadataLog` reads that exception as a concurrent writer.
  *    `cancel()` deletes the temp file; `list` never shows one.
  *  - Any other scheme is handed to Spark's
  *    [[FileContextBasedCheckpointFileManager]].
  *
  * [[StreamingOps.drain]] installs it for every stream through
  * `spark.sql.streaming.checkpointFileManagerClass`; Spark's checksum
  * manager still wraps it for state-store files. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[streaming] val delegate: Option[CheckpointFileManager] =
    if (isLocalScheme(path, hadoopConf)) None
    else Some(new FileContextBasedCheckpointFileManager(path, hadoopConf))

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = delegate match {
    case Some(d) => d.createAtomic(p, overwriteIfPossible)
    case None =>
      val target = nio(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}$TempSuffix")
      new AtomicOutput(temp, target, overwriteIfPossible)
  }

  override def open(p: Path): FSDataInputStream = delegate match {
    case Some(d) => d.open(p)
    case None => new FSDataInputStream(
      new BufferedFSInputStream(new ChannelInput(notFound(p)(FileChannel.open(nio(p)))), 8192))
  }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate match {
    case Some(d) => d.list(p, filter)
    case None =>
      val dir = nio(p)
      val found = notFound(p) {
        if (!Files.isDirectory(dir)) Array(status(p, dir))
        else {
          val entries = Files.newDirectoryStream(dir)
          try entries.asScala.filterNot(isTemp)
            .map(e => status(new Path(p, e.getFileName.toString), e)).toArray
          finally entries.close()
        }
      }
      found.filter(s => filter.accept(s.getPath))
  }

  override def mkdirs(p: Path): Unit = delegate match {
    case Some(d) => d.mkdirs(p)
    case None => Files.createDirectories(nio(p))
  }

  override def exists(p: Path): Boolean =
    delegate.fold(Files.exists(nio(p)))(_.exists(p))

  override def delete(p: Path): Unit = delegate.fold(deleteTree(nio(p)))(_.delete(p))

  override def isLocal: Boolean = delegate.forall(_.isLocal)

  override def createCheckpointDirectory(): Path = delegate match {
    case Some(d) => d.createCheckpointDirectory()
    case None =>
      val dir = Files.createDirectories(nio(path)).toAbsolutePath
      new Path("file", null, dir.toString)
  }

  override def close(): Unit = delegate.foreach(_.close())
}

object LocalCheckpointFileManager {

  private val TempSuffix = ".tmp"

  /** `file:` explicitly, or no scheme under a `file:` default filesystem. */
  private def isLocalScheme(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath).toAbsolutePath

  /** A temp file of [[LocalCheckpointFileManager.createAtomic]]. */
  private def isTemp(f: NioPath): Boolean = {
    val n = f.getFileName.toString
    n.startsWith(".") && n.endsWith(TempSuffix)
  }

  /** Hadoop's callers catch `java.io.FileNotFoundException`. */
  private def notFound[T](p: Path)(body: => T): T =
    try body catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

  private def status(p: Path, f: NioPath): FileStatus = {
    val dir = Files.isDirectory(f)
    new FileStatus(if (dir) 0L else Files.size(f), dir, 1, 0L,
      Files.getLastModifiedTime(f).toMillis, p)
  }

  private def deleteTree(f: NioPath): Unit =
    if (Files.isDirectory(f)) {
      val walk = Files.walk(f)
      try walk.sorted(java.util.Comparator.reverseOrder[NioPath]()).forEach(Files.deleteIfExists(_))
      finally walk.close()
    } else Files.deleteIfExists(f)

  /** Writes `temp`; `close()` publishes it as `target`, `cancel()` drops it. */
  private final class AtomicOutput(temp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target, temp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      }
    }
  }

  /** A seekable, positioned-readable read of one local file. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = {
      if (pos < 0) throw new IOException(s"negative seek offset $pos")
      ch.position(pos)
    }
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val one = ByteBuffer.allocate(1)
      if (ch.read(one) <= 0) -1 else one.get(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def available(): Int =
      math.min(Int.MaxValue.toLong, math.max(0L, ch.size() - ch.position())).toInt
    override def close(): Unit = ch.close()
  }
}
