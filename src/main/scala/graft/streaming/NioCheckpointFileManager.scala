package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, InputStream, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{DirectoryStream, Files, Paths, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/**
 * `file:`-scheme [[CheckpointFileManager]] backed directly by java.nio.
 *
 * The default managers route every checkpoint operation through Hadoop's
 * local `FileContext`/`ChecksumFs`, which — absent the libhadoop native
 * library — FORKS a subprocess per operation (`readlink` in every atomic
 * rename via `getFileLinkStatus`, `chmod` in every create via
 * `setPermission`, `ls` in permission-bearing `FileStatus` reads). A
 * stateful streaming micro-batch commits 4 state stores x N partitions
 * plus offset/commit-log entries, so a single trigger pays hundreds of
 * subprocess forks of a multi-GB JVM; thread dumps of the interval-join
 * stream showed the executor pool dominated by `Shell.execCommand` /
 * `AbstractFileSystem.rename` (see OPTIMIZATION_r17.md). Plain NIO
 * calls — `Files.newOutputStream`, `Files.move(ATOMIC_MOVE)` — give the
 * same crash-atomic rename contract on a POSIX filesystem with zero
 * forks.
 *
 * Scope: LOCAL paths only. For any non-`file:` scheme the constructor
 * falls back to Spark's default resolution (`CheckpointFileManager.create`
 * with the class conf removed), so pointing a checkpoint at HDFS/S3 in a
 * real deployment transparently keeps the fault-tolerant default; this
 * class never weakens the cross-node rename semantics the default
 * managers provide there.
 */
class NioCheckpointFileManager(base: Path, conf: Configuration)
    extends CheckpointFileManager {

  /** Non-local fallback (null for file: paths — the hot path). */
  private val delegate: CheckpointFileManager = {
    val scheme = Option(base.toUri.getScheme).getOrElse("file")
    if (scheme == "file") null
    else {
      val c = new Configuration(conf)
      c.unset("spark.sql.streaming.checkpointFileManagerClass")
      CheckpointFileManager.create(base, c)
    }
  }

  private def nio(p: Path): JPath = Paths.get(p.toUri.getPath)

  /** The atomic no-overwrite publish: link(2) creates `link` or fails. */
  private[streaming] def createLink(link: JPath, target: JPath): Unit =
    Files.createLink(link, target)

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    if (delegate != null) return delegate.createAtomic(path, overwriteIfPossible)
    val dst = nio(path)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW,
      StandardOpenOption.WRITE)
    new CancellableFSDataOutputStream(new BufferedOutputStream(out)) {
      @volatile private var terminated = false
      override def close(): Unit = synchronized {
        if (terminated) return
        terminated = true
        underlyingStream.close()
        if (overwriteIfPossible) {
          Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        } else {
          // The no-overwrite commit must SURFACE an existing destination,
          // not silently drop the temp file: the default manager rethrows
          // FileAlreadyExistsException here and HDFSMetadataLog converts it
          // into the concurrent-stream-log-update error — the guard against
          // two queries sharing one checkpoint dir committing divergent
          // offsets. An exists()-then-replace is also a TOCTOU race (POSIX
          // rename(2) always replaces); link(2) is an atomic
          // create-or-EEXIST, so the hard-link publish either commits tmp
          // as dst or fails atomically with no window.
          try createLink(dst, tmp)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(tmp)
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                s"rename destination already exists: $dst")
            case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
              // file:-scheme mount without hard links (vfat/FUSE-class;
              // some refuse link(2) with EPERM, a FileSystemException —
              // this case must stay after its FileAlreadyExists subclass):
              // fall back to check-then-rename — the same (non-atomic)
              // existence contract the default manager provides
              if (Files.exists(dst)) {
                Files.deleteIfExists(tmp)
                throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                  s"rename destination already exists: $dst")
              }
              Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          }
          Files.deleteIfExists(tmp)
        }
      }
      override def cancel(): Unit = synchronized {
        if (terminated) return
        terminated = true
        try underlyingStream.close() catch { case _: Throwable => () }
        Files.deleteIfExists(tmp)
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    if (delegate != null) return delegate.open(path)
    val p = nio(path)
    if (!Files.isRegularFile(p)) throw new FileNotFoundException(p.toString)
    new FSDataInputStream(new NioSeekableInput(FileChannel.open(p,
      StandardOpenOption.READ)))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    if (delegate != null) return delegate.list(path, filter)
    val dir = nio(path)
    if (!Files.exists(dir)) throw new FileNotFoundException(dir.toString)
    if (!Files.isDirectory(dir)) {
      val st = statusOf(path, dir)
      return if (filter.accept(st.getPath)) Array(st) else Array.empty
    }
    var stream: DirectoryStream[JPath] = null
    try {
      stream = Files.newDirectoryStream(dir)
      stream.iterator().asScala.flatMap { c =>
        val hp = new Path(path, c.getFileName.toString)
        if (filter.accept(hp)) Some(statusOf(hp, c)) else None
      }.toArray
    } finally if (stream != null) stream.close()
  }

  private def statusOf(hadoopPath: Path, p: JPath): FileStatus = {
    val isDir = Files.isDirectory(p)
    val len = if (isDir) 0L else Files.size(p)
    val mtime = Files.getLastModifiedTime(p).toMillis
    // qualified path, no permission fields touched (permission lookups are
    // exactly the `ls` forks this class exists to avoid)
    new FileStatus(len, isDir, 1, 33554432L, mtime,
      hadoopPath.makeQualified(base.toUri, new Path("/")))
  }

  override def mkdirs(path: Path): Unit =
    if (delegate != null) delegate.mkdirs(path)
    else Files.createDirectories(nio(path))

  override def exists(path: Path): Boolean =
    if (delegate != null) delegate.exists(path) else Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    if (delegate != null) { delegate.delete(path); return }
    val p = nio(path)
    if (!Files.exists(p)) return
    if (Files.isDirectory(p)) {
      var stream: DirectoryStream[JPath] = null
      try {
        stream = Files.newDirectoryStream(p)
        stream.iterator().asScala.foreach(c =>
          delete(new Path(path, c.getFileName.toString)))
      } finally if (stream != null) stream.close()
    }
    Files.deleteIfExists(p)
  }

  override def isLocal: Boolean = delegate == null || delegate.isLocal

  override def createCheckpointDirectory(): Path = {
    if (delegate != null) return delegate.createCheckpointDirectory()
    Files.createDirectories(nio(base))
    base.makeQualified(base.toUri, new Path("/"))
  }
}

/** Seekable, positioned-readable channel wrapper — the contract
  * [[FSDataInputStream]] requires of its inner stream. */
private final class NioSeekableInput(ch: FileChannel) extends InputStream
    with Seekable with PositionedReadable {

  override def read(): Int = {
    val b = ByteBuffer.allocate(1)
    if (ch.read(b) <= 0) -1 else b.get(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int =
    ch.read(ByteBuffer.wrap(b, off, len))

  override def available(): Int =
    math.min(Int.MaxValue.toLong, math.max(0L, ch.size() - ch.position())).toInt

  override def close(): Unit = ch.close()

  override def seek(pos: Long): Unit = ch.position(pos)
  override def getPos: Long = ch.position()
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Int =
    ch.read(ByteBuffer.wrap(buffer, offset, length), position)

  override def readFully(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Unit = {
    var done = 0
    while (done < length) {
      val n = ch.read(ByteBuffer.wrap(buffer, offset + done, length - done),
        position + done)
      if (n < 0) throw new java.io.EOFException(
        s"EOF at ${position + done} reading $length bytes")
      done += n
    }
  }

  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)
}
