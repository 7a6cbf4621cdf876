package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, InputStream, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException => NioExists, Files, NoSuchFileException, Path => JPath, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** CheckpointFileManager over java.nio for `file:` checkpoint paths;
  * any other scheme delegates to Spark's default (FileContext-based)
  * manager, so the class is safe to set globally.
  *
  * WHY (measured, stream_outer_join at local[32]): every streaming
  * query funnels its offset/commit WAL, sink metadata log, state-store
  * delta/snapshot files and provider-init mkdirs through the default
  * manager, which rides Hadoop's FileContext → ChecksumFs →
  * RawLocalFs stack. Without libhadoop (none in this environment, and
  * none in many real containers) every permissioned mkdir/create in
  * that stack FORK/EXECs a `chmod` (Shell.execCommand) — milliseconds
  * per call on a large-heap JVM — and state-store provider loading
  * serializes those forks under a global registry lock
  * (StateStore.loadedProviders). Stack sampling showed provider-load
  * lock waits plus Shell forks dominating symmetricHashJoin commitMs
  * (~330 ms per near-empty store commit). NIO file ops are plain
  * syscalls: no fork, no checksum shadow files, no FileContext layer.
  *
  * Publish atomicity is preserved: createAtomic writes a
  * same-directory temp file and publishes it on close — the contract
  * the default local-fs manager implements via FileContext.rename.
  * Without overwrite the publish is a hard link, which fails if the
  * target exists, so exactly one of racing writers wins; with
  * overwrite it is an ATOMIC_MOVE over the target. `open` raises java.io.FileNotFoundException on
  * missing files (HDFSBackedStateStoreProvider probes snapshots by
  * catching exactly that), and `list` on a missing directory likewise.
  *
  * Scale stance: checkpoints on HDFS/S3 keep their scheme-appropriate
  * managers (the delegate branch); this class is the `file:`-scheme
  * analogue, correct for ANY deployment whose checkpoint dir is a
  * local/NFS path, not a local[32] tuning constant. */
class NioCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val scheme = root.toUri.getScheme
  private val isFileScheme = scheme == null || scheme == "file"
  /** Non-file schemes keep Spark's default behavior. */
  private val delegate: CheckpointFileManager =
    if (isFileScheme) null else new FileContextBasedCheckpointFileManager(root, conf)

  private def jpath(p: Path): JPath = {
    val uri = p.toUri
    Paths.get(if (uri.getScheme == null) uri.toString else uri.getPath)
  }

  private def status(jp: JPath): FileStatus = {
    val attrs = Files.readAttributes(jp, classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 33554432L,
      attrs.lastModifiedTime().toMillis, new Path(jp.toUri))
  }

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    if (delegate != null) return delegate.createAtomic(path, overwriteIfPossible)
    val dst = jpath(path)
    val parent = dst.getParent
    if (parent != null) Files.createDirectories(parent)
    val tmp = parent.resolve(s".${dst.getFileName}.${java.util.UUID.randomUUID}.tmp")
    val tmpOut = new BufferedOutputStream(Files.newOutputStream(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    new CancellableFSDataOutputStream(tmpOut) {
      private var terminated = false
      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try tmpOut.close() catch { case _: Throwable => () }
          try Files.deleteIfExists(tmp) catch { case _: Throwable => () }
          ()
        }
      }
      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          super.close() // flushes and closes the buffered stream
          if (overwriteIfPossible)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          else {
            // link(2) publishes atomically AND fails if dst exists.
            // rename(2) replaces an existing target (ATOMIC_MOVE does so
            // even without REPLACE_EXISTING), so a zombie writer could
            // overwrite a file committed after any exists-check.
            try Files.createLink(dst, tmp)
            catch { case _: NioExists =>
              throw new FileAlreadyExistsException(
                s"Failed to rename temp file $tmp to $dst as destination already exists")
            } finally Files.deleteIfExists(tmp)
          }
          ()
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    if (delegate != null) return delegate.open(path)
    val ch =
      try FileChannel.open(jpath(path), StandardOpenOption.READ)
      catch { case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage)
      }
    new FSDataInputStream(new NioSeekableInputStream(ch))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    if (delegate != null) return delegate.list(path, filter)
    val dir = jpath(path)
    val stream =
      try Files.list(dir)
      catch { case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage)
      }
    try {
      val out = Array.newBuilder[FileStatus]
      stream.forEach { jp =>
        if (filter == null || filter.accept(new Path(jp.toUri))) {
          try out += status(jp)
          catch { case _: NoSuchFileException => () } // raced deletion
        }
      }
      out.result()
    } finally stream.close()
  }

  override def mkdirs(path: Path): Unit = {
    if (delegate != null) delegate.mkdirs(path)
    else { Files.createDirectories(jpath(path)); () }
  }

  override def exists(path: Path): Boolean =
    if (delegate != null) exists0(path) else Files.exists(jpath(path))

  // delegate.exists via open-or-list semantics of the default manager
  private def exists0(path: Path): Boolean = delegate.exists(path)

  override def delete(path: Path): Unit = {
    if (delegate != null) { delegate.delete(path); return }
    val target = jpath(path)
    try {
      if (Files.isDirectory(target, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        Files.walkFileTree(target, new java.nio.file.SimpleFileVisitor[JPath] {
          override def visitFile(f: JPath,
              a: java.nio.file.attribute.BasicFileAttributes): java.nio.file.FileVisitResult = {
            Files.deleteIfExists(f); java.nio.file.FileVisitResult.CONTINUE
          }
          override def postVisitDirectory(d: JPath,
              e: java.io.IOException): java.nio.file.FileVisitResult = {
            Files.deleteIfExists(d); java.nio.file.FileVisitResult.CONTINUE
          }
        })
        ()
      } else { Files.deleteIfExists(target); () }
    } catch { case _: NoSuchFileException => () } // deleting the absent is a no-op
  }

  override def isLocal: Boolean = if (delegate != null) false else true

  override def createCheckpointDirectory(): Path = {
    if (delegate != null) return delegate.createCheckpointDirectory()
    val jp = jpath(root)
    Files.createDirectories(jp)
    new Path(jp.toUri)
  }
}

/** Seekable + PositionedReadable InputStream over a FileChannel —
  * the minimum FSDataInputStream demands of its wrapped stream. */
private[streaming] class NioSeekableInputStream(ch: FileChannel)
    extends InputStream with Seekable with PositionedReadable {

  override def read(): Int = {
    val one = ByteBuffer.allocate(1)
    val n = ch.read(one)
    if (n <= 0) -1 else one.get(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int =
    ch.read(ByteBuffer.wrap(b, off, len))

  override def skip(n: Long): Long = {
    val cur = ch.position()
    val next = math.min(ch.size(), cur + math.max(0L, n))
    ch.position(next)
    next - cur
  }

  override def available(): Int =
    math.min(Int.MaxValue.toLong, math.max(0L, ch.size() - ch.position())).toInt

  override def close(): Unit = ch.close()

  override def seek(pos: Long): Unit = { ch.position(pos); () }
  override def getPos: Long = ch.position()
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int =
    ch.read(ByteBuffer.wrap(buffer, offset, length), position)

  override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
    var pos = position; var off = offset; var left = length
    while (left > 0) {
      val n = ch.read(ByteBuffer.wrap(buffer, off, left), pos)
      if (n < 0) throw new java.io.EOFException(
        s"Reached end of file before reading $length bytes at $position")
      pos += n; off += n; left -= n
    }
  }

  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)
}
