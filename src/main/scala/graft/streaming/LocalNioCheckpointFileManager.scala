package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.net.URI
import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException => NioExists, Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Pure-NIO [[CheckpointFileManager]] for `file:` checkpoint locations.
  *
  * Why it exists (measured, guide §1/§7): the default
  * FileContextBasedCheckpointFileManager drives the local filesystem
  * through Hadoop's FileContext, whose create/mkdir path sets POSIX
  * permissions explicitly — and without libhadoop (never bundled with
  * the plain Spark distribution) RawLocalFileSystem falls back to
  * FORKING a `chmod` subprocess per file. A bounded streaming gate
  * commits offsets + commits + one delta file per state store per
  * partition per micro-batch (a stream-stream join: 4 stores × 8
  * partitions = 32 deltas/batch), so every micro-batch paid dozens of
  * process forks; stack-sampling the outer-join file gate showed
  * `ProcessImpl.forkAndExec` under `renameTempFile`/`mkdirs` and tasks
  * blocked in provider init while holding the global StateStore lock.
  *
  * This manager implements the same atomic-rename contract with
  * java.nio (create temp sibling → atomic move), which on a POSIX
  * filesystem is exactly the rename the default manager performs —
  * minus the permission subprocesses and FileContext overhead.
  *
  * Scope: LOCAL paths only (constructor rejects non-file schemes). A
  * production deployment checkpointing to an object store keeps the
  * default manager (or the store's own); the gates/bench wire this one
  * only when the checkpoint root resolves to the local filesystem —
  * see [[FileFeed.withLocalCheckpoints]].
  */
class LocalNioCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  require(root.toUri.getScheme == null || root.toUri.getScheme == "file",
    s"LocalNioCheckpointFileManager handles only local paths, got $root")

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  /** Hard-link `existing` as `link` (link(2)): fails with EEXIST when
    * `link` exists. */
  protected def hardLink(link: java.nio.file.Path,
      existing: java.nio.file.Path): Unit = {
    Files.createLink(link, existing); ()
  }

  private def qualify(p: Path): Path =
    if (p.toUri.getScheme != null) p
    else new Path(new URI("file", null, p.toUri.getPath, null))

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = nio(path)
    Option(dst.getParent).foreach(Files.createDirectories(_))
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
    val out = new BufferedOutputStream(Files.newOutputStream(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 32 * 1024)
    new CancellableFSDataOutputStream(out) {
      private var done = false
      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          out.close()
          def alreadyExists(): Nothing = {
            Files.deleteIfExists(tmp)
            throw new FileAlreadyExistsException(
              s"Failed to rename temp file $tmp to $dst as $dst already exists")
          }
          if (overwriteIfPossible) {
            try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            catch { case _: NioExists => alreadyExists() }
          } else {
            // POSIX rename() always replaces, so ATOMIC_MOVE alone cannot
            // enforce no-overwrite. link(2) CAN: it fails atomically with
            // EEXIST when dst exists, so the first writer genuinely wins
            // with no check-then-move race window (round-18 advice). The
            // metadata logs' first-writer-wins catch needs the Hadoop
            // exception type. Filesystems without hard links, and mounts
            // or security policies that refuse them (any other
            // IOException, a SecurityException), fall back to
            // check-then-move — still Hadoop-local-rename parity.
            val linked =
              try { hardLink(dst, tmp); true }
              catch {
                case _: NioExists => alreadyExists()
                case _: UnsupportedOperationException | _: SecurityException |
                    _: java.io.IOException => false
              }
            if (linked) Files.deleteIfExists(tmp)
            else {
              if (Files.exists(dst)) alreadyExists()
              try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
              catch { case _: NioExists => alreadyExists() }
            }
          }
        }
      }
      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try { out.close(); Files.deleteIfExists(tmp) }
          catch { case _: Throwable => () }
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    val p = nio(path)
    if (!Files.exists(p)) throw new FileNotFoundException(p.toString)
    val ch = FileChannel.open(p, StandardOpenOption.READ)
    new FSDataInputStream(new NioFsInputStream(ch))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val p = nio(path)
    if (!Files.exists(p)) throw new FileNotFoundException(p.toString)
    if (!Files.isDirectory(p)) {
      val st = status(p)
      return if (filter.accept(st.getPath)) Array(st) else Array.empty
    }
    val out = Array.newBuilder[FileStatus]
    val ds = Files.newDirectoryStream(p)
    try {
      val it = ds.iterator()
      while (it.hasNext) {
        val st = status(it.next())
        if (filter.accept(st.getPath)) out += st
      }
    } finally ds.close()
    out.result()
  }

  private def status(p: java.nio.file.Path): FileStatus = {
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 32 * 1024 * 1024,
      attrs.lastModifiedTime().toMillis,
      new Path(new URI("file", null, p.toAbsolutePath.toString, null)))
  }

  override def mkdirs(path: Path): Unit =
    Files.createDirectories(nio(path))

  override def exists(path: Path): Boolean = Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    val p = nio(path)
    try {
      if (Files.isDirectory(p)) {
        // post-order walk so directories empty before their own delete
        val stream = Files.walk(p)
        try stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally stream.close()
      } else Files.deleteIfExists(p)
    } catch { case _: FileNotFoundException | _: java.nio.file.NoSuchFileException => () }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(root))
    qualify(root)
  }
}

/** Seekable/positioned-readable adapter from a [[FileChannel]] to the
  * Hadoop stream contract (read side of the checkpoint manager). */
private[streaming] final class NioFsInputStream(ch: FileChannel)
    extends FSInputStream {
  override def seek(pos: Long): Unit = ch.position(pos)
  override def getPos: Long = ch.position()
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def read(): Int = {
    val b = java.nio.ByteBuffer.allocate(1)
    val n = ch.read(b)
    if (n <= 0) -1 else b.get(0) & 0xff
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    ch.read(java.nio.ByteBuffer.wrap(b, off, len))
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
    ch.read(java.nio.ByteBuffer.wrap(b, off, len), position)
  override def available(): Int =
    math.min(Int.MaxValue.toLong, math.max(0L, ch.size() - ch.position())).toInt
  override def close(): Unit = ch.close()
}
