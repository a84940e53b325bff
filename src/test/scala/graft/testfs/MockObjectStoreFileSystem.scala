package graft.testfs

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files => NFiles, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only Hadoop FileSystem with OBJECT-STORE rename semantics, so the
  * store's remote route is exercised against the unfriendly case without
  * network access (the reference keeps its remote backends behind the
  * same store protocol and tests them through swappable fixtures —
  * /root/reference/README.md:16-19, src/io/mandoline/impl.clj:77-119).
  *
  * `file:///` (Hadoop LocalFileSystem) gives every rename POSIX atomicity;
  * an S3-class store does not. This mock backs `mockfs://` URIs with the
  * local disk but degrades EVERY rename the way s3a does:
  *  - rename = recursive copy + delete of the source, NOT an atomic move;
  *  - each individual object becomes visible atomically (S3 PUT/COPY is
  *    per-object atomic), but a DIRECTORY rename is a sequence of
  *    per-object copies — a crash mid-sequence leaves a PARTIAL
  *    destination tree and the full source behind;
  *  - rename onto an existing destination reports false (no implicit
  *    replace), and the existence check is check-then-act, not atomic.
  * Listing is immediate (modern S3 is strongly consistent, so no
  * eventual-consistency emulation).
  *
  * Crash injection: set [[MockObjectStoreFileSystem.failNextCopyMatching]]
  * to a destination-name substring; the next per-object copy whose target
  * matches throws BEFORE that object becomes visible and clears the flag
  * (one-shot), emulating a client crash at the worst moment of a
  * copy-based "rename".
  *
  * Registered via META-INF/services (FileSystem route — also reaches the
  * bare-Configuration readers) and `fs.AbstractFileSystem.mockfs.impl`
  * on the test session (FileContext commit route).
  */
class MockObjectStoreFileSystem extends RawLocalFileSystem {

  // Conf-faithfulness tripwire: a real object store rejects clients that
  // didn't present credentials, and ours come in exclusively via the
  // DRIVER session's spark.hadoop.* settings (SparkTestSession sets
  // mockfs.credential there). Any code path that resolves mockfs through
  // a bare classpath-default Configuration — instead of the session conf
  // or the shipped-and-installed driver conf (StoreFs.captureConf /
  // installExecutorConf) — fails HERE, loudly, at initialize time.
  // SparkTestSession also sets fs.mockfs.impl.disable.cache=true so
  // Hadoop's global FileSystem cache can't launder a credentialed
  // instance to a credential-less caller.
  override def initialize(uri: URI, conf: Configuration): Unit = {
    val cred = conf.get(MockObjectStoreFileSystem.CredentialKey)
    if (cred != MockObjectStoreFileSystem.CredentialValue)
      throw new IOException(
        s"mockfs: missing/wrong ${MockObjectStoreFileSystem.CredentialKey} " +
          "— this FileSystem was resolved from a Configuration that did " +
          "not carry the driver session's settings (conf-faithfulness " +
          "violation: reads/writes must resolve through the session conf " +
          "or the factory-shipped driver conf)")
    super.initialize(uri, conf)
  }

  override def getScheme: String = MockObjectStoreFileSystem.Scheme

  // NOT backed by a field: the RawLocalFileSystem super-constructor calls
  // getUri() (via getInitialWorkingDirectory → makeQualified) before Scala
  // field initializers run, and a null here makes Hadoop's ServiceLoader
  // silently drop the provider ("No FileSystem for scheme mockfs").
  override def getUri: URI = MockObjectStoreFileSystem.SchemeUri

  // RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permissions
  // lazily via `new java.io.File(path.toUri)`, which rejects any URI whose
  // scheme isn't "file". Build eager plain FileStatus objects instead
  // (fixed permissions — an object store has no POSIX permission bits
  // anyway, which makes this the more faithful mock).
  private def statusFor(f: File, qualified: Path): FileStatus =
    new FileStatus(
      if (f.isDirectory) 0L else f.length(), f.isDirectory, 1,
      getDefaultBlockSize(qualified), f.lastModified(), f.lastModified(),
      if (f.isDirectory) MockObjectStoreFileSystem.DirPerm
      else MockObjectStoreFileSystem.FilePerm,
      System.getProperty("user.name"), System.getProperty("user.name"),
      qualified)

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    if (!file.exists())
      throw new java.io.FileNotFoundException(s"mockfs: no such object $f")
    statusFor(file, makeQualified(f))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (!file.exists())
      throw new java.io.FileNotFoundException(s"mockfs: no such object $f")
    if (file.isFile) Array(statusFor(file, makeQualified(f)))
    else {
      val kids = Option(file.listFiles()).getOrElse(
        throw new IOException(s"mockfs: cannot list $f"))
      // legacy-S3 eventual LIST visibility emulation: a freshly PUT
      // object (mtime within the lag) is absent from LISTINGS while
      // point reads (getFileStatus/open) already see it — the classic
      // LIST-after-PUT inconsistency window. Directories stay visible.
      val lag = MockObjectStoreFileSystem.listVisibilityLagMs
      val cutoff = System.currentTimeMillis() - lag
      kids.filter(k => lag <= 0 || k.isDirectory || k.lastModified() <= cutoff)
        .sortBy(_.getName)
        .map(k => statusFor(k, makeQualified(new Path(f, k.getName))))
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val s = pathToFile(src)
    val d = pathToFile(dst)
    if (!s.exists() || d.exists()) return false
    MockObjectStoreFileSystem.renameCount.incrementAndGet()
    copyLikeObjectStore(s, d)
    if (!org.apache.hadoop.fs.FileUtil.fullyDelete(s))
      throw new IOException(s"mockfs: could not delete rename source $s")
    true
  }

  /** Per-object-atomic copy; directories copy child by child in sorted
    * order (deterministic partial states under crash injection). */
  private def copyLikeObjectStore(s: File, d: File): Unit = {
    if (s.isDirectory) {
      if (!d.mkdirs() && !d.isDirectory)
        throw new IOException(s"mockfs: cannot create directory $d")
      val kids = Option(s.listFiles()).getOrElse(Array.empty[File]).sortBy(_.getName)
      kids.foreach(k => copyLikeObjectStore(k, new File(d, k.getName)))
    } else {
      MockObjectStoreFileSystem.beforeNextCopyMatching match {
        case (m, hook) if d.getPath.contains(m) =>
          MockObjectStoreFileSystem.beforeNextCopyMatching = null
          hook()
        case _ =>
      }
      maybeCrash(d)
      val tmp = new File(d.getParentFile, "." + d.getName + ".copytmp")
      NFiles.copy(s.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      // local atomic move = the object's atomic visibility on PUT/COPY
      if (!tmp.renameTo(d)) {
        tmp.delete()
        throw new IOException(s"mockfs: could not publish copied object $d")
      }
    }
  }

  // matches against the FULL destination path, so a test can target one
  // adopt surface ("index/var=") where the file NAMES are identical
  // across surfaces (part-*.parquet for both chunks and index rows)
  private def maybeCrash(d: File): Unit = {
    val m = MockObjectStoreFileSystem.failNextCopyMatching
    if (m != null && d.getPath.contains(m)) {
      MockObjectStoreFileSystem.failNextCopyMatching = null
      throw new IOException(
        s"mockfs: injected crash during copy-rename of $d (matched '$m')")
    }
  }
}

object MockObjectStoreFileSystem {
  val Scheme = "mockfs"
  /** Conf key every mockfs resolution must carry (see initialize). */
  val CredentialKey = "mockfs.credential"
  val CredentialValue = "open-sesame"
  val SchemeUri: URI = URI.create(Scheme + ":///")
  val FilePerm: FsPermission = FsPermission.valueOf("-rw-rw-rw-")
  val DirPerm: FsPermission = FsPermission.valueOf("drwxrwxrwx")
  /** One-shot crash injection: destination-PATH substring to fail on. */
  @volatile var failNextCopyMatching: String = _
  /** One-shot interleaving injection: (destination-PATH substring, hook).
    * The hook runs, and the slot clears, right before the next
    * per-object copy whose target matches — on the copying thread, so a
    * test can land another writer's work between two steps of a rename
    * sequence. */
  @volatile var beforeNextCopyMatching: (String, () => Unit) = _
  /** When > 0, objects PUT within the last N ms are invisible to
    * listStatus (legacy-S3 eventual LIST visibility); point reads stay
    * consistent. Reset to 0 after use. */
  @volatile var listVisibilityLagMs: Long = 0L
  val renameCount = new java.util.concurrent.atomic.AtomicLong()
}

/** FileContext adapter for the mockfs scheme (configured as
  * `fs.AbstractFileSystem.mockfs.impl`); the store's no-clobber commit
  * renames go through FileContext, which resolves AbstractFileSystem,
  * not FileSystem. */
class MockAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new MockObjectStoreFileSystem, conf,
    MockObjectStoreFileSystem.Scheme, false)
