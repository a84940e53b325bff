package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import java.nio.file.{Files => NFiles, Paths => NPaths, Path => NPath,
  StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Filesystem layer for ALL of [[SparkStore]]'s manifest / catalog /
  * staging / sidecar I/O — the array store's production posture is "the
  * catalog lives wherever the data lives" (the reference ships remote
  * store backends behind scheme dispatch,
  * `/root/reference/README.md:16-19`, `src/io/mandoline/impl.clj:77-119`),
  * and a 100 TB corpus does not sit on one node's disk.
  *
  * Two routes, identical semantics:
  *  - SCHEME-LESS paths (`/data/store`) take a `java.nio` fast path.
  *    This is a measured necessity, not a shortcut: without the native
  *    hadoop library, RawLocalFileSystem's per-file status loads
  *    permission info by SHELLING OUT (`ls -ld` per entry), which made
  *    a ~100-file manifest listing cost ~270 ms — paid serially on
  *    every scan-planning call (bench_stats_agg regressed 0.18 → 1.5 s
  *    before this split). Local metadata ops must stay microseconds.
  *  - SCHEME-QUALIFIED paths (`file:///`, `hdfs://`, `s3a://`, …)
  *    resolve their Hadoop FileSystem from the path. `file:///` is the
  *    CI medium for the remote route: StoreFsSpec drives the full store
  *    lifecycle through it, so the exact code a cluster runs is
  *    exercised by the local suite.
  *
  * Same shim design as [[graft.pipeline.IndexFs]] (the IVF sidecars'
  * layer) — kept separate because the store needs a wider surface
  * (tree walks, dir mtimes, no-overwrite dir renames) and IndexFs is
  * deliberately private to the pipeline package.
  *
  * Atomicity notes: [[moveInto]]/[[moveReplace]] are a single rename on
  * both routes — atomic on the local FS and HDFS; on S3-class stores
  * rename is copy+delete and the commit-file pattern degrades to
  * small-window non-atomicity exactly as every parquet table format
  * does there. [[FileSystem]] objects come from a conf-keyed JVM-local
  * cache (see [[fs]]) — never closed here.
  */
private[graft] object StoreFs {

  // Configuration cache keyed by the SparkSession that produced it —
  // newHadoopConf() CLONES the full config (classpath-XML parse, ~10 ms),
  // far too expensive per metadata call on the hot planning path. Keying
  // by session (not caching the first one forever) means a replacement
  // session's spark.hadoop.* settings (rotated s3a creds, new endpoint)
  // take effect the moment it becomes active. KNOWN LIMIT: the cache key
  // is session IDENTITY, not conf version — spark.conf.set("spark.hadoop
  // .*") changes made MID-session are ignored until a replacement
  // session becomes active (build a new session to rotate credentials;
  // Configuration exposes no cheap modification epoch to key on).
  // Executor-side calls (no active thread session) get the installed
  // driver conf if a write factory shipped one ([[installExecutorConf]]),
  // else a cached classpath default — kept in a separate field so a
  // later driver session still upgrades `conf`.
  @volatile private var cachedConf
      : (org.apache.spark.sql.SparkSession, Configuration, String) = _
  @volatile private var defaultConf: (Configuration, String) = _

  /** Content fingerprint of a Configuration (sorted key=value SHA-1).
    * Computed ONCE per conf object — at session-conf refresh, driver
    * capture, or classpath-default init — never per metadata call, and
    * shipped precomputed inside [[SerializableHadoopConf]] so executor
    * tasks never iterate the conf at all. */
  private[graft] def fingerprint(c: Configuration): String = {
    val sb = new java.lang.StringBuilder(1 << 15)
    val it = c.iterator()
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); entries += ((e.getKey, e.getValue)) }
    entries.sortInPlace()
    entries.foreach { case (k, v) =>
      sb.append(k).append('=').append(v).append('\n') }
    graft.core.Sha1.hex(sb.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Active conf plus its content fingerprint (the FS-cache key). */
  private[graft] def confFp: (Configuration, String) =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        val c = cachedConf
        if (c != null && (c._1 eq s)) (c._2, c._3)
        else {
          val n = s.sessionState.newHadoopConf()
          val fp = fingerprint(n)
          cachedConf = (s, n, fp)
          (n, fp)
        }
      case None =>
        val d = defaultConf
        if (d != null) d
        else {
          val n = new Configuration()
          val p = (n, fingerprint(n))
          defaultConf = p
          p
        }
    }

  def conf: Configuration = confFp._1

  /** Driver-side capture of the active session's resolved Hadoop conf
    * for shipping to executors inside a serialized write factory or scan
    * reader factory. The standard Spark deployment supplies Hadoop
    * settings (s3a credentials/endpoint) via spark.hadoop.* on the
    * DRIVER session — executor classpath defaults don't have them, so
    * executor-side store I/O against a remote root would fail auth
    * without this. */
  private def captureConf(): SerializableHadoopConf = {
    val (c, fp) = confFp
    new SerializableHadoopConf(c, fp)
  }

  /** [[captureConf]] wrapped in a cached BROADCAST — the form every
    * serialized scan/write factory must ship. A factory deserializes
    * once per TASK; embedding the ~1k-entry Configuration in it re-parses
    * the conf per task, which fine-grained chunked scans (thousands of
    * tiny tasks) turn into the dominant cost — measured 2.2× on the
    * storage-partitioned-join bench. A broadcast deserializes as an ID
    * and materializes the value once per executor. Cached per conf
    * fingerprint so repeated scans reuse ONE broadcast per conf
    * generation instead of re-broadcasting per plan. */
  @volatile private var cachedBc
      : (String, org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]) = _
  def broadcastConf(): org.apache.spark.broadcast.Broadcast[SerializableHadoopConf] = {
    val shc = captureConf()
    val hit = cachedBc
    if (hit != null && hit._1 == shc.fp) hit._2
    else {
      val bc = org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(shc)
      cachedBc = (shc.fp, bc)
      bc
    }
  }

  /** Executor-side install of a shipped driver conf as this JVM's
    * no-active-session default. Content-deduped: every task deserializes
    * its OWN Configuration copy, so installing by identity would churn
    * the conf-keyed FileSystem cache one instance per task (unbounded
    * s3a connection-pool growth on long-lived executors). A shipped conf
    * whose fingerprint matches the installed one is dropped — the
    * installed object stays identity-stable and [[fs]] keeps reusing its
    * FileSystems. Last-writer-wins across GENUINELY different contents
    * (rotated credentials). A live thread-local session still takes
    * precedence via the `confFp` session branch. */
  def installExecutorConf(shipped: SerializableHadoopConf): Unit =
    if (shipped != null && shipped.value != null) {
      val d = defaultConf
      if (d == null || d._2 != shipped.fp)
        defaultConf = (shipped.value, shipped.fp)
    }

  /** The nio fast path applies ONLY to scheme-less paths: an explicit
    * `file://` is a request for the Hadoop route (that's what makes the
    * remote code path locally testable). */
  private[graft] def localPath(p: String): NPath = {
    // Scheme detection per RFC 3986: a colon BEFORE the first slash marks
    // a scheme-qualified URI. This covers both the "scheme://auth/x" form
    // and Hadoop's authority-less "scheme:/x" rendering (HPath.toString
    // emits "hdfs:/x" for authority-less URIs) — matching only "://"
    // would silently misroute "hdfs:/x" to the local nio path.
    val colon = p.indexOf(':')
    val slash = p.indexOf('/')
    val hasScheme = colon > 0 && (slash < 0 || colon < slash)
    if (!hasScheme) NPaths.get(p) else null
  }

  // Conf-faithful FileSystem resolution. Hadoop's global FileSystem.CACHE
  // keys on (scheme, authority, UGI) and IGNORES conf contents, so
  // `path.getFileSystem(conf)` returns whatever instance FIRST resolved
  // that scheme in this JVM — on an executor that ran a scan task before
  // a write factory installed the driver conf, that is a CREDENTIAL-LESS
  // classpath-default instance, and staged writes fail auth even though
  // [[installExecutorConf]] ran. Resolve through a JVM-local cache keyed
  // by (conf CONTENT fingerprint, scheme, authority) via
  // FileSystem.newInstance instead: the instance always matches the conf
  // contents that asked for it, and a genuinely different conf (rotated
  // credentials, replacement session) gets a fresh instance. Content
  // keying (not identity) is what bounds the cache: every write/read
  // task deserializes its OWN Configuration copy, and identity keying
  // would mint one never-closed FileSystem (s3a connection pools) per
  // task on a long-lived executor. Entries are never closed — they live
  // for the JVM like Hadoop's own cached instances; growth is bounded by
  // (distinct conf CONTENTS seen) × (schemes used), a handful in any
  // real process. Scan-manifest/chunk parquet READS resolve their
  // FileSystem via parquet-mr's path.getFileSystem(conf) with the conf
  // from [[conf]] (the shipped driver conf on executors) — the global
  // Hadoop cache they hit is seeded by the FIRST resolution, which under
  // the factory-install ordering always carries the driver settings.
  private val fsInstances =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), FileSystem]

  private def fs(p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    val (c, fp) = confFp
    val uri = hp.toUri
    // scheme-less relative HPaths can only arise on the nio route, which
    // never reaches here; default scheme "file" guards the residual case
    val scheme = Option(uri.getScheme).getOrElse("file")
    val auth = Option(uri.getAuthority).getOrElse("")
    val f = fsInstances.computeIfAbsent((fp, scheme, auth),
      _ => FileSystem.newInstance(uri, c))
    (f, hp)
  }

  /** Child path under `p` (single segment or a relative subpath). */
  def child(p: String, name: String): String = {
    val lp = localPath(p)
    if (lp != null) lp.resolve(name).toString
    else new HPath(p, name).toString
  }

  /** Last path segment. */
  def name(p: String): String = new HPath(p).getName

  def parent(p: String): String = {
    val lp = localPath(p)
    if (lp != null) lp.getParent.toString else new HPath(p).getParent.toString
  }

  def exists(p: String): Boolean = {
    val lp = localPath(p)
    if (lp != null) NFiles.exists(lp)
    else { val (f, hp) = fs(p); f.exists(hp) }
  }

  def isDirectory(p: String): Boolean = {
    val lp = localPath(p)
    if (lp != null) NFiles.isDirectory(lp)
    else {
      val (f, hp) = fs(p)
      try f.getFileStatus(hp).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    }
  }

  def mkdirs(p: String): Unit = {
    val lp = localPath(p)
    if (lp != null) { NFiles.createDirectories(lp); () }
    else { val (f, hp) = fs(p); f.mkdirs(hp); () }
  }

  def mtime(p: String): Long = {
    val lp = localPath(p)
    if (lp != null) NFiles.getLastModifiedTime(lp).toMillis
    else { val (f, hp) = fs(p); f.getFileStatus(hp).getModificationTime }
  }

  def setMtimeNow(p: String): Unit = {
    val lp = localPath(p)
    if (lp != null)
      NFiles.setLastModifiedTime(lp, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis()))
    else { val (f, hp) = fs(p); f.setTimes(hp, System.currentTimeMillis(), -1) }
  }

  def size(p: String): Long = {
    val lp = localPath(p)
    if (lp != null) NFiles.size(lp)
    else { val (f, hp) = fs(p); f.getFileStatus(hp).getLen }
  }

  /** Direct children as (fullPath, name, mtime, isDir); empty when `p`
    * is absent. Child paths keep the flavor of the input path. */
  def list(p: String): Seq[(String, String, Long, Boolean)] = {
    val lp = localPath(p)
    if (lp != null) {
      if (!NFiles.exists(lp)) Seq.empty
      else scala.util.Using.resource(NFiles.list(lp)) { s =>
        s.iterator().asScala.map { c =>
          (c.toString, c.getFileName.toString,
            NFiles.getLastModifiedTime(c).toMillis, NFiles.isDirectory(c))
        }.toSeq
      }
    } else {
      val (f, hp) = fs(p)
      if (!f.exists(hp)) Seq.empty
      else f.listStatus(hp).toSeq.map(s =>
        (s.getPath.toString, s.getPath.getName, s.getModificationTime,
          s.isDirectory))
    }
  }

  /** Direct child FILES of `p` as (fullPath, name, length); empty when
    * `p` is absent. */
  def listFiles(p: String): Seq[(String, String, Long)] = {
    val lp = localPath(p)
    if (lp != null) {
      if (!NFiles.exists(lp)) Seq.empty
      else scala.util.Using.resource(NFiles.list(lp)) { s =>
        s.iterator().asScala.filter(NFiles.isRegularFile(_))
          .map(c => (c.toString, c.getFileName.toString, NFiles.size(c))).toSeq
      }
    } else {
      val (f, hp) = fs(p)
      if (!f.exists(hp)) Seq.empty
      else f.listStatus(hp).toSeq.filter(_.isFile)
        .map(s => (s.getPath.toString, s.getPath.getName, s.getLen))
    }
  }

  /** Every FILE under `p`, recursive, as full paths (empty when absent). */
  def filesUnder(p: String): Seq[String] = {
    val lp = localPath(p)
    if (lp != null) {
      if (!NFiles.exists(lp)) Seq.empty
      else scala.util.Using.resource(NFiles.walk(lp)) { s =>
        s.iterator().asScala.filter(NFiles.isRegularFile(_))
          .map(_.toString).toSeq
      }
    } else {
      val (f, hp) = fs(p)
      if (!f.exists(hp)) Seq.empty
      else {
        val out = Seq.newBuilder[String]
        val it = f.listFiles(hp, true)
        while (it.hasNext) out += it.next().getPath.toString
        out.result()
      }
    }
  }

  /** Sum of file sizes under `p` (0 when absent). */
  def treeSize(p: String): Long = {
    val lp = localPath(p)
    if (lp != null) {
      if (!NFiles.exists(lp)) 0L
      else scala.util.Using.resource(NFiles.walk(lp)) {
        _.iterator().asScala.filter(NFiles.isRegularFile(_))
          .map(NFiles.size).sum
      }
    } else {
      val (f, hp) = fs(p)
      if (!f.exists(hp)) 0L
      else {
        var total = 0L
        val it = f.listFiles(hp, true)
        while (it.hasNext) total += it.next().getLen
        total
      }
    }
  }

  /** Newest mtime anywhere in the tree (the "has this staging dir gone
    * silent" probe). Long.MaxValue on listing errors — callers treat
    * the tree as still live. */
  def newestMtime(p: String): Long = {
    val lp = localPath(p)
    if (lp != null) {
      try scala.util.Using.resource(NFiles.walk(lp)) {
        _.iterator().asScala
          .map(c => NFiles.getLastModifiedTime(c).toMillis)
          .foldLeft(0L)(math.max)
      } catch { case _: java.io.IOException => Long.MaxValue }
    } else {
      try {
        val (f, hp) = fs(p)
        var newest = f.getFileStatus(hp).getModificationTime
        val it = f.listFiles(hp, true)
        while (it.hasNext)
          newest = math.max(newest, it.next().getModificationTime)
        newest
      } catch { case _: java.io.IOException => Long.MaxValue }
    }
  }

  def readString(p: String): String = {
    val lp = localPath(p)
    if (lp != null) NFiles.readString(lp)
    else {
      val (f, hp) = fs(p)
      val len = f.getFileStatus(hp).getLen
      require(len <= (64L << 20), s"metadata file $p unexpectedly large ($len bytes)")
      val buf = new Array[Byte](len.toInt)
      scala.util.Using.resource(f.open(hp))(_.readFully(0, buf))
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  def readLines(p: String): Seq[String] =
    readString(p).split('\n').toSeq.filter(_.nonEmpty)

  /** Raw create-overwrite output stream (executor-side staged-fragment
    * writers). On executors there is no active thread SparkSession; the
    * Configuration is the driver conf the write factory shipped via
    * [[installExecutorConf]] (so spark.hadoop.* s3a credentials work on
    * the standard deployment), falling back to classpath defaults —
    * still correct for file:// and clusters that ship core-site on the
    * executor classpath. */
  def createStream(p: String): java.io.OutputStream = {
    val lp = localPath(p)
    if (lp != null) NFiles.newOutputStream(lp)
    else { val (f, hp) = fs(p); f.create(hp, true) }
  }

  /** Plain create-overwrite (for paths no reader races). */
  def writeString(p: String, s: String): Unit = {
    val lp = localPath(p)
    if (lp != null) { NFiles.writeString(lp, s); () }
    else {
      val (f, hp) = fs(p)
      scala.util.Using.resource(f.create(hp, true))(
        _.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
  }

  /** Atomic create-no-overwrite empty file (completion markers). Throws
    * IOException when it already exists or cannot be created. */
  def createMarker(p: String): Unit = {
    val lp = localPath(p)
    if (lp != null) { NFiles.createFile(lp); () }
    else {
      val (f, hp) = fs(p)
      scala.util.Using.resource(f.create(hp, false))(_ => ())
    }
  }

  /** Rename with NO overwrite — both files and whole directory trees.
    * Returns false when dst already exists or src is missing — the
    * no-clobber commit primitive. The Hadoop route is deliberately
    * FileContext, not FileSystem.rename: the latter silently moves src
    * INTO an existing dst directory (POSIX mv semantics), which would
    * turn a lost publish race into nested garbage instead of a clean
    * refusal. */
  def moveInto(src: String, dst: String): Boolean = {
    val (ls, ld) = (localPath(src), localPath(dst))
    if (ls != null && ld != null) {
      if (NFiles.exists(ld) || !NFiles.exists(ls)) false
      else try { NFiles.move(ls, ld, StandardCopyOption.ATOMIC_MOVE); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.nio.file.FileSystemException
          if NFiles.exists(ld) || !NFiles.exists(ls) => false
      }
    } else {
      val d = new HPath(dst)
      try {
        FileContext.getFileContext(d.toUri, conf)
          .rename(new HPath(src), d, Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.FileNotFoundException => false
        case e: java.io.IOException
          if exists(dst) || !exists(src) => false
      }
    }
  }

  /** Rename that REPLACES an existing destination file atomically
    * (FileContext supports OVERWRITE; FileSystem.rename does not on
    * some schemes). */
  def moveReplace(src: String, dst: String): Unit = {
    val (ls, ld) = (localPath(src), localPath(dst))
    if (ls != null && ld != null) {
      NFiles.move(ls, ld,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ()
    } else {
      val d = new HPath(dst)
      FileContext.getFileContext(d.toUri, conf)
        .rename(new HPath(src), d, Options.Rename.OVERWRITE)
    }
  }

  def copyFile(src: String, dst: String): Unit = {
    val (ls, ld) = (localPath(src), localPath(dst))
    if (ls != null && ld != null) {
      if (ld.getParent != null) NFiles.createDirectories(ld.getParent)
      NFiles.copy(ls, ld, StandardCopyOption.REPLACE_EXISTING)
      ()
    } else {
      val (sf, sp) = fs(src)
      val (df, dp) = fs(dst)
      org.apache.hadoop.fs.FileUtil.copy(sf, sp, df, dp,
        /*deleteSource=*/ false, /*overwrite=*/ true, conf)
      ()
    }
  }

  /** Delete one file; missing is fine, IO errors propagate. */
  def delete(p: String): Unit = {
    val lp = localPath(p)
    if (lp != null) { NFiles.deleteIfExists(lp); () }
    else { val (f, hp) = fs(p); f.delete(hp, false); () }
  }

  def deleteIfExists(p: String): Unit =
    try delete(p) catch { case _: java.io.IOException => () }

  // one shared JVM shutdown hook for every tree deleted at exit (a hook
  // thread per registration would accumulate in long-lived drivers)
  private val exitTrees =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => exitTrees.forEach { dir =>
      try deleteTree(dir) catch { case _: java.io.IOException => }
    }))

  /** Delete the tree at `dir` when the JVM exits (best effort). */
  def deleteAtExit(dir: String): Unit = {
    exitHook
    exitTrees.add(dir)
    ()
  }

  /** A fresh local temp dir, deleted when the JVM exits. */
  def tempDirAtExit(prefix: String): String = {
    val dir = NFiles.createTempDirectory(prefix).toString
    deleteAtExit(dir)
    dir
  }

  /** Recursive tree delete; missing is fine. */
  def deleteTree(p: String): Unit = {
    val lp = localPath(p)
    if (lp != null) {
      if (NFiles.exists(lp))
        scala.util.Using.resource(NFiles.walk(lp)) {
          _.iterator().asScala.toSeq.reverse.foreach(NFiles.deleteIfExists)
        }
    } else { val (f, hp) = fs(p); f.delete(hp, true); () }
  }
}

/** Java-serializable carrier for a Hadoop [[Configuration]] (which is
  * itself Writable but not Serializable) plus its content fingerprint,
  * computed ONCE on the driver so executor installs can dedupe by
  * content without ever iterating the conf. Shipped inside DSv2 write
  * AND scan factories so executor-side [[StoreFs]] calls resolve
  * FileSystems with the DRIVER session's spark.hadoop.* settings instead
  * of executor classpath defaults. Same shape as Spark's internal
  * SerializableConfiguration (not used directly: private[spark]). */
private[graft] final class SerializableHadoopConf(
    @transient var value: Configuration, val fp: String) extends Serializable {
  def this(value: Configuration) = this(value, StoreFs.fingerprint(value))
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
