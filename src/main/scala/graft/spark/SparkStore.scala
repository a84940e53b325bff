package graft.spark

import graft.core._
import graft.filters.FilterChain
import graft.meta.DatasetMeta
import graft.metrics.Instrument
import graft.spark.source.{ChunkBlobReader, ChunkFileScope, ChunkSlabCursor, GraftScan,
  PinnedGraftTable, Resolved}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Spark-native, Parquet-backed dataset store — the distributed counterpart
  * of the reference's DynamoDB/SQLite backends, designed per SURVEY.md §7.1:
  *
  *   root/<dataset>/versions/<vid>.json   committed version manifests
  *   root/<dataset>/index/                Parquet (var, version, seq, coord, hash)
  *   root/chunks/                         Parquet (hash, ref, bytes) — shared
  *                                        across datasets (cross-dataset dedup,
  *                                        reference: backend/mem.clj:15-17)
  *
  * Scale design (100 TB target):
  *  - ingest is ONE shuffle: slab fragments are clipped to their chunk at
  *    shred time (so shuffle volume ≤ data volume), hash-partitioned by
  *    chunk coordinate — each coordinate is owned by exactly one task, which
  *    makes the reference's CAS retry loop unnecessary intra-job
  *    (reference: impl.clj:246-278; SURVEY §4).
  *  - writes take the reads' point/range split (SparkVersionWriter): an
  *    update touching ≤ GraftScan.PointLookupThreshold chunks resolves
  *    its bases to the driver — with no Spark job at all when its input
  *    is driver-held and small (GraftScan.onDriver) — and every pass
  *    lands its blobs in hash-range part files, one landing per range.
  *  - chunk blobs are written once, content-deduplicated within the
  *    batch (drop-adjacent over hash-sorted rows) and against the store
  *    by a by-hash probe of the candidate chunk files (reference dedup
  *    bound: test/io/mandoline/impl_test.clj:17-39).
  *  - reads enumerate ONLY covering chunk coordinates (array-analog of
  *    partition pruning, reference: io/mandoline.clj:250-256) — generated
  *    distributedly with spark.range, never collected on the driver — and
  *    pre-filter the index scan with per-axis coordinate range predicates
  *    before the MVCC resolve.
  *  - MVCC resolve = max_by((version,seq)) over committed-ancestry ∪ the
  *    in-flight version, reproducing the reference's "greatest committed
  *    version ≤ target" read rule (reference: backend/mem.clj:32-49).
  */
final class SparkStore(val spark: SparkSession, val root: String) {
  import SparkStore._

  // The expire tripwire in [[resolvedIndexPinned]] turns an
  // expire-under-a-live-pin into a LOUD refusal — but only if Spark is
  // not configured to swallow the symptom: with
  // spark.sql.files.ignoreMissingFiles=true, an expireHistory landing
  // in the tripwire's residual TOCTOU window (between the plan-time
  // floor-manifest probe and the scan's file listing/execution) would
  // silently DROP the expired index partitions and serve fill instead
  // of failing. Refuse the combination up front, at handle construction.
  require(!spark.conf.get("spark.sql.files.ignoreMissingFiles", "false")
      .toBoolean,
    "SparkStore requires spark.sql.files.ignoreMissingFiles=false: with " +
      "it true, an expireHistory racing a pinned read inside the expire " +
      "tripwire's plan-to-execute window would silently read fill for " +
      "expired coordinates instead of failing loudly")

  // All catalog/manifest/staging I/O goes through StoreFs (Hadoop
  // FileSystem resolved per path), so `root` may be a local path, a
  // file:/// URI, or any configured remote scheme (hdfs://, s3a://) —
  // the reference's production posture (impl.clj:77-119). Paths are
  // plain strings end to end; Spark's own parquet reads/writes accept
  // the same scheme-qualified strings.
  private def dsPath(name: String): String = StoreFs.child(root, name)
  private def versionsDir(name: String): String =
    StoreFs.child(dsPath(name), "versions")
  def indexDir(name: String): String = StoreFs.child(dsPath(name), "index")
  def chunksDir: String = StoreFs.child(root, "chunks")

  // ---- catalog (V1/V7/V8) ----

  /** Shared create/clone target validation: a dataset name is a single
    * path segment under the store root. Dot-prefixed names collide with
    * internal temp/staging dirs; separators and '..' would resolve the
    * dataset OUTSIDE (or below) the root — reachable from SQL via
    * CALL system.clone, so this is an injection guard, not just hygiene.
    * ':' must be rejected too: on a scheme-qualified root, Hadoop's
    * `new Path(parent, "file:x")` treats the colon-bearing child as an
    * absolute URI and resolves it OUTSIDE the store root entirely (e.g.
    * destroy("file:x") on an hdfs:// root would deleteTree a LOCAL path
    * relative to the JVM's CWD). */
  private def validateDatasetName(name: String, ctx: String): Unit = {
    if (name == null || name.trim.isEmpty)
      throw new IllegalArgumentException(s"$ctx: dataset name must be a non-empty string")
    if (name.startsWith(".") || name == "chunks" ||
        name.contains("/") || name.contains("\\") || name.contains("..") ||
        name.contains(":"))
      throw new IllegalArgumentException(s"$ctx: bad dataset name '$name'")
  }

  def create(name: String): Unit = {
    validateDatasetName(name, "create")
    if (StoreFs.exists(dsPath(name)))
      throw new IllegalStateException(s"""dataset with name "$name" already exists.""")
    StoreFs.mkdirs(versionsDir(name))
  }

  def destroy(name: String): Unit = {
    // Same injection guard as create/clone: destroy is SQL-reachable via
    // DROP NAMESPACE ... CASCADE, and an unvalidated name like ".." or
    // "chunks" would delete the store root's parent or every dataset's
    // shared content-addressed blobs.
    validateDatasetName(name, "destroy")
    StoreFs.deleteTree(dsPath(name))
    // a re-created dataset must never inherit the destroyed generation's
    // verified-chain verdicts (vids are epoch-ms, so collision is
    // implausible — but free to rule out)
    verifiedChains.synchronized {
      verifiedChains.keySet.removeIf(_._1 == name); ()
    }
    manifestCache.synchronized {
      manifestCache.keySet.removeIf(_._1 == name); ()
    }
  }

  def listDatasets: Seq[String] =
    StoreFs.list(root).collect {
      case (_, n, _, isDir) if isDir && n != "chunks" && !n.startsWith(".") => n
    }

  def datasetExists(name: String): Boolean = StoreFs.exists(dsPath(name))

  // ---- versions (V2-V6) ----

  /** Committed versions, reverse-chronological (V4). */
  def versions(name: String): Seq[(Long, Long)] = // (timestamp, versionId)
    versionManifests(name).map { case (ts, vid, _) => (ts, vid) }

  /** DESCRIBE HISTORY analog, newest first: (versionId, committed-ms,
    * isCheckpoint, #variables) per committed version — the inspection
    * twin of compact/expireHistory (also `CALL …system.history('ds')`). */
  def history(name: String): Seq[(Long, Long, Boolean, Int)] =
    versionManifests(name).map { case (ts, vid, m) =>
      (vid, ts, SparkStore.isCheckpoint(m), m.variables.size)
    }

  /** One manifest-listing pass: (timestamp, versionId, meta) newest
    * first. Committed-version resolution needs both the ordering and the
    * checkpoint marker — a separate listing per question would double
    * the manifest parsing on every read-planning call. */
  private def versionManifestsRaw(name: String): Seq[(Long, Long, DatasetMeta)] = {
    val dir = versionsDir(name)
    if (!StoreFs.exists(dir)) throw new IllegalArgumentException(
      s"""dataset with name "$name" does not exist.""")
    StoreFs.list(dir)
      .filter { case (_, n, _, _) => n.endsWith(".json") }
      .map { case (p, n, _, _) =>
        // committed <vid>.json manifests are WRITE-ONCE (published by
        // tmp + move, never modified; expire/fork-rollback only DELETE
        // whole files), so the parsed content is cached per handle and
        // the LISTING stays authoritative for which vids exist — a
        // deleted manifest drops out of the listing and its cache entry
        // goes unused. Without this, every listing re-GETs and re-parses
        // every manifest: the deep-history probe measured per-COMMIT
        // wall drifting 1.08 s → ~2.8 s across the first 1000 versions
        // of a 2000-version history from exactly this O(n)-per-listing,
        // O(n²)-per-history re-parsing.
        val vidOpt = n.stripSuffix(".json").toLongOption
        val cached = vidOpt.flatMap(v => manifestCached(name, v))
        val m = cached.getOrElse {
          val mm = DatasetMeta.fromJson(StoreFs.readString(p))
          // cache only when the filename vid matches the content's own
          // id (defensive: a mismatched file must never alias an entry)
          if (vidOpt.exists(mm.versionId.contains))
            cacheManifest(name, vidOpt.get, mm)
          mm
        }
        (extractTimestamp(m), m.versionId.get, m)
      }
      .sortBy { case (ts, vid, _) => (ts, vid) }.reverse
  }

  /** See [[versionManifestsRaw]]: per-handle write-once manifest cache,
    * access-ordered LRU like [[verifiedChains]]; purged by destroy. */
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long), DatasetMeta](
        64, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), DatasetMeta]): Boolean =
        size() > 20000
    }

  private def manifestCached(name: String, vid: Long): Option[DatasetMeta] =
    manifestCache.synchronized { Option(manifestCache.get((name, vid))) }

  private def cacheManifest(name: String, vid: Long, m: DatasetMeta): Unit =
    manifestCache.synchronized {
      if (!manifestCache.containsKey((name, vid)))
        manifestCache.put((name, vid), m)
      ()
    }

  /** [[versionManifestsRaw]] plus read-side FORK RESOLUTION — normally a
    * no-op (linear histories pass through untouched). If two manifests
    * claim the SAME parent, a race slipped past commitVersion's
    * parent-latest check (possible only on a store with delayed listing
    * visibility, and only when the losing committer crashed between its
    * manifest PUT and its post-commit verify's rollback): the
    * (timestamp, versionId)-MIN child is the committed one — its writer
    * committed first in real time and its own verify passed — and the
    * other branch is an orphan that every reader must ignore, along with
    * its descendants. This makes a forked history unreadable-by-
    * construction even when the loser never cleaned up. */
  private def versionManifests(name: String): Seq[(Long, Long, DatasetMeta)] = {
    val raw = versionManifestsRaw(name)
    if (raw.isEmpty) return raw
    val losers = scala.collection.mutable.Set.empty[Long]
    raw.groupBy(_._3.parent).valuesIterator.filter(_.lengthCompare(1) > 0)
      .foreach(g => losers ++= g.sortBy(t => (t._1, t._2)).tail.map(_._2))
    // DANGLING-PARENT orphaning: a manifest whose parent manifest is
    // ABSENT from the listing chains onto a version that was rolled back
    // under it (a rival fork verify deleted it between this child's
    // parent-latest check and its commit) — the branch must be as
    // unreadable as if the duplicate-parent evidence were still present.
    // CHECKPOINTS are exempt: expireHistory legitimately deletes every
    // pre-checkpoint manifest, leaving the checkpoint itself as the
    // (self-contained) root of the surviving chain.
    val present = raw.map(_._2).toSet
    raw.foreach { case (_, v, m) =>
      // confirm absence with a DIRECT point probe before orphaning: a
      // lagging LISTING omitting one committed mid-chain manifest must
      // not transiently hide its whole descendant suffix — point GETs
      // on long-visible objects are consistent where listings are not
      if (m.parent.exists(p => !present(p)) && !SparkStore.isCheckpoint(m)
          && m.parent.exists(p =>
            !StoreFs.exists(StoreFs.child(versionsDir(name), s"$p.json"))))
        losers += v
    }
    if (losers.isEmpty) raw
    else {
      var changed = true
      while (changed) { // orphan descendants of a dropped branch
        changed = false
        raw.foreach { case (_, v, m) =>
          if (!losers(v) && m.parent.exists(losers)) { losers += v; changed = true } }
      }
      raw.filterNot(t => losers(t._2))
    }
  }

  def metadata(name: String, versionId: Long): DatasetMeta = {
    val p = StoreFs.child(versionsDir(name), s"$versionId.json")
    require(StoreFs.exists(p), s"no committed version $versionId in dataset $name")
    DatasetMeta.fromJson(StoreFs.readString(p))
  }

  /** Point-GET resolution of an explicitly pinned version — the hot-path
    * twin of the fork-resolved LISTING. Gating a pinned read on
    * [[versionManifests]] has two failure modes the committer's own probe
    * rule ("a point GET is consistent where a listing is not") already
    * names: on an eventually-consistent store a just-committed manifest
    * can be transiently absent from the listing (a valid pinned read
    * would spuriously refuse), and it turns an O(1) GET into parsing
    * every manifest in the dataset. So: probe `<vid>.json` directly,
    * then walk the PARENT CHAIN by point GETs (O(depth), floored by the
    * nearest checkpoint) to honor the same dangling-parent orphaning the
    * listing applies — a child chained onto a version that a rival's
    * fork verify rolled back stays unreadable by explicit vid.
    *
    * A duplicate-parent loser whose manifest survived a pre-rollback
    * crash has an INTACT chain and is served here: its vid is hidden
    * from every listing and was never acknowledged to its writer, so an
    * explicit pin of it is deliberate archaeology reading that branch's
    * own internally-consistent view — not a torn read. */
  private[graft] def committedMetadata(name: String, vid: Long): DatasetMeta = {
    val dir = versionsDir(name)
    if (!StoreFs.exists(dir)) throw new IllegalArgumentException(
      s"""dataset with name "$name" does not exist.""")
    val path = StoreFs.child(dir, s"$vid.json")
    require(StoreFs.exists(path),
      s"no committed version $vid in dataset $name " +
        "(missing, or orphaned by fork resolution)")
    val m = DatasetMeta.fromJson(StoreFs.readString(path))
    pinnedChain(name, m) // verify (or re-use the cached verified chain)
    m
  }

  /** The pinned version's verified PARENT CHAIN, walked by point GETs
    * (O(depth), floored by the nearest checkpoint — inclusive), ordered
    * pinned-first. This is both the orphan VERIFY [[committedMetadata]]
    * gates on and the ADMISSIBLE VERSION SET a pinned DATA read resolves
    * over (see [[resolvedIndexPinned]]) — metadata and data resolution
    * share one source of truth, so a pinned read is chain-consistent
    * end-to-end: a lagging listing can neither refuse the pin NOR
    * silently drop the pinned version's own writes, and a
    * duplicate-parent loser pin serves ITS branch's rows, never the
    * rival winner's.
    *
    * The chain is cached per STORE INSTANCE (not JVM-wide): a handle
    * that verified a chain keeps resolving that snapshot — while a
    * FRESH handle (each DSv2 resolve constructs its own SparkStore)
    * re-walks, so a fork rollback that orphans the branch after the
    * fact is still refused to every new reader. The cached chain is
    * otherwise almost-immutable: expireHistory deletes only
    * strictly-below-checkpoint manifests the checkpoint-floored walk
    * never reaches. vid's OWN manifest is point-probed by every
    * [[committedMetadata]] call before this runs. */
  private[graft] def pinnedChain(name: String,
      pinned: DatasetMeta): IndexedSeq[DatasetMeta] = {
    val vid = pinned.versionId.get
    val key = (name, vid)
    val cached = chainCached(key)
    if (cached != null) return cached
    val dir = versionsDir(name)
    val buf = scala.collection.mutable.ArrayBuffer(pinned)
    var cur = pinned
    val seen = scala.collection.mutable.Set(vid)
    while (cur.parent.isDefined && !SparkStore.isCheckpoint(cur)) {
      val p = cur.parent.get
      require(seen.add(p), s"version chain of $name has a cycle at $p")
      val pp = StoreFs.child(dir, s"$p.json")
      require(StoreFs.exists(pp),
        s"version $vid of $name is orphaned by fork resolution: ancestor " +
          s"$p was rolled back by a rival's fork verify")
      cur = DatasetMeta.fromJson(StoreFs.readString(pp))
      buf += cur
    }
    val chain = buf.toIndexedSeq
    cacheChain(key, chain)
    chain
  }

  /** See [[pinnedChain]]: per-instance verified chains, pinned-first.
    * Bounded ACCESS-ORDERED (LRU): a LinkedHashMap in access order whose
    * eldest entry is dropped past the cap, under the map's own lock —
    * so a burst of inserts evicts the COLDEST chains, never a just-read
    * hot one (the previous arbitrary-iterator eviction could), and a
    * listing over a >cap version history cycles the tail instead of
    * rebuilding every hot chain. Expired/rolled-back vids may linger as
    * stale verdicts until evicted; that is safe — their DATA reads are
    * guarded by the expire tripwire in [[resolvedIndexPinned]] and
    * their manifests are re-probed by [[committedMetadata]]. */
  private val verifiedChains =
    new java.util.LinkedHashMap[(String, Long), IndexedSeq[DatasetMeta]](
        64, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), IndexedSeq[DatasetMeta]])
          : Boolean = size() > 10000
    }

  private def chainCached(key: (String, Long)): IndexedSeq[DatasetMeta] =
    verifiedChains.synchronized { verifiedChains.get(key) }

  private def cacheChain(key: (String, Long),
      chain: IndexedSeq[DatasetMeta]): Unit =
    verifiedChains.synchronized {
      // skip when present: a no-op put would still churn access order
      // relative to the reader that just verified the same chain
      if (!verifiedChains.containsKey(key)) verifiedChains.put(key, chain)
      ()
    }

  /** The fork-resolved listing WITH its parsed manifests, for callers
    * that pick a version from the listing and then read it — re-GETting
    * and re-parsing the manifest the listing just served (plus a chain
    * walk) would be pure redundant round trips. Every listed vid is by
    * construction chain-intact, so the verified-chain cache is seeded
    * from the already-parsed manifests (memoized suffix-sharing walk,
    * zero extra GETs); a vid whose parent the listing transiently lags
    * is simply left unseeded and falls back to the lazy point-GET walk. */
  private[graft] def listedManifests(name: String): Seq[(Long, Long, DatasetMeta)] = {
    val vs = versionManifests(name)
    val byId = vs.map { case (_, v, m) => v -> m }.toMap
    // memo values: the chain, or null = proven unseedable (missing parent
    // in the listing, or a cyclic link) — both fall back to the lazy
    // point-GET walk on demand. Iterative (a multi-thousand-version
    // un-compacted history must not blow the stack on a LISTING call)
    // and cycle-guarded like pinnedChain's walk.
    val memo = scala.collection.mutable.Map[Long, IndexedSeq[DatasetMeta]]()
    def seedChain(m0: DatasetMeta): Unit = {
      val path = scala.collection.mutable.ArrayBuffer[DatasetMeta]()
      val seen = scala.collection.mutable.Set[Long]()
      var cur = m0
      var suffix: IndexedSeq[DatasetMeta] = null
      var ok = true
      var done = false
      while (!done) {
        val v = cur.versionId.get
        if (memo.contains(v)) { suffix = memo(v); done = true }
        else if (!seen.add(v)) { ok = false; done = true } // cycle
        else {
          path += cur
          if (cur.parent.isEmpty || SparkStore.isCheckpoint(cur)) {
            suffix = IndexedSeq.empty; done = true
          } else byId.get(cur.parent.get) match {
            case Some(pm) => cur = pm
            case None => ok = false; done = true
          }
        }
      }
      if (ok && suffix != null) {
        var acc = suffix
        var i = path.length - 1
        while (i >= 0) {
          acc = path(i) +: acc
          memo(path(i).versionId.get) = acc
          i -= 1
        }
      } else path.foreach(m => memo(m.versionId.get) = null)
    }
    vs.foreach { case (_, v, m) =>
      // skip vids already verified — repeated listings of an unchanged
      // dataset must not rebuild (and then discard) every chain per call
      if (chainCached((name, v)) == null) {
        seedChain(m)
        val c = memo(v)
        if (c != null) cacheChain((name, v), c)
      }
    }
    vs
  }

  def reader(name: String): SparkDatasetReader = new SparkDatasetReader(this, name)

  /** V2 add-version (reference: src/io/mandoline.clj:143-158). */
  /** addVersion whose committed version REPLACES `varName` (INSERT
    * OVERWRITE semantics): at-or-after it, `varName` resolves from this
    * version's writes alone — unwritten regions read fill; other
    * variables and time travel below it are untouched. */
  def addReplaceVersion(name: String, meta: DatasetMeta,
      varName: String): SparkVersionWriter = {
    require(meta.variables.contains(varName),
      s"replace target $varName is not a variable of $name")
    val w = addVersion(name, meta)
    new SparkVersionWriter(this, name,
      SparkStore.markReplace(w.meta, varName), w.parentMeta)
  }

  def addVersion(name: String, meta: DatasetMeta): SparkVersionWriter = {
    val vs = versions(name)
    val parentMeta = vs.headOption.map { case (_, vid) => metadata(name, vid) }
    DatasetMeta.validate(meta)
    val inherited = parentMeta match {
      case Some(p) => DatasetMeta.inherit(meta, p)
      case None => meta.copy(parent = None)
    }
    new SparkVersionWriter(this, name, DatasetMeta.newVersion(inherited), parentMeta)
  }

  /** Reconstruct an in-flight writer from its token (V9). Token writers
    * are SHARED: the version may be written concurrently from several
    * processes, so their writes verify-and-retry chunk ownership (see
    * SparkVersionWriter.shared). */
  def writerFromToken(name: String, token: String): SparkVersionWriter = {
    val meta = DatasetMeta.fromJson(token)
    new SparkVersionWriter(this, name, meta, meta.parent.map(metadata(name, _)),
      shared = true)
  }

  /** V3 finish-version: atomic manifest write after re-checking the parent
    * is still latest (reference: src/io/mandoline.clj:292-310), plus a
    * post-commit FORK VERIFY for cross-process races the check cannot
    * see. The reference documents its own ms-scale window here; ours is
    * closed in two layers:
    *  - the manifest lands via a NO-CLOBBER move — a same-vid rival can
    *    never silently overwrite a committed manifest;
    *  - after the move, the committer re-lists the manifests (after a
    *    settle window on schemes whose LISTINGS may lag PUT visibility —
    *    `graft.commit.settle.ms` / GRAFT_COMMIT_SETTLE_MS, default 250;
    *    file/hdfs listings are strongly consistent and skip it) and, if
    *    a SIBLING manifest with the same parent and smaller (ts, vid)
    *    exists, DELETES its own manifest and throws: the rival committed
    *    first, and at most one child of any parent survives. A loser
    *    that crashes before its rollback is additionally neutralized by
    *    the read-side fork resolution in [[versionManifests]].
    */
  private[spark] def commitVersion(name: String, meta: DatasetMeta): Long =
      Instrument.timed("store.commitVersion") {
    val vid = meta.versionId.get
    val myTs =
      // the read-latest / parent-check / stamp / move sequence is atomic
      // per dataset within this JVM (see SparkStore.commitLock); without
      // it two committers can both see the same latest and stamp
      // duplicate "strictly monotonic" timestamps
      SparkStore.commitLock(root, name).synchronized {
        val vs = versions(name)
        val latest = vs.headOption.map(_._2)
        if (latest != meta.parent)
          throw new IllegalStateException(
            s"version $vid has parent ${meta.parent.getOrElse("none")}, " +
              s"but the latest version is ${latest.getOrElse("none")} — " +
              "a rival committed first; re-run addVersion/finishVersion " +
              "on the new latest")
        // shared-writer TOCTOU closure: a co-writer that lands AFTER
        // another writer's post-write ownership verify is invisible to it —
        // only the committer, running after every co-writer is done, sees
        // all index rows. Validate per-chunk provenance coverage and
        // repair torn chunks BEFORE the manifest makes them readable.
        repairTornWrites(name, meta)
        // commit timestamps are STRICTLY monotonic per dataset (like version
        // ids): two commits in one millisecond would otherwise make
        // onTimestamp resolution ambiguous between them
        val ts = math.max(System.currentTimeMillis(),
          vs.headOption.map(_._1 + 1).getOrElse(0L))
        val withTs = stampTimestamp(meta, ts)
        val tmp = StoreFs.child(versionsDir(name), s".$vid.json.tmp")
        StoreFs.writeString(tmp, withTs.toJson)
        if (!StoreFs.moveInto(tmp, StoreFs.child(versionsDir(name), s"$vid.json"))) {
          StoreFs.deleteIfExists(tmp)
          throw new IllegalStateException(
            s"version $vid of $name was already committed by a rival writer " +
              "(same version id) — re-run addVersion/finishVersion on the new latest")
        }
        ts
      }
    // fork verify OUTSIDE the JVM lock: it defends against OTHER
    // processes (the in-JVM race is already closed above), and holding
    // the lock through a settle window would serialize unrelated commits
    verifyNoFork(name, myTs, vid, meta.parent)
    vid
  }

  /** Post-commit fork check; deletes OUR manifest and throws when a rival
    * committed the same parent first. See [[commitVersion]]. */
  private def verifyNoFork(name: String, myTs: Long, myVid: Long,
      myParent: Option[Long]): Unit = {
    val scheme = Option(new org.apache.hadoop.fs.Path(root).toUri.getScheme)
    // file/hdfs listings are strongly consistent AND stamped by the same
    // clock that orders visibility; everything else may return a listing
    // that does not yet include a rival's just-PUT manifest, so wait out
    // the visibility lag before trusting the absence of siblings
    if (!scheme.forall(s => s == "file" || s == "hdfs")) {
      val settle = sys.props.get("graft.commit.settle.ms")
        .orElse(sys.env.get("GRAFT_COMMIT_SETTLE_MS"))
        .map(_.toLong).getOrElse(250L)
      if (settle > 0) Thread.sleep(settle)
    }
    val raw = versionManifestsRaw(name)
    // Our PARENT may itself have been rolled back under us by ITS OWN
    // fork verify (we chained onto it inside the rival's settle window).
    // A commit on a rolled-back parent is part of the losing branch:
    // withdraw it. Checkpoint parents aside, a fresh commit's parent is
    // the previous latest, which concurrent expireHistory never deletes
    // (it only drops versions strictly below the newest checkpoint).
    // probe the parent DIRECTLY (never via the listing): withdrawing a
    // healthy commit because a lagging listing omitted its parent would
    // turn eventual consistency into data loss — a point GET on a
    // long-visible object is consistent where a listing is not
    if (myParent.exists(p =>
        !StoreFs.exists(StoreFs.child(versionsDir(name), s"$p.json")))) {
      StoreFs.deleteIfExists(StoreFs.child(versionsDir(name), s"$myVid.json"))
      throw new IllegalStateException(
        s"commit of version $myVid rolled back: its parent " +
          s"${myParent.get} was rolled back by a rival's fork verify — " +
          "re-run addVersion/finishVersion on the new latest")
    }
    val rival = raw
      .filter { case (_, v, m) => v != myVid && m.parent == myParent }
      .find { case (ts, v, _) => ts < myTs || (ts == myTs && v < myVid) }
    rival.foreach { case (_, rivalVid, _) =>
      // Roll back — but NEVER delete a manifest a successor has already
      // chained onto: deleting it would erase the duplicate-parent
      // evidence while leaving the child dangling. Leave both in place
      // and let the read-side resolution orphan our branch (duplicate
      // parent → (ts, vid)-min wins → descendants dropped); a child that
      // lands AFTER this check is caught by its own parent-exists verify
      // above (settle windows ≥ 2× the store's visibility lag make the
      // two checks see each other's writes).
      val hasChild = raw.exists(_._3.parent.contains(myVid))
      if (!hasChild)
        StoreFs.deleteIfExists(StoreFs.child(versionsDir(name), s"$myVid.json"))
      throw new IllegalStateException(
        s"commit of version $myVid rolled back: rival version $rivalVid " +
          s"committed parent ${myParent.getOrElse("none")} first — a forked " +
          "history was prevented; re-run addVersion/finishVersion on the " +
          "new latest")
    }
  }

  /** Commit-time torn-write validation + repair — the append-only
    * completion of the shared-writer CAS analog. Post-write ownership
    * verification (SparkVersionWriter.verifySharedWrite) converges the
    * COMMON races, but has an inherent TOCTOU hole: a co-writer whose
    * row lands after another writer's verify is invisible to it, and
    * the later row can "win" a chunk without having folded the earlier
    * writer's cells. The committer is the one actor that runs after
    * every co-writer is done (the reference's master/slave contract:
    * script.clj:54-83 — slaves report done, THEN the master commits),
    * so it can see all rows.
    *
    * Soundness rule, computed per chunk from provenance links. Two
    * coverage strengths exist, and the walk must track which one it
    * holds — conflating them is unsound:
    *
    *  - FULL (content containment): the hash's entire content appears
    *    in the winner. Holds for the winner itself, and propagates
    *    along `baseHash` edges FROM a full-covered hash only (a fold
    *    output contains its base's content — transitive).
    *  - FRAGMENT (write-call cells survive): only the row's own diff
    *    cells are guaranteed re-delivered. Propagates along
    *    `replacesHash` edges from ANY covered hash (a CAS retry
    *    re-delivers its superseded row's cells; retries chain). A
    *    fragment-covered hash must NOT push its `baseHash`: the
    *    superseded row's base content was never re-delivered, so a row
    *    reachable only as "base of a replaced row" can still be torn
    *    (e.g. writer A's write#1 reachable only through the base link
    *    of A's replaced write#2 — write#2's retry carried write#2's
    *    cells, not write#1's).
    *
    * Rows with an equal hash have equal content and share the hash's
    * coverage. The chunk is sound iff every row's hash is covered (at
    * either strength). An uncovered row is TORN: its cells may be
    * missing from the winner.
    *
    * Repair replays the version's per-chunk history: each row's
    * effective cells are the elements where its blob differs from its
    * recorded base's blob (an element re-written with its base value is
    * a semantic no-op), folded in (seq, hash) order onto the
    * version-start content — exactly the cell set the reference's
    * per-chunk CAS loop would have accumulated. The repaired blob lands
    * through the normal staged append with a seq above every existing
    * row, so resolve picks it. Idempotent: a re-run computes the same
    * content, sees its hash already winning, and appends nothing.
    *
    * Cost when no contention: variables whose vid index partition holds
    * a single ingest generation (one write job UUID in its part-file
    * names) are skipped with one directory listing and ZERO Spark jobs
    * — every single-writer path. Multi-generation variables pay one
    * metadata-only scan of their vid partition; blobs are touched only
    * for chunks actually torn. */
  private def repairTornWrites(name: String, meta: DatasetMeta): Unit = {
    val vid = meta.versionId.get
    val genRe = "part-\\d+-([0-9a-fA-F-]{36})".r
    val cand = meta.variables.keys.toSeq.sorted.filter { varN =>
      val dir = StoreFs.child(
        StoreFs.child(indexDir(name), s"var=$varN"), s"version=$vid")
      StoreFs.list(dir).iterator.map(_._2)
        .flatMap(n => genRe.findFirstMatchIn(n).map(_.group(1)))
        .toSet.size > 1
    }
    if (cand.isEmpty) return
    import spark.implicits._
    val metaJson = meta.toJson

    // 1. metadata-only torn detection over the candidate vars' vid rows
    // (explicit partition paths: only the candidates' OWN vid partitions,
    // never a whole-index listing — see admittedIndexDF)
    val rows = cand.map(v => admittedIndexDF(name, v, Seq(vid)))
      .reduce(_ union _)
      .filter(col("version") === vid && col("var").isin(cand: _*))
      .select(col("var"), col("coordKey"), col("coord"), col("seq"),
        col("hash"), col("baseHash"), col("replacesHash"))
      .as[(String, String, Array[Long], Long, String, Option[String], Option[String])]
    val torn = rows.groupByKey(r => (r._1, r._2)).flatMapGroups {
      (_: (String, String), it: Iterator[(String, String, Array[Long], Long,
        String, Option[String], Option[String])]) =>
        val rs = it.toArray
        if (rs.length <= 1) Iterator.empty
        else {
          val byHash = rs.groupBy(_._5)
          val winner = rs.maxBy(r => (r._4, r._5))
          // hash -> 1 (FULL) | 0 (FRAGMENT); absent = uncovered
          val covered = scala.collection.mutable.Map.empty[String, Int]
          val stack = scala.collection.mutable.Stack((winner._5, 1))
          while (stack.nonEmpty) {
            val (h, lvl) = stack.pop()
            val cur = covered.getOrElse(h, -1)
            if (lvl > cur) {
              covered(h) = lvl
              byHash.getOrElse(h, Array.empty).foreach { r =>
                if (lvl == 1) // merge base: FULL-covered parents only
                  r._6.filter(_.nonEmpty).foreach(bh => stack.push((bh, 1)))
                if (cur < 0) // CAS-retry superseded rows: FRAGMENT
                  r._7.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
                    .foreach(rh => stack.push((rh, 0)))
              }
            }
          }
          if (rs.forall(r => covered.contains(r._5))) Iterator.empty
          else rs.iterator
        }
    }.toDF("var", "coordKey", "coord", "seq", "hash", "baseHash", "replacesHash")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (torn.isEmpty) return

      // 2. version-start content for the torn coordinates (the pristine
      //    base terminal-provenance rows diffed against): parent resolve,
      //    or fill for no-parent / REPLACE variables
      val tornVars = torn.select("var").distinct().as[String].collect().toSeq
      // chain-scoped on the committing version's own parent manifest —
      // same rationale as the write-path base resolve
      lazy val pMeta = meta.parent.map(metadata(name, _))
      val parents = tornVars.flatMap { varN =>
        pMeta match {
          case Some(pm) if !SparkStore.isReplaceOf(meta, varN) =>
            Some(resolvedIndexPinned(name, varN, pm)
              .join(torn.filter(col("var") === varN).select("coordKey"),
                Seq("coordKey"), "left_semi")
              .select(lit(varN).as("var"), col("coordKey"),
                col("hash").as("parentHash")))
          case _ => None
        }
      }.reduceOption(_ unionByName _)
        .getOrElse(spark.emptyDataset[(String, String, String)]
          .toDF("var", "coordKey", "parentHash"))

      // 3. attach blobs (torn chunks only), fetched by hash. A missing
      //    blob arrives as null bytes and the fold below throws on it:
      //    replaying history without a row's cells, its base's or the
      //    version-start content would append a WRONG "repaired" blob.
      val withBytes = withBlobs(withBlobs(torn, "hash", "rowBytes"),
          "baseHash", "baseBytes")
        .select(col("var"), col("coordKey"), col("coord"), col("seq"),
          col("hash"), col("baseHash"), col("rowBytes"), col("baseBytes"))
        .as[(String, String, Array[Long], Long, String, Option[String],
          Option[Array[Byte]], Option[Array[Byte]])]
      val parentBytes = withBlobs(parents, "parentHash", "parentBytes")
        .select(col("var"), col("coordKey"), col("parentHash"),
          col("parentBytes"))
        .as[(String, String, String, Option[Array[Byte]])]

      // 4. per-chunk diff-fold replay
      val repaired = withBytes.groupByKey(r => (r._1, r._2))
        .cogroup(parentBytes.groupByKey(p => (p._1, p._2))) {
          case ((varN, ck), rIt, pIt) =>
            val rs = rIt.toArray.sortBy(r => (r._4, r._5))
            if (rs.isEmpty) Iterator.empty
            else {
              val m = DatasetMeta.fromJson(metaJson)
              val dt = m.dtype(varN)
              val coord = rs.head._3.toVector
              val chunkSlice = m.chunkSlice(varN, coord)
              val pristine = pIt.toSeq.headOption
                .map(p => FilterChain.decode(p._4.getOrElse(
                  throw new java.io.IOException(
                    s"torn-write repair: parent blob ${p._3} of " +
                      s"$name/$varN@$ck missing from the chunk store"))))
                .getOrElse(Slab.empty(dt, chunkSlice, m.fill(varN)).bytes)
              val state = pristine.clone()
              rs.foreach { r =>
                val base = r._6.filter(_.nonEmpty) match {
                  case Some(bh) => FilterChain.decode(r._8.getOrElse(
                    throw new java.io.IOException(
                      s"torn-write repair: base blob $bh of " +
                        s"$name/$varN@${r._2} missing from the chunk store")))
                  case None => pristine
                }
                val rowB = r._7.getOrElse(throw new java.io.IOException(
                  s"torn-write repair: row blob ${r._5} of " +
                    s"$name/$varN@${r._2} missing from the chunk store"))
                Slab.applyDiff(dt, base, FilterChain.decode(rowB), state)
              }
              val winner = rs.maxBy(r => (r._4, r._5))
              val slab = Slab(dt, chunkSlice, state)
              val h = slab.contentHash
              if (h == winner._5) Iterator.empty // already converged
              else {
                val framed = FilterChain.encode(m.filters match {
                  case Nil => FilterChain.DefaultWriteChain
                  case f => f
                }, state)
                val st = slab.stats
                val replaced = rs.iterator.map(_._5)
                  .filter(_ != winner._5).toSeq.distinct.mkString(",")
                Iterator((varN, ck, coord.toArray, winner._4 + 1L, h,
                  framed, st.cnt, st.lmin, st.lmax, st.lsum, st.dmin,
                  st.dmax, st.nan, winner._4, winner._5, replaced))
              }
            }
        }.toDF("var", "coordKey", "coord", "seq", "hash", "bytes",
          "scnt", "slmin", "slmax", "slsum", "sdmin", "sdmax", "snan",
          "baseSeq", "baseHash", "replacesHash")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        if (repaired.isEmpty) return
        appendBlobsRange(repaired)
        appendIndexRows(name, indexRowsOf(repaired, col("var"), vid,
          col("seq"), col("replacesHash")))
      } finally repaired.unpersist()
    } finally torn.unpersist()
  }

  // ---- physical tables ----

  private[spark] def indexDF(name: String): DataFrame = {
    val dir = indexDir(name)
    if (!StoreFs.exists(dir)) spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], indexSchema)
    // explicit schema: (var, version) resolve from the partition dirs, and
    // files predating the stats column read it as null (no mergeSchema scan)
    else spark.read.schema(indexSchema).parquet(dir)
  }

  /** `rows` plus a `bytesCol` column: the framed blob of each row's
    * `hashCol` hash, fetched BY HASH — the one blob fetch for hash lists
    * that are not a read window (write-path bases, diffs, torn-write
    * repair). Never a join against the chunk table,
    * which would scan every blob byte in the store. Rows are
    * repartitioned into the scan manifest's hash buckets
    * (`ChunkFileScope.hashBucket`, n = spark.sql.shuffle.partitions) and
    * sorted by hash, so each task reads hash-contiguous batches
    * of ≤ `ChunkBlobReader.OrTreeLimit` hashes, each through only the
    * chunk files whose hash range can hold one: a bulk update opens each
    * chunk file about once. The chunk-file listing is taken once, now,
    * on the driver. A null or empty hash fetches nothing (null bytes). A
    * blob missing for a real hash yields null bytes too — or, with
    * `requireKeyCol`, fails the task with `SparkPinnedReader.requireBlob`'s
    * error naming that column's chunk. */
  private[spark] def withBlobs(rows: DataFrame, hashCol: String,
      bytesCol: String, requireKeyCol: Option[String] = None): DataFrame = {
    val rangedBc = spark.sparkContext.broadcast(ChunkFileScope.ranged(this))
    val hconfBc = StoreFs.broadcastConf()
    val n = spark.sessionState.conf.numShufflePartitions
    val bucketed = rows
      .repartition(n, ChunkFileScope.hashBucket(col(hashCol), n))
      .sortWithinPartitions(hashCol)
    val hi = bucketed.schema.fieldIndex(hashCol)
    val ki = requireKeyCol.fold(-1)(bucketed.schema.fieldIndex)
    bucketed.mapPartitions { (it: Iterator[Row]) =>
      StoreFs.installExecutorConf(hconfBc.value)
      def hashOf(r: Row) = Option(r.getString(hi)).filter(_.nonEmpty).orNull
      ChunkFileScope.fetchByHash(rangedBc.value, it)(hashOf).map { case (r, bytes) =>
        if (ki >= 0) SparkPinnedReader.requireBlob(r.getString(ki), hashOf(r), bytes)
        Row.fromSeq(r.toSeq :+ bytes)
      }
    }(Encoders.row(bucketed.schema.add(bytesCol, BinaryType)))
  }

  /** Crash recovery for vacuum's two-rename swap: if the live chunks dir
    * is missing but the pre-swap copy exists, restore it (reads must
    * never silently degrade to fill values). */
  private def healChunksDir(): Unit = {
    val old = StoreFs.child(root, ".chunks_old")
    if (!StoreFs.exists(chunksDir) && StoreFs.exists(old))
      StoreFs.moveInto(old, chunksDir)
  }

  /** V10 get-stats: storage sizes in bytes
    * (reference: impl/protocol.clj:75-82). */
  def getStats(name: String): Map[String, Long] = Map(
    "metadata-size" -> StoreFs.treeSize(versionsDir(name)),
    "index-size" -> StoreFs.treeSize(indexDir(name)),
    "data-size" -> StoreFs.treeSize(chunksDir))

  /** Fresh scan-manifest directory for a DSv2 large-scan planning job —
    * under the store root so executors share it. Best-effort cleanup at
    * JVM exit (one shared hook, not one thread per scan); vacuum() also
    * sweeps manifests older than max(grace, ManifestSweepMinAge) — the
    * floor protects manifests of still-running long scans. */
  private[graft] def newScanManifestDir(): String = {
    val base = StoreFs.child(root, ".scan_manifest")
    val dir = StoreFs.child(base, java.util.UUID.randomUUID().toString)
    StoreFs.mkdirs(base)
    StoreFs.deleteAtExit(dir)
    dir
  }

  /** Keyed scan-manifest cache lookup. A manifest is a PURE function of
    * (dataset, variable, versionId, chunk window, bucket layout) over an
    * immutable version: it never goes stale — not even under blob
    * compaction, which rewrites files but preserves every (linear, hash)
    * row the manifest stores. Sweeping one is disk housekeeping only (the
    * next scan re-plans). A hit refreshes the dir's mtime so hot manifests
    * survive the age sweep; the repeated-full-scan planning job (the
    * recoverable ~18% of a large DSv2 read) is skipped entirely. */
  private[graft] def cachedScanManifest(key: String): Option[String] = {
    val dir = StoreFs.child(StoreFs.child(root, ".scan_manifest"), key)
    if (!StoreFs.exists(StoreFs.child(dir, SparkStore.ManifestCompleteMarker))) None
    else {
      try StoreFs.setMtimeNow(dir)
      catch { case _: java.io.IOException => }
      Some(dir)
    }
  }

  /** Publish a fully-written staging manifest under its cache key: write
    * the completion marker LAST, then one atomic same-filesystem rename.
    * Losing the rename race (a concurrent identical scan won) or a
    * cross-filesystem move falls back to this scan's staging copy — which
    * stays registered for JVM-exit cleanup; the winner serves the cache. */
  private[graft] def publishScanManifest(staging: String, key: String): String = {
    val dst = StoreFs.child(StoreFs.child(root, ".scan_manifest"), key)
    try StoreFs.createMarker(StoreFs.child(staging, SparkStore.ManifestCompleteMarker))
    catch { case _: java.io.IOException => return staging }
    try {
      if (StoreFs.moveInto(staging, dst)) dst else staging
    } catch { case _: java.io.IOException => staging }
  }

  private def sweepScanManifests(cutoffMs: Long): Unit = {
    val base = StoreFs.child(root, ".scan_manifest")
    StoreFs.list(base)
      .filter { case (_, _, mtime, _) => mtime <= cutoffMs }
      .foreach { case (d, _, _, _) =>
        // completion marker FIRST: if any later delete fails, the dir
        // reads as incomplete (a cache miss), never as complete-but-empty
        StoreFs.deleteIfExists(StoreFs.child(d, SparkStore.ManifestCompleteMarker))
        try StoreFs.deleteTree(d) catch { case _: java.io.IOException => }
      }
  }

  /** Content-addressed garbage collection: drop chunk blobs not referenced
    * by ANY dataset's index (committed or in-flight — index rows are
    * append-only, so chunks of uncommitted versions are retained). The
    * refcount column stays advisory (−1), like the reference's
    * unimplemented refcounting (impl.clj:253-254); GC derives liveness
    * relationally instead. Returns #removed.
    *
    * Safe under concurrent ingest via `graceMs`: writeRows appends blobs
    * BEFORE their index rows, so a vacuum in that window would see the new
    * blobs as unreferenced and drop live data. Chunk parquet files younger
    * than the grace window are never touched; files appended WHILE vacuum
    * runs are also never touched — compaction adds new part files and then
    * deletes exactly the old files it read (no directory swap), so a crash
    * or race at any point leaves at worst duplicate blob rows, which
    * readers tolerate and the next vacuum compacts. Pass graceMs = 0 only
    * when no ingest can be running. Concurrent READERS of the specific
    * old files being deleted can still fail mid-query — schedule vacuum
    * off-peak. */
  def vacuum(graceMs: Long = SparkStore.VacuumGraceMs): Long =
      Instrument.timed("store.vacuum") {
    healChunksDir()
    sweepScanManifests(System.currentTimeMillis() -
      math.max(graceMs, SparkStore.ManifestSweepMinAgeMs))
    val cutoff = System.currentTimeMillis() - graceMs
    val old = StoreFs.list(chunksDir).collect {
      case (p, n, mtime, _) if n.endsWith(".parquet") && mtime <= cutoff => p
    }
    if (old.isEmpty) {
      if (StoreFs.exists(chunksDir)) compactRangeSidecars()
      0L
    } else {
      // mark phase: live hashes from every dataset's index PLUS any
      // in-flight clone temp trees — a clone still copying references blobs
      // that only ITS temp index names (the temp dirs are invisible to
      // listDatasets by design, so they need an explicit leg). Clones are
      // concurrent-safe via two mechanisms: (a) ignoreMissingFiles below —
      // a clone LANDING mid-mark renames its temp files away, which must
      // not crash the mark job; (b) the pre-delete snapshot check at the
      // bottom — if any dataset or clone-tmp appeared/vanished while we
      // marked, the sweep yields (deletes nothing) and the next vacuum
      // retries against a quiesced root. The one unsupported interleaving
      // is destroy(src) issued WHILE a clone of that same src is in flight
      // — inherently contradictory (the clone itself fails mid-copy).
      def rootSnapshot(): (Set[String], Set[String]) = {
        val entries = StoreFs.list(root)
        (listDatasets.toSet,
         entries.collect { case (_, n, _, _) if n.startsWith(".clone_tmp_") => n }.toSet)
      }
      val snapBefore = rootSnapshot()
      val cloneTmpIdx = StoreFs.list(root)
        .collect { case (p, n, _, _) if n.startsWith(".clone_tmp_") =>
          StoreFs.child(p, "index") }
        .filter(StoreFs.exists)
        .map(p => spark.read.schema(indexSchema)
          .option("ignoreMissingFiles", "true").parquet(p).select("hash"))
      val referenced = (listDatasets.map(ds => indexDF(ds).select("hash")) ++
          cloneTmpIdx)
        .reduceOption(_ union _)
        .getOrElse(spark.emptyDataFrame.withColumn("hash", lit("")).select("hash"))
        .distinct()
      val oldDF = spark.read.schema(SparkStore.chunksSchema)
        .parquet(old: _*)
      val before = oldDF.count()
      val keptDir = StoreFs.child(root, ".chunks_compact")
      StoreFs.deleteTree(keptDir) // leftover from a crashed vacuum
      oldDF.join(referenced, Seq("hash"), "left_semi")
        .dropDuplicates("hash") // compact duplicate rows from racy appends
        // range-partition: compaction leaves the WHOLE swept store as one
        // disjoint-file generation (see appendBlobsRange)
        .repartitionByRange(col("hash")).sortWithinPartitions("hash")
        .write.option("compression", "uncompressed").mode("overwrite").parquet(keptDir)
      val after = spark.read.parquet(keptDir).count()
      // Pre-delete snapshot check: if a dataset or clone temp tree appeared
      // or vanished while the mark ran, its references may be missing from
      // `referenced` — yield without deleting anything. Vacuum is periodic;
      // losing one cycle to a concurrent clone/create is the safe trade.
      if (rootSnapshot() != snapBefore) {
        StoreFs.deleteTree(keptDir)
        0L
      } else {
        // adopt the compacted part files into the live dir (part-file names
        // carry fresh UUIDs — no collision), then delete exactly the files we
        // compacted; concurrent appends are untouched throughout
        val adopted = adoptChunkFiles(keptDir)
        old.foreach(StoreFs.delete)
        // every chunk file at or before the cutoff is gone now: their
        // sidecars are fully stale — sweep them (and crashed-ingest staging
        // leftovers), and record the compacted generation's ranges
        sweepRangeSidecars(cutoff)
        sweepChunkStaging(cutoff)
        writeChunkRangeSidecar(adopted)
        compactRangeSidecars()
        before - after
      }
    }
  }

  /** OPTIMIZE / checkpoint (beyond the reference, whose resolve always
    * scans the full version ancestry): materialize the MVCC-resolved
    * index of the latest committed version as a NEW version marked as a
    * checkpoint. No chunk blobs move — the checkpoint's index rows
    * reference the existing content-addressed blobs — and the write is
    * one distributed pass per variable (the same resolve a read plans,
    * appended under the new `(var, version=W)` partition).
    *
    * Resolution at or after the checkpoint then admits ONLY versions ≥ W
    * (see pinnedAdmissible): read planning cost becomes O(changes since the
    * last compact) instead of O(total version history) — what keeps a
    * long-lived, frequently-updated dataset readable after 10⁴ commits.
    * Time travel below W still resolves over the pre-checkpoint history;
    * the streaming version-tail source skips W (nothing changed in it).
    * Commit is the same atomic manifest move as any version: a crashed
    * compact leaves only an invisible uncommitted partition. */
  def compact(name: String): Long = Instrument.timed("store.compact") {
    SparkStore.commitLock(root, name).synchronized {
      val vs = versions(name)
      require(vs.nonEmpty, s"compact($name): no committed versions")
      val latest = vs.head._2
      val latestMeta = metadata(name, latest)
      // user extra metadata survives the checkpoint; the commit re-stamps
      // graft-committed-at and markCheckpoint adds the flag on top
      val w = addVersion(name,
        latestMeta.copy(versionId = None, parent = None))
      val vid = w.meta.versionId.get
      latestMeta.variables.keys.toSeq.sorted.foreach { varN =>
        if (hasIndexData(name, varN, Some(latest), vid))
          appendIndexRows(name, resolvedIndexPinned(name, varN, latestMeta)
            .select(lit(varN).as("var"), lit(vid).as("version"),
              lit(0L).as("seq"), col("coordKey"), col("coord"), col("hash"),
              col("stats"), lit(-1L).as("baseSeq"), lit("").as("baseHash"),
              lit(null).cast("string").as("replacesHash")))
      }
      commitVersion(name, SparkStore.markCheckpoint(w.meta))
    }
  }

  /** Retention: physically drop the index partitions AND version
    * manifests of every version strictly below the dataset's newest
    * checkpoint. The checkpoint's index alone answers every read at or
    * after it, so the expired partitions are dead weight for current
    * readers; blobs referenced ONLY by expired versions lose their last
    * index reference and the next `vacuum` reclaims them — the
    * compact → expireHistory → vacuum triad is the full storage-
    * maintenance cycle. Time travel to an expired version throws the
    * explicit "no committed version" error (never a silently-partial
    * read: the manifest is gone, not just the rows); a reader PINNED
    * before the expire refuses via the floor-manifest tripwire
    * (see resolvedIndexPinned). Returns the number of versions expired.
    *
    * Expiry is by RAW manifest listing, so hidden duplicate-parent
    * losers below the checkpoint expire too: the crash-archaeology pin
    * ([[committedMetadata]]) is a pre-expire affordance — after
    * expireHistory, EVERYTHING below the checkpoint refuses with the
    * same explicit error, loser branches included (never a
    * manifest-intact/rows-gone silent-fill read).
    *
    * Operator note: do not run expireHistory CONCURRENTLY with a
    * cloneDataset of the same source — the clone copies index files and
    * then the snapshotted manifests, and an expire landing mid-clone
    * deletes files the clone is about to copy, failing the clone LOUDLY
    * (copyFile throws; nothing partial becomes visible). Maintenance
    * and clones of one dataset belong in one serial schedule (the
    * commitLock serializes commits, not clones). */
  def expireHistory(name: String): Long = Instrument.timed("store.expireHistory") {
    SparkStore.commitLock(root, name).synchronized {
      val cp = latestCheckpointUpTo(name, Long.MaxValue).getOrElse(
        throw new IllegalStateException(
          s"expireHistory($name): no checkpoint — run compact first"))
      // RAW listing, not the fork-resolved one: hidden duplicate-parent
      // losers below cp must expire WITH their index rows — keeping a
      // loser's manifest while sweeping its rows would turn the
      // archaeology pin into a silent fill read (worst when the loser
      // is itself a checkpoint-marked crashed compact, whose one-element
      // chain passes the floor tripwire). Raw-listing recomputation is
      // also what makes the manifest pass RETRY-HEALING: a manifest
      // orphaned by a crashed earlier attempt is invisible to the
      // fork-resolved listing (dangling parent) but still raw-listed,
      // so the retry deletes it instead of leaving permanent litter.
      val expired = versionManifestsRaw(name).map(_._2).filter(_ < cp).toSet
      // MANIFESTS FIRST, index rows second: a crash between the two then
      // leaves only INVISIBLE orphan index rows (no manifest → not
      // listed, and the chain walk refuses). The reverse order's crash
      // window is silently WRONG: listed, chain-intact manifests whose
      // index rows are gone read as fill. The manifest probe is also
      // what the pinned-read expire tripwire keys on (see
      // resolvedIndexPinned) — deleting it first closes that window too.
      expired.foreach(v =>
        StoreFs.deleteIfExists(StoreFs.child(versionsDir(name), s"$v.json")))
      // The index sweep deletes EVERY version=<v> partition with v < cp —
      // deliberately independent of the (just-shrunk) manifest set, so a
      // retried expireHistory after a crash mid-sweep still removes the
      // previous attempt's orphans (whose manifests are already gone;
      // an `expired`-keyed filter would skip them forever, and their
      // rows would pin blobs against vacuum's mark phase). Sound
      // because nothing below cp remains resolvable: listings serve
      // ≥ cp only, chains refuse on the deleted manifests, and an
      // in-flight writer with vid < cp is already doomed — its parent
      // predates the checkpoint, so its commit fails the parent-latest
      // check regardless of these rows.
      StoreFs.list(indexDir(name))
        .collect { case (p, n, _, _) if n.startsWith("var=") => p }
        .foreach { vd =>
          StoreFs.list(vd)
            .filter { case (_, n, _, _) =>
              n.stripPrefix("version=").toLongOption.exists(_ < cp) }
            .foreach { case (pdir, _, _, _) => StoreFs.deleteTree(pdir) }
        }
      expired.size.toLong
    }
  }

  /** Zero-copy dataset clone (the SHALLOW-CLONE analog; beyond the
    * reference): `dst` gets copies of `src`'s version manifests and
    * index rows, referencing the SAME content-addressed chunk blobs —
    * no cell data moves, so cost is metadata-scale (index ≈
    * 1/chunkVolume of the data) however big the array is. Blob sharing
    * is safe because blobs are immutable and `vacuum` marks live hashes
    * across ALL datasets: destroying either side never strands the
    * other, and writes after the clone diverge normally (each side
    * appends its own versions; shared history stays shared).
    *
    * Concurrency & crash safety: the committed-manifest set is
    * snapshotted FIRST, then the index is copied, then exactly the
    * snapshotted manifests — a version committing mid-clone may leave
    * partial index rows in `dst`, but without its manifest they are
    * invisible (the same MVCC rule that hides in-flight ingests).
    * Everything assembles under a dot-prefixed temp dir (invisible to
    * listDatasets, but its index IS included in vacuum's mark phase, and
    * vacuum yields its delete phase whenever a clone lands or starts
    * mid-mark — see vacuum's snapshot check — so a vacuum racing the
    * copy window cannot drop blobs the about-to-land clone references;
    * the one unsupported interleaving is destroy(src) issued while a
    * clone of that same src is still copying) and lands via one atomic
    * move.
    * Crashed temp trees are swept by vacuum's quiet-floor staging sweep.
    * Returns the number of committed versions cloned. */
  def cloneDataset(src: String, dst: String): Long = Instrument.timed("store.cloneDataset") {
    require(StoreFs.exists(dsPath(src)), s"cloneDataset: dataset $src does not exist")
    validateDatasetName(dst, "cloneDataset")
    if (StoreFs.exists(dsPath(dst)))
      throw new IllegalStateException(s"""dataset with name "$dst" already exists.""")
    // unique per attempt: two concurrent clones to the same dst must not
    // share a temp tree (the loser fails at the no-clobber move below,
    // which is the correct already-exists outcome); crashed leftovers are
    // swept by vacuum's quiet-floor staging sweep, never by a racing clone
    val tmp = StoreFs.child(root,
      s".clone_tmp_${dst}_${java.util.UUID.randomUUID}")
    // 1. snapshot the committed manifests (names only)
    val manifests = StoreFs.list(versionsDir(src)).collect {
      case (_, n, _, _) if n.endsWith(".json") && !n.startsWith(".") => n
    }
    // 2. copy the index tree (skip in-flight Spark temp dirs/files —
    // recursive file listing, hidden segments filtered on the RELATIVE
    // path so a dot-prefixed store root doesn't hide everything)
    val srcIdx = indexDir(src)
    val idxPrefix = new org.apache.hadoop.fs.Path(srcIdx).toUri.getPath
    StoreFs.filesUnder(srcIdx).foreach { p =>
      val rel = new org.apache.hadoop.fs.Path(p).toUri.getPath
        .stripPrefix(idxPrefix).stripPrefix("/")
      val hidden = rel.split('/')
        .exists(seg => seg.startsWith(".") || seg.startsWith("_"))
      if (!hidden)
        StoreFs.copyFile(p, StoreFs.child(StoreFs.child(tmp, "index"), rel))
    }
    // 3. copy exactly the snapshotted manifests
    StoreFs.mkdirs(StoreFs.child(tmp, "versions"))
    manifests.foreach(f => StoreFs.copyFile(
      StoreFs.child(versionsDir(src), f),
      StoreFs.child(StoreFs.child(tmp, "versions"), f)))
    if (!StoreFs.moveInto(tmp, dsPath(dst))) {
      // lost the race to a concurrent clone/create of the same dst: clean
      // up our temp tree and report it as the already-exists failure
      StoreFs.deleteTree(tmp)
      throw new IllegalStateException(
        s"""dataset with name "$dst" already exists.""")
    }
    manifests.size.toLong
  }

  /** Greatest committed checkpoint version ≤ `upTo`, if any. */
  private def latestCheckpointUpTo(name: String, upTo: Long): Option[Long] =
    versionManifests(name).collect {
      case (_, vid, m) if vid <= upTo && SparkStore.isCheckpoint(m) => vid
    }.maxOption

  // ---- chunk ingest staging ----

  /** Fresh staging dir for one ingest generation's blob append (adopted
    * by `adoptChunkFiles`; orphans from crashed ingests are swept by
    * vacuum). Lives beside — not inside — the chunks dir, so readers
    * never see half-written part files. */
  private[graft] def newChunkStagingDir(): String =
    StoreFs.child(root, s".chunks_ingest_${java.util.UUID.randomUUID}")

  /** Move a staged generation's part files into the live chunks dir and
    * return their new paths; removes the staging dir. A part file whose
    * footer holds no row groups (a write with nothing new to store: a
    * dedup-only commit, a vacuum with no live swept blob) is dropped with
    * the staging dir — adopted, it would have no hash range and stay a
    * scan candidate for every hash until the next vacuum. Each adopted
    * file's footer range seeds the range cache, so the generation's
    * sidecar needs no second footer read. A crash mid-adopt leaves some
    * files adopted (orphan blobs until their index rows land — same
    * exposure as a direct append) and the staging leftovers for vacuum's
    * sweep. */
  private[graft] def adoptChunkFiles(staging: String): Seq[String] = {
    // before the mkdirs below: an empty live dir would hide a chunks dir
    // that a crashed vacuum swap left under its pre-swap name
    healChunksDir()
    StoreFs.mkdirs(chunksDir)
    val conf = graft.spark.source.ChunkBlobReader.sharedConf
    val adopted = StoreFs.list(staging)
      .collect { case (p, n, _, _) if n.endsWith(".parquet") => (p, n) }
      .flatMap { case (p, n) =>
        graft.spark.source.ChunkBlobReader.footerRange(p, conf).map((p, n, _))
      }
      .map { case (p, n, (mn, mx)) =>
        val dst = StoreFs.child(chunksDir, n)
        // moveInto reports failure (dst exists / racing rename) as false
        // rather than throwing; adopting MUST fail loudly before the
        // staging sweep below, or the unmoved part file is deleted while
        // its blob hashes are about to be referenced by index rows —
        // committed reads would then silently degrade to fill values.
        if (!StoreFs.moveInto(p, dst))
          throw new java.io.IOException(
            s"adoptChunkFiles: failed to move staged chunk file $p -> $dst" +
              "; staging dir left in place for retry/vacuum")
        graft.spark.source.ChunkBlobReader.seedRange(dst, mn, mx)
        dst
      }
    StoreFs.deleteTree(staging)
    adopted
  }

  // ---- index append staging ----

  /** Fresh staging dir for one generation's index-row append (adopted by
    * [[adoptIndexFiles]]). The index append STAGES for the same reason
    * the blob append does, plus one of its own: concurrent token writers
    * (separate JVMs — script.clj's multi-process ingest) each run their
    * own Spark write job, and two FileOutputCommitter jobs appending the
    * SAME output directory share `_temporary/0` — whichever job commits
    * first deletes the other's in-flight task files (observed as a
    * FileNotFoundException in the cross-JVM token-ingest test). Unique
    * staging per generation keeps simultaneous writers filesystem-
    * disjoint until the final per-file no-clobber renames. Dot-prefixed
    * under the dataset dir: invisible to index readers. */
  private[graft] def newIndexStagingDir(name: String): String =
    StoreFs.child(dsPath(name), s".index_ingest_${java.util.UUID.randomUUID}")

  /** Move a staged index generation's part files into the live index
    * dir, preserving the hive partition subpaths (`var=…/version=…/`).
    * Part-file names carry Spark task UUIDs, so adopted names never
    * collide. A crash mid-adopt leaves some rows adopted for a version
    * that never commits (invisible to resolve) and the staging leftovers
    * for the crashed-staging sweep. */
  private[graft] def adoptIndexFiles(name: String, staging: String): Unit = {
    val idx = indexDir(name)
    StoreFs.filesUnder(staging)
      .filter(_.endsWith(".parquet"))
      .foreach { p =>
        val rel = p.stripPrefix(staging).dropWhile(_ == '/')
        val dst = StoreFs.child(idx, rel)
        StoreFs.mkdirs(StoreFs.parent(dst))
        if (!StoreFs.moveInto(p, dst))
          throw new java.io.IOException(
            s"adoptIndexFiles: failed to move staged index file $p -> $dst" +
              "; staging dir left in place for retry")
      }
    StoreFs.deleteTree(staging)
  }

  /** Blob append of (hash, bytes) rows — torn-write repair's: the rows
    * shuffle into spark.sql.shuffle.partitions contiguous hash ranges
    * ([[inHashRanges]]), and each range lands through the writer's blob
    * kernel (`SparkVersionWriter.landBlobs`: adjacent duplicates dropped,
    * stored hashes probed, one part file). The ranges' files are staged,
    * adopted into the chunks dir as one generation and recorded in one
    * range sidecar. Each file holds one hash range, so the generation's
    * files are DISJOINT (footer min/max): a point lookup opens one
    * candidate file per generation instead of every file (file-level
    * pruning in ChunkBlobReader.fileHashRange — without disjoint files,
    * per-chunk tasks paid an open per file: measured 277 ms/task on a
    * 2240-chunk grid agg, ~8 ms after). */
  private[spark] def appendBlobsRange(rows: DataFrame): Unit = {
    import spark.implicits._
    val staging = newChunkStagingDir()
    val ranged = spark.sparkContext.broadcast(ChunkFileScope.ranged(this))
    val files = SparkVersionWriter.blobFiles(spark)
    val gen = java.util.UUID.randomUUID.toString
    val dirs = inHashRanges(rows.select("hash", "bytes").as[(String, Array[Byte])].rdd
        .keyBy(_._1), spark.sessionState.conf.numShufflePartitions) { (range, it) =>
      SparkVersionWriter.landBlobs(ranged.value, it, files,
        StoreFs.child(staging, java.util.UUID.randomUUID.toString), range, gen)
    }
    writeChunkRangeSidecar(dirs.toSeq.flatten.flatMap(adoptChunkFiles))
    StoreFs.deleteTree(staging)
  }

  /** `rows`, keyed by blob hash, shuffled into `ranges` contiguous hash
    * ranges (`ChunkFileScope.HashRanges`) and sorted by hash within each;
    * `land` runs once per range in a task, and the driver gets each
    * range's result. An empty range still runs `land`, over no rows. */
  private[spark] def inHashRanges[T: scala.reflect.ClassTag, R: scala.reflect.ClassTag](
      rows: org.apache.spark.rdd.RDD[(String, T)], ranges: Int)(
      land: (Int, Iterator[T]) => R): Array[R] = {
    val hconfBc = StoreFs.broadcastConf()
    rows.repartitionAndSortWithinPartitions(ChunkFileScope.HashRanges(ranges))
      .mapPartitionsWithIndex { (range, it) =>
        StoreFs.installExecutorConf(hconfBc.value)
        Iterator.single(land(range, it.map(_._2)))
      }
      .collect()
  }

  /** Index rows of merged chunk rows (coordKey, coord, hash, the s* stats
    * columns, baseSeq, baseHash) — the one projection every chunk append
    * lands through [[appendIndexRows]]. */
  private[spark] def indexRowsOf(rows: DataFrame, varCol: Column, vid: Long,
      seqCol: Column, replacesCol: Column): DataFrame =
    rows.select(varCol.as("var"), lit(vid).as("version"), seqCol.as("seq"),
      col("coordKey"), col("coord"), col("hash"),
      struct(col("scnt").as("cnt"), col("slmin").as("lmin"),
        col("slmax").as("lmax"), col("slsum").as("lsum"),
        col("sdmin").as("dmin"), col("sdmax").as("dmax"),
        col("snan").as("nan")).as("stats"),
      col("baseSeq"), col("baseHash"), replacesCol.as("replacesHash"))

  /** Stage-and-adopt index append: the ONLY way index rows land. */
  private[graft] def appendIndexRows(name: String,
      rows: org.apache.spark.sql.DataFrame): Unit = {
    val staging = newIndexStagingDir(name)
    rows.write.partitionBy("var", "version").parquet(staging)
    adoptIndexFiles(name, staging)
  }

  /** Remove staging dirs of CRASHED ingests. Crash detection must not
    * mistake a long-running live ingest for a dead one: the dir's
    * top-level mtime is set at job start while tasks keep writing
    * underneath (an ingest can legitimately outlive the vacuum grace
    * window at scale), so a dir is swept only when the NEWEST mtime in
    * its whole tree is older than both the cutoff and the same quiet
    * floor scan manifests get (a live job keeps touching files; a
    * crashed one goes silent). */
  private def sweepChunkStaging(cutoff: Long): Unit = {
    val quiet = math.min(cutoff,
      System.currentTimeMillis() - SparkStore.ManifestSweepMinAgeMs)
    def sweepIfQuiet(dir: String): Unit =
      if (StoreFs.newestMtime(dir) <= quiet)
        try StoreFs.deleteTree(dir) catch { case _: java.io.IOException => () }
    StoreFs.list(root)
      .filter { case (_, n, _, _) =>
        n.startsWith(".chunks_ingest_") || n.startsWith(".clone_tmp_") }
      .foreach { case (dir, _, _, _) => sweepIfQuiet(dir) }
    // row-level DML staging (<dataset>/_delta_staging/<queryId>): commit
    // and abort both clean up, so anything quiet past the grace window is
    // a crashed query's leftover; .index_ingest_* are crashed index-append
    // generations (adoptIndexFiles removes them on success)
    listDatasets.foreach { ds =>
      StoreFs.list(StoreFs.child(dsPath(ds), "_delta_staging"))
        .foreach { case (dir, _, _, _) => sweepIfQuiet(dir) }
      StoreFs.list(dsPath(ds))
        .filter { case (_, n, _, _) => n.startsWith(".index_ingest_") }
        .foreach { case (dir, _, _, _) => sweepIfQuiet(dir) }
    }
  }

  // ---- chunk-file hash-range sidecars ----

  private def rangesDir: String = StoreFs.child(chunksDir, ".ranges")

  /** Record (part file → footer hash range) for an ingest generation's
    * NEW chunk files, so scan planning never opens parquet footers: at
    * the 100 TB target the chunks dir holds millions of part files, and
    * a first-plan footer sweep is O(files) serialized driver I/O. One
    * TSV per ingest (own file — no writer contention); entries for files
    * later deleted by vacuum are simply never consulted (planning
    * intersects with the live listing). The ingest itself reads only ITS
    * new files' footers (a few dozen). */
  private[spark] def writeChunkRangeSidecar(files: Seq[String]): Unit = {
    if (files.isEmpty) return
    StoreFs.mkdirs(rangesDir)
    val conf = graft.spark.source.ChunkBlobReader.sharedConf
    // a file whose footer yields no usable range (unreadable, still being
    // written) gets NO entry — recording the unbounded fallback range
    // would permanently pin the file as a candidate for every hash and
    // silently defeat the pruning (readers just fall back to its footer)
    val lines = files.flatMap { p =>
      val (mn, mx) =
        graft.spark.source.ChunkBlobReader.fileHashRange(p, conf)
      if (mn.isEmpty) None else Some(s"${StoreFs.name(p)}\t$mn\t$mx")
    }
    if (lines.isEmpty) return
    val id = java.util.UUID.randomUUID.toString
    val tmp = StoreFs.child(rangesDir, s".$id.tmp")
    StoreFs.writeString(tmp, lines.mkString("\n"))
    StoreFs.moveReplace(tmp, StoreFs.child(rangesDir, s"$id.tsv"))
  }

  /** Seed the per-JVM footer-range cache from the sidecars; each sidecar
    * file parses once per JVM (they are write-once). A sidecar deleted by
    * a concurrent vacuum sweep mid-read is skipped, NOT fatal (its files
    * are gone too — and any still-live file simply falls back to its
    * footer); a sidecar is only marked loaded after a successful parse. */
  private[spark] def loadChunkRangeSidecars(): Unit = {
    val sidecars =
      try StoreFs.list(rangesDir)
        .collect { case (p, n, _, _) if n.endsWith(".tsv") => p }
      catch { case _: java.io.IOException => return }
    sidecars.foreach { p =>
      // claim atomically (concurrent planners would otherwise all parse
      // every sidecar on a fresh JVM); roll the claim back on IO failure
      // so a transient error retries next plan
      if (SparkStore.loadedSidecars.putIfAbsent(p,
          java.lang.Boolean.TRUE) == null) {
        try {
          StoreFs.readLines(p).foreach { line =>
            line.split('\t') match {
              case Array(f, mn, mx) => graft.spark.source.ChunkBlobReader
                .seedRange(StoreFs.child(chunksDir, f), mn, mx)
              case _ => // tolerate malformed lines: footer fallback
            }
          }
        } catch { case _: java.io.IOException =>
          SparkStore.loadedSidecars.remove(p); ()
        }
      }
    }
  }

  /** Merge the per-generation sidecar TSVs into ONE manifest (vacuum
    * time). Every ingest appends its own sidecar file, so between
    * vacuums the count grows one-per-generation and the first plan on
    * the store pays one read per file; after compaction
    * `loadChunkRangeSidecars` reads O(1) files and driver-side listing
    * state stays bounded no matter how many generations accumulated.
    * Entries whose chunk file no longer exists (deleted by the blob
    * sweep) are dropped; duplicates from a crashed earlier merge dedupe
    * by filename. Concurrency-safe: only the files listed HERE are
    * merged and deleted — a sidecar written by a live ingest after the
    * listing is untouched, and a reader that listed an input before the
    * deletion just skips it (its files fall back to footer reads once,
    * then the merged manifest covers them). */
  private def compactRangeSidecars(): Unit = {
    val inputs =
      try StoreFs.list(rangesDir)
        .collect { case (p, n, _, _) if n.endsWith(".tsv") => p }
      catch { case _: java.io.IOException => return }
    if (inputs.size <= 1) return
    // ONE listing of the live chunk files instead of an exists() probe
    // per entry — on an object store each probe is a round trip and the
    // merged manifest can hold millions of lines
    val liveFiles = StoreFs.list(chunksDir)
      .collect { case (_, n, _, _) if n.endsWith(".parquet") => n }.toSet
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, String]
    inputs.foreach { p =>
      try StoreFs.readLines(p).foreach { line =>
        line.split('\t') match {
          case Array(f, _, _) if liveFiles.contains(f) => merged(f) = line
          case _ => // dead or malformed entry: drop
        }
      } catch { case _: java.io.IOException => () } // racing sweep: its files are gone too
    }
    if (merged.nonEmpty) {
      val id = java.util.UUID.randomUUID.toString
      val tmp = StoreFs.child(rangesDir, s".$id.tmp")
      StoreFs.writeString(tmp, merged.values.mkString("\n"))
      StoreFs.moveReplace(tmp, StoreFs.child(rangesDir, s"$id.tsv"))
    }
    // delete exactly the merged inputs (a crash above leaves them in
    // place — the next compaction retries; a crash below leaves
    // duplicates the next merge dedupes)
    inputs.foreach(StoreFs.deleteIfExists)
  }

  /** Drop sidecars whose files were all deleted by a vacuum sweep (every
    * chunk file at or before `cutoff` is gone afterwards, so sidecars
    * that old are fully stale), plus any orphaned .tmp from a crashed
    * sidecar write. */
  private def sweepRangeSidecars(cutoff: Long): Unit =
    StoreFs.list(rangesDir)
      .filter { case (_, n, mtime, _) =>
        (n.endsWith(".tsv") || n.endsWith(".tmp")) && mtime <= cutoff }
      .foreach { case (p, _, _, _) => StoreFs.delete(p) }

  /** True iff the variable could have ANY index entries visible to a
    * writer whose parent is `parent` and whose in-flight version is `vid`
    * — i.e. a hive partition dir `var=<varName>/version=<v>` exists with
    * v ≤ parent or v == vid. A plain driver-side listing (no Spark job):
    * the write path uses it to skip the whole base-chunk machinery
    * (touched-coordinate scan + index resolve + semi-join + blob fetch)
    * on a first write, which at bulk-ingest scale is one full pass over
    * the input saved. Conservative: any listing error counts as "has
    * data" and the caller falls back to the full read-modify-write path. */
  private[graft] def hasIndexData(name: String, varName: String,
      parent: Option[Long], vid: Long): Boolean = {
    val varDir = StoreFs.child(indexDir(name), s"var=$varName")
    try StoreFs.list(varDir).exists { case (_, n, _, _) =>
      n.startsWith("version=") &&
        n.stripPrefix("version=").toLongOption
          .exists(ver => parent.exists(ver <= _) || ver == vid)
    } catch { case _: java.io.IOException => true }
  }

  /** The index rows a resolve may admit, read as EXPLICIT partition
    * paths instead of a whole-dir scan. The index dir accumulates one
    * `var=<v>/version=<vid>` partition for every version EVER committed,
    * and `spark.read.parquet(indexDir)` pays a full recursive listing of
    * all of them BEFORE partition pruning can drop any (one distributed
    * listing job per resolve — per-commit wall on a deep linear history
    * measured drifting 1.33 s → 4.03 s across its first 800 versions
    * from exactly this, and on an object store it is a LIST storm).
    * The caller already knows the admitted versions exactly, so list
    * nothing: point-probe each admitted partition dir (versions that
    * never wrote this variable have none) and hand Spark the survivors
    * with `basePath` so the partition columns still resolve. Cost is
    * O(|admissible|) exists-probes — O(changes since last compact) on
    * every read path, independent of how much expired-but-unswept
    * history the dir still holds. */
  private[spark] def admittedIndexDF(name: String, varName: String,
      admissible: Seq[Long]): DataFrame = {
    val dir = indexDir(name)
    val varDir = StoreFs.child(dir,
      "var=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(varName))
    val paths = admissible.distinct
      .map(v => StoreFs.child(varDir, s"version=$v"))
      .filter(StoreFs.exists)
    if (paths.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], indexSchema)
    else spark.read.schema(indexSchema).option("basePath", dir)
      .parquet(paths: _*)
  }

  /** MVCC resolve for a PINNED read: the admissible version set is the
    * pinned version's own verified parent chain ([[pinnedChain]] — point
    * GETs, O(depth), checkpoint-floored), truncated at the newest
    * per-variable REPLACE barrier on that chain, NOT the fork-resolved
    * listing. On a linear history this is exactly the listing-derived
    * set; where the two diverge the chain is the correct one:
    *  - a just-committed version a lagging LISTING still omits resolves
    *    its OWN index rows (the listing-based set would silently return
    *    parent data under the new manifest — a torn read);
    *  - a duplicate-parent LOSER pin resolves its branch's rows and
    *    never admits the rival winner's overlay (the listing-based set
    *    would mix the two branches). */
  private[graft] def resolvedIndexPinned(name: String, varName: String,
      pinned: DatasetMeta,
      includeUncommitted: Option[Long] = None,
      coordFilter: Column = lit(true)): DataFrame =
    resolvedOver(name, varName,
      pinnedAdmissible(name, varName, pinned) ++ includeUncommitted.toSeq,
      coordFilter)

  /** The versions a pinned resolve of `varName` admits: the pinned
    * version's verified parent chain, truncated at its newest REPLACE of
    * the variable, behind the expire tripwire. The one admissible-set
    * rule for both pinned resolves ([[resolvedIndexPinned]] and
    * [[resolvedPointsPinned]]) and the writer's point-planned base
    * resolve. */
  private[spark] def pinnedAdmissible(name: String, varName: String,
      pinned: DatasetMeta): Seq[Long] = {
    val chain = pinnedChain(name, pinned)
    // EXPIRE TRIPWIRE (one point GET per plan): a compact+expireHistory
    // that ran after this handle verified its chain deletes the
    // sub-checkpoint manifests AND their index partitions — a cached
    // chain would then silently resolve FILL for coordinates whose only
    // rows were expired. The chain's FLOOR manifest still existing
    // proves no expire has crossed this chain (expireHistory deletes
    // manifests before index rows); if it is gone, the pinned snapshot
    // is no longer materializable — refuse loudly.
    //
    // RESIDUAL TOCTOU WINDOW (documented, narrowed not closed): this
    // probe runs at PLAN time, so an expireHistory that lands between
    // it and the scan's own file listing/execution can still surface
    // as a FileNotFound mid-scan rather than this message — ugly but
    // loud. What must never happen is the SILENT variant, where the
    // scan skips the deleted index files and serves fill: that is why
    // the constructor refuses spark.sql.files.ignoreMissingFiles=true.
    // (Re-probing inside the partition reader factory would shrink the
    // window further but cannot close it either — expire can always
    // land between any probe and the read it guards; loudness, not
    // probe placement, is the invariant.)
    val floorVid = chain.last.versionId.get
    if (!StoreFs.exists(StoreFs.child(versionsDir(name), s"$floorVid.json")))
      throw new IllegalStateException(
        s"pinned read of $name@${pinned.versionId.get}: history at or " +
          s"below version $floorVid was expired (compact + expireHistory " +
          "ran after this handle pinned) — the snapshot is no longer " +
          "materializable; re-pin at or after the checkpoint")
    val replaceAt = chain.indexWhere(m => SparkStore.isReplaceOf(m, varName))
    val floored = if (replaceAt >= 0) chain.take(replaceAt + 1) else chain
    floored.map(_.versionId.get)
  }

  /** Pinned MVCC resolve for point plans, as coordKey → (hash, stats): the
    * same winners as [[resolvedIndexPinned]], from [[resolvedPoints]]. */
  private[spark] def resolvedPointsPinned(name: String, varName: String,
      pinned: DatasetMeta, keys: PointKeys,
      driverBytes: Long = GraftScan.DriverPointBytes): Map[String, (String, Row)] =
    resolvedPoints(name, varName, pinnedAdmissible(name, varName, pinned),
      keys, driverBytes).map { case (k, r) => k -> (r.getString(3), r.getStruct(4)) }

  /** The point resolve over an explicit admissible set: coordKey → its
    * winning (coordKey, version, seq, hash, stats) row, for the chunks
    * `keys` keeps. The admitted index part files are read by
    * `PointIndexReader.winners` — in-process on the driver when
    * `GraftScan.onDriver` admits `keys`' chunk count and the files' listed
    * sizes (`driverBytes`, a test hook, bounds the bytes), else in one
    * shuffle-free job over the files whose per-task winners the driver
    * reduces the same way. The writer's point-planned base resolve calls
    * it with the parent's admissible set plus its own in-flight version. */
  private[spark] def resolvedPoints(name: String, varName: String,
      admissible: Seq[Long], keys: PointKeys,
      driverBytes: Long = GraftScan.DriverPointBytes): Map[String, Row] =
      Instrument.timed("store.resolvePoints") {
    val files = admittedIndexFiles(name, varName, admissible)
    val winners: Array[Row] =
      if (files.isEmpty) Array.empty
      else if (GraftScan.onDriver(keys.size, files.map(_._3).sum, driverBytes))
        PointIndexReader.winners(files.iterator.map(f => (f._1, f._2)), keys).toArray
      else {
        val hconfBc = StoreFs.broadcastConf()
        spark.sparkContext.parallelize(files.map(f => (f._1, f._2)),
            math.min(files.size, spark.sparkContext.defaultParallelism))
          .mapPartitions { it =>
            StoreFs.installExecutorConf(hconfBc.value)
            PointIndexReader.winners(it, keys)
          }
          .collect()
      }
    SparkStore.keepWinners(winners.iterator).map(r => r.getString(0) -> r).toMap
  }

  /** The part files of `varName`'s index partitions for the `admissible`
    * versions, as (path, version, length) — one listing per version, and
    * none of the variable's other partitions. Hidden files (`_`/`.`) are
    * skipped, as Spark's file index skips them. */
  private def admittedIndexFiles(name: String, varName: String,
      admissible: Seq[Long]): Seq[(String, Long, Long)] = {
    val varDir = StoreFs.child(indexDir(name), "var=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(varName))
    admissible.distinct.flatMap { v =>
      StoreFs.listFiles(StoreFs.child(varDir, s"version=$v")).collect {
        case (p, n, len) if !n.startsWith("_") && !n.startsWith(".") => (p, v, len)
      }
    }
  }

  /** MVCC resolve restricted to committed versions in (fromExclusive,
    * toInclusive] — the per-micro-batch delta of the streaming source:
    * each changed coordinate with its hash as of `toInclusive`. */
  private[spark] def resolvedIndexBetween(name: String, varName: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val manifests = versionManifests(name)
    val byId = manifests.map { case (_, vid, m) => vid -> m }.toMap
    // A checkpoint changes no chunk values, so emitting its rows would
    // normally re-deliver the whole dataset as a spurious delta — EXCEPT
    // when expireHistory has dropped versions the tailer never saw: then
    // the checkpoint is the only carrier of their changes and MUST be
    // emitted (silently skipping it would lose data). "Needed" is
    // detected by walking the checkpoint's parent chain down to the
    // tailer's offset: a missing link means expired history.
    // A REPLACE version (INSERT OVERWRITE) is a semantic reset of its
    // variable: coordinates written before it and not by it revert to
    // fill. A tailer with NO prior state (fromExclusive = 0, fresh
    // backfill) simply resolves from the newest replace onward — the
    // same floor the batch path applies. A tailer WITH prior state
    // cannot be repaired by a delta (no tombstones in the overlay
    // model); silently emitting the replace's chunks would leave it
    // permanently stale on the reverted region — fail loudly and let it
    // restart at the replace version with a fresh full load (same
    // contract as expired-history time travel).
    val replaceFloor = manifests.collect {
      case (_, vid, m) if vid > fromExclusive && vid <= toInclusive &&
        SparkStore.isReplaceOf(m, varName) => vid
    }.maxOption
    replaceFloor.foreach { r =>
      if (fromExclusive > 0L)
        throw new IllegalStateException(
          s"streaming tail of $name/$varName crosses REPLACE version $r " +
            "(INSERT OVERWRITE): deltas cannot express the implied " +
            "reset-to-fill — restart the stream at or after the replace " +
            s"version (startingVersion=$r)")
    }
    val admissible = manifests.collect {
      case (_, vid, m) if vid > fromExclusive && vid <= toInclusive &&
        replaceFloor.forall(vid >= _) &&
        (!SparkStore.isCheckpoint(m) ||
          !chainIntactBelow(m, fromExclusive, byId)) => vid
    }
    resolvedOver(name, varName, admissible, lit(true))
  }

  /** True iff every ancestor of `m` newer than `from` is still present —
    * i.e. each change a checkpoint summarizes is individually listed (a
    * nested present checkpoint link is fine: either its own chain is
    * intact, or it is itself emitted). */
  private def chainIntactBelow(m: DatasetMeta, from: Long,
      byId: Map[Long, DatasetMeta]): Boolean = {
    var cur = m.parent
    while (cur.exists(_ > from)) {
      byId.get(cur.get) match {
        case None => return false
        case Some(pm) => cur = pm.parent
      }
    }
    true
  }

  /** MVCC index resolution over an explicit admissible set: for each
    * coordinate of `varName`, the hash of the greatest (version, seq)
    * among the `admissible` versions (reference read rule:
    * backend/mem.clj:32-49; write-side base lookup: impl.clj:246-250).
    * `coordFilter` is applied to the RAW index scan, before the group-by:
    * Catalyst cannot push a filter through max_by, and without this a
    * windowed read would shuffle the variable's entire per-version index
    * (filtering on the group key pre-aggregation is semantics-preserving —
    * coord is functionally determined by coordKey). */
  private[spark] def resolvedOver(name: String, varName: String,
      admissible: Seq[Long], coordFilter: Column): DataFrame =
    admittedIndexDF(name, varName, admissible)
      .filter(col("var") === varName && col("version").isin(admissible: _*))
      .filter(coordFilter)
      .groupBy("coordKey")
      // hash and stats ride in ONE max_by struct so they always come from
      // the same (winning) index row. hash is the FINAL tie-breaker:
      // concurrent shared writers in the same millisecond can collide on
      // (version, seq) — each writer instance seeds its seq base from the
      // wall clock — and without a deterministic tie-break two resolves
      // could disagree about the winning row (and the shared-writer
      // verify could not even tell whose row won). With identical
      // content the tie is harmless either way; with different content
      // the hash makes every resolve pick the SAME row.
      .agg(
        max_by(struct(col("hash"), col("stats"), col("version"), col("seq")),
          struct(col("version"), col("seq"), col("hash"))).as("hs"),
        first(col("coord")).as("coord"))
      // winVersion/winSeq: the winning row's provenance — shared writers
      // record which base row their merge folded (verifySharedWrite's
      // staleness test needs the base IDENTITY, not just its content)
      .select(col("coordKey"), col("hs.hash").as("hash"),
        col("hs.stats").as("stats"), col("coord"),
        col("hs.version").as("winVersion"), col("hs.seq").as("winSeq"))
}

object SparkStore {
  /** Shared-writer verify/retry rounds before failing loudly (the
    * reference's update-chunk! CAS loop is unbounded; bounded here so a
    * pathological co-writer storm surfaces as an error, not a hang). */
  val MaxSharedWriteRetries = 8

  /** Per-(root, dataset) commit locks: commitVersion's read-latest /
    * parent-check / timestamp-stamp / manifest-move sequence must be
    * atomic, or two concurrent committers can both pass the parent check
    * and stamp the same "strictly monotonic" timestamp. MemBackend gets
    * this from `ds.synchronized`; the file store serializes here. This is
    * an intra-JVM guarantee only — cross-process committers on a shared
    * filesystem still race (same caveat as the reference's non-DynamoDB
    * backends); the ATOMIC_MOVE keeps manifests internally consistent
    * even then. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Object]()
  private[spark] def commitLock(root: String, name: String): Object =
    commitLocks.computeIfAbsent((root, name), _ => new Object)

  /** Sidecar files already parsed into the per-JVM range cache (sidecars
    * are write-once, so one parse per JVM suffices). */
  private[spark] val loadedSidecars =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Every .parquet file under `dir` (empty when absent) — the one
    * shared listing for scan planning and the streaming source, through
    * the Hadoop FS layer so remote store roots list identically. */
  def parquetFilesUnder(dir: String): Array[String] =
    StoreFs.filesUnder(dir).filter(_.endsWith(".parquet")).toArray

  /** Per-coordKey winner of (coordKey, version, seq, hash, stats) rows:
    * the greatest (version, seq, hash) — exactly `resolvedOver`'s
    * max_by order, hash the final tie-breaker (a null hash ranks lowest,
    * as in Spark's struct ordering). Associative, so it runs per task and
    * again over the collected per-task winners. */
  private[spark] def keepWinners(rows: Iterator[Row]): Iterator[Row] = {
    val best = new java.util.HashMap[String, Row]()
    rows.foreach { r =>
      val cur = best.get(r.getString(0))
      if (cur == null || outranks(r, cur)) best.put(r.getString(0), r)
    }
    best.values().iterator().asScala
  }

  private def outranks(a: Row, b: Row): Boolean =
    if (a.getLong(1) != b.getLong(1)) a.getLong(1) > b.getLong(1)
    else if (a.getLong(2) != b.getLong(2)) a.getLong(2) > b.getLong(2)
    else {
      val (ha, hb) = (a.getString(3), b.getString(3))
      ha != null && (hb == null || ha > hb)
    }

  /** Bench/ops hygiene hook: drop the per-JVM content-addressed blob
    * cache (see ChunkBlobReader.clearBlobCache). */
  def clearBlobCache(): Unit =
    graft.spark.source.ChunkBlobReader.clearBlobCache()

  /** Default vacuum grace window: chunk files younger than this are never
    * collected (their index rows may still be in flight — see vacuum). */
  val VacuumGraceMs: Long = 15L * 60 * 1000

  /** Scan manifests younger than this survive vacuum regardless of the
    * grace argument — a manifest is live for its whole query, which can
    * far outlast an ingest-safety grace window. */
  val ManifestSweepMinAgeMs: Long = 6L * 60 * 60 * 1000

  /** Marker file written LAST into a scan-manifest dir: its presence means
    * every manifest parquet file is fully on disk, so a keyed cache lookup
    * may reuse the dir. Deleted FIRST by the vacuum sweep for the mirror
    * guarantee (a half-deleted dir reads as a miss, never as truncated). */
  val ManifestCompleteMarker: String = "_COMPLETE"

  /** Per-chunk zone-map struct stored beside each index row (nullable end
    * to end: index files written before stats existed read as null, which
    * every consumer treats as "no stats — decode the blob"). */
  private[spark] val statsSchema = StructType(Seq(
    StructField("cnt", LongType), StructField("lmin", LongType),
    StructField("lmax", LongType), StructField("lsum", LongType),
    StructField("dmin", DoubleType), StructField("dmax", DoubleType),
    StructField("nan", LongType)))

  private[spark] val indexSchema = StructType(Seq(
    StructField("var", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("coordKey", StringType, nullable = false),
    StructField("coord", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("stats", statsSchema, nullable = true),
    // merge provenance (nullable — files predating it read null, treated
    // as a terminal base): which row's content this row's merge FOLDED
    // (baseSeq −1 / baseHash "" when the base was a committed-version
    // row or fill), and, for a shared-writer CAS retry, the writer's own
    // superseded row's content hash (replacesHash). The commit-time
    // torn-write check walks these links to prove every row's cells are
    // contained in the resolve winner — the append-only analog of the
    // reference's per-chunk CAS pointer chain (impl.clj:232-250).
    StructField("baseSeq", LongType, nullable = true),
    StructField("baseHash", StringType, nullable = true),
    StructField("replacesHash", StringType, nullable = true)))

  private[spark] val chunksSchema = StructType(Seq(
    StructField("hash", StringType, nullable = false),
    StructField("ref", LongType, nullable = false),
    StructField("bytes", BinaryType, nullable = false)))

  def coordKey(coord: Seq[Long]): String = coord.mkString(",")

  /** Manifest timestamp rides in the metadata's extra JSON (parsed and
    * re-emitted — no string surgery, arbitrary user extra survives). */
  private[spark] def stampTimestamp(m: DatasetMeta, ts: Long): DatasetMeta = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.extra
      .map(e => mapper.readTree(e).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(mapper.createObjectNode())
    node.put("graft-committed-at", ts)
    m.copy(extra = Some(mapper.writeValueAsString(node)))
  }
  private[spark] def extractTimestamp(m: DatasetMeta): Long =
    m.extra.flatMap { e =>
      """"graft-committed-at":(\d+)""".r.findFirstMatchIn(e).map(_.group(1).toLong)
    }.getOrElse(0L)

  /** Checkpoint marker (see SparkStore.compact) — rides in the manifest's
    * extra JSON like the commit timestamp. */
  private[spark] def markCheckpoint(m: DatasetMeta): DatasetMeta = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.extra
      .map(e => mapper.readTree(e).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(mapper.createObjectNode())
    node.put("graft-checkpoint", true)
    m.copy(extra = Some(mapper.writeValueAsString(node)))
  }

  private[spark] def isCheckpoint(m: DatasetMeta): Boolean =
    m.extra.exists(""""graft-checkpoint":true""".r.findFirstIn(_).isDefined)

  /** Per-variable REPLACE marker (SQL `INSERT OVERWRITE` semantics): a
    * version carrying `graft-replaces:[v]` is a resolve barrier for
    * variable v ONLY — older overlays of v become invisible at-or-after
    * it (unwritten regions read fill), while every other variable keeps
    * its full overlay and time travel below the barrier still sees the
    * old data. Mechanically the per-variable analog of the checkpoint
    * floor. */
  private[spark] def markReplace(m: DatasetMeta, varName: String): DatasetMeta = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.extra
      .map(e => mapper.readTree(e).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(mapper.createObjectNode())
    val arr = Option(node.get("graft-replaces")) match {
      case Some(a: com.fasterxml.jackson.databind.node.ArrayNode) => a
      case _ => node.putArray("graft-replaces")
    }
    arr.add(varName)
    m.copy(extra = Some(mapper.writeValueAsString(node)))
  }

  private[spark] def isReplaceOf(m: DatasetMeta, varName: String): Boolean =
    m.extra.exists { e =>
      """"graft-replaces":\[([^\]]*)\]""".r.findFirstMatchIn(e)
        .exists(_.group(1).contains("\"" + varName + "\""))
    }
}

/** Time-travel reader over a Spark store (V5,
  * reference: src/io/mandoline.clj:117-141). */
final class SparkDatasetReader(store: SparkStore, name: String) {
  def versions: Seq[(Long, Long)] = store.versions(name)

  def onVersion(vid: Long): SparkPinnedReader = {
    // point-GET resolution (never the listing): a lagging LISTING must
    // not refuse a valid just-committed pin, and the direct path still
    // honors dangling-parent fork orphaning via the parent-chain walk
    new SparkPinnedReader(store, name, store.committedMetadata(name, vid))
  }

  // listing-relative pins reuse the listing's parsed manifests: the
  // fork-resolved listing already proves the chain, so re-probing and
  // re-parsing via onVersion would be redundant round trips per read
  def onNthVersion(n: Int): SparkPinnedReader = {
    val vs = store.listedManifests(name)
    val idx = if (n < 0) vs.size + n else n
    require(idx >= 0 && idx < vs.size, s"no version at index $n (have ${vs.size})")
    new SparkPinnedReader(store, name, vs(idx)._3)
  }

  def onLastVersion(): SparkPinnedReader = onNthVersion(0)

  def onTimestamp(tsMillis: Long): SparkPinnedReader = {
    val vs = store.listedManifests(name).filter(_._1 <= tsMillis)
    require(vs.nonEmpty, s"no version at or before $tsMillis")
    new SparkPinnedReader(store, name, vs.head._3)
  }
}

object SparkPinnedReader {
  /** `getSlice` assembles the response ON THE DRIVER — cap the cell count
    * so a polite full-variable request can't OOM it (64M cells ≈ 512 MiB
    * of doubles). Larger reads belong on `exploded()`/`streamChunks()`. */
  val MaxSliceCells = 1L << 26

  /** A resolved index entry whose blob row is ABSENT (GC'd or lost file)
    * must fail loudly, never silently degrade to fill values — only a
    * null hash (no index entry at all) means a legitimate fill chunk.
    * (Serializable-safe: called from executor closures.) */
  def requireBlob(coordKey: String, hash: String, bytes: Array[Byte]): Unit =
    if (hash != null && bytes == null)
      throw new IllegalStateException(
        s"chunk $coordKey resolved to blob $hash but the blob is missing " +
          "from the chunk store (GC'd or lost?) — refusing to read fill")

  /** Runs a driver-side Spark action, rethrowing a task's
    * IllegalStateException (`requireBlob`'s missing-blob error) as itself
    * rather than wrapped in the job failure. */
  private[spark] def raisingMissingBlob[T](action: => T): T =
    try action
    catch {
      case e: org.apache.spark.SparkException =>
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case ise: IllegalStateException => ise }
          .getOrElse(e)
    }
}

/** Distributed read path (R1-R6) over one committed, chain-verified
  * version. Every read fetches chunk blobs through one chain: the chunk
  * window (`ChunkWindow`), the DSv2 scan's planner (`GraftScan`) and
  * `ChunkSlabCursor`. `exploded` IS the DSv2 scan; getSlice /
  * streamChunks / explodedMulti / statsAggregate run that scan's input
  * partitions as an RDD of cursors (`overCursors`), and a small getSlice
  * drains them on the driver. No read joins the chunk table. */
final class SparkPinnedReader(store: SparkStore, name: String, val meta: DatasetMeta) {
  import store.spark
  import spark.implicits._

  private def vid = meta.versionId.get

  /** Stable identity of this pinned read: (dataset URI, versionId) —
    * exactly the pair a version-pinned ANN index records
    * (`Similarity.CorpusId`), so downstream indexes can derive their
    * corpus pin from the reader instead of hand-assembling it
    * (reference version-pinned read rule: io/mandoline/impl.clj:53-75). */
  def pinnedIdentity: (String, Long) = {
    require(meta.versionId.isDefined,
      s"reader of $name is not pinned to a version — call onVersion/" +
        "onLastVersion/onTimestamp first")
    (s"${store.root}/$name", vid)
  }

  /** Runs `rows` over a `ChunkSlabCursor` for every input partition of
    * this version's DSv2 scan of `request`'s step-1 bounding box
    * (`GraftScan.planInputPartitions`: point lookups up to
    * `GraftScan.PointLookupThreshold` covering chunks, a cached scan
    * manifest above it), one task per partition with the driver's Hadoop
    * conf installed. Planning runs now, on the driver; a resolved hash
    * whose blob is missing fails the task (`SparkPinnedReader.requireBlob`). */
  private def overCursors[T: Encoder: scala.reflect.ClassTag](varName: String,
      request: Slice)(rows: ChunkSlabCursor => Iterator[T]): Dataset[T] = {
    val (parts, box) = scanParts(varName, request)
    val metaJson = meta.toJson
    val hconfBc = StoreFs.broadcastConf()
    spark.createDataset(
      spark.sparkContext.parallelize(parts.toSeq, math.max(1, parts.length))
        .mapPartitions { it =>
          StoreFs.installExecutorConf(hconfBc.value)
          it.flatMap(p => rows(new ChunkSlabCursor(p, metaJson, varName, box)))
        })
  }

  /** The input partitions of this version's DSv2 scan of `request`'s
    * step-1 bounding box (planned now, on the driver), and that box. */
  private def scanParts(varName: String,
      request: Slice): (Array[org.apache.spark.sql.connector.read.InputPartition], Slice) = {
    val r = Resolved(store, meta, name, varName)
    val box = Slice(request.start, request.stop)
    (new GraftScan(r, box, empty = false, r.schema).planInputPartitions(), box)
  }

  /** (coordKey, coord, hash, bytes|null) for every chunk covering the
    * request's step-1 bounding box, fetched through the scan's cursors
    * (hash-range file pruning and the per-JVM blob cache). Null bytes ⇒
    * fill chunk (R5). */
  private[spark] def chunkRows(varName: String, request: Slice): DataFrame =
    overCursors(varName, request)(_.framedChunks)
      .toDF("coordKey", "coord", "hash", "bytes")

  /** R2 `stream` as a Spark-native Dataset: one row per covering chunk,
    * decoded and clipped to the request — (coord, start, stop, bytes)
    * where bytes is the clipped slab's raw big-endian buffer
    * (reference: src/io/mandoline.clj:223-258; laziness becomes plan
    * laziness, npmap becomes task parallelism). */
  def streamChunks(varName: String, request: Slice, checkBounds: Boolean = true): DataFrame = {
    val varSlice = meta.varSlice(varName)
    require(request.nonEmpty, s"request slice is empty: $request")
    require(request.stepIsOne,
      s"streamChunks is step-1 only (its frames are CHUNK-granular, which " +
        "has no stride-lattice meaning): use exploded()/getSlice() for " +
        s"strided reads — request was $request. The reference restricts " +
        "its own hot path to step-1 (slice.clj:104-126) and deprecates " +
        "strided reads (slice.clj:81-102).")
    if (checkBounds && !request.isContainedIn(varSlice))
      throw new IndexOutOfBoundsException(
        s"Request slice $request crosses the variable's extent: $varSlice.")
    overCursors(varName, request)(_.clippedSlabs.map { case (coord, clipped) =>
      (coord, clipped.slice.start.toArray, clipped.slice.stop.toArray, clipped.bytes)
    }).toDF("coord", "start", "stop", "bytes")
  }

  /** Multi-variable single-pass read: one wide row per cell, columns
    * (dims…, var₁, var₂, …) — the cross-variable frame that otherwise
    * needs k exploded scans joined cell-wise.
    *
    * All variables must share the dimension tuple (hence the chunk grid,
    * which the dataset fixes per dimension). The join then happens at
    * CHUNK level: each variable contributes one (coordKey, blob) row per
    * covering chunk, the k-way join shuffles compressed blob bytes (≈
    * data volume, versus every cell row twice for the exploded-join
    * alternative), each blob decodes exactly once, and `arrays_zip` +
    * one `posexplode` emits the wide cells — no cell-level join, sort,
    * or exchange ever sees individual values. Unwritten chunks decode as
    * fill per variable, preserving per-variable fill semantics. */
  def explodedMulti(varNames: Seq[String], request: Slice,
      checkBounds: Boolean = true): DataFrame = {
    require(varNames.nonEmpty, "explodedMulti needs at least one variable")
    require(varNames.distinct == varNames, s"duplicate variables: $varNames")
    val dims = meta.variables(varNames.head).shape
    require(dims.nonEmpty, "explodedMulti needs array variables (rank >= 1)")
    varNames.foreach { v =>
      require(meta.variables(v).shape == dims,
        s"variable $v has shape ${meta.variables(v).shape}, expected $dims " +
          "(all variables of a multi-read must share the dimension tuple)")
    }
    val varSlice = meta.varSlice(varNames.head)
    require(request.nonEmpty, s"request slice is empty: $request")
    if (checkBounds && !request.isContainedIn(varSlice))
      throw new IndexOutOfBoundsException(
        s"Request slice $request crosses the variables' extent: $varSlice.")
    // strided: bounding-box read + lattice filter (see exploded's note)
    if (!request.stepIsOne) {
      val box = Slice(request.start, request.stop)
      return (0 until request.rank).foldLeft(
          explodedMulti(varNames, box, checkBounds)) { (df, i) =>
        if (request.step(i) == 1L) df
        else df.filter(
          (col(dims(i)) - lit(request.start(i))) % lit(request.step(i)) === 0)
      }
    }
    val rank = dims.length
    val grid = meta.chunkGridSlice(varNames.head)
    graft.functions.ChunkFunctions.register(spark)
    // blobs hold the FULL chunk volume (edge chunks include the overhang,
    // filled), so per-chunk shape/stride/volume are chunk-grid constants
    // and the per-cell loop stays rank × (div, mod, add) on plain columns
    // (a repeated inline shape expression once blew past the 8KB
    // HugeMethodLimit and ran the Generate loop interpreted, ~100× slower)
    val chunkShape = (0 until rank).map(i => grid.step(i))
    val strides = (0 until rank).map(i => (i + 1 until rank).map(chunkShape).product)
    val volume = chunkShape.product
    val sides = varNames.map { v =>
      chunkRows(v, request)
        .select(col("coordKey"), col("coord"), col("bytes").as(s"__bytes_$v"))
    }
    val joined = sides.reduceLeft { (a, b) =>
      a.join(b.drop("coord"), Seq("coordKey"))
    }
    val perChunk = (0 until rank).map(i =>
      (col("coord")(i) * lit(grid.step(i))).as(s"__base$i"))
    val decoded = varNames.map { v =>
      graft.functions.ChunkFunctions.chunkCells(spark, col(s"__bytes_$v"),
        lit(volume), lit(meta.dtype(v).name), lit(meta.fill(v))).as(v)
    }
    val cells = joined.select(perChunk :+
      posexplode(arrays_zip(decoded: _*)).as(Seq("pos", "__zip")): _*)
    val cellCols = (0 until rank).map { i =>
      s"(__base$i + (CAST(pos AS BIGINT) div ${strides(i)}L) % ${chunkShape(i)}L)" +
        s" AS `${dims(i)}`"
    }
    val out = cells.selectExpr(
      (cellCols ++ varNames.map(v => s"__zip.`$v` AS `$v`")): _*)
    (0 until rank).foldLeft(out) { (df, i) =>
      df.filter(col(dims(i)) >= request.start(i) && col(dims(i)) < request.stop(i))
    }
  }

  /** R1/R2 as the Spark-native exploded view: one row per cell of the
    * request, schema (dim₁: Long, …, dimₙ: Long, value: <elem type>).
    * Fill cells are materialized for never-written coordinates
    * (reference fill semantics: impl.clj:221-223).
    *
    * This is the DSv2 scan (`GraftScan`) of this reader's own pin: the
    * request envelope pushes down as dim predicates (build-time chunk
    * pruning), readers fetch blobs from the hash-sorted chunk files
    * (per-JVM blob cache, no shuffle of chunk bytes), batches emit
    * COLUMNAR, and repeated scans of the same version reuse the cached
    * scan manifest. */
  def exploded(varName: String, request: Slice, checkBounds: Boolean = true): DataFrame = {
    val varSlice = meta.varSlice(varName)
    require(request.nonEmpty, s"request slice is empty: $request")
    if (checkBounds && !request.isContainedIn(varSlice))
      throw new IndexOutOfBoundsException(
        s"Request slice $request crosses the variable's extent: $varSlice.")
    // STRIDED request: read the step-1 bounding box (all chunk pruning,
    // pushdown, and columnar decode of that path apply), then keep only
    // the stride lattice — per-axis `(d - start) % step = 0` on the
    // exploded coordinates. The reference deprecates strided reads
    // outright (slice.clj:81-102); here they stay first-class with ONE
    // documented scale caveat: chunk pruning on this distributed path is
    // by request ENVELOPE, so a step wider than the chunk extent still
    // fetches the box's interior chunks (the driver/engine path,
    // Engine.stream, prunes per-chunk by lattice walk). A reader whose
    // stride mostly skips chunks should window the request instead.
    if (!request.stepIsOne) {
      val dims = meta.variables(varName).shape
      val box = Slice(request.start, request.stop)
      return (0 until request.rank).foldLeft(
          exploded(varName, box, checkBounds)) { (df, i) =>
        if (request.step(i) == 1L) df
        else df.filter(
          (col(dims(i)) - lit(request.start(i))) % lit(request.step(i)) === 0)
      }
    }
    val dimNames = meta.variables(varName).shape
    val base = org.apache.spark.sql.graft.TableFrames.of(spark,
      new PinnedGraftTable(Resolved(store, meta, name, varName)))
    dimNames.zipWithIndex.foldLeft(base) { case (df, (d, i)) =>
      df.filter(col(d) >= request.start(i) && col(d) < request.stop(i))
    }
  }

  /** Exact MIN/MAX/SUM/COUNT over `request` answered from per-chunk
    * zone-map stats wherever possible — the 100 TB shape of `SELECT
    * min(v), max(v) FROM variable`:
    *
    *  - INTERIOR indexed chunks (chunk ⊆ request, so no extent overhang
    *    either, since request ⊆ extent) with a stats row answer from the
    *    INDEX ALONE — zero blob bytes read;
    *  - unindexed chunks are pure fill arithmetic — zero bytes read;
    *  - only BOUNDARY chunks (request/extent edges, an O(perimeter)
    *    fraction) and legacy index rows without stats decode their blob,
    *    clip, and aggregate cells.
    *
    * It is a scan, not an index join: one partial row per covering chunk
    * from this version's DSv2 scan partitions through `ChunkSlabCursor`
    * (the same planner and blob fetch as every other pinned read), then
    * one aggregate. A full-variable aggregate therefore reads the index
    * and scan manifest, not the data: at the target scale that is MBs
    * instead of TBs. Output is one row —
    * integral dtypes: (vmin, vmax, vsum, vcnt) as BIGINT with vsum exact
    * (null only if a chunk's running sum overflowed Int64); float dtypes:
    * (vmin, vmax) as DOUBLE with Spark's NaN-greatest semantics, plus
    * (vnan, vcnt). Float SUM is deliberately not offered — a parallel
    * float sum is not associative, so no two engines would agree. */
  def statsAggregate(varName: String, request: Slice, checkBounds: Boolean = true): DataFrame = {
    val varSlice = meta.varSlice(varName)
    require(request.nonEmpty, s"request slice is empty: $request")
    if (checkBounds && !request.isContainedIn(varSlice))
      throw new IndexOutOfBoundsException(
        s"Request slice $request crosses the variable's extent: $varSlice.")
    val dtype = meta.dtype(varName)
    val fill = meta.fill(varName)
    val isFloat = dtype == DType.FLOAT || dtype == DType.DOUBLE
    val partials = overCursors(varName, request) { cursor =>
      def partial(st: SlabStats) =
        (st.cnt, st.lmin, st.lmax, st.lsum, st.dmin, st.dmax, st.nan)
      // fill chunks: arithmetic over the clipped volume; Math.multiplyExact
      // keeps an integral sum overflow an error
      def fillStats(n: Long) = {
        val integral = if (isFloat) None else Some(fill.toLong)
        val real = if (isFloat && !fill.isNaN) Some(fill) else None
        SlabStats(n, integral, integral, integral.map(Math.multiplyExact(_, n)),
          real, real, if (fill.isNaN) n else 0L)
      }
      val window = cursor.window
      // only boundary and stats-less data chunks decode; interior chunks
      // answer from their index stats
      val (decoded, direct) = cursor.entries.partition { case (coord, hash, st) =>
        hash != null && (st == null || !window.clip(coord).interior)
      }
      val bytes = cursor.blobs(decoded)
      direct.iterator.map {
        case (coord, null, _) => partial(fillStats(window.clip(coord).cells))
        case (_, _, st) => partial(st)
      } ++ decoded.iterator.map { case (coord, hash, _) =>
        partial(cursor.clippedSlab(coord, bytes(hash)).stats)
      }
    }.toDF("cnt", "lmin", "lmax", "lsum", "dmin", "dmax", "nan")
    if (!isFloat) {
      // vsum is null (never wrong) if any chunk-level sum overflowed
      partials.agg(
        min("lmin").as("vmin"), max("lmax").as("vmax"),
        when(min(when(col("lsum").isNotNull, 1L).otherwise(0L)) === 1L,
          sum("lsum")).otherwise(lit(null)).cast("long").as("vsum"),
        sum("cnt").as("vcnt"))
    } else {
      // Spark aggregate semantics: NaN sorts greatest, so any NaN cell
      // makes the max NaN; min is the non-NaN min unless ALL cells are NaN
      partials.agg(
        coalesce(min("dmin"),
          when(sum("nan") > 0, lit(Double.NaN))).as("vmin"),
        when(sum("nan") > 0, lit(Double.NaN))
          .otherwise(max("dmax")).as("vmax"),
        sum("nan").as("vnan"),
        sum("cnt").as("vcnt"))
    }
  }

  /** Driver-side slab assembly for small windows (R1 get-slice,
    * reference: io/mandoline.clj:260-270). Requests above `maxCells`
    * are refused — the response slab lives on the driver; use
    * `exploded()`/`streamChunks()` for large reads. The chunk fetch
    * drains the scan's cursors in-process when `GraftScan.onDriver` admits
    * the covering chunks and their decoded bytes, else in one job. */
  def getSlice(varName: String, request: Slice, checkBounds: Boolean = true,
      maxCells: Long = SparkPinnedReader.MaxSliceCells): Slab = {
    val varSlice = meta.varSlice(varName)
    require(request.nonEmpty, s"request slice is empty: $request")
    require(request.volume <= maxCells,
      s"getSlice request covers ${request.volume} cells > cap $maxCells; " +
        "the response slab is assembled on the driver — use exploded() or " +
        "streamChunks() for reads this large")
    if (checkBounds && !request.isContainedIn(varSlice))
      throw new IndexOutOfBoundsException(
        s"Request slice $request crosses the variable's extent: $varSlice.")
    val dtype = meta.dtype(varName)
    val fill = meta.fill(varName)
    val response = Slab.empty(dtype, request, fill)
    val covering = new ChunkWindow(request, meta.chunkGridSlice(varName)).size
    val rows: Iterator[(String, Array[Long], String, Array[Byte])] =
      if (GraftScan.onDriver(covering, covering * GraftScan.chunkBytes(meta, varName))) {
        val (parts, box) = scanParts(varName, request)
        val metaJson = meta.toJson
        parts.iterator.flatMap(p =>
          new ChunkSlabCursor(p, metaJson, varName, box).framedChunks)
      } else SparkPinnedReader.raisingMissingBlob(
        overCursors(varName, request)(_.framedChunks).collect()).iterator
    rows.foreach { case (_, chunkCoord, _, framed) =>
      if (framed != null) {
        val coord = chunkCoord.toVector
        val chunkSlice = meta.chunkSlice(varName, coord)
        // strided request: chunks in the bounding box that hold no
        // lattice point are skipped; the rest gather-subset to the
        // lattice (unwritten chunks need nothing — the response slab is
        // pre-filled)
        val clip =
          if (request.stepIsOne) Some(request)
          else request.intersectLatticeOpt(chunkSlice)
        clip.foreach { c =>
          val slab = Slab(dtype, chunkSlice, FilterChain.decode(framed))
          response.mergeFrom(
            if (request.stepIsOne) slab.intersectWith(request)
            else slab.subset(c))
        }
      }
    }
    response
  }
}

/** Write path (W1-W8): shred slabs into chunk fragments, merge each
  * touched chunk onto its base, land the new blobs and the index rows.
  * Writes take the reads' point/range split at the same threshold
  * (`GraftScan.PointLookupThreshold`) and the reads' placement rule
  * (`GraftScan.onDriver`). A pass merges one of two ways:
  *  - POINT MERGE (`PointPass.merge`): bases the driver already holds —
  *    none for a first write or a REPLACE version (fragments fold onto
  *    fill), a shared writer's pinned retry bases, or the point resolve's
  *    winners for an update touching at most the threshold's chunks. It
  *    runs in-process on the driver for a single writer's driver-held
  *    input (a LocalRelation: `write(Seq[Slab])`, `Seq(…).toDF`) that
  *    fits the placement rule, else in tasks over fragments shuffled by
  *    coordinate.
  *  - RANGE MERGE (`rangeMerged`): an update of more than the threshold's
  *    chunks. Bases join in by coordinate (`withBlobs`) and cogroup with
  *    the fragments.
  * Both land through ONE kernel, `PointPass.land`: hash-sorted merged
  * chunks, adjacent duplicates dropped, hashes the store holds skipped
  * (`ChunkBlobReader.storedHashes`), one blob part file and one index part
  * file (`PartFileWriter`). A driver-placed pass lands in-process with no
  * Spark job. A task-placed pass shuffles its merged chunks into hash
  * ranges (`ChunkFileScope.HashRanges`) and lands once per range: one
  * range when it is known to touch at most the threshold's chunks, else
  * spark.sql.shuffle.partitions of them. The driver then adopts every
  * landed file as one ingest generation. Every merge folds, encodes and
  * takes stats through one kernel (`SparkVersionWriter.mergeChunk`). */
final class SparkVersionWriter(store: SparkStore, name: String,
    val meta: DatasetMeta, val parentMeta: Option[DatasetMeta],
    /** True for writers rebuilt from a token: the version may have
      * CO-WRITERS in other processes, so every write() verifies it still
      * owns its touched chunks after landing and retries lost ones — the
      * Spark-job-granularity analog of the reference's per-chunk CAS
      * retry loop (update-chunk!, impl.clj:232-250), which is what lets
      * concurrent writers share chunks (mis-ordered coordinate
      * partitions, concurrency.clj:162-243) without lost updates. The
      * single-writer path (addVersion) skips the verify job entirely. */
    shared: Boolean = false) {
  import store.spark
  import spark.implicits._
  import SparkVersionWriter.{Frag, Merged, SlabRow}

  def token: String = meta.toJson
  private def vid = meta.versionId.get

  /** Driver-convenience write. */
  def write(varName: String, slabs: Seq[Slab]): Unit = {
    val indexed = slabs.zipWithIndex.map { case (s, i) =>
      (s.slice.start.toArray, s.slice.stop.toArray, s.bytes, i.toLong)
    }
    writeRows(varName, spark.createDataset(indexed)
      .toDF("start", "stop", "bytes", "seq"))
  }

  /** Distributed write: `slabRows` has columns
    * (start: Array[Long], stop: Array[Long], bytes: Binary, seq: Long) where
    * bytes is the slab's raw big-endian row-major buffer. */
  // strictly increasing across write() calls of THIS writer even within
  // one millisecond — stored UNSHIFTED (millis scale), shifted by 20 bits
  // at use. (A previous form computed max(millis, (prev >> 20) + 1) on the
  // unshifted value, which collapses to the SAME base for two calls in
  // one millisecond — cross-call LWW ordering would then interleave by
  // per-slab seq. Never observed because a Spark write job exceeds 1 ms,
  // but the invariant is now structural.) Cross-driver order still
  // follows the wall clock, as in the reference's CAS semantics where
  // concurrent-writer interleaving is unspecified; shared writers
  // additionally bump past an observed winner before retrying.
  private val lastSeqBase = new java.util.concurrent.atomic.AtomicLong(0L)

  def writeRows(varName: String, slabRows: DataFrame): Unit =
    Instrument.timed("store.writeRows") {
      SparkPinnedReader.raisingMissingBlob {
        val mine = writeOnce(varName, slabRows, collectHashes = shared)
        if (shared) verifySharedWrite(varName, slabRows, mine.get, attempt = 0)
      }
    }

  /** One merge-and-land pass. With `collectHashes` (shared writers
    * only) returns this pass's per-chunk (content hash, base row seq,
    * base row hash) — content identity plus merge PROVENANCE, which the
    * ownership verify compares (baseSeq −1 / baseHash "" when the base
    * was a committed-version row or fill); single-writer passes collect
    * nothing. `baseOverride` (retry passes only) pins each
    * chunk's merge base to an explicit (seq, hash) row chosen at verify
    * time instead of the MVCC resolve — the CAS-retry "re-read current,
    * merge onto it" step. The pass merges and lands as the class doc
    * describes. */
  private def writeOnce(varName: String, slabRows: DataFrame,
      collectHashes: Boolean = false,
      baseOverride: Option[Seq[(String, Long, String)]] = None,
      replacesByCoord: Map[String, String] = Map.empty)
      : Option[Map[String, (String, Long, String)]] = {
    val varN = varName
    val jobSeqBase = lastSeqBase.updateAndGet(prev =>
      math.max(System.currentTimeMillis(), prev + 1)) << 20
    // 1. shred: slab → per-chunk clipped fragments
    val shred = new SparkVersionWriter.Shredder(meta.toJson, varN, jobSeqBase)
    // On a pinned-base retry, merge ONLY the overridden coordinates: the
    // retry's slab rows can span both lost and still-owned chunks, and an
    // owned chunk absent from the override would otherwise merge with
    // no base at all and re-merge onto FILL — erasing cells it already
    // holds, with a bumped seq that would make the damage win
    val overridden = baseOverride.map(_.iterator.map(_._1).toSet)
    def frags: Dataset[Frag] = {
      val all = slabRows.select("start", "stop", "bytes", "seq").as[SlabRow]
        .flatMap(r => shred(r))
      overridden.fold(all)(keys => all.filter(f => keys.contains(f._1)))
    }

    // 2. plan. A pass RESOLVES A BASE — the current in-flight version's
    //    own entries (read-modify-write across write() calls) ∪ committed
    //    ancestry ≤ parent (reference: impl.clj:232-250) — unless it is a
    //    first write or a REPLACE. FIRST-WRITE FAST PATH: when the
    //    variable provably has no index data (no admissible version
    //    partition on disk — every initial bulk ingest), the pass skips
    //    the touched-coordinate scan, the MVCC resolve and the blob fetch
    //    entirely and folds fragments onto fill. A REPLACE version (INSERT
    //    OVERWRITE) merges against FILL, never the parent — the committed
    //    version must contain only this write's cells. A retry's bases
    //    are its pinned override. A single writer's DRIVER-HELD input (a
    //    LocalRelation, as write(Seq[Slab]) and Seq(…).toDF build) names
    //    its touched chunks with no job, and runs on the driver within
    //    `GraftScan.onDriver`'s bound; any other base-resolving pass that
    //    touches at most the point threshold's chunks resolves its bases
    //    on the driver too, and a larger one resolves them distributedly.
    val resolvesBase = baseOverride.isDefined ||
      (store.hasIndexData(name, varN, meta.parent, vid) &&
        !SparkStore.isReplaceOf(meta, varN))
    val threshold = GraftScan.PointLookupThreshold
    val local = if (shared) None else localSlabRows(slabRows)
    val touched: Option[java.util.Set[String]] = (overridden, local) match {
      case (Some(keys), _) => Some(keys.asJava)
      case (None, Some(rows)) =>
        val keysOf = slabChunkKeys(varN)
        Some(rows.foldLeft(new java.util.HashSet[String]()) { (acc, r) =>
          SparkVersionWriter.addCapped(acc, keysOf(r._1, r._2), threshold) })
      case _ if resolvesBase => Some(touchedCapped(varN, slabRows, threshold))
      case _ => None
    }
    val pointKeys = touched.filter(_.size <= threshold).map(_.asScala.toSet)
    // coordKey → (base blob hash, baseSeq, baseHash), absent → fill base;
    // None: the bases come from the range merge's distributed resolve
    val bases: Option[Map[String, (String, Long, String)]] = baseOverride match {
      case Some(ov) => Some(ov.iterator.map { case (k, s, h) => k -> ((h, s, h)) }.toMap)
      case None if !resolvesBase => Some(Map.empty)
      case None => pointKeys.map(resolvedBases(varN, _))
    }
    val pass = SparkVersionWriter.PointPass(meta.toJson, varN, vid, jobSeqBase,
      bases.getOrElse(Map.empty), replacesByCoord, collectHashes,
      java.util.UUID.randomUUID.toString, SparkVersionWriter.blobFiles(spark),
      PartFileWriter(spark, SparkVersionWriter.indexFileSchema, Map.empty, "."),
      store.newChunkStagingDir(), store.newIndexStagingDir(name))

    val landed = (local, pointKeys) match {
      case (Some(rows), Some(keys)) if GraftScan.onDriver(keys.size,
          rows.iterator.map(_._3.length.toLong).sum +
            keys.size * GraftScan.chunkBytes(meta, varN)) =>
        val ranged = ChunkFileScope.ranged(store)
        val merged = pass.merge(ranged,
            rows.iterator.flatMap(r => shred(r)).toArray.sortBy(_._1).iterator)
          .toArray.sortBy(_._3)
        Seq(pass.land(ranged, merged.iterator, 0))
      case _ =>
        // one chunk-file listing for the base fetch and the dedup probe
        val ranged = spark.sparkContext.broadcast(ChunkFileScope.ranged(store))
        val hconfBc = StoreFs.broadcastConf()
        val n = spark.sessionState.conf.numShufflePartitions
        val merged = if (bases.isDefined) {
          frags.rdd.keyBy(_._1)
            .repartitionAndSortWithinPartitions(new org.apache.spark.HashPartitioner(n))
            .mapPartitions { it =>
              StoreFs.installExecutorConf(hconfBc.value)
              pass.merge(ranged.value, it.map(_._2))
            }
        } else rangeMerged(varN, slabRows, frags).rdd
        store.inHashRanges(merged.keyBy(_._3), if (pointKeys.isDefined) 1 else n) { (range, it) =>
          pass.land(ranged.value, it, range)
        }.toSeq
    }
    val mine = adoptLanded(pass, landed)
    if (collectHashes) Some(mine) else None
  }

  /** `slabRows`' rows when its optimized plan is a LocalRelation: rows
    * the driver already holds. Collecting a local relation runs no job
    * (`LocalTableScanExec.executeCollect` returns its rows directly). */
  private def localSlabRows(slabRows: DataFrame): Option[Array[SlabRow]] =
    slabRows.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(slabRows.select("start", "stop", "bytes", "seq").as[SlabRow].collect())
      case _ => None
    }

  /** The point resolve's bases of `keys`: coordKey → (base blob hash,
    * baseSeq, baseHash), chain-scoped on the writer's own parent manifest
    * plus this in-flight version — as the range merge's base resolve. */
  private def resolvedBases(varN: String, keys: Set[String])
      : Map[String, (String, Long, String)] = {
    val admissible =
      parentMeta.toSeq.flatMap(store.pinnedAdmissible(name, varN, _)) :+ vid
    store.resolvedPoints(name, varN, admissible, PointKeys.Exactly(keys))
      .map { case (k, r) =>
        val own = r.getLong(1) == vid
        k -> ((r.getString(3), if (own) r.getLong(2) else -1L,
          if (own) r.getString(3) else ""))
      }
  }

  /** Adopts a landed pass — every blob dir, then ONE range sidecar for
    * the pass, then every index dir, as every append orders them (see
    * vacuum) — and drops its staging dirs (a failed task attempt's files
    * included: only the dirs the successful attempts returned are
    * adopted). */
  private def adoptLanded(pass: SparkVersionWriter.PointPass,
      landed: Seq[SparkVersionWriter.Landed]): Map[String, (String, Long, String)] = {
    store.writeChunkRangeSidecar(landed.flatMap(_.chunkDir).flatMap(store.adoptChunkFiles))
    StoreFs.deleteTree(pass.chunkStaging)
    landed.flatMap(_.indexDir).foreach(store.adoptIndexFiles(name, _))
    StoreFs.deleteTree(pass.indexStaging)
    landed.iterator.flatMap(_.chunks).map { case (k, h, bs, bh) => k -> ((h, bs, bh)) }.toMap
  }

  /** RANGE merge: base chunks are semi-joined to the coordinates the
    * slabs actually touch, each base row's blob then fetched BY HASH
    * (`SparkStore.withBlobs`: hash-bucketed batches through the chunk
    * files whose hash range can hold them — never a scan of the whole
    * blob store); then ONE shuffle cogroups fragments with base chunks
    * by coordinate, so each coordinate is owned by exactly one task. A
    * resolved base hash whose blob is missing fails the write
    * (`SparkPinnedReader.requireBlob`): merging onto fill would silently
    * erase the chunk's untouched cells. A coordinate with no base folds
    * its fragments onto fill. */
  private def rangeMerged(varN: String, slabRows: DataFrame,
      frags: Dataset[Frag]): Dataset[Merged] = {
    // touched chunk coordinates, computed WITHOUT shuffling slab bytes —
    // base-chunk loading is restricted to these (writing one slab to a
    // petabyte variable must not load the whole variable's chunks)
    val touched = touchedKeys(varN, slabRows)
    // base resolution is CHAIN-scoped on the writer's own parent
    // manifest (not the listing): a writer chained on a just-committed
    // parent a lagging listing still omits must merge against the
    // parent's real state, never the grandparent's. (coordKey, hash,
    // baseSeq, baseHash): base row identity — baseSeq −1 / baseHash ""
    // for a committed-version base (only THIS version's rows can contend,
    // so only a vid base needs an identity)
    val baseIdx = (parentMeta match {
      case Some(pm) => store.resolvedIndexPinned(name, varN, pm,
        includeUncommitted = Some(vid))
      case None => store.resolvedOver(name, varN, Seq(vid), lit(true))
    })
      .join(touched, Seq("coordKey"), "left_semi")
      .select(col("coordKey"), col("hash"),
        when(col("winVersion") === vid, col("winSeq")).otherwise(-1L).as("baseSeq"),
        when(col("winVersion") === vid, col("hash")).otherwise("").as("baseHash"))
    val baseChunks = store.withBlobs(baseIdx, "hash", "baseBytes",
        requireKeyCol = Some("coordKey"))
      .select(col("coordKey"), col("baseBytes"), col("baseSeq"), col("baseHash"))
      .as[(String, Array[Byte], Long, String)]
    val metaJson = meta.toJson
    frags.groupByKey(_._1)
      .cogroup(baseChunks.groupByKey(_._1)) { (key, fIt, bIt) =>
        val fs = fIt.toArray
        if (fs.isEmpty) Iterator.empty
        else {
          val base = bIt.toSeq.headOption
          Iterator(SparkVersionWriter.mergeChunk(DatasetMeta.fromJson(metaJson),
            varN, key, fs, base.map(_._2).orNull, base.fold(-1L)(_._3),
            base.fold("")(_._4)))
        }
      }
  }

  /** Keys of the chunks one slab row's [start, stop) box covers — the
    * writer's one slab → chunk-key rule (serializable: executor-side). */
  private def slabChunkKeys(varName: String)
      : (scala.collection.Seq[Long], scala.collection.Seq[Long]) => Iterator[String] = {
    val grid = meta.chunkGridSlice(varName)
    (start, stop) => ChunkGrid.toChunkCoordinates(
      Slice(start.toVector, stop.toVector), grid).iterator.map(SparkStore.coordKey)
  }

  /** Distinct keys of the chunks `slabRows` touch, as a `coordKey` frame. */
  private def touchedKeys(varName: String, slabRows: DataFrame): DataFrame = {
    val keysOf = slabChunkKeys(varName)
    slabRows.select("start", "stop").as[(Array[Long], Array[Long])]
      .flatMap { case (start, stop) => keysOf(start, stop) }
      .distinct().toDF("coordKey")
  }

  /** Distinct keys of the chunks `slabRows` touch, capped: all of them
    * when there are at most `limit`, else `limit` + 1 of them. ONE job
    * with no shuffle: each task stops at `limit` + 1 distinct keys, and
    * the driver folds each task's set in as it arrives, stopping at
    * `limit` + 1 too — so however many partitions the slab frame has, the
    * driver holds `limit` + 1 keys plus the task results in flight. */
  private[spark] def touchedCapped(varName: String, slabRows: DataFrame,
      limit: Long): java.util.Set[String] = {
    import SparkVersionWriter.addCapped
    val keysOf = slabChunkKeys(varName)
    slabRows.select("start", "stop").as[(Array[Long], Array[Long])].rdd
      .mapPartitions { it =>
        val seen = new java.util.HashSet[String]()
        while (it.hasNext && seen.size <= limit) {
          val (start, stop) = it.next()
          addCapped(seen, keysOf(start, stop), limit)
        }
        Iterator.single(seen)
      }
      .aggregate(new java.util.HashSet[String]())(
        (acc, seen) => addCapped(acc, seen.iterator.asScala, limit),
        (acc, seen) => addCapped(acc, seen.iterator.asScala, limit))
  }

  /** Post-landing ownership check for SHARED (token) writers — the
    * CAS-retry analog at Spark-job granularity, and what lets concurrent
    * writers share chunks without lost updates (the reference's
    * mis-ordered lots-of-processes shape, concurrency.clj:162-243;
    * update-chunk!'s per-chunk CAS loop, impl.clj:232-250).
    *
    * Ownership is CONTENT-based: contention lives entirely among THIS
    * version's index rows (any vid row outranks every committed row in
    * resolve), so the winner per touched chunk is the vid partition's
    * max (seq, hash) row — the exact order resolve uses. A winning hash
    * different from this pass's own means the resolved chunk does not
    * contain this pass's merge result; a winning hash EQUAL to ours
    * means the resolved content already includes our cells, no matter
    * whose row it is (seq ties between same-millisecond writers land
    * here, harmlessly). Retry = re-run the merge for just the lost
    * chunks: writeOnce's base resolve now sees the winner's row, so our
    * fragments fold ONTO the winner's cells (including a co-writer's),
    * with a seq bumped past the winner so the retry outranks it. The
    * scheme is self-stabilizing: a retry that re-merges cells already
    * folded in produces the SAME bytes → same content hash → the verify
    * converges and the content-addressed chunk store dedups the blob.
    * Bounded rounds (reference liveness is an unbounded CAS loop; we
    * fail loudly instead of hanging). Cost when uncontended: one small
    * aggregate job over the touched coordinates of the vid partition per
    * write() call — paid only by token writers. */
  private def verifySharedWrite(varName: String, slabRows: DataFrame,
      mine: Map[String, (String, Long, String)], attempt: Int): Unit = {
    val varN = varName
    val touched = touchedKeys(varN, slabRows)
    val winners = store.admittedIndexDF(name, varN, Seq(vid))
      .filter(col("var") === varN && col("version") === vid)
      .join(touched, Seq("coordKey"), "left_semi")
      .groupBy("coordKey")
      .agg(max(struct(col("seq"), col("hash"))).as("w"))
      .select(col("coordKey"), col("w.seq").as("winSeq"),
        col("w.hash").as("winHash"))
      .collect()
    val losers = winners.filter(r =>
      mine.get(r.getString(0)).exists(_._1 != r.getString(2)))
    if (losers.isEmpty) return
    if (attempt >= SparkStore.MaxSharedWriteRetries) {
      // provenance in the report: whether each lost merge had folded the
      // row that is STILL winning (pure seq/clock loss) or a base the
      // winner has since superseded (content loss) — the first hint when
      // diagnosing sustained contention
      val detail = losers.take(5).map { r =>
        val k = r.getString(0)
        val (h, bs, bh) = mine(k)
        s"$k: ours=$h over base(seq=$bs,hash=$bh) vs " +
          s"winner(seq=${r.getLong(1)},hash=${r.getString(2)})"
      }.mkString("; ")
      throw new java.io.IOException(
        s"shared write of $name/$varN lost ${losers.length} chunk(s) to " +
          s"concurrent co-writers ${SparkStore.MaxSharedWriteRetries} times " +
          "in a row — giving up (sustained contention on the same chunks; " +
          "partition writers chunk-aligned or reduce co-writer fan-in) [" +
          detail + "]")
    }
    // the retry must outrank every observed winner even across driver
    // clock skew: bump our unshifted millis-scale base past theirs
    val maxWin = losers.iterator.map(_.getLong(1)).max
    lastSeqBase.updateAndGet(prev => math.max(prev, maxWin >> 20))
    Thread.sleep(50L + scala.util.Random.nextInt(150 * (attempt + 1)))
    val lost = losers.iterator.map(_.getString(0)).toSet
    val keysOf = slabChunkKeys(varN)
    val retryRows = slabRows.filter { row =>
      keysOf(row.getAs[scala.collection.Seq[Long]]("start"),
        row.getAs[scala.collection.Seq[Long]]("stop")).exists(lost.contains)
    }
    // pin the retry's merge base to the OBSERVED winner rows (the CAS
    // "re-read current, merge onto it" step made explicit): across
    // process boundaries the retry's own MVCC resolve could race a
    // still-landing co-writer and pick a base the verify never saw —
    // pinning makes each retry round reproducible against the winner
    // this round observed, and the next verify round catches anything
    // newer
    val pinned = losers.iterator
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val replaces = losers.iterator
      .map(r => r.getString(0) -> mine(r.getString(0))._1).toMap
    val mineRetry = writeOnce(varName, retryRows, collectHashes = true,
      baseOverride = Some(pinned), replacesByCoord = replaces)
    verifySharedWrite(varName, retryRows, mineRetry.get, attempt + 1)
  }

  /** V3 commit. */
  def finishVersion(): Long = store.commitVersion(name, meta)
}

object SparkVersionWriter {
  /** Shredded slab fragment: a slab clipped to one chunk, as (coordKey,
    * coord, seq, start, stop, bytes). `seq` carries write order for
    * last-writer-wins determinism (reference overlap semantics:
    * concurrency.clj:75-160; SURVEY §7.4). */
  private[spark] type Frag =
    (String, Array[Long], Long, Array[Long], Array[Long], Array[Byte])

  /** One merged chunk: (coordKey, coord, content hash, framed blob, stats
    * cnt/lmin/lmax/lsum/dmin/dmax/nan, baseSeq, baseHash). */
  private[spark] type Merged = (String, Array[Long], String, Array[Byte],
    Long, Option[Long], Option[Long], Option[Long], Option[Double],
    Option[Double], Long, Long, String)

  /** One slab row: (start, stop, raw big-endian bytes, seq). */
  private[spark] type SlabRow = (Array[Long], Array[Long], Array[Byte], Long)

  /** The writer's one slab → fragment rule: a slab row clipped to each
    * chunk it covers, its seq offset into the pass's `seqBase`. A
    * task-placed pass runs it in tasks, the driver placement in-process. */
  private[spark] final class Shredder(metaJson: String, varN: String,
      seqBase: Long) extends Serializable {
    @transient private lazy val meta = DatasetMeta.fromJson(metaJson)

    def apply(row: SlabRow): Iterator[Frag] = {
      val (start, stop, bytes, seq) = row
      // the per-call seq space is 20 bits (seqBase | seq); a larger seq
      // would bleed into a LATER call's range and corrupt cross-call
      // last-writer-wins ordering — fail the write instead
      if (seq < 0L || seq >= (1L << 20))
        throw new IllegalArgumentException(
          s"slab seq $seq outside [0, 2^20): one writeRows call is " +
            "limited to 2^20 slab rows — split the write into batches")
      val slabSlice = Slice(start.toVector, stop.toVector)
      val slab = Slab(meta.dtype(varN), slabSlice, bytes)
      val grid = meta.chunkGridSlice(varN)
      ChunkGrid.toChunkCoordinates(slabSlice, grid).iterator.map { coord =>
        val clipped = slab.intersectWith(ChunkGrid.fromChunkCoordinate(grid, coord))
        (SparkStore.coordKey(coord), coord.toArray, seqBase + seq,
          clipped.slice.start.toArray, clipped.slice.stop.toArray, clipped.bytes)
      }
    }
  }

  /** Columns of a blob part file, as a Spark write of the chunk rows
    * declares them. */
  private[spark] val blobFileSchema = StructType(Seq(
    StructField("hash", StringType), StructField("ref", LongType, nullable = false),
    StructField("bytes", BinaryType)))

  /** Columns of an index part file — `SparkStore.indexSchema` without the
    * (var, version) partition columns — as a Spark write of the index rows
    * declares them. */
  private[spark] val indexFileSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("coordKey", StringType),
    StructField("coord", ArrayType(LongType, containsNull = false)),
    StructField("hash", StringType),
    StructField("stats", StructType(SparkStore.statsSchema.fields.map(f =>
      if (f.name == "cnt" || f.name == "nan") f.copy(nullable = false) else f)),
      nullable = false),
    StructField("baseSeq", LongType, nullable = false),
    StructField("baseHash", StringType),
    StructField("replacesHash", StringType)))

  /** Writer of blob part files: (hash, ref, bytes) rows, uncompressed —
    * blobs are already LZ4-framed. */
  private[spark] def blobFiles(spark: SparkSession): PartFileWriter =
    PartFileWriter(spark, blobFileSchema, Map("compression" -> "uncompressed"), "-")

  /** Where one landing wrote: its blob and index attempt dirs (None when
    * it wrote no such file) and, for a pass that keeps them, each merged
    * chunk's (coordKey, hash, baseSeq, baseHash). */
  private[spark] final case class Landed(chunkDir: Option[String],
      indexDir: Option[String], chunks: Array[(String, String, Long, String)])

  /** A write pass's kernels over iterators, the same on the driver and in
    * tasks: `merge` folds each chunk's fragments onto its base, `land`
    * writes one hash range's blob part file and index part file. Built on
    * the driver; serializable, so the task placement ships it. Every file
    * of the pass carries its generation id `gen`. */
  private[spark] final case class PointPass(metaJson: String, varN: String,
      vid: Long, seq: Long, bases: Map[String, (String, Long, String)],
      replaces: Map[String, String], keepChunks: Boolean, gen: String,
      blobFiles: PartFileWriter, indexFiles: PartFileWriter,
      chunkStaging: String, indexStaging: String) {
    @transient private lazy val meta = DatasetMeta.fromJson(metaJson)

    /** Merged chunks of coordKey-sorted fragments, each base blob fetched
      * by hash in batches through only the chunk files of `ranged` whose
      * hash range can hold it. A base whose blob is missing fails the
      * write (`SparkPinnedReader.requireBlob`): merging onto fill would
      * erase the chunk's untouched cells. */
    def merge(ranged: Array[(String, String, String)],
        frags: Iterator[Frag]): Iterator[Merged] =
      ChunkFileScope.fetchByHash(ranged, runsByKey(frags))(
          g => bases.get(g._1).map(_._1).orNull).map { case ((key, fs), bytes) =>
        bases.get(key) match {
          case Some((h, baseSeq, baseHash)) =>
            SparkPinnedReader.requireBlob(key, h, bytes)
            mergeChunk(meta, varN, key, fs, bytes, baseSeq, baseHash)
          case None => mergeChunk(meta, varN, key, fs, null, -1L, "")
        }
      }

    /** Lands hash-sorted `merged` chunks of hash range `range`: their new
      * blobs as ONE blob part file (`landBlobs`) and their rows as ONE
      * index part file under `var=<escaped>/version=<vid>/`. Each call
      * writes into fresh attempt dirs, so a retried task never mixes
      * files with a failed attempt. */
    def land(ranged: Array[(String, String, String)],
        merged: Iterator[Merged], range: Int): Landed = {
      val attempt = java.util.UUID.randomUUID.toString
      val indexDir = StoreFs.child(indexStaging, attempt)
      val partition = StoreFs.child(StoreFs.child(indexDir, "var=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(varN)),
        s"version=$vid")
      val chunks = Array.newBuilder[(String, String, Long, String)]
      val index = new PartFileWriter.Lazy(indexFiles, partition, range, gen)
      val chunkDir =
        try landBlobs(ranged, merged.map { m =>
          index.write(indexRow(m))
          if (keepChunks) chunks += ((m._1, m._3, m._12, m._13))
          (m._3, m._4)
        }, blobFiles, StoreFs.child(chunkStaging, attempt), range, gen)
        finally index.close()
      Landed(chunkDir, if (index.opened) Some(indexDir) else None, chunks.result())
    }

    private def indexRow(m: Merged): InternalRow = {
      def str(s: String) = if (s == null) null else UTF8String.fromString(s)
      new GenericInternalRow(Array[Any](seq, str(m._1),
        UnsafeArrayData.fromPrimitiveArray(m._2), str(m._3),
        new GenericInternalRow(Array[Any](m._5, m._6.getOrElse(null),
          m._7.getOrElse(null), m._8.getOrElse(null), m._9.getOrElse(null),
          m._10.getOrElse(null), m._11)),
        m._12, str(m._13), replaces.get(m._1).map(str).orNull))
    }
  }

  /** The blob kernel every commit and torn repair lands through: of
    * hash-sorted (hash, framed blob) rows, adjacent duplicates dropped,
    * then hashes the store already holds — found by
    * `ChunkBlobReader.storedHashes` over `ranged`'s candidate files (never
    * the per-JVM blob cache: a cached blob may already be vacuumed) — the
    * rest go into ONE part file `part-<part>-<gen>` in `dir`. Returns
    * `dir` when it wrote the file. */
  private[spark] def landBlobs(ranged: Array[(String, String, String)],
      blobs: Iterator[(String, Array[Byte])], files: PartFileWriter, dir: String,
      part: Int, gen: String): Option[String] = {
    val out = new PartFileWriter.Lazy(files, dir, part, gen)
    try dropAdjacent(blobs).grouped(ChunkBlobReader.OrTreeLimit).foreach { batch =>
      val hs = batch.iterator.map(_._1).toSet
      val stored = ChunkBlobReader.storedHashes(
        ChunkFileScope.filesFor(ranged, hs.iterator), hs)
      batch.foreach { case (h, b) =>
        if (!stored.contains(h))
          out.write(new GenericInternalRow(Array[Any](UTF8String.fromString(h), -1L, b)))
      }
    } finally out.close()
    if (out.opened) Some(dir) else None
  }

  /** Adds `keys` to `into` until it holds more than `limit` keys. */
  private[spark] def addCapped(into: java.util.HashSet[String],
      keys: Iterator[String], limit: Long): java.util.HashSet[String] = {
    while (keys.hasNext && into.size <= limit) into.add(keys.next())
    into
  }

  /** The merge kernel of both write merges, for one touched chunk: fold
    * its fragments in write order onto its base (`baseFramed`, a framed
    * blob, or fill when null), encode the result and take its zone-map
    * stats — computed while the slab is in memory, so read-side
    * aggregates and value-predicate skipping answer from them without
    * touching the blob. */
  private[spark] def mergeChunk(m: DatasetMeta, varN: String, key: String,
      fs: Array[Frag], baseFramed: Array[Byte], baseSeq: Long,
      baseHash: String): Merged = {
    val dt = m.dtype(varN)
    val coord = key.split(',').filter(_.nonEmpty).map(_.toLong).toVector
    val chunkSlice = m.chunkSlice(varN, coord)
    // base chunk's slice == child chunk slice (grid is frozen across
    // versions, reference: dataset.clj:55-61)
    val base =
      if (baseFramed == null) Slab.empty(dt, chunkSlice, m.fill(varN))
      else Slab(dt, chunkSlice, FilterChain.decode(baseFramed))
    // total order: seq, then fragment origin, then payload bytes (a
    // caller CAN ship duplicate coordinates with equal seq — e.g. the
    // cell-ingest path — and without a full tie-break the merge would
    // follow nondeterministic shuffle-fetch order, so a persisted-
    // partition recompute could hash differently than the stored blob)
    fs.sortWith { (a, b) =>
      if (a._3 != b._3) a._3 < b._3
      else {
        val so = java.util.Arrays.compare(a._4, b._4)
        if (so != 0) so < 0
        else {
          val eo = java.util.Arrays.compare(a._5, b._5)
          if (eo != 0) eo < 0
          else java.util.Arrays.compareUnsigned(a._6, b._6) < 0
        }
      }
    }.foreach { case (_, _, _, fStart, fStop, fBytes) =>
      base.mergeFrom(Slab(dt, Slice(fStart.toVector, fStop.toVector), fBytes))
    }
    val framed = FilterChain.encode(m.filters match {
      case Nil => FilterChain.DefaultWriteChain
      case f => f
    }, base.bytes)
    val st = base.stats
    (key, coord.toArray, base.contentHash, framed, st.cnt, st.lmin, st.lmax,
      st.lsum, st.dmin, st.dmax, st.nan, baseSeq, baseHash)
  }

  /** The runs of equal coordKey in a coordKey-sorted fragment stream. */
  private[spark] def runsByKey(it: Iterator[Frag]): Iterator[(String, Array[Frag])] = {
    val buf = it.buffered
    Iterator.continually(buf).takeWhile(_.hasNext).map { b =>
      val key = b.head._1
      val run = Array.newBuilder[Frag]
      while (b.hasNext && b.head._1 == key) run += b.next()
      (key, run.result())
    }
  }

  /** Blob rows of a hash-sorted stream with adjacent duplicates dropped. */
  private def dropAdjacent(it: Iterator[(String, Array[Byte])])
      : Iterator[(String, Array[Byte])] = {
    var last: String = null
    it.filter { r =>
      val keep = r._1 != last
      last = r._1
      keep
    }
  }
}
