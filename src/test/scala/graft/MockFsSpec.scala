package graft

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.{SparkStore, StoreFs}
import graft.testfs.MockObjectStoreFileSystem
import org.scalatest.funsuite.AnyFunSuite

/** The remote store route against OBJECT-STORE rename semantics: every
  * test runs the store over a `mockfs://` root (graft.testfs.
  * MockObjectStoreFileSystem — rename degrades to per-object copy +
  * delete, no atomic directory moves, no implicit replace), the
  * unfriendly case `file:///`'s LocalFileSystem never shows. Mirrors the
  * reference's posture of proving the store protocol over swappable
  * remote backends (/root/reference/README.md:16-19,
  * src/io/mandoline/impl.clj:77-119). */
class MockFsSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestSession.spark

  private def mockRoot(): String =
    "mockfs://" + tempRoot("graft-mockfs")

  private def meta1d(n: Long = 10L, chunk: Long = 4L) = DatasetMeta(
    dimensions = Map("x" -> n), chunkDimensions = Map("x" -> chunk),
    variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)))

  private def writeVals(store: SparkStore, ds: String,
      vals: Seq[Double], at: Long = 0L): Long = {
    val w = store.addVersion(ds, meta1d())
    w.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(at), Seq(at + vals.length)), vals)))
    w.finishVersion()
  }

  private def readAll(store: SparkStore, ds: String, vid: Long): Map[Long, Long] =
    store.reader(ds).onVersion(vid)
      .exploded("v", Slice(Seq(0L), Seq(10L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("full lifecycle over object-store rename semantics: write, read, " +
      "time travel, clone, destroy — all commits are copy+delete renames") {
    val before = MockObjectStoreFileSystem.renameCount.get()
    val store = new SparkStore(spark, mockRoot())
    store.create("ds")
    val v1 = writeVals(store, "ds", (1 to 10).map(_.toDouble))
    val v2 = writeVals(store, "ds", Seq(99.0, 99.0, 99.0), at = 2L)

    assert(readAll(store, "ds", v1) == (0L until 10L).map(x => x -> (x + 1)).toMap)
    val at2 = readAll(store, "ds", v2)
    assert(at2(2L) == 99L && at2(4L) == 99L && at2(5L) == 6L)

    assert(store.listDatasets == Seq("ds"))
    assert(store.versions("ds").map(_._2) == Seq(v2, v1))

    // DSv2 read over the same mockfs root
    val dsv2 = spark.read.format("graft")
      .option("root", store.root).option("dataset", "ds")
      .option("variable", "v").load()
    assert(dsv2.count() == 10L)

    // zero-copy clone (copies manifests+index through mockfs, shares blobs)
    assert(store.cloneDataset("ds", "ds2") == 2L)
    assert(readAll(store, "ds2", v2) == at2)
    store.destroy("ds2")
    assert(store.listDatasets == Seq("ds"))

    // the route really was the mock: commits went through its renames
    assert(MockObjectStoreFileSystem.renameCount.get() > before,
      "no rename went through MockObjectStoreFileSystem — wrong route")
  }

  test("crash mid chunk publish: the version never becomes visible, the " +
      "prior version still reads, and a fresh write then succeeds") {
    val store = new SparkStore(spark, mockRoot())
    store.create("ds")
    val v1 = writeVals(store, "ds", (1 to 10).map(_.toDouble))

    // next copy of a .parquet object dies before that object is visible —
    // wherever it lands in the distributed write's publish sequence
    // (committer rename or chunk adopt), the commit must fail loudly
    MockObjectStoreFileSystem.failNextCopyMatching = ".parquet"
    try {
      intercept[Exception] { writeVals(store, "ds", Seq(7.0, 7.0), at = 0L) }
    } finally MockObjectStoreFileSystem.failNextCopyMatching = null

    assert(store.versions("ds").map(_._2) == Seq(v1),
      "a crashed write must not commit a version")
    assert(readAll(store, "ds", v1) == (0L until 10L).map(x => x -> (x + 1)).toMap)

    // retry (fresh staging generation) commits cleanly
    val v2 = writeVals(store, "ds", Seq(7.0, 7.0), at = 0L)
    val at2 = readAll(store, "ds", v2)
    assert(at2(0L) == 7L && at2(1L) == 7L && at2(2L) == 3L)
  }

  test("crash mid manifest publish: commitVersion throws, the version " +
      "list is unchanged, and the writer sequence can be retried") {
    val store = new SparkStore(spark, mockRoot())
    store.create("ds")
    val v1 = writeVals(store, "ds", (1 to 10).map(_.toDouble))

    MockObjectStoreFileSystem.failNextCopyMatching = ".json"
    try {
      intercept[Exception] { writeVals(store, "ds", Seq(5.0), at = 9L) }
    } finally MockObjectStoreFileSystem.failNextCopyMatching = null

    // the torn state leaves the .tmp manifest behind but no committed
    // manifest: the version list must not see the dead version
    assert(store.versions("ds").map(_._2) == Seq(v1))
    val v2 = writeVals(store, "ds", Seq(5.0), at = 9L)
    assert(store.versions("ds").map(_._2) == Seq(v2, v1))
    assert(readAll(store, "ds", v2)(9L) == 5L)
  }

  test("crash mid clone publish leaves a PARTIAL destination (the honest " +
      "object-store degradation) — destroy + re-clone repairs it") {
    val store = new SparkStore(spark, mockRoot())
    store.create("src")
    val v1 = writeVals(store, "src", (1 to 10).map(_.toDouble))

    // the publish is moveInto(tmp, dst): a whole-tree copy on mockfs.
    // Kill it on the first manifest object — dst is left part-copied.
    MockObjectStoreFileSystem.failNextCopyMatching = ".json"
    try {
      intercept[Exception] { store.cloneDataset("src", "dst") }
    } finally MockObjectStoreFileSystem.failNextCopyMatching = null

    // src must be untouched by the failed clone
    assert(readAll(store, "src", v1) == (0L until 10L).map(x => x -> (x + 1)).toMap)
    // repair: drop whatever partial tree exists, re-clone, read back
    if (store.datasetExists("dst")) store.destroy("dst")
    assert(store.cloneDataset("src", "dst") == 1L)
    assert(readAll(store, "dst", v1) == (0L until 10L).map(x => x -> (x + 1)).toMap)
  }

  test("maintenance triad over mockfs: compact checkpoint reads back, " +
      "expireHistory drops the pre-checkpoint manifests, and vacuum's " +
      "multi-object adopt (copy+delete renames) reclaims the orphan blob") {
    val store = new SparkStore(spark, mockRoot())
    store.create("ds")
    val v1 = writeVals(store, "ds", (1 to 10).map(_.toDouble))
    val v2 = writeVals(store, "ds", Seq(99.0, 99.0, 99.0), at = 2L)
    val want = readAll(store, "ds", v2)

    // compact: the checkpoint's resolved read must equal the pre-compact
    // read, and its commit is the same copy+delete manifest publish
    val cp = store.compact("ds")
    assert(cp > v2)
    assert(readAll(store, "ds", cp) == want)

    // expireHistory: v1+v2 manifests gone; travel to them errors loudly
    assert(store.expireHistory("ds") == 2L)
    assert(store.versions("ds").map(_._2) == Seq(cp))
    assert(intercept[Exception](readAll(store, "ds", v1))
      .getMessage.contains("no committed version"))

    // vacuum: mark is a distributed left-semi join; sweep adopts the
    // compacted generation via per-object copy+delete renames on mockfs.
    // v1's overwritten [0,4) and [4,8) chunks lost their last reference.
    val reclaimed = store.vacuum(graceMs = 0L)
    assert(reclaimed >= 1L, s"expected >=1 reclaimed blob, got $reclaimed")
    assert(readAll(store, "ds", cp) == want,
      "post-vacuum read must be unchanged")
  }

  test("crash mid DML commit over mockfs: UPDATE fails loudly, the table " +
      "and version list are unchanged, and a retry lands cleanly") {
    val store = new SparkStore(spark, mockRoot())
    store.create("ds")
    val v1 = writeVals(store, "ds", (1 to 10).map(_.toDouble))
    val cat = "mockcat" +
      java.lang.Integer.toHexString(store.root.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.source.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", store.root)

    // staged fragments are .bin files; the FIRST .parquet copy of the
    // query is the delta commit's chunk adopt — kill the publish there
    MockObjectStoreFileSystem.failNextCopyMatching = ".parquet"
    try {
      intercept[Exception] {
        spark.sql(s"UPDATE $cat.ds.v SET value = 7 WHERE x < 3")
      }
    } finally MockObjectStoreFileSystem.failNextCopyMatching = null

    assert(store.versions("ds").map(_._2) == Seq(v1),
      "a crashed DML commit must not leave a version")
    assert(readAll(store, "ds", v1) == (0L until 10L).map(x => x -> (x + 1)).toMap)
    // the aborted query's staging tree must not survive (commit cleanup)
    val staging = graft.spark.StoreFs.child(
      graft.spark.StoreFs.child(store.root, "ds"), "_delta_staging")
    assert(!graft.spark.StoreFs.exists(staging) ||
      graft.spark.StoreFs.list(staging).isEmpty,
      "crashed DML left staged fragments behind")

    // retry commits cleanly over the same mockfs route
    spark.sql(s"UPDATE $cat.ds.v SET value = 7 WHERE x < 3")
    val got = spark.sql(s"SELECT x, value FROM $cat.ds.v ORDER BY x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 10L).map(x => (x, if (x < 3) 7L else x + 1)))
  }

  test("delayed LIST visibility on versions/: two racing committers — at " +
      "most one commits, the loser rolls back loudly, never a forked " +
      "history") {
    // Emulates legacy-S3 LIST-after-PUT inconsistency: committer A's
    // manifest is invisible to B's parent-latest listing, so B's
    // pre-write check passes WRONGLY; B's post-commit fork verify (settle
    // window > the visibility lag) must catch the sibling and roll B
    // back. A, committing first, keeps its version.
    val store = new SparkStore(spark, mockRoot())
    store.create("race")
    // a committed base version, so BOTH racers parent on v0 and B's
    // parent-latest re-check is genuinely fooled by the lagged listing
    // (without lag it would refuse the ordinary way: latest == A ≠ v0)
    val v0 = writeVals(store, "race", (1 to 10).map(_.toDouble))
    val wA = store.addVersion("race", meta1d())
    Thread.sleep(5) // distinct version ids (epoch-ms stamped)
    val wB = store.addVersion("race", meta1d())
    assert(wA.meta.versionId != wB.meta.versionId)
    assert(wA.meta.parent.contains(v0) && wB.meta.parent.contains(v0))
    val prevSettle = sys.props.get("graft.commit.settle.ms")
    MockObjectStoreFileSystem.listVisibilityLagMs = 3000L
    sys.props("graft.commit.settle.ms") = "4000"
    val (vidA, eB) =
      try {
        // age v0's manifest past the lag: the emulation keys freshness
        // off mtime, and v0 must stay visible to both racers' checks
        Thread.sleep(3200)
        // A commits on a background thread: its manifest PUT happens
        // quickly, then A sits in its own settle window OUTSIDE the JVM
        // commit lock — leaving the lock free for B to race the check
        val aResult = new java.util.concurrent.atomic.AtomicLong(-1L)
        val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val tA = new Thread(() =>
          try aResult.set(wA.finishVersion())
          catch { case t: Throwable => aErr.set(t) })
        tA.start()
        Thread.sleep(1000) // A's manifest is on disk but LIST-invisible
        val e = intercept[IllegalStateException] { wB.finishVersion() }
        tA.join(30000)
        assert(aErr.get() == null, s"committer A must win, got ${aErr.get()}")
        (aResult.get(), e)
      } finally {
        MockObjectStoreFileSystem.listVisibilityLagMs = 0L
        prevSettle match {
          case Some(v) => sys.props("graft.commit.settle.ms") = v
          case None => sys.props.remove("graft.commit.settle.ms")
        }
      }
    assert(eB.getMessage.contains("forked"),
      s"B must roll back via the fork verify, got: ${eB.getMessage}")
    // exactly A's version committed; B's manifest is gone (rolled back)
    assert(store.versions("race").map(_._2) == Seq(vidA, v0))
    // and had B crashed before its rollback, the read-side fork
    // resolution hides the orphan: re-plant B's manifest and re-list
    val versionsDir = graft.spark.StoreFs.child(
      graft.spark.StoreFs.child(store.root, "race"), "versions")
    val bVid = wB.meta.versionId.get
    val orphan = wB.meta.copy(
      extra = Some(s"""{"graft-committed-at":${vidA + 12345}}"""))
    graft.spark.StoreFs.writeString(
      graft.spark.StoreFs.child(versionsDir, s"$bVid.json"), orphan.toJson)
    assert(store.versions("race").map(_._2) == Seq(vidA, v0),
      "a crashed loser's orphan manifest must stay unreadable")
  }

  test("dangling-parent orphaning: a mid-chain manifest deleted by a " +
      "rival's rollback takes its descendants with it — never a " +
      "divergent readable tail") {
    val store = new SparkStore(spark, mockRoot())
    store.create("dang")
    val v0 = writeVals(store, "dang", (1 to 10).map(_.toDouble))
    val vA = writeVals(store, "dang", (2 to 11).map(_.toDouble))
    val vB = writeVals(store, "dang", (3 to 12).map(_.toDouble))
    assert(store.versions("dang").map(_._2) == Seq(vB, vA, v0))
    // Simulate the narrow cross-process interleaving where a rival fork
    // verify rolled back vA AFTER vB chained onto it (vB's own
    // parent-exists verify raced the delete): vB now references an
    // absent parent and must drop out of every listing, exactly like a
    // duplicate-parent loser — the fork stays unreadable even when no
    // duplicate-parent evidence survives.
    val versionsDir = StoreFs.child(
      StoreFs.child(store.root, "dang"), "versions")
    StoreFs.deleteIfExists(StoreFs.child(versionsDir, s"$vA.json"))
    assert(store.versions("dang").map(_._2) == Seq(v0),
      "children of a rolled-back parent must be orphaned")
    // reads resolve on the surviving chain only — and the DIRECT-path
    // load honors the orphaning too: the dangling child is unreadable
    // by explicit vid, not merely absent from the listing
    assert(store.reader("dang").onVersion(v0) != null)
    val eDirect = intercept[IllegalArgumentException] {
      store.reader("dang").onVersion(vB)
    }
    assert(eDirect.getMessage.contains("orphaned"),
      s"direct onVersion of the dangling child must refuse: $eDirect")
  }

  test("resolution-path equivalence on a linear history: every vid the " +
      "fork-resolved LISTING serves is pinnable by point GET, and a " +
      "never-committed vid refuses on both paths") {
    val store = new SparkStore(spark, mockRoot())
    store.create("eq")
    val vids = (1 to 4).map(i =>
      writeVals(store, "eq", (i to i + 9).map(_.toDouble)))
    store.compact("eq") // a checkpoint mid-history floors later walks
    val v5 = writeVals(store, "eq", Seq(1.0, 2.0), at = 3L)
    val listed = store.versions("eq").map(_._2)
    assert(listed.contains(v5) && vids.forall(listed.contains))
    listed.foreach { v =>
      assert(store.reader("eq").onVersion(v).meta.versionId.contains(v),
        s"listing served $v but the point-GET pin refused it")
    }
    val bogus = listed.max + 999
    intercept[IllegalArgumentException] {
      store.reader("eq").onVersion(bogus)
    }
    assert(!store.versions("eq").map(_._2).contains(bogus))
  }

  test("chain-walk verdict caches per JVM: a reader that pinned BEFORE " +
      "a rollback keeps its working handle (pinned-snapshot semantics); " +
      "never-pinned orphans still refuse (previous test)") {
    val store = new SparkStore(spark, mockRoot())
    store.create("cdang")
    writeVals(store, "cdang", (1 to 10).map(_.toDouble))
    val vA = writeVals(store, "cdang", (2 to 11).map(_.toDouble))
    val vB = writeVals(store, "cdang", (3 to 12).map(_.toDouble))
    // pin vB while its chain is intact — this verifies + caches the walk
    assert(store.reader("cdang").onVersion(vB).meta.versionId.contains(vB))
    val versionsDir = StoreFs.child(
      StoreFs.child(store.root, "cdang"), "versions")
    StoreFs.deleteIfExists(StoreFs.child(versionsDir, s"$vA.json"))
    // the LISTING orphans vB immediately…
    assert(!store.versions("cdang").map(_._2).contains(vB))
    // …but the already-verified pin keeps resolving in this JVM — the
    // same seconds-wide rollback race the uncached walk runs, extended
    // only for a reader that had already pinned (snapshot semantics)
    assert(store.reader("cdang").onVersion(vB).meta.versionId.contains(vB))
    // and the snapshot is consistent END-TO-END: the handle's DATA reads
    // resolve over the same cached verified chain (never the listing),
    // so the served content cannot silently change under the verdict
    assert(readAll(store, "cdang", vB) ==
      (0L until 10L).map(x => x -> (x + 3)).toMap)
    // a FRESH handle still refuses the orphaned branch outright
    val fresh = new SparkStore(spark, store.root)
    val e = intercept[IllegalArgumentException] {
      fresh.reader("cdang").onVersion(vB)
    }
    assert(e.getMessage.contains("orphaned"), e.getMessage)
  }

  test("pinned reads resolve by point GET, never the listing: a just-" +
      "committed manifest a lagging LISTING still omits is readable by " +
      "explicit vid the moment its object exists") {
    val store = new SparkStore(spark, mockRoot())
    store.create("lag")
    val v1 = writeVals(store, "lag", (1 to 10).map(_.toDouble))
    val v2 = writeVals(store, "lag", Seq(50.0, 51.0), at = 3L)
    // emulate a rival process's just-acknowledged commit sitting in the
    // LIST-after-PUT inconsistency window: PUT a fresh manifest chained
    // on v2 directly, with listings lagging PUT visibility
    val versionsDir = StoreFs.child(StoreFs.child(store.root, "lag"), "versions")
    val v3 = v2 + 1
    val m3 = store.metadata("lag", v2).copy(parent = Some(v2),
      versionId = Some(v3),
      extra = Some(s"""{"graft-committed-at":${System.currentTimeMillis()}}"""))
    // age every pre-existing object out of the inconsistency window so
    // ONLY the manifest PUT below is the freshly-written one listings lag on
    val localRoot = java.nio.file.Paths.get(store.root.stripPrefix("mockfs://"))
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 300000L)
    java.nio.file.Files.walk(localRoot).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, aged))
    MockObjectStoreFileSystem.listVisibilityLagMs = 60000L
    try {
      StoreFs.writeString(StoreFs.child(versionsDir, s"$v3.json"), m3.toJson)
      // the listing is lagging: v3 invisible there...
      assert(store.versions("lag").map(_._2) == Seq(v2, v1),
        "precondition: the lagging listing must still omit v3")
      // ...but the explicit pin resolves by point GET + parent-chain
      // walk and must serve it (the pre-fix listing gate threw here)
      val r = store.reader("lag").onVersion(v3)
      assert(r.meta.versionId.contains(v3))
      // the empty-overlay version reads its parent's state
      assert(readAll(store, "lag", v3) == readAll(store, "lag", v2))
      // DSv2 explicit-version route takes the same point-GET path
      assert(spark.read.format("graft")
        .option("root", store.root).option("dataset", "lag")
        .option("variable", "v").option("version", v3.toString)
        .load().count() == 10L)
      // and a truly absent vid still refuses — without a listing scan
      val e = intercept[IllegalArgumentException] {
        store.reader("lag").onVersion(v3 + 999)
      }
      assert(e.getMessage.contains("no committed version"), e.getMessage)
    } finally MockObjectStoreFileSystem.listVisibilityLagMs = 0L
  }

  test("a just-committed version's OWN WRITES are served through the " +
      "pinned read while the listing still lags its manifest — data " +
      "resolution follows the verified parent chain, not the listing") {
    val store = new SparkStore(spark, mockRoot())
    store.create("lagw")
    val v1 = writeVals(store, "lagw", (1 to 10).map(_.toDouble))
    // a REAL commit carrying index rows + blobs (unlike the empty-overlay
    // manifest of the previous test, which reads parent data trivially)
    val v2 = writeVals(store, "lagw", Seq(50.0, 51.0), at = 3L)
    // age every object out of the inconsistency window, then put ONLY
    // v2's manifest back inside it: listings now lag exactly the
    // just-committed manifest while its index/blob files stay visible
    val localRoot = java.nio.file.Paths.get(store.root.stripPrefix("mockfs://"))
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 300000L)
    java.nio.file.Files.walk(localRoot).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, aged))
    val m2Path = localRoot.resolve("lagw").resolve("versions").resolve(s"$v2.json")
    java.nio.file.Files.setLastModifiedTime(m2Path,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    MockObjectStoreFileSystem.listVisibilityLagMs = 60000L
    try {
      // a FRESH handle (nothing cached from the committing handle)
      val store2 = new SparkStore(spark, store.root)
      assert(store2.versions("lagw").map(_._2) == Seq(v1),
        "precondition: the lagging listing must still omit v2")
      // the pinned read must serve v2's OWN writes — a listing-derived
      // admissible set would silently return v1's data under v2's
      // manifest (torn read)
      val at2 = readAll(store2, "lagw", v2)
      assert(at2(3L) == 50L && at2(4L) == 51L && at2(0L) == 1L,
        s"pinned read of the lagging v2 must include v2's writes: $at2")
      // DSv2 explicit-version route resolves the same chain
      val dsv2 = spark.read.format("graft")
        .option("root", store.root).option("dataset", "lagw")
        .option("variable", "v").option("version", v2.toString)
        .load().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dsv2(3L) == 50L && dsv2(4L) == 51L && dsv2(0L) == 1L)
    } finally MockObjectStoreFileSystem.listVisibilityLagMs = 0L
  }

  test("duplicate-parent LOSER pin reads ITS branch: the loser's own " +
      "writes are served and the rival winner's overlay is never " +
      "admitted (chain-scoped, not listing-scoped, data resolution)") {
    val store = new SparkStore(spark, mockRoot())
    store.create("fork2")
    val v1 = writeVals(store, "fork2", (1 to 10).map(_.toDouble))
    // two rival writers chained on the SAME parent v1
    val wWin = store.addVersion("fork2", meta1d())
    Thread.sleep(3) // distinct epoch-ms version ids
    val wLose = store.addVersion("fork2", meta1d())
    val vL = wLose.meta.versionId.get
    wWin.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(2L)), Seq(200.0, 201.0))))
    wLose.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(5L), Seq(7L)), Seq(300.0, 301.0))))
    val vW = wWin.finishVersion()
    assert(vL > vW, s"loser vid $vL must order after winner vid $vW")
    // the loser's manifest lands AFTER the winner's commit and the loser
    // crashes before its post-commit verify can roll it back
    val mL = wLose.meta.copy(extra =
      Some(s"""{"graft-committed-at":${System.currentTimeMillis() + 10}}"""))
    StoreFs.writeString(StoreFs.child(
      StoreFs.child(StoreFs.child(store.root, "fork2"), "versions"),
      s"$vL.json"), mL.toJson)
    // the fork-resolved listing serves the winner branch only
    val store2 = new SparkStore(spark, store.root)
    assert(store2.versions("fork2").map(_._2) == Seq(vW, v1))
    // winner reads: winner overlay on v1, no loser rows
    val atW = readAll(store2, "fork2", vW)
    assert(atW(0L) == 200L && atW(1L) == 201L && atW(5L) == 6L)
    // loser pin (deliberate archaeology): loser overlay on v1 — its own
    // writes present, the winner's NEVER admitted (the listing-derived
    // set would show 200/201 at 0/1 and drop 300/301: a torn read)
    val atL = readAll(store2, "fork2", vL)
    assert(atL(5L) == 300L && atL(6L) == 301L,
      s"loser pin must serve the loser's own writes: $atL")
    assert(atL(0L) == 1L && atL(1L) == 2L,
      s"loser pin must not admit the rival winner's overlay: $atL")
    // expire ends archaeology: the maintenance triad expires the hidden
    // loser WITH its index rows (raw-listing sweep) — the pin refuses
    // with the explicit error instead of silently reading fill
    store2.compact("fork2")
    store2.expireHistory("fork2")
    val e2 = intercept[IllegalArgumentException] {
      store2.reader("fork2").onVersion(vL)
    }
    assert(e2.getMessage.contains("no committed version"), e2.getMessage)
    val cp = store2.versions("fork2").head._2
    val atCp = readAll(store2, "fork2", cp)
    assert(atCp(0L) == 200L && atCp(5L) == 6L,
      s"checkpoint must keep serving the winner branch: $atCp")
  }

  test("conf-faithfulness tripwire: resolving mockfs from a classpath-" +
      "default conf fails loudly (the credential only rides the session " +
      "conf / shipped driver conf)") {
    spark.sparkContext // ensure the credentialed session exists first
    val e = intercept[java.io.IOException] {
      org.apache.hadoop.fs.FileSystem.newInstance(
        java.net.URI.create("mockfs:///"),
        new org.apache.hadoop.conf.Configuration())
    }
    assert(e.getMessage.contains(MockObjectStoreFileSystem.CredentialKey))
  }

  test("remote READ conf-faithfulness: with a credential-less conf " +
      "installed as the executor default, a DSv2 scan still reads — the " +
      "reader factory ships and installs the driver conf before any " +
      "manifest/blob access") {
    val store = new SparkStore(spark, mockRoot())
    store.create("ds")
    val v1 = writeVals(store, "ds", (1 to 10).map(_.toDouble))
    // Poison the no-session fallback: task threads that fail to receive
    // the factory-shipped conf would resolve mockfs through THIS conf
    // and die on the mock's credential check.
    StoreFs.installExecutorConf(new graft.spark.SerializableHadoopConf(
      new org.apache.hadoop.conf.Configuration()))
    try {
      val dsv2 = spark.read.format("graft")
        .option("root", store.root).option("dataset", "ds")
        .option("variable", "v").load()
      assert(dsv2.count() == 10L)
      // windowed exploded read exercises the point-partition blob path
      assert(readAll(store, "ds", v1).size == 10)
    } finally StoreFs.installExecutorConf(new graft.spark.SerializableHadoopConf(
      new org.apache.hadoop.conf.Configuration()))
  }

  test("crash mid INDEX adopt: per-file copy-renames into the live index " +
      "dir die partway — the version never becomes visible (manifest-" +
      "pointer commit), prior reads are intact, and a retry lands") {
    val store = new SparkStore(spark, mockRoot())
    store.create("ds")
    val v1 = writeVals(store, "ds", (1 to 10).map(_.toDouble))
    // target ONLY the live-index adopt surface: staged part files live
    // under .index_ingest_<uuid>/var=… (no "index/var=" in the path), so
    // the injected crash fires on the first ADOPT rename, after some
    // chunk blobs may already be adopted — the worst partial state
    MockObjectStoreFileSystem.failNextCopyMatching = "index/var="
    try {
      intercept[Exception] { writeVals(store, "ds", Seq(8.0, 8.0), at = 2L) }
    } finally MockObjectStoreFileSystem.failNextCopyMatching = null
    assert(store.versions("ds").map(_._2) == Seq(v1),
      "a write crashed mid index adopt must not commit a version")
    assert(readAll(store, "ds", v1) == (0L until 10L).map(x => x -> (x + 1)).toMap,
      "partially adopted index rows of an uncommitted version must stay invisible")
    val v2 = writeVals(store, "ds", Seq(8.0, 8.0), at = 2L)
    val at2 = readAll(store, "ds", v2)
    assert(at2(2L) == 8L && at2(3L) == 8L && at2(0L) == 1L && at2(4L) == 5L)
  }

  test("torn-write repair over mockfs survives a crash mid repair-adopt: " +
      "the commit throws, nothing becomes readable, and a retried " +
      "finishVersion converges to the repaired content") {
    import spark.implicits._
    import graft.filters.FilterChain
    val store = new SparkStore(spark, mockRoot())
    val meta = DatasetMeta(
      dimensions = Map("x" -> 4L), chunkDimensions = Map("x" -> 4L),
      variables = Map("v" -> VariableDef("double", Vector("x"), -9.0)))
    store.create("ds")
    val w = store.addVersion("ds", meta)
    val vid = w.meta.versionId.get
    // writer A: full chunk 1.0, then x=1 -> 2.0 (chained provenance)
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L), Seq(4L)), 1.0)))
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(1L), Seq(2L)), 2.0)))
    val h2 = spark.read.parquet(s"${store.root}/ds/index")
      .filter(org.apache.spark.sql.functions.col("version") === vid)
      .select("seq", "hash").orderBy("seq").collect()(1).getString(1)
    // forge the verify-TOCTOU outcome (co-writer rB wins terminal; A's
    // retry r3 folds onto rB, replaces r2) so the commit MUST repair
    val chunkSlice = w.meta.chunkSlice("v", Seq(0L))
    def mk(vals: Slab*): Slab =
      vals.foldLeft(Slab.empty(DType.DOUBLE, chunkSlice, -9.0))(_ mergeFrom _)
    val rB = mk(Slab.empty(DType.DOUBLE, Slice(Seq(2L), Seq(3L)), 5.0))
    val r3 = mk(Slab.empty(DType.DOUBLE, Slice(Seq(2L), Seq(3L)), 5.0),
      Slab.empty(DType.DOUBLE, Slice(Seq(1L), Seq(2L)), 2.0))
    val staging = store.newChunkStagingDir()
    Seq(rB, r3).map(s => (s.contentHash, -1L,
        FilterChain.encode(FilterChain.DefaultWriteChain, s.bytes)))
      .toDF("hash", "ref", "bytes").coalesce(1)
      .write.option("compression", "uncompressed").parquet(staging)
    store.adoptChunkFiles(staging)
    val seqB = (System.currentTimeMillis() + 3600000L) << 20
    store.appendIndexRows("ds", Seq(
        ("v", vid, seqB, "0", Seq(0L), rB.contentHash,
          Option.empty[String], Option.empty[String]),
        ("v", vid, seqB + 1L, "0", Seq(0L), r3.contentHash,
          Some(rB.contentHash), Some(h2)))
      .toDF("var", "version", "seq", "coordKey", "coord", "hash",
        "baseHash", "replacesHash"))
    // crash the FIRST copy-rename into the live index dir — i.e. the
    // repair's own index adopt inside commitVersion
    MockObjectStoreFileSystem.failNextCopyMatching = "index/var="
    try {
      intercept[Exception] { w.finishVersion() }
    } finally MockObjectStoreFileSystem.failNextCopyMatching = null
    assert(store.versions("ds").isEmpty,
      "a commit crashed mid repair-adopt must not publish the version")
    // retry: repair is idempotent (content-addressed, left-anti blob
    // append, deterministic repaired hash) — the second commit lands
    w.finishVersion()
    val got = store.reader("ds").onVersion(vid)
      .getSlice("v", Slice(Seq(0L), Seq(4L)))
    assert((0L until 4L).map(x => got.valueAt(Seq(x))) ==
      Seq(1.0, 2.0, 5.0, 1.0),
      "retried commit must serve the fully repaired chunk")
  }

  test("ANN index write lease over object-store create semantics: " +
      "concurrent same-batch appenders commit exactly once (the proposal " +
      "election needs no atomic create-no-overwrite)") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = mockRoot() + "/ivf"
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    val batch = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    def racer(): Either[Throwable, Boolean] = {
      var attempts = 0
      while (true) {
        try return Right(Similarity.ivfAppendBatch(batch, path, batchId = 1L))
        catch {
          case e: IllegalStateException
            if e.getMessage.contains("write.lock") && attempts < 240 =>
            attempts += 1; Thread.sleep(500)
          case e: Throwable => return Left(e)
        }
      }
      sys.error("unreachable")
    }
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => racer())
      val fb = pool.submit(() => racer())
      val results = Seq(fa.get(300, TimeUnit.SECONDS),
          fb.get(300, TimeUnit.SECONDS)).map {
        case Right(committed) => committed
        case Left(e) => fail(s"racer failed non-lock over mockfs: $e")
      }
      assert(results.count(identity) == 1,
        s"exactly one racer must commit batchId 1 over mockfs: $results")
    } finally pool.shutdownNow()
    val full = emb.select("vec_id", "embedding").unionByName(batch)
    assert(Similarity.ivfQuery(full, path, k = 1, nQueries = 3).count() > 0)
  }

  test("SQL row-level UPDATE over mockfs: executor-side staged fragments " +
      "resolve the store FileSystem through the shipped driver conf") {
    val store = new SparkStore(spark, mockRoot())
    store.create("ds")
    writeVals(store, "ds", (1 to 10).map(_.toDouble))
    val cat = "mockcat" +
      java.lang.Integer.toHexString(store.root.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.source.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", store.root)
    spark.sql(s"UPDATE $cat.ds.v SET value = 42 WHERE x >= 5")
    val got = spark.sql(s"SELECT x, value FROM $cat.ds.v ORDER BY x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0L until 10L).map(x => (x, if (x >= 5) 42L else x + 1))
    assert(got == want)
  }
}
