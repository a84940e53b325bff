package graft.spark

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import org.scalatest.funsuite.AnyFunSuite

/** compact → expireHistory → vacuum: the storage-maintenance triad.
  * Checkpoint answers latest reads alone, streaming tail skips it, time
  * travel below it survives until history is expired, and expiry makes
  * overwritten blobs vacuum-reclaimable. */
class CompactionSpec extends AnyFunSuite with graft.TempRoots {
  private lazy val spark = graft.SparkTestSession.spark

  private def freshStore(): SparkStore =
    new SparkStore(spark, tempRoot("graft-compact"))

  private def meta1d = DatasetMeta(
    dimensions = Map("h" -> 48L),
    chunkDimensions = Map("h" -> 16L),
    variables = Map("n" -> VariableDef("long", Vector("h"), -1.0)))

  /** v1: n[h] = 2h on [0,48); v2: n[h] = 3h+1 on [16,32) (one full chunk
    * replaced). Returns (store, v1, v2). */
  private def buildTwoVersions(): (SparkStore, Long, Long) = {
    val store = freshStore()
    store.create("ds")
    val w1 = store.addVersion("ds", meta1d)
    w1.write("n", Seq(Slab.fromDoubles(DType.LONG, Slice(Seq(0L), Seq(48L)),
      (0 until 48).map(h => (2.0 * h)))))
    val v1 = w1.finishVersion()
    Thread.sleep(2)
    val w2 = store.addVersion("ds", meta1d)
    w2.write("n", Seq(Slab.fromDoubles(DType.LONG, Slice(Seq(16L), Seq(32L)),
      (16 until 32).map(h => (3.0 * h + 1)))))
    (store, v1, w2.finishVersion())
  }

  private def values(store: SparkStore, vid: Long): Map[Long, Long] =
    store.reader("ds").onVersion(vid)
      .exploded("n", Slice(Seq(0L), Seq(48L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def expected(compacted: Boolean): Map[Long, Long] =
    (0L until 48L).map(h =>
      h -> (if (h >= 16 && h < 32) 3 * h + 1 else 2 * h)).toMap

  test("compact: checkpoint read ≡ pre-compact read; old versions still " +
      "travel; streaming tail skips the checkpoint; new writes win") {
    val (store, v1, v2) = buildTwoVersions()
    val before = values(store, v2)
    val w = store.compact("ds")
    assert(w > v2)
    assert(values(store, w) == before)
    assert(values(store, w) == expected(true))
    // time travel below the checkpoint still resolves the old history
    assert(values(store, v1) == (0L until 48L).map(h => h -> 2 * h).toMap)
    // version-tail delta for the checkpoint commit is EMPTY
    assert(store.resolvedIndexBetween("ds", "n", v2, w).count() == 0)
    // and the checkpoint's own index alone answers the latest read:
    // admissible versions at upTo=w are exactly {w} — the scan's
    // partition pruning must select only version=w files (inputFiles is
    // pre-pruning, so inspect the FileSourceScan's selected partitions)
    val scanned = store.resolvedIndexPinned("ds", "n", store.metadata("ds", w))
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.toPartitionArray.toSeq.map(_.filePath.toString)
      }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains(s"version=$w")),
      s"post-checkpoint resolve must scan only version=$w: $scanned")

    // a write AFTER the checkpoint wins over checkpoint rows
    Thread.sleep(2)
    val w3 = store.addVersion("ds", meta1d)
    w3.write("n", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(8L)), 7.0)))
    val v3 = w3.finishVersion()
    val after = values(store, v3)
    assert((0L until 8L).forall(after(_) == 7L))
    assert(after(20L) == 61L && after(40L) == 80L)
  }

  test("resolve never LISTS the index dir: admitted partitions are read as " +
      "explicit paths (poison sibling partition invisible; inputFiles ⊆ " +
      "admitted versions)") {
    val (store, v1, v2) = buildTwoVersions()
    val w = store.compact("ds")
    // A sibling partition dir that any whole-dir listing would have to
    // visit — non-long partition value, non-parquet content. The index
    // dir legitimately accumulates partitions of every version ever
    // committed (expire may lag compact indefinitely); resolve cost and
    // resolve HEALTH must not depend on what else sits in the dir.
    val bad = StoreFs.child(
      StoreFs.child(store.indexDir("ds"), "var=n"), "version=bogus")
    StoreFs.mkdirs(bad)
    StoreFs.writeString(StoreFs.child(bad, "junk.parquet"), "not parquet")
    // latest read resolves and its file index holds ONLY version=w files
    assert(values(store, w) == expected(true))
    val dfW = store.resolvedIndexPinned("ds", "n", store.metadata("ds", w))
    assert(dfW.inputFiles.nonEmpty &&
      dfW.inputFiles.forall(_.contains(s"version=$w")),
      s"head resolve must read only version=$w: ${dfW.inputFiles.toSeq}")
    // pinned time travel below the checkpoint: v1's snapshot admits {v1}
    assert(values(store, v1) == (0L until 48L).map(h => h -> 2 * h).toMap)
    val df1 = store.resolvedIndexPinned("ds", "n", store.metadata("ds", v1))
    assert(df1.inputFiles.nonEmpty &&
      df1.inputFiles.forall(_.contains(s"version=$v1")),
      s"pinned v1 resolve must read only version=$v1: ${df1.inputFiles.toSeq}")
    // and a version that exists but wrote nothing for a variable resolves
    // EMPTY rather than probing nonexistent partition dirs into an error
    assert(store.resolvedIndexBetween("ds", "n", v2, v2).count() == 0)
  }

  test("expireHistory + vacuum: latest read intact, expired version gone " +
      "explicitly, overwritten blob reclaimed") {
    val (store, v1, v2) = buildTwoVersions()
    store.compact("ds")
    val statsBefore = store.getStats("ds")
    val expired = store.expireHistory("ds")
    assert(expired == 2L, s"expected v1+v2 expired, got $expired")
    assert(values(store, store.versions("ds").head._2) == expected(true))
    // travel to an expired version throws the explicit missing-version
    // error, never a silently-partial read
    val e = intercept[Exception](values(store, v1))
    assert(e.getMessage.contains("no committed version"))
    // v1's [16,32) chunk (values 32..62) is referenced ONLY by expired
    // index rows now — vacuum (zero grace) reclaims at least one blob
    val reclaimed = store.vacuum(graceMs = 0L)
    assert(reclaimed >= 1L, s"expected >=1 reclaimed blob, got $reclaimed")
    assert(values(store, store.versions("ds").head._2) == expected(true))
  }

  test("streaming tail across an EXPIRED gap re-delivers state via the " +
      "checkpoint instead of silently losing the expired changes") {
    val (store, v1, v2) = buildTwoVersions()
    val w = store.compact("ds")
    // history intact: a tailer at v2 sees nothing new from the checkpoint,
    // and a tailer at 0 gets the real versions' rows (checkpoint skipped)
    assert(store.resolvedIndexBetween("ds", "n", v2, w).count() == 0)
    val before = store.resolvedIndexBetween("ds", "n", 0L, w)
    assert(before.count() == 3) // v1's three chunks resolved with v2's win
    store.expireHistory("ds")
    // v1/v2 are gone — the checkpoint is now the only carrier of their
    // changes, so the behind-the-gap delta must emit its full state
    val after = store.resolvedIndexBetween("ds", "n", 0L, w)
    assert(after.count() == 3,
      "expired-gap delta must re-deliver state via the checkpoint")
    // while a tailer already at the checkpoint's parent still gets nothing
    assert(store.resolvedIndexBetween("ds", "n", v2, w).count() == 0)
  }

  test("compact with multiple variables and a grown dimension; second " +
      "compact supersedes the first") {
    val store = freshStore()
    store.create("g")
    val m1 = DatasetMeta(
      dimensions = Map("h" -> 8L), chunkDimensions = Map("h" -> 4L),
      variables = Map(
        "a" -> VariableDef("long", Vector("h"), -1.0),
        "b" -> VariableDef("double", Vector("h"), 0.0)))
    val w1 = store.addVersion("g", m1)
    w1.write("a", Seq(Slab.fromDoubles(DType.LONG, Slice(Seq(0L), Seq(8L)),
      (0 until 8).map(_.toDouble))))
    w1.write("b", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L), Seq(4L)), 2.5)))
    w1.finishVersion()
    Thread.sleep(2)
    // grow h 8 → 12 with a write into the new region
    val m2 = m1.copy(dimensions = Map("h" -> 12L))
    val w2 = store.addVersion("g", m2)
    w2.write("a", Seq(Slab.empty(DType.LONG, Slice(Seq(8L), Seq(12L)), 7.0)))
    w2.finishVersion()
    val cp1 = store.compact("g")
    // checkpoint carries the GROWN dims and both variables
    val rd = store.reader("g").onVersion(cp1)
    val a = rd.exploded("a", Slice(Seq(0L), Seq(12L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a(3L) == 3L && a(9L) == 7L && a.size == 12)
    val b = rd.exploded("b", Slice(Seq(0L), Seq(8L)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b(0L) == 2.5 && b(7L) == 0.0)
    // another write + a second checkpoint; expire drops everything < cp2
    Thread.sleep(2)
    val w3 = store.addVersion("g", m2)
    w3.write("a", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(4L)), 5.0)))
    w3.finishVersion()
    val cp2 = store.compact("g")
    assert(store.expireHistory("g") == 4L) // v1, v2, cp1, v3 — all < cp2
    val a2 = store.reader("g").onLastVersion()
      .exploded("a", Slice(Seq(0L), Seq(12L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2(0L) == 5L && a2(5L) == 5L && a2(9L) == 7L)
    assert(store.versions("g").map(_._2) == Seq(cp2))
  }

  test("expire tripwire: a pinned reader that outlives compact + " +
      "expireHistory refuses loudly instead of silently reading fill") {
    val (store, _, v2) = buildTwoVersions()
    // pin + read BEFORE maintenance: the chain verdict is now cached
    val rd = store.reader("ds").onVersion(v2)
    assert(rd.exploded("n", Slice(Seq(0L), Seq(48L))).count() == 48)
    store.compact("ds")
    store.expireHistory("ds")
    // the cached chain can no longer be materialized — its index
    // partitions are gone; the floor-manifest probe must refuse LOUDLY
    val e = intercept[IllegalStateException] {
      rd.exploded("n", Slice(Seq(0L), Seq(48L))).collect()
    }
    assert(e.getMessage.contains("expired"), e.getMessage)
    // a FRESH pin of the expired vid refuses on the manifest probe
    intercept[IllegalArgumentException] { store.reader("ds").onVersion(v2) }
    // and the checkpoint serves the identical content
    val cp = store.versions("ds").head._2
    assert(values(store, cp) == expected(compacted = true))
  }

  test("never-written variable: compact skips its index, reads at the " +
      "checkpoint still see pure fill") {
    val store = freshStore()
    store.create("nv")
    val m = meta1d.copy(variables = meta1d.variables +
      ("empty" -> graft.meta.VariableDef("long", Vector("h"), -7.0)))
    val w1 = store.addVersion("nv", m)
    w1.write("n", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(8L)), 3.0)))
    w1.finishVersion()
    val cp = store.compact("nv")
    val rd = store.reader("nv").onVersion(cp)
    assert(rd.exploded("empty", Slice(Seq(0L), Seq(8L)))
      .collect().forall(_.getLong(1) == -7L))
    assert(rd.exploded("n", Slice(Seq(0L), Seq(8L)))
      .collect().forall(_.getLong(1) == 3L))
  }

  test("a writer in flight across a compact fails its commit with the " +
      "explicit parent-mismatch error (linear history preserved)") {
    val (store, _, v2) = buildTwoVersions()
    val inflight = store.addVersion("ds", meta1d) // parent = v2
    inflight.write("n", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(8L)), 1.0)))
    val cp = store.compact("ds") // takes the latest slot
    val e = intercept[IllegalStateException](inflight.finishVersion())
    assert(e.getMessage.contains("latest version"), e.getMessage)
    // the dataset is unharmed: checkpoint is latest, values intact
    assert(store.versions("ds").head._2 == cp)
    assert(values(store, cp) == expected(true))
  }

  test("user extra metadata survives compaction; commit stamp and " +
      "checkpoint flag coexist with it") {
    val store = freshStore()
    store.create("x")
    val w1 = store.addVersion("x",
      meta1d.copy(extra = Some("""{"owner":"team-data","note":"v1"}""")))
    w1.write("n", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(8L)), 1.0)))
    w1.finishVersion()
    val cp = store.compact("x")
    val m = store.metadata("x", cp)
    val extra = m.extra.getOrElse("")
    assert(extra.contains(""""owner":"team-data""""), extra)
    assert(extra.contains(""""graft-checkpoint":true"""), extra)
    assert(extra.contains(""""graft-committed-at""""), extra)
  }

  test("compact on a dataset with no committed versions refuses; " +
      "expireHistory without a checkpoint refuses") {
    val store = freshStore()
    store.create("empty")
    intercept[IllegalArgumentException](store.compact("empty"))
    val (store2, _, _) = buildTwoVersions()
    intercept[IllegalStateException](store2.expireHistory("ds"))
  }
}
