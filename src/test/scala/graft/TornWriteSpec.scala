package graft

import graft.core._
import graft.filters.FilterChain
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.scalatest.funsuite.AnyFunSuite

/** Commit-time torn-write validation + repair (SparkStore.repairTornWrites)
  * — the append-only completion of the shared-writer CAS analog
  * (reference: update-chunk!'s per-chunk CAS loop, impl.clj:232-250; the
  * master-commits-last contract, script.clj:54-83).
  *
  * The post-write ownership verify has an inherent TOCTOU hole: a
  * co-writer landing AFTER another writer's verify is invisible to it, so
  * its row can win a chunk without having folded the earlier writer's
  * cells. Only the committer runs after every co-writer. These tests
  * forge that exact index state deterministically (the race itself is
  * exercised cross-process by SparkFlowSpec's chunk-sharing worker test)
  * and assert the commit repairs it. */
class TornWriteSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestSession.spark

  test("Slab.applyDiff: per-element three-way fold — only elements that " +
      "differ from base are copied into state") {
    val dt = DType.INT
    def buf(vals: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(vals.length * 4)
      vals.foreach(b.putInt); b.array()
    }
    val base = buf(1, 2, 3, 4)
    val row = buf(1, 9, 3, 8) // wrote elements 1 and 3
    val state = buf(7, 2, 6, 4) // some OTHER writer already set 0 and 2
    Slab.applyDiff(dt, base, row, state)
    val out = java.nio.ByteBuffer.wrap(state)
    assert(Seq(out.getInt, out.getInt, out.getInt, out.getInt) ==
      Seq(7, 9, 6, 8), "row's written elements land; state's others survive")
  }

  test("commit-time repair: a forged co-writer winner that never folded " +
      "the first writer's row (the verify-TOCTOU outcome) is re-merged at " +
      "commit; untouched chunks and single-row chunks stay as written") {
    import spark.implicits._
    val root = tempRoot("graft-torn")
    val store = new SparkStore(spark, root)
    val meta = DatasetMeta(
      dimensions = Map("x" -> 9L, "y" -> 10L),
      chunkDimensions = Map("x" -> 9L, "y" -> 3L),
      variables = Map("v" -> VariableDef("double", Vector("x", "y"), -9.0)))
    store.create("ds")
    val w = store.addVersion("ds", meta)
    val vid = w.meta.versionId.get
    // writer A: y ∈ [0,5) = 3.0 — touches chunks (0,0) fully and (0,1)
    // partially (rows y=3,4 of the y∈[3,6) chunk)
    w.write("v", Seq(
      Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(9L, 5L)), 3.0)))

    // forge co-writer B's landing AFTER A's verify: a second index
    // generation whose chunk (0,1) row has TERMINAL provenance (B's merge
    // base was fill — it never saw A's row) and a seq that outranks A —
    // the resolve winner, missing A's y=3,4 cells
    val chunkSlice = w.meta.chunkSlice("v", Seq(0L, 1L))
    val forged = Slab.empty(DType.DOUBLE, chunkSlice, -9.0)
      .mergeFrom(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 5L), Seq(9L, 6L)), 4.0))
    val fHash = forged.contentHash
    val framed = FilterChain.encode(FilterChain.DefaultWriteChain, forged.bytes)
    val staging = store.newChunkStagingDir()
    Seq((fHash, -1L, framed)).toDF("hash", "ref", "bytes").coalesce(1)
      .write.option("compression", "uncompressed").parquet(staging)
    store.adoptChunkFiles(staging)
    val winSeq = (System.currentTimeMillis() + 3600000L) << 20
    store.appendIndexRows("ds", Seq(("v", vid, winSeq, "0,1", Seq(0L, 1L), fHash))
      .toDF("var", "version", "seq", "coordKey", "coord", "hash"))

    // the master's commit must detect the torn chunk and repair it
    w.finishVersion()
    val got = store.reader("ds").onVersion(vid)
      .getSlice("v", Slice(Seq(0L, 0L), Seq(9L, 10L)))
    for (x <- 0L until 9L) {
      for (y <- 0L until 3L)
        assert(got.valueAt(Seq(x, y)) == 3.0, s"untorn chunk cell ($x,$y)")
      for (y <- 3L until 5L)
        assert(got.valueAt(Seq(x, y)) == 3.0,
          s"cell ($x,$y): writer A's cells in the torn chunk must survive " +
            "the forged winner (repair re-merges them)")
      assert(got.valueAt(Seq(x, 5L)) == 4.0,
        s"cell ($x,5): the forged co-writer's cells must survive the repair")
      for (y <- 6L until 10L)
        assert(got.valueAt(Seq(x, y)) == -9.0, s"fill cell ($x,$y)")
    }
  }

  test("coverage walk is edge-typed: a row reachable ONLY through the " +
      "base link of a CAS-replaced row is still torn (a replaces edge " +
      "re-delivers the superseded row's fragments, not its base's " +
      "content) — commit must repair, not skip") {
    import spark.implicits._
    val root = tempRoot("graft-edge")
    val store = new SparkStore(spark, root)
    val meta = DatasetMeta(
      dimensions = Map("x" -> 4L), chunkDimensions = Map("x" -> 4L),
      variables = Map("v" -> VariableDef("double", Vector("x"), -9.0)))
    store.create("ds")
    val w = store.addVersion("ds", meta)
    val vid = w.meta.versionId.get
    // writer A, write#1 (r1): whole chunk = 1.0; write#2 (r2, base r1):
    // x=1 → 2.0. Both land through the normal path (chained provenance).
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L), Seq(4L)), 1.0)))
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(1L), Seq(2L)), 2.0)))
    val idx = spark.read.parquet(s"$root/ds/index")
      .filter(org.apache.spark.sql.functions.col("version") === vid)
      .select("seq", "hash").orderBy("seq").collect()
    assert(idx.length == 2)
    val h2 = idx(1).getString(1)
    // forge the TOCTOU outcome the ADVICE names: co-writer rB (terminal
    // base, outranking seq) lands after A's write#2 verify; A's retry r3
    // folds onto rB and replaces r2 — so the final winner r3 reaches r1
    // only via r2's BASE link, and r2 was only ever fragment-re-delivered.
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
    // pre-fix walk: r3 → base rB (ok), replaces r2 → base r1 judged
    // covered → chunk "sound" → r1's cells at x=0,3 silently lost.
    // Post-fix: r2 is fragment-covered only, r1 uncovered → repair.
    w.finishVersion()
    val got = store.reader("ds").onVersion(vid)
      .getSlice("v", Slice(Seq(0L), Seq(4L)))
    assert((0L until 4L).map(x => got.valueAt(Seq(x))) ==
      Seq(1.0, 2.0, 5.0, 1.0),
      "repair must replay r1's cells (x=0,3) that the forged winner lacks")
  }

  test("single-writer commits append no repair rows (generation-count " +
      "skip): two write() calls of one writer are provenance-chained") {
    val root = tempRoot("graft-chain")
    val store = new SparkStore(spark, root)
    val meta = DatasetMeta(
      dimensions = Map("x" -> 6L), chunkDimensions = Map("x" -> 3L),
      variables = Map("v" -> VariableDef("double", Vector("x"), 0.0)))
    store.create("ds")
    val w = store.addVersion("ds", meta)
    val vid = w.meta.versionId.get
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L), Seq(6L)), 1.0)))
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(2L), Seq(4L)), 2.0)))
    w.finishVersion()
    // two generations, but every row chains (2nd write's base = 1st's
    // row) → no torn chunks → commit appended nothing beyond the 4 rows
    val rows = spark.read.parquet(s"$root/ds/index")
      .filter(org.apache.spark.sql.functions.col("version") === vid).count()
    assert(rows == 4L, s"2 chunks x 2 writes = 4 index rows, got $rows")
    val got = store.reader("ds").onVersion(vid)
      .getSlice("v", Slice(Seq(0L), Seq(6L)))
    assert((0L until 6L).map(x => got.valueAt(Seq(x))) ==
      Seq(1.0, 1.0, 2.0, 2.0, 1.0, 1.0))
  }
}
