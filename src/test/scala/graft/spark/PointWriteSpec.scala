package graft.spark

import graft.SparkTestSession
import graft.SparkTestSession.jobsDuring
import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.source.GraftScan
import graft.testfs.MockObjectStoreFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The writer's point/range split: a base-resolving write touching at
  * most `GraftScan.PointLookupThreshold` chunks resolves its bases as
  * points, a larger one as a range, and both commit the same versions;
  * every pass lands through one kernel, in contiguous hash ranges. */
class PointWriteSpec extends AnyFunSuite with graft.TempRoots {
  private lazy val spark = SparkTestSession.spark

  private def tmpRoot(): String = tempRoot("graft-ptwrite")

  // 40 × 40 = 1,600 chunks of 2 × 2 cells: more than the point threshold
  private val grid = DatasetMeta(
    dimensions = Map("x" -> 80L, "y" -> 80L),
    chunkDimensions = Map("x" -> 2L, "y" -> 2L),
    variables = Map("v" -> VariableDef("long", Vector("x", "y"), -1.0)))
  private val all = Slice(Seq(0L, 0L), Seq(80L, 80L))

  private def box(x0: Long, x1: Long, y0: Long, y1: Long)(
      f: (Long, Long) => Double): Slab =
    Slab.fromDoubles(DType.LONG, Slice(Seq(x0, y0), Seq(x1, y1)),
      for (x <- x0 until x1; y <- y0 until y1) yield f(x, y))

  private val baseF = (x: Long, y: Long) => (x * 100 + y).toDouble
  private val base = box(0, 80, 0, 80)(baseF)

  private def seeded(root: String): (SparkStore, Long) = {
    val s = new SparkStore(spark, root)
    s.create("d")
    val w = s.addVersion("d", grid)
    w.write("v", Seq(base))
    (s, w.finishVersion())
  }

  private def sliceAt(s: SparkStore, vid: Long): Array[Byte] =
    s.reader("d").onVersion(vid).getSlice("v", all).bytes

  /** `slabs` as slab rows, in a frame the driver holds (a LocalRelation,
    * as `write(Seq[Slab])` builds) or in a distributed one. */
  private def frame(slabs: Seq[Slab], local: Boolean): DataFrame = {
    import spark.implicits._
    val rows = slabs.zipWithIndex.map { case (s, i) =>
      (s.slice.start.toArray, s.slice.stop.toArray, s.bytes, i.toLong) }
    (if (local) spark.createDataset(rows)
      else spark.createDataset(spark.sparkContext.parallelize(rows, 2)))
      .toDF("start", "stop", "bytes", "seq")
  }

  private def resolvedAt(s: SparkStore, vid: Long) =
    s.resolvedIndexPinned("d", "v", s.metadata("d", vid))
      .select("coordKey", "hash", "stats").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.get(2)))).toMap

  test("one update over > threshold chunks (range plan) and the same " +
      "update as two ≤ threshold writes (point plan) commit identical " +
      "versions") {
    // unaligned halves: chunk columns 0-20 and 19-39 (840 chunks each,
    // 1,600 together), overlapping on columns 19-20 — the second point
    // write merges onto the first's in-flight rows there
    val a = box(1, 41, 1, 79)((x, y) => (7 * x + y + 100000).toDouble)
    val b = box(39, 79, 1, 79)((x, y) => (3 * x - y + 200000).toDouble)
    val t = GraftScan.PointLookupThreshold
    assert(21 * 40 <= t && 40 * 40 > t)
    val expected = box(0, 80, 0, 80) { (x, y) =>
      if (x >= 39 && x < 79 && y >= 1 && y < 79) b.valueAt(Seq(x, y))
      else if (x >= 1 && x < 41 && y >= 1 && y < 79) a.valueAt(Seq(x, y))
      else baseF(x, y)
    }

    val (range, r1) = seeded(tmpRoot())
    val wr = range.addVersion("d", grid)
    val rangeJobs = jobsDuring(wr.write("v", Seq(a, b)))
    val r2 = wr.finishVersion()

    // the same two ≤ threshold writes, from slabs the driver holds (run on
    // the driver) and from a distributed frame (point-planned in tasks)
    def pointStore(local: Boolean) = {
      val (st, v1) = seeded(tmpRoot())
      val w = st.addVersion("d", grid)
      val jobs = Seq(a, b).map(s => jobsDuring(w.writeRows("v", frame(Seq(s), local))))
      (st, v1, w.finishVersion(), jobs)
    }
    val (driver, d1, d2, driverJobs) = pointStore(local = true)
    val (tasks, t1, t2, tasksJobs) = pointStore(local = false)
    // the three plans really ran: the driver runs no job, the task-placed
    // point plan fewer than the range plan
    info(s"Spark jobs per write: driver $driverJobs, tasks $tasksJobs, range $rangeJobs")
    assert(driverJobs.forall(_ == 0), s"driver $driverJobs")
    assert(tasksJobs.forall(j => j > 0 && j < rangeJobs), s"tasks $tasksJobs, range $rangeJobs")

    // getSlice on both sides of its placement bound: the whole variable
    // (1,600 covering chunks, drained in a job) and a 3 × 3-chunk window
    // (drained on the driver)
    val window = Slice(Seq(37L, 37L), Seq(43L, 43L))
    def windowAt(s: SparkStore, vid: Long) =
      s.reader("d").onVersion(vid).getSlice("v", window).bytes
    for ((s, v1, v2) <- Seq((range, r1, r2), (driver, d1, d2), (tasks, t1, t2))) {
      assert(java.util.Arrays.equals(sliceAt(s, v1), base.bytes))
      assert(java.util.Arrays.equals(sliceAt(s, v2), expected.bytes))
      assert(java.util.Arrays.equals(windowAt(s, v2),
        expected.intersectWith(window).bytes))
    }
    val resolved = resolvedAt(driver, d2)
    assert(resolved.size == 1600)
    for ((s, v1, v2) <- Seq((range, r1, r2), (tasks, t1, t2))) {
      assert(resolvedAt(s, v1) == resolvedAt(driver, d1))
      assert(resolvedAt(s, v2) == resolved)
    }
  }

  test("a shared writer that loses > threshold chunks to a co-writer " +
      "re-merges them onto its pinned bases in one pass") {
    val root = "mockfs://" + tmpRoot()
    val (master, _) = seeded(root)
    val w = master.addVersion("d", grid)
    val vid = w.meta.versionId.get
    val writerA = new SparkStore(spark, root).writerFromToken("d", w.token)
    val writerB = new SparkStore(spark, root).writerFromToken("d", w.token)
    // A writes the even rows, B the odd ones: every one of the 1,600
    // chunks holds cells of both
    def rows(parity: Long, f: (Long, Long) => Double) =
      (0L until 80L).filter(_ % 2 == parity).map(x => box(x, x + 1, 0, 80)(f))
    val fa = (x: Long, _: Long) => (1000 + x).toDouble
    val fb = (_: Long, y: Long) => (2000 + y).toDouble
    // B lands its whole write while A is adopting its index rows: B's
    // merge never saw A's cells, B's rows outrank A's, and A's ownership
    // verify finds every chunk lost
    MockObjectStoreFileSystem.beforeNextCopyMatching =
      (s"/index/var=v/version=$vid/", () => writerB.write("v", rows(1, fb)))
    try writerA.write("v", rows(0, fa))
    finally MockObjectStoreFileSystem.beforeNextCopyMatching = null
    val v2 = w.finishVersion()

    // A's retry rows name the rows they replace: all 1,600 were re-merged
    // in one pass, above the point threshold
    val retried = master.indexDF("d")
      .filter(col("var") === "v" && col("version") === vid &&
        col("replacesHash").isNotNull)
    assert(retried.count() == 1600)
    assert(retried.select("seq").distinct().count() == 1)
    val expected = box(0, 80, 0, 80)((x, y) => if (x % 2 == 0) fa(x, y) else fb(x, y))
    assert(java.util.Arrays.equals(sliceAt(master, v2), expected.bytes))
  }

  test("a pass over > threshold chunks lands one generation of range-" +
      "disjoint blob files and one sidecar, and its commit runs no job") {
    import graft.spark.source.ChunkBlobReader
    val root = tmpRoot()
    val s = new SparkStore(spark, root)
    s.create("d")
    def listed(dir: String, suffix: String) =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .map(_.getPath).filter(_.endsWith(suffix)).toSet
    val sidecarDir = StoreFs.child(s.chunksDir, ".ranges")
    val generation = "part-\\d+-([0-9a-fA-F-]{36})".r
    // a first write from a distributed frame, then an update, each of all
    // 1,600 chunks
    val update = box(0, 80, 0, 80)((x, y) => (x * y + 7).toDouble)
    for ((slab, i) <- Seq(base, update).zipWithIndex) {
      val (blobsBefore, sidecarsBefore) =
        (listed(s.chunksDir, ".parquet"), listed(sidecarDir, ".tsv"))
      val w = if (i == 0) s.addVersion("d", grid)
        else s.addVersion("d", s.metadata("d", s.versions("d").head._2))
      val vid = w.meta.versionId.get
      w.writeRows("v", frame(Seq(slab), local = false))
      var committed = -1L
      assert(jobsDuring { committed = w.finishVersion() } == 0,
        s"write #$i: the commit ran a job")
      assert(java.util.Arrays.equals(sliceAt(s, committed), slab.bytes))

      val blobs = (listed(s.chunksDir, ".parquet") -- blobsBefore).toSeq
      assert(blobs.size > 1, s"write #$i landed $blobs")
      val ranges = blobs.map(f =>
        ChunkBlobReader.footerRange(f, ChunkBlobReader.sharedConf).get).sorted
      ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"write #$i: overlapping blob files $ranges") }
      val index = listed(StoreFs.child(StoreFs.child(s.indexDir("d"), "var=v"),
        s"version=$vid"), ".parquet").toSeq
      assert(index.size > 1, s"write #$i landed $index")
      assert(index.map(f => generation.findFirstMatchIn(StoreFs.name(f)).get.group(1))
        .distinct.size == 1, s"write #$i: index files of several generations $index")
      assert((listed(sidecarDir, ".tsv") -- sidecarsBefore).size == 1,
        s"write #$i: not one new range sidecar")
    }
  }

  test("the touched-key collect is one job whose driver-side set stops at " +
      "threshold + 1 keys, however many tasks hit the cap") {
    val (s, _) = seeded(tmpRoot())
    val w = s.addVersion("d", grid)
    val t = GraftScan.PointLookupThreshold
    // one slab row per partition, 48 partitions
    import spark.implicits._
    def frame(stop: Long) = spark.createDataset(spark.sparkContext.parallelize(
      (0 until 48).map(i => (Array(0L, 0L), Array(stop, 80L), Array.emptyByteArray,
        i.toLong)), 48)).toDF("start", "stop", "bytes", "seq")
    // each task alone touches all 1,600 chunks, so each stops at t + 1
    // keys; the driver's merged set stops there too
    val wide = frame(80L)
    assert(wide.rdd.getNumPartitions == 48)
    var capped: java.util.Set[String] = null
    assert(jobsDuring { capped = w.touchedCapped("v", wide, t) } == 1)
    assert(capped.size == t + 1)
    // at or under the threshold every task reports the same 840 keys, and
    // the merged set is exactly them
    val narrow = w.touchedCapped("v", frame(42L), t)
    assert(narrow.size == 21 * 40)
    assert(narrow.contains(SparkStore.coordKey(Vector(20L, 39L))))
  }

  private val cube = DatasetMeta(
    dimensions = Map("x" -> 30L, "y" -> 30L, "z" -> 30L),
    chunkDimensions = Map("x" -> 10L, "y" -> 10L, "z" -> 10L),
    variables = Map("v" -> VariableDef("short", Vector("x", "y", "z"), -3.0)))

  private def cells(lo: Long, hi: Long)(f: (Long, Long, Long) => Double) =
    Slab.fromDoubles(DType.SHORT, Slice(Seq(lo, lo, lo), Seq(hi, hi, hi)),
      for (x <- lo until hi; y <- lo until hi; z <- lo until hi) yield f(x, y, z))

  private def cubeStore(): SparkStore = {
    val s = new SparkStore(spark, tmpRoot())
    s.create("d")
    val w1 = s.addVersion("d", cube)
    w1.write("v", Seq(cells(0, 30)((x, y, z) => (x + y + z).toDouble)))
    w1.finishVersion()
    s
  }

  test("an 8-chunk update commits in 0 jobs from local slabs, <= 4 from a frame") {
    val s = cubeStore()
    // unaligned 10³ boxes: 2 chunks per axis
    for ((local, lo, bound) <- Seq((true, 5L, 0), (false, 12L, 4))) {
      val upd = cells(lo, lo + 10)((x, y, z) => (x * y - z + lo).toDouble)
      val w = s.addVersion("d", cube)
      var v = -1L
      val jobs = jobsDuring {
        w.writeRows("v", frame(Seq(upd), local))
        v = w.finishVersion()
      }
      info(s"${if (local) "local slabs" else "distributed frame"}: $jobs Spark jobs")
      assert(jobs <= bound, s"$jobs jobs")
      val got = s.reader("d").onVersion(v)
        .getSlice("v", Slice(Seq(lo, lo, lo), Seq(lo + 10, lo + 10, lo + 10)))
      assert(java.util.Arrays.equals(got.bytes, upd.bytes))
    }
  }

  test("a missing base blob fails a point commit in both placements, and an " +
      "expired pin fails a driver-drained getSlice, with the same errors") {
    val s = cubeStore()
    val pinned = s.reader("d").onLastVersion()
    val upd = cells(5, 15)((x, y, z) => (x - y * z).toDouble)
    // the base's blobs are lost: no placement may merge onto fill
    new java.io.File(s.chunksDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.delete()))
    SparkStore.clearBlobCache()
    for (local <- Seq(true, false)) {
      val e = intercept[IllegalStateException] {
        s.addVersion("d", cube).writeRows("v", frame(Seq(upd), local))
      }
      assert(e.getMessage.contains("missing from the chunk store"), e.getMessage)
    }
    // an expired pin: the resolve under the getSlice refuses
    // (a REPLACE version: it merges onto fill, not onto the lost blobs)
    val w = s.addReplaceVersion("d", cube, "v")
    w.write("v", Seq(Slab.empty(DType.SHORT, Slice(Seq(0L, 0L, 0L), Seq(30L, 30L, 30L)), 1.0)))
    w.finishVersion()
    s.compact("d")
    s.expireHistory("d")
    val e = intercept[IllegalStateException] {
      pinned.getSlice("v", Slice(Seq(0L, 0L, 0L), Seq(5L, 5L, 5L)))
    }
    assert(e.getMessage.contains("expired"), e.getMessage)
  }

  test("driver-written files read like task-written ones: range DSv2 read, " +
      "VersionDiff, streaming tail, compact, expireHistory and vacuum") {
    // two stores, one history: updates from local slabs (driver-placed)
    // and the same updates from distributed frames (task-placed)
    val updates = Seq(box(3, 31, 5, 27)((x, y) => (x - 2 * y).toDouble),
      box(20, 50, 11, 13)((x, y) => (x * y).toDouble),
      box(0, 80, 60, 62)((x, y) => (x + 5000).toDouble))
    def build(local: Boolean) = {
      val (st, v1) = seeded(tmpRoot())
      val vs = v1 +: updates.map { u =>
        val w = st.addVersion("d", grid)
        val jobs = jobsDuring(w.writeRows("v", frame(Seq(u), local)))
        assert(!local || jobs == 0, s"a local update ran $jobs job(s)")
        w.finishVersion()
      }
      (st, vs)
    }
    val (drv, dv) = build(local = true)
    val (tsk, tv) = build(local = false)
    // every part file, Spark-written (the first version) or written in
    // process (the updates), carries the same schema, metadata and codec
    def footers(dir: String) = SparkStore.parquetFilesUnder(dir).toSeq.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), new org.apache.hadoop.conf.Configuration()))
      try {
        val md = r.getFooter
        (md.getFileMetaData.getSchema.toString,
          md.getFileMetaData.getKeyValueMetaData.toString,
          md.getBlocks.get(0).getColumns.get(0).getCodec.toString)
      } finally r.close()
    }
    for (dir <- Seq(drv.chunksDir, drv.indexDir("d"))) {
      val fs = footers(dir)
      assert(fs.size > 3 && fs.distinct.size == 1, fs.distinct.mkString("\n"))
    }
    def dsv2(s: SparkStore, vid: Long) = spark.read.format("graft")
      .option("root", s.root).option("dataset", "d").option("variable", "v")
      .option("version", vid.toString).load()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def diff(s: SparkStore, a: Long, b: Long) =
      VersionDiff.diffCells(s, "d", "v", a, b).collect().map(_.toString).sorted.toSeq
    def tail(s: SparkStore, a: Long, b: Long) =
      s.resolvedIndexBetween("d", "v", a, b).select("coordKey", "hash", "stats")
        .collect().map(_.toString).sorted.toSeq
    val last = dsv2(drv, dv(3))
    for (i <- 1 to 3) {
      assert(dsv2(drv, dv(i)) == dsv2(tsk, tv(i)), s"DSv2 read at version #$i")
      assert(diff(drv, dv(i - 1), dv(i)) == diff(tsk, tv(i - 1), tv(i)),
        s"VersionDiff into version #$i")
    }
    assert(diff(drv, dv(0), dv(3)).nonEmpty)
    assert(tail(drv, dv(0), dv(3)) == tail(tsk, tv(0), tv(3)))
    assert(tail(drv, dv(1), dv(2)).size == 15 * 2)
    // maintenance: checkpoint, expire, vacuum
    val (dcp, tcp) = (drv.compact("d"), tsk.compact("d"))
    assert(drv.expireHistory("d") == tsk.expireHistory("d"))
    assert(drv.vacuum(0L) == tsk.vacuum(0L))
    SparkStore.clearBlobCache()
    assert(dsv2(drv, dcp) == dsv2(tsk, tcp))
    assert(dsv2(drv, dcp) == last)
    assert(resolvedAt(drv, dcp) == resolvedAt(tsk, tcp))
    assert(java.util.Arrays.equals(sliceAt(drv, dcp), sliceAt(tsk, tcp)))
  }

  test("the point dedup probe never trusts the blob cache: content whose " +
      "blob was vacuumed is written again") {
    val line = DatasetMeta(
      dimensions = Map("x" -> 16L), chunkDimensions = Map("x" -> 4L),
      variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)))
    val span = Slice(Seq(0L), Seq(16L))
    val content = Slab.fromDoubles(DType.LONG, span, (0 until 16).map(i => i * i + 5.0))
    val s = new SparkStore(spark, tmpRoot())
    s.create("a")
    val wa = s.addVersion("a", line)
    wa.write("v", Seq(content))
    val va = wa.finishVersion()
    // reading A puts its four blobs in the per-JVM cache
    assert(java.util.Arrays.equals(
      s.reader("a").onVersion(va).getSlice("v", span).bytes, content.bytes))
    s.destroy("a")
    assert(s.vacuum(0L) == 4L)

    s.create("b")
    val wb1 = s.addVersion("b", line)
    wb1.write("v", Seq(Slab.empty(DType.LONG, span, 9.0)))
    wb1.finishVersion()
    // A's content again, as a 4-chunk update over existing data: the
    // probe must find its hashes absent from the store, cache or not
    val wb2 = s.addVersion("b", line)
    wb2.write("v", Seq(content))
    val vb = wb2.finishVersion()
    SparkStore.clearBlobCache()
    assert(java.util.Arrays.equals(
      s.reader("b").onVersion(vb).getSlice("v", span).bytes, content.bytes))
    // and content the store does hold is found by the probe: re-writing
    // it adds no blob rows
    def blobRows() = spark.read.parquet(s.chunksDir).count()
    val before = blobRows()
    val wb3 = s.addVersion("b", line)
    wb3.write("v", Seq(content))
    wb3.finishVersion()
    assert(blobRows() == before)
  }

  test("a dedup-only commit adds no file to chunks/, and neither does a " +
      "vacuum with no live swept blob") {
    def chunkFiles(s: SparkStore) =
      Option(new java.io.File(s.chunksDir).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val (s, _) = seeded(tmpRoot())
    val seededFiles = chunkFiles(s)
    assert(seededFiles.nonEmpty)
    // content the store already holds, once range-planned (all 1,600
    // chunks) and once point-planned (a 4-chunk box)
    for (update <- Seq(base, box(10, 14, 10, 14)(baseF))) {
      val w = s.addVersion("d", grid)
      w.write("v", Seq(update))
      val v = w.finishVersion()
      assert(chunkFiles(s) == seededFiles,
        s"a dedup-only commit of ${update.slice} adopted a file")
      assert(java.util.Arrays.equals(sliceAt(s, v), base.bytes))
    }
    s.destroy("d")
    assert(s.vacuum(0L) > 0L)
    assert(chunkFiles(s).isEmpty)
  }
}
