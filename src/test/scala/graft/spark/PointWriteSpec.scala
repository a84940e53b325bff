package graft.spark

import graft.SparkTestSession
import graft.SparkTestSession.jobsDuring
import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.source.GraftScan
import graft.testfs.MockObjectStoreFileSystem
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The writer's point/range split: a base-resolving write touching at
  * most `GraftScan.PointLookupThreshold` chunks is point-planned, any
  * other is range-planned, and both plans commit the same versions. */
class PointWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-ptwrite").toString

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

    val (point, p1) = seeded(tmpRoot())
    val wp = point.addVersion("d", grid)
    val pointJobs = Seq(a, b).map(s => jobsDuring(wp.write("v", Seq(s))))
    val p2 = wp.finishVersion()
    // the two plans really ran: the point plan's job count is fixed and
    // below the range plan's
    info(s"Spark jobs per write: point $pointJobs, range $rangeJobs")
    assert(pointJobs.forall(_ < rangeJobs), s"point $pointJobs, range $rangeJobs")

    assert(java.util.Arrays.equals(sliceAt(range, r1), base.bytes))
    assert(java.util.Arrays.equals(sliceAt(point, p1), base.bytes))
    assert(java.util.Arrays.equals(sliceAt(range, r2), expected.bytes))
    assert(java.util.Arrays.equals(sliceAt(point, p2), expected.bytes))
    assert(resolvedAt(range, r1) == resolvedAt(point, p1))
    val resolved = resolvedAt(point, p2)
    assert(resolved.size == 1600)
    assert(resolvedAt(range, r2) == resolved)
  }

  test("a shared writer that loses > threshold chunks to a co-writer " +
      "re-merges them on the range plan with pinned bases") {
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

  test("an 8-chunk update over existing data commits in at most 8 Spark jobs") {
    val cube = DatasetMeta(
      dimensions = Map("x" -> 30L, "y" -> 30L, "z" -> 30L),
      chunkDimensions = Map("x" -> 10L, "y" -> 10L, "z" -> 10L),
      variables = Map("v" -> VariableDef("short", Vector("x", "y", "z"), -3.0)))
    def cells(lo: Long, hi: Long)(f: (Long, Long, Long) => Double) =
      Slab.fromDoubles(DType.SHORT, Slice(Seq(lo, lo, lo), Seq(hi, hi, hi)),
        for (x <- lo until hi; y <- lo until hi; z <- lo until hi) yield f(x, y, z))
    val s = new SparkStore(spark, tmpRoot())
    s.create("d")
    val w1 = s.addVersion("d", cube)
    w1.write("v", Seq(cells(0, 30)((x, y, z) => (x + y + z).toDouble)))
    w1.finishVersion()
    // an unaligned 10³ box: 2 chunks per axis
    val upd = cells(5, 15)((x, y, z) => (x * y - z).toDouble)
    val w2 = s.addVersion("d", cube)
    var v2 = -1L
    val jobs = jobsDuring { w2.write("v", Seq(upd)); v2 = w2.finishVersion() }
    info(s"$jobs Spark jobs")
    assert(jobs <= 8, s"$jobs jobs")
    val got = s.reader("d").onVersion(v2)
      .getSlice("v", Slice(Seq(5L, 5L, 5L), Seq(15L, 15L, 15L)))
    assert(java.util.Arrays.equals(got.bytes, upd.bytes))
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
