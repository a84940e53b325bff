package graft

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    // commit fork-verify settle window: mockfs listings are strongly
    // consistent unless a test turns listVisibilityLagMs on, so the
    // suite-wide settle stays near-zero (production default 250 ms); the
    // delayed-visibility race test raises it locally above its lag
    if (!sys.props.contains("graft.commit.settle.ms"))
      sys.props("graft.commit.settle.ms") = "25"
    GraftSession.withCpus("graft-test", 4, Map(
      // mockfs://: test-only object-store-semantics FileSystem
      // (graft.testfs.MockObjectStoreFileSystem). The FileSystem route
      // registers via META-INF/services; the FileContext route (store
      // commit renames) resolves AbstractFileSystem from this key.
      "spark.hadoop.fs.AbstractFileSystem.mockfs.impl" ->
        "graft.testfs.MockAbstractFs",
      // conf-faithfulness gate: the mock REQUIRES this driver-session
      // credential at every initialize — any mockfs resolution through a
      // classpath-default conf fails loudly (see the mock's scaladoc)
      ("spark.hadoop." + graft.testfs.MockObjectStoreFileSystem.CredentialKey) ->
        graft.testfs.MockObjectStoreFileSystem.CredentialValue,
      // keep Hadoop's content-blind global FS cache out of the gate: a
      // credentialed instance must not be handed to a credential-less conf
      "spark.hadoop.fs.mockfs.impl.disable.cache" -> "true",
      // hos://: in-process loopback-HTTP object store (the offline
      // stand-in RealObjectStoreSpec runs against when no real endpoint
      // is configured; see graft.testfs.InProcessObjectStoreServer)
      "spark.hadoop.fs.hos.impl" -> "graft.testfs.HttpObjectStoreFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.hos.impl" ->
        "graft.testfs.HttpObjectStoreAbstractFs",
      "spark.hadoop.fs.hos.impl.disable.cache" -> "true"))
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int =
    graft.metrics.SparkCost.measure(spark)(body).jobs.size
}

/** Distributed read/write path over the Parquet-backed SparkStore —
  * the Spark-native analog of the reference's entire_flow / time-travel /
  * dedup suites. */
class SparkFlowSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestSession.spark

  private def freshStore(): SparkStore = new SparkStore(spark, tempRoot("graft-spark-test"))

  /** The token file and worker logs of a cross-JVM test, in a dir the
    * suite deletes (not in the store root). */
  private def ioDir(): java.io.File = new java.io.File(tempRoot("graft-xjvm-io"))

  private def meta2d = DatasetMeta(
    dimensions = Map("x" -> 9L, "y" -> 10L), // deliberately not chunk-aligned
    chunkDimensions = Map("x" -> 4L, "y" -> 3L),
    variables = Map("v" -> VariableDef("double", Vector("x", "y"), -9.0)))

  test("spark write→commit→exploded read: merge, fill, boundary chunks") {
    val store = freshStore()
    store.create("ds")
    val w = store.addVersion("ds", meta2d)
    val a = Slab.fromDoubles(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(5L, 6L)),
      (1 to 30).map(_.toDouble))
    val b = Slab.empty(DType.DOUBLE, Slice(Seq(3L, 4L), Seq(9L, 10L)), 50.0)
    w.write("v", Seq(a, b))
    val v1 = w.finishVersion()

    val r = store.reader("ds").onLastVersion()
    assert(r.meta.versionId.contains(v1))
    val df = r.exploded("v", Slice(Seq(0L, 0L), Seq(9L, 10L)))
    val cells = df.collect().map(row =>
      (row.getLong(0), row.getLong(1)) -> row.getDouble(2)).toMap
    assert(cells.size == 90)
    assert(cells((0L, 0L)) == 1.0)          // slab a
    assert(cells((2L, 5L)) == 18.0)         // slab a interior
    assert(cells((3L, 4L)) == 50.0)         // overlap → b (last writer wins)
    assert(cells((8L, 9L)) == 50.0)         // slab b corner (boundary chunk)
    assert(cells((8L, 0L)) == -9.0)         // unwritten → fill
    // driver-side getSlice agrees with exploded view
    val slab = r.getSlice("v", Slice(Seq(2L, 3L), Seq(6L, 7L)))
    assert(slab.valueAt(Seq(3L, 4L)) == 50.0)
    assert(slab.valueAt(Seq(2L, 3L)) == 16.0)
  }

  test("explodedMulti: wide cells ≡ per-variable exploded reads; shape " +
      "mismatch and duplicates rejected") {
    val store = freshStore()
    store.create("mv")
    val m = DatasetMeta(
      dimensions = Map("x" -> 9L, "y" -> 10L),
      chunkDimensions = Map("x" -> 4L, "y" -> 3L),
      variables = Map(
        "a" -> VariableDef("double", Vector("x", "y"), -9.0),
        "b" -> VariableDef("long", Vector("x", "y"), -1.0),
        "s" -> VariableDef("long", Vector(), 0.0)))
    val w = store.addVersion("mv", m)
    w.write("a", Seq(Slab.fromDoubles(DType.DOUBLE,
      Slice(Seq(0L, 0L), Seq(5L, 6L)), (1 to 30).map(_.toDouble))))
    w.write("b", Seq(Slab.empty(DType.LONG, Slice(Seq(3L, 4L), Seq(9L, 10L)), 7.0)))
    val v1 = w.finishVersion()
    val r = store.reader("mv").onVersion(v1)
    val req = Slice(Seq(0L, 0L), Seq(9L, 10L))
    val wide = r.explodedMulti(Seq("a", "b"), req).collect()
      .map(row => (row.getLong(0), row.getLong(1)) ->
        ((row.getDouble(2), row.getLong(3)))).toMap
    assert(wide.size == 90)
    // per-variable fills where only the other variable wrote
    assert(wide((0L, 0L)) == ((1.0, -1L)))   // a written, b fill
    assert(wide((8L, 9L)) == ((-9.0, 7L)))   // a fill, b written
    assert(wide((3L, 4L)) == ((23.0, 7L)))   // both written
    // exact parity with the two single-variable exploded reads
    val ea = r.exploded("a", req).collect()
      .map(row => (row.getLong(0), row.getLong(1)) -> row.getDouble(2)).toMap
    val eb = r.exploded("b", req).collect()
      .map(row => (row.getLong(0), row.getLong(1)) -> row.getLong(2)).toMap
    assert(wide.forall { case (k, (va, vb)) => ea(k) == va && eb(k) == vb })
    // scalar variable can't join a 2-D read; duplicates rejected
    assert(intercept[IllegalArgumentException] {
      r.explodedMulti(Seq("a", "s"), req)
    }.getMessage.contains("dimension tuple"))
    assert(intercept[IllegalArgumentException] {
      r.explodedMulti(Seq("a", "a"), req)
    }.getMessage.contains("duplicate"))
  }

  test("per-dataset filters metadata drives the chunk codec end-to-end: " +
      "zstd-framed blobs, identical reads") {
    val store = freshStore()
    store.create("zs")
    val m = DatasetMeta(
      dimensions = Map("x" -> 64L), chunkDimensions = Map("x" -> 32L),
      variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)),
      filters = Seq("zstd"))
    val w = store.addVersion("zs", m)
    w.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(64L)), (0 until 64).map(i => (i % 7).toDouble))))
    val v1 = w.finishVersion()
    // stored blobs carry the [ver=0][count=1][code=4 zstd] chain header
    val blobs = spark.read.parquet(store.chunksDir)
      .select("bytes").collect().map(_.getAs[Array[Byte]](0))
    assert(blobs.nonEmpty && blobs.forall(b => b(0) == 0 && b(1) == 1 && b(2) == 4))
    val got = store.reader("zs").onVersion(v1)
      .exploded("v", Slice(Seq(0L), Seq(64L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 64).forall(i => got(i.toLong) == (i % 7).toLong))
  }

  test("statsAggregate matches the exploded view: interior stats, fill math, " +
    "boundary decode, NaN semantics, windowed requests") {
    val store = freshStore()
    store.create("ds")
    val w = store.addVersion("ds", meta2d)
    val a = Slab.fromDoubles(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(5L, 6L)),
      (1 to 30).map(_.toDouble))
    val b = Slab.empty(DType.DOUBLE, Slice(Seq(3L, 4L), Seq(9L, 10L)), 50.0)
    w.write("v", Seq(a, b))
    val v1 = w.finishVersion()
    val r = store.reader("ds").onVersion(v1)

    def check(req: Slice, rd: graft.spark.SparkPinnedReader = r): Unit = {
      val agg = rd.statsAggregate("v", req).collect()(0)
      val exp = rd.exploded("v", req)
        .agg(org.apache.spark.sql.functions.min("value"),
          org.apache.spark.sql.functions.max("value"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .collect()(0)
      assert(agg.getDouble(0) == exp.getDouble(0), s"vmin for $req")
      assert(agg.getDouble(1) == exp.getDouble(1), s"vmax for $req")
      assert(agg.getLong(3) == exp.getLong(2), s"vcnt for $req")
    }
    check(Slice(Seq(0L, 0L), Seq(9L, 10L))) // full extent: all three paths
    check(Slice(Seq(2L, 3L), Seq(6L, 7L))) // window: boundary decode only
    check(Slice(Seq(8L, 0L), Seq(9L, 4L))) // pure fill window
    check(Slice(Seq(0L, 0L), Seq(4L, 3L))) // exactly one interior chunk (stats only)
    // 35×35 = 1,225 covering chunks (> GraftScan.PointLookupThreshold): the
    // range-planned scan manifest supplies the stats
    store.create("big")
    val wb = store.addVersion("big", meta2d.copy(
      dimensions = Map("x" -> 70L, "y" -> 70L),
      chunkDimensions = Map("x" -> 2L, "y" -> 2L)))
    wb.write("v", Seq(Slab.fromDoubles(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(40L, 50L)),
      (1 to 2000).map(_.toDouble))))
    check(Slice(Seq(1L, 1L), Seq(69L, 70L)), store.reader("big").onVersion(wb.finishVersion()))

    // long variable: exact sum, and the fill-math sum over the unwritten tail
    val metaL = DatasetMeta(
      dimensions = Map("i" -> 100L), chunkDimensions = Map("i" -> 16L),
      variables = Map("n" -> VariableDef("long", Vector("i"), -2.0)))
    store.create("dl")
    val wl = store.addVersion("dl", metaL)
    wl.write("n", Seq(Slab.fromDoubles(DType.LONG, Slice(Seq(0L), Seq(40L)),
      (1 to 40).map(_.toDouble))))
    val vl = wl.finishVersion()
    val rl = store.reader("dl").onVersion(vl)
    val sa = rl.statsAggregate("n", Slice(Seq(0L), Seq(100L))).collect()(0)
    // cells: 1..40 then fill −2 × 60
    assert(sa.getLong(0) == -2L && sa.getLong(1) == 40L)
    assert(sa.getLong(2) == (1 to 40).sum.toLong - 2L * 60)
    assert(sa.getLong(3) == 100L)

    // NaN fill float variable: max is NaN (Spark NaN-greatest), min is the
    // smallest real cell; all-NaN window → both NaN
    val metaF = DatasetMeta(
      dimensions = Map("i" -> 32L), chunkDimensions = Map("i" -> 8L),
      variables = Map("f" -> VariableDef("float", Vector("i"), Double.NaN)))
    store.create("df")
    val wf = store.addVersion("df", metaF)
    wf.write("f", Seq(Slab.fromDoubles(DType.FLOAT, Slice(Seq(0L), Seq(8L)),
      Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0))))
    val vf = wf.finishVersion()
    val rf = store.reader("df").onVersion(vf)
    val fa = rf.statsAggregate("f", Slice(Seq(0L), Seq(32L))).collect()(0)
    assert(fa.getDouble(0) == 1.0)
    assert(fa.getDouble(1).isNaN)
    assert(fa.getLong(2) == 24L && fa.getLong(3) == 32L)
    val allNaN = rf.statsAggregate("f", Slice(Seq(8L), Seq(32L))).collect()(0)
    assert(allNaN.getDouble(0).isNaN && allNaN.getDouble(1).isNaN)

    // an interior window must not read blobs: delete every chunk part file
    // and the blob cache, keeping only the index — interior stats still
    // answer (cells 17..32)
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(
        java.nio.file.Paths.get(store.chunksDir))) {
      _.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.foreach(java.nio.file.Files.delete)
    }
    SparkStore.clearBlobCache()
    val interiorOnly = rl.statsAggregate("n", Slice(Seq(16L), Seq(32L))).collect()(0)
    assert(interiorOnly.getLong(0) == 17L && interiorOnly.getLong(1) == 32L)
    assert(interiorOnly.getLong(2) == (17 to 32).sum.toLong && interiorOnly.getLong(3) == 16L)
  }

  test("pruned read touches only covering chunks; windowed slice correct") {
    val store = freshStore()
    store.create("ds")
    val w = store.addVersion("ds", meta2d)
    w.write("v", Seq(Slab.fromDoubles(DType.DOUBLE,
      Slice(Seq(0L, 0L), Seq(9L, 10L)), (1 to 90).map(_.toDouble))))
    w.finishVersion()
    val r = store.reader("ds").onLastVersion()
    // window inside one chunk
    val df = r.exploded("v", Slice(Seq(0L, 0L), Seq(2L, 2L)))
    assert(df.count() == 4)
    val vals = df.collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(vals((0L, 0L)) == 1.0 && vals((1L, 1L)) == 12.0)
    // bounds check
    intercept[IndexOutOfBoundsException] {
      r.exploded("v", Slice(Seq(0L, 0L), Seq(10L, 10L)))
    }
  }

  test("strided (step>1) read on the distributed paths: exploded keeps " +
      "exactly the stride lattice; getSlice gathers the same cells; " +
      "streamChunks refuses loudly (step-1 contract named)") {
    val store = freshStore()
    store.create("ds")
    val w = store.addVersion("ds", meta2d)
    // write only x<5: lattice points at x>=5 read back fill
    w.write("v", Seq(Slab.fromDoubles(DType.DOUBLE,
      Slice(Seq(0L, 0L), Seq(5L, 10L)), (1 to 50).map(_.toDouble))))
    w.finishVersion()
    val r = store.reader("ds").onLastVersion()
    val strided = Slice(Vector(1L, 0L), Vector(9L, 10L), Vector(3L, 4L))
    // x lattice {1,4,7}, y lattice {0,4,8}
    val df = r.exploded("v", strided)
    val got = df.collect().map(row =>
      (row.getLong(0), row.getLong(1)) -> row.getDouble(2)).toMap
    val expected = strided.iter.map { c =>
      val (x, y) = (c(0), c(1))
      (x, y) -> (if (x < 5) (x * 10 + y + 1).toDouble else -9.0)
    }.toMap
    assert(got == expected)
    // distributed driver-assembly getSlice agrees cell-for-cell
    val slab = r.getSlice("v", strided)
    assert(slab.slice == strided)
    strided.iter.foreach { c =>
      assert(slab.valueAt(c.toIndexedSeq) == expected((c(0), c(1))))
    }
    // chunk-granular frames have no lattice meaning: loud refusal
    val e = intercept[IllegalArgumentException] {
      r.streamChunks("v", strided)
    }
    assert(e.getMessage.contains("step-1"))
  }

  test("time travel + structural sharing + uncommitted invisibility on Spark backend") {
    val store = freshStore()
    store.create("ds")
    val w1 = store.addVersion("ds", meta2d)
    w1.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(9L, 10L)), 7.0)))
    val v1 = w1.finishVersion()

    val w2 = store.addVersion("ds", meta2d)
    w2.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(4L, 4L), Seq(6L, 6L)), 8.0)))
    val v2 = w2.finishVersion()

    // v3 in-flight (uncommitted)
    val w3 = store.addVersion("ds", meta2d)
    w3.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(9L, 10L)), 99.0)))

    val r = store.reader("ds")
    assert(r.versions.map(_._2) == Seq(v2, v1))
    val at = Slice(Seq(4L, 4L), Seq(6L, 6L))
    assert(r.onVersion(v1).getSlice("v", at).valueAt(Seq(5L, 5L)) == 7.0)
    assert(r.onVersion(v2).getSlice("v", at).valueAt(Seq(5L, 5L)) == 8.0)
    // structural sharing: v2 sees v1 data where untouched
    assert(r.onVersion(v2).getSlice("v", Slice(Seq(0L, 0L), Seq(1L, 1L))).valueAt(Seq(0L, 0L)) == 7.0)
    // latest (committed) still v2 despite w3's writes
    assert(r.onLastVersion().getSlice("v", at).valueAt(Seq(5L, 5L)) == 8.0)
    // commit v3 → now visible
    val v3 = w3.finishVersion()
    assert(r.onLastVersion().getSlice("v", at).valueAt(Seq(5L, 5L)) == 99.0)
    assert(r.versions.map(_._2) == Seq(v3, v2, v1))
  }

  test("read-modify-write within a version across write() calls") {
    val store = freshStore()
    store.create("ds")
    val w = store.addVersion("ds", meta2d)
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(4L, 3L)), 1.0)))
    // second write() call touches the SAME chunk — must merge onto first
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(1L, 1L)), 2.0)))
    w.finishVersion()
    val got = store.reader("ds").onLastVersion().getSlice("v", Slice(Seq(0L, 0L), Seq(4L, 3L)))
    assert(got.valueAt(Seq(0L, 0L)) == 2.0)
    assert(got.valueAt(Seq(3L, 2L)) == 1.0) // first write retained
  }

  test("a commit whose base blob is missing fails naming the chunk; no " +
      "version lands and its untouched cells never turn into fill") {
    val store = freshStore()
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 32L), chunkDimensions = Map("x" -> 8L),
      variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)))
    val w1 = store.addVersion("ds", meta)
    // distinct content per chunk: one blob per chunk, no dedup
    w1.write("v", Seq(Slab.fromDoubles(DType.LONG, Slice(Seq(0L), Seq(32L)),
      (0 until 32).map(_.toDouble))))
    val v1 = w1.finishVersion()
    SparkStore.clearBlobCache()
    val h1 = store.resolvedIndexPinned("ds", "v", store.metadata("ds", v1))
      .filter(org.apache.spark.sql.functions.col("coordKey") === "1")
      .select("hash").head().getString(0)
    val holders = SparkStore.parquetFilesUnder(store.chunksDir).filter { f =>
      spark.read.parquet(f).filter(s"hash = '$h1'").count() > 0
    }
    assert(holders.length == 1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      if (holders.head.startsWith("file:")) new java.net.URI(holders.head).getPath
      else holders.head))
    val w2 = store.addVersion("ds", meta)
    val e = intercept[IllegalStateException] {
      w2.write("v", Seq(Slab.empty(DType.LONG, Slice(Seq(10L), Seq(12L)), 99.0)))
    }
    assert(e.getMessage.contains(s"chunk 1 resolved to blob $h1"), e.getMessage)
    assert(store.versions("ds").map(_._2) == Seq(v1))
  }

  test("first-write fast path: hasIndexData flips exactly when base data appears") {
    val store = freshStore()
    store.create("ds")
    val w1 = store.addVersion("ds", meta2d)
    val vid1 = w1.meta.versionId.get
    // fresh variable: no admissible index partition → fast path eligible
    assert(!store.hasIndexData("ds", "v", w1.meta.parent, vid1))
    w1.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(4L, 3L)), 1.0)))
    // same writer's own in-flight partition now exists → RMW path required
    assert(store.hasIndexData("ds", "v", w1.meta.parent, vid1))
    val v1 = w1.finishVersion()
    // a child version sees the committed parent partition
    val w2 = store.addVersion("ds", w1.meta)
    assert(store.hasIndexData("ds", "v", Some(v1), w2.meta.versionId.get))
    // an unrelated variable name still has no data
    assert(!store.hasIndexData("ds", "nope", Some(v1), w2.meta.versionId.get))
    // end-to-end: child's partial overwrite must still merge onto the base
    w2.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(1L, 1L)), 2.0)))
    w2.finishVersion()
    val got = store.reader("ds").onLastVersion().getSlice("v", Slice(Seq(0L, 0L), Seq(4L, 3L)))
    assert(got.valueAt(Seq(0L, 0L)) == 2.0)
    assert(got.valueAt(Seq(3L, 2L)) == 1.0)
  }

  test("content dedup across chunks and versions (impl_test.clj:17-39 analog)") {
    val store = freshStore()
    store.create("ds")
    val m = DatasetMeta(
      dimensions = Map("x" -> 40L, "y" -> 40L),
      chunkDimensions = Map("x" -> 2L, "y" -> 2L), // 400 chunks
      variables = Map("v" -> VariableDef("short", Vector("x", "y"), -3.0)))
    val w = store.addVersion("ds", m)
    w.write("v", Seq(Slab.empty(DType.SHORT, Slice(Seq(0L, 0L), Seq(40L, 40L)), 5.0)))
    w.finishVersion()
    val distinctBlobs = store.spark.read.parquet(store.chunksDir).count()
    assert(distinctBlobs == 1L, s"expected 1 stored blob, got $distinctBlobs")
    // second identical version adds no blobs
    val w2 = store.addVersion("ds", m)
    w2.write("v", Seq(Slab.empty(DType.SHORT, Slice(Seq(0L, 0L), Seq(40L, 40L)), 5.0)))
    w2.finishVersion()
    assert(store.spark.read.parquet(store.chunksDir).count() == 1L)
  }

  test("grow on spark backend: retained + new + fill; per-version bounds") {
    val store = freshStore()
    store.create("ds")
    val v1m = DatasetMeta(
      dimensions = Map("x" -> 4L, "y" -> 4L),
      chunkDimensions = Map("x" -> 3L, "y" -> 3L),
      variables = Map("v" -> VariableDef("int", Vector("x", "y"), -1.0)))
    val w1 = store.addVersion("ds", v1m)
    w1.write("v", Seq(Slab.empty(DType.INT, Slice(Seq(0L, 0L), Seq(4L, 4L)), 5.0)))
    val v1 = w1.finishVersion()
    val w2 = store.addVersion("ds", v1m.copy(dimensions = Map("x" -> 8L, "y" -> 8L)))
    w2.write("v", Seq(Slab.empty(DType.INT, Slice(Seq(6L, 6L), Seq(8L, 8L)), 9.0)))
    val v2 = w2.finishVersion()
    val r = store.reader("ds")
    val full = r.onVersion(v2).getSlice("v", Slice(Seq(0L, 0L), Seq(8L, 8L)))
    assert(full.valueAt(Seq(1L, 1L)) == 5.0)
    assert(full.valueAt(Seq(7L, 7L)) == 9.0)
    assert(full.valueAt(Seq(5L, 0L)) == -1.0)
    intercept[IndexOutOfBoundsException] {
      r.onVersion(v1).getSlice("v", Slice(Seq(0L, 0L), Seq(8L, 8L)))
    }
  }

  test("streamChunks: one clipped slab row per covering chunk (R2 analog)") {
    val store = freshStore()
    store.create("ds")
    val w = store.addVersion("ds", meta2d)
    w.write("v", Seq(Slab.fromDoubles(DType.DOUBLE,
      Slice(Seq(0L, 0L), Seq(9L, 10L)), (1 to 90).map(_.toDouble))))
    w.finishVersion()
    val r = store.reader("ds").onLastVersion()
    val req = Slice(Seq(2L, 2L), Seq(6L, 5L)) // covers chunks (0,0),(0,1),(1,0),(1,1)
    val rows = r.streamChunks("v", req).collect()
    assert(rows.length == 4)
    rows.foreach { row =>
      val start = row.getSeq[Long](1)
      val stop = row.getSeq[Long](2)
      val bytes = row.getAs[Array[Byte]](3)
      val slab = Slab(DType.DOUBLE, Slice(start, stop), bytes)
      // every clipped slab lies inside the request and carries true values
      assert(slab.slice.isContainedIn(req))
      val c = slab.slice.start
      assert(slab.valueAt(c) == (c(0) * 10 + c(1) + 1).toDouble)
    }
  }

  test("getSlice, streamChunks and explodedMulti match exploded cell for " +
      "cell on both planner shapes, strided and unchecked-overhang reads") {
    val store = freshStore()
    store.create("pp")
    // 70×66 in 2×2 chunks = 35×33 = 1,155 chunks, so a near-full window
    // is range-planned (above the 1,024-chunk point-lookup threshold)
    val m = DatasetMeta(
      dimensions = Map("x" -> 70L, "y" -> 66L),
      chunkDimensions = Map("x" -> 2L, "y" -> 2L),
      variables = Map(
        "a" -> VariableDef("double", Vector("x", "y"), -9.0),
        "b" -> VariableDef("long", Vector("x", "y"), -1.0)))
    val w = store.addVersion("pp", m)
    // unaligned partial writes: both variables keep fill regions
    val aBox = Slice(Seq(0L, 0L), Seq(61L, 66L))
    w.write("a", Seq(Slab.fromDoubles(DType.DOUBLE, aBox,
      aBox.iter.map(c => (c(0) * 100 + c(1) + 1).toDouble).toSeq)))
    val bBox = Slice(Seq(5L, 9L), Seq(70L, 40L))
    w.write("b", Seq(Slab.fromDoubles(DType.LONG, bBox,
      bBox.iter.map(c => (c(0) * 1000 + c(1)).toDouble).toSeq)))
    val r = store.reader("pp").onVersion(w.finishVersion())
    val extent = Slice(Seq(0L, 0L), Seq(70L, 66L))
    def inExtent(c: Array[Long]) = c(0) >= 0 && c(0) < 70 && c(1) >= 0 && c(1) < 66
    def covering(s: Slice) = (0 to 1).map(i =>
      Math.floorDiv(s.stop(i) - 1, 2L) - Math.floorDiv(s.start(i), 2L) + 1).product

    // (name, request, checkBounds, range-planned)
    val cases = Seq(
      ("point window", Slice(Seq(3L, 5L), Seq(41L, 30L)), true, false),
      ("range window", Slice(Seq(1L, 1L), Seq(69L, 65L)), true, true),
      ("strided", Slice(Vector(1L, 0L), Vector(70L, 66L), Vector(3L, 5L)), true, true),
      ("overhang", Slice(Seq(55L, 50L), Seq(75L, 71L)), false, false))
    cases.foreach { case (name, req, checkBounds, ranged) =>
      assert((covering(req) > 1024) == ranged, s"$name: planner shape precondition")
      assert(checkBounds == req.isContainedIn(extent), s"$name: bounds precondition")
      val key = (c: Array[Long]) => (c(0), c(1))
      val ea = r.exploded("a", req, checkBounds).collect()
        .map(row => (row.getLong(0), row.getLong(1)) -> row.getDouble(2)).toMap
      val eb = r.exploded("b", req, checkBounds).collect()
        .map(row => (row.getLong(0), row.getLong(1)) -> row.getLong(2)).toMap
      val cells = req.iter.toSeq
      assert(ea.size == cells.count(inExtent) && eb.size == ea.size, name)
      // exploded yields only in-extent cells; the overhang reads as fill
      def wantA(c: Array[Long]) = if (inExtent(c)) ea(key(c)) else -9.0
      def wantB(c: Array[Long]) = if (inExtent(c)) eb(key(c)) else -1L

      val slab = r.getSlice("a", req, checkBounds)
      assert(slab.slice == req, name)
      cells.foreach(c => assert(slab.valueAt(c.toIndexedSeq) == wantA(c), s"$name getSlice $c"))

      if (req.stepIsOne) {
        val frames = r.streamChunks("a", req, checkBounds).collect()
        assert(frames.length == covering(req), s"$name: one frame per covering chunk")
        val assembled = Slab.empty(DType.DOUBLE, req, Double.NaN)
        frames.foreach { row =>
          assembled.mergeFrom(Slab(DType.DOUBLE,
            Slice(row.getSeq[Long](1), row.getSeq[Long](2)), row.getAs[Array[Byte]](3)))
        }
        cells.foreach(c =>
          assert(assembled.valueAt(c.toIndexedSeq) == wantA(c), s"$name streamChunks $c"))
      }

      val wide = r.explodedMulti(Seq("a", "b"), req, checkBounds).collect()
        .map(row => (row.getLong(0), row.getLong(1)) -> ((row.getDouble(2), row.getLong(3))))
      assert(wide.length == cells.size, s"$name: explodedMulti cell count")
      assert(wide.toMap == cells.map(c => key(c) -> ((wantA(c), wantB(c)))).toMap,
        s"$name explodedMulti")
    }
  }

  test("shrink on spark backend: retained data inside new bounds; old extent rejected") {
    val store = freshStore()
    store.create("ds")
    val v1m = DatasetMeta(
      dimensions = Map("x" -> 12L, "y" -> 12L),
      chunkDimensions = Map("x" -> 5L, "y" -> 5L),
      variables = Map("v" -> VariableDef("int", Vector("x", "y"), -1.0)))
    val w1 = store.addVersion("ds", v1m)
    w1.write("v", Seq(Slab.empty(DType.INT, Slice(Seq(0L, 0L), Seq(12L, 12L)), 5.0)))
    w1.finishVersion()
    val w2 = store.addVersion("ds", v1m.copy(dimensions = Map("x" -> 6L, "y" -> 7L)))
    val v2 = w2.finishVersion()
    val r = store.reader("ds").onVersion(v2)
    assert(r.getSlice("v", Slice(Seq(0L, 0L), Seq(6L, 7L))).valueAt(Seq(5L, 6L)) == 5.0)
    intercept[IndexOutOfBoundsException] {
      r.exploded("v", Slice(Seq(0L, 0L), Seq(12L, 12L)))
    }
  }

  test("writer token: distributed multi-writer ingest, single commit (script.clj analog)") {
    val store = freshStore()
    store.create("ds")
    val w = store.addVersion("ds", meta2d)
    val tok = w.token
    val w2 = store.writerFromToken("ds", tok)
    w2.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(4L, 10L)), 1.0)))
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(4L, 0L), Seq(9L, 10L)), 2.0)))
    w.finishVersion()
    val got = store.reader("ds").onLastVersion().getSlice("v", Slice(Seq(0L, 0L), Seq(9L, 10L)))
    assert(got.valueAt(Seq(0L, 0L)) == 1.0 && got.valueAt(Seq(8L, 9L)) == 2.0)
  }

  test("edge chunks clipped on the TRAILING axis decode correctly (blobs hold " +
      "the full overhanging chunk; cell arithmetic must use chunk-grid shapes)") {
    val root = tempRoot("graft-edge")
    val store = new SparkStore(spark, root)
    store.create("ds")
    // dims (4,5) with chunks (4,4): chunk (0,1) spans y∈[4,8) but the
    // extent stops at 5 — a clipped-shape decode would mislabel its cells
    val meta = DatasetMeta(
      dimensions = Map("x" -> 4L, "y" -> 5L),
      chunkDimensions = Map("x" -> 4L, "y" -> 4L),
      variables = Map("v" -> VariableDef("long", Vector("x", "y"), -1.0)))
    val w = store.addVersion("ds", meta)
    w.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L, 0L), Seq(4L, 5L)),
      (for (x <- 0 until 4; y <- 0 until 5) yield (x * 10 + y).toDouble))))
    val v1 = w.finishVersion()
    val got = store.reader("ds").onVersion(v1)
      .exploded("v", Slice(Seq(0L, 0L), Seq(4L, 5L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 20)
    for (x <- 0L until 4L; y <- 0L until 5L)
      assert(got((x, y)) == x * 10 + y, s"cell ($x,$y)")
    // the boundary column y=4 is the tell: a prefix-read decode returns
    // row-0 values here
    assert(got((3L, 4L)) == 34L)
  }

  test("multi-process token ingest: independent store instances write disjoint " +
      "coords, master commits, union reads back (concurrency.clj:162-243)") {
    // separate SparkStore instances over one root = separate drivers: all
    // coordination state lives in parquet/manifest files, none in memory
    val root = tempRoot("graft-mp")
    val master = new SparkStore(spark, root)
    master.create("ds")
    val w = master.addVersion("ds", meta2d)
    val tok = w.token
    // two "worker processes": fresh store objects, writers rebuilt from the
    // token, disjoint coordinate sets (left / right halves)
    val workerA = new SparkStore(spark, root).writerFromToken("ds", tok)
    val workerB = new SparkStore(spark, root).writerFromToken("ds", tok)
    workerA.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(9L, 5L)), 3.0)))
    workerB.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 5L), Seq(9L, 10L)), 4.0)))
    // before the master commits, nothing is visible to latest-readers
    assert(new SparkStore(spark, root).versions("ds").isEmpty)
    val vid = w.finishVersion()
    // a FOURTH independent instance reads the union back
    val readBack = new SparkStore(spark, root).reader("ds").onVersion(vid)
    val got = readBack.getSlice("v", Slice(Seq(0L, 0L), Seq(9L, 10L)))
    assert(got.valueAt(Seq(4L, 2L)) == 3.0, "worker A's half")
    assert(got.valueAt(Seq(4L, 7L)) == 4.0, "worker B's half")
    assert(got.valueAt(Seq(8L, 0L)) == 3.0 && got.valueAt(Seq(8L, 9L)) == 4.0)
  }

  test("script.clj master/worker commit flow across SparkSessions: token " +
      "ships as a string, workers on their OWN sessions+threads write " +
      "disjoint halves behind a ready/go/done handshake, master commits " +
      "(script.clj:18-52,54-83)") {
    // Two isolated SparkSessions over one SparkContext — the closest a
    // single-JVM offline CI gets to script.clj's separate worker
    // processes. Everything a real process boundary would force is
    // forced here: the token crosses as a STRING (argv in the
    // reference), each worker rebuilds store+writer from (root, token)
    // alone on a thread whose ACTIVE session is its own newSession()
    // (separate session state and conf), and coordination is the
    // reference's ready→go→done handshake, not shared objects.
    val root = tempRoot("graft-script")
    val master = new SparkStore(spark, root)
    master.create("ds")
    val w = master.addVersion("ds", meta2d)
    val tok: String = w.token // the string that crosses the "process" line

    final class Worker(half: Int) extends Thread {
      val ready = new java.util.concurrent.CountDownLatch(1)
      val go = new java.util.concurrent.CountDownLatch(1)
      val done = new java.util.concurrent.CountDownLatch(1)
      @volatile var failure: Throwable = _
      override def run(): Unit =
        try {
          val mySession = spark.newSession()
          org.apache.spark.sql.SparkSession.setActiveSession(mySession)
          // worker bootstraps from (store root, token) only
          val myStore = new SparkStore(mySession, root)
          val myWriter = myStore.writerFromToken("ds", tok)
          ready.countDown() // "r"
          go.await()        // "go"
          // CHUNK-ALIGNED halves (y chunks are 3 wide; the split at y=6
          // is a chunk boundary): script.clj hands each slave a DISJOINT
          // chunk-coordinate set — concurrent writers to the SAME chunk
          // resolve chunk-LWW by seq, which is the reference's contract
          // too (slaves never share a chunk)
          val slab =
            if (half == 0) Slab.empty(DType.DOUBLE,
              Slice(Seq(0L, 0L), Seq(9L, 6L)), 3.0)
            else Slab.empty(DType.DOUBLE,
              Slice(Seq(0L, 6L), Seq(9L, 10L)), 4.0)
          myWriter.write("v", Seq(slab))
          done.countDown()  // "done"
        } catch { case t: Throwable => failure = t; ready.countDown(); done.countDown() }
    }
    val workers = Seq(new Worker(0), new Worker(1))
    workers.foreach(_.start())
    workers.foreach(w => assert(w.ready.await(120, java.util.concurrent.TimeUnit.SECONDS)))
    workers.foreach(_.go.countDown())
    workers.foreach(w => assert(w.done.await(120, java.util.concurrent.TimeUnit.SECONDS)))
    workers.foreach(_.join(120000))
    workers.foreach(w => if (w.failure != null) throw w.failure)

    // only the MASTER commits — and nothing was visible before it did
    assert(new SparkStore(spark, root).versions("ds").isEmpty,
      "worker writes must not be visible before the master's commit")
    val vid = w.finishVersion()
    val got = new SparkStore(spark, root).reader("ds").onVersion(vid)
      .getSlice("v", Slice(Seq(0L, 0L), Seq(9L, 10L)))
    assert(got.valueAt(Seq(4L, 2L)) == 3.0, "worker 0's half")
    assert(got.valueAt(Seq(4L, 7L)) == 4.0, "worker 1's half")
    assert(got.valueAt(Seq(0L, 5L)) == 3.0 && got.valueAt(Seq(0L, 6L)) == 4.0,
      "halves meet at the y=6 chunk-boundary seam")
  }

  test("mis-ordered lots-of-processes analog: four token writers share " +
      "chunks (shuffled column partitions, 7-wide y-chunks), write " +
      "concurrently, and the shared-writer CAS-retry converges to the " +
      "full constant slab (concurrency.clj:162-243 mis-ordered variant)") {
    // The reference's hardest multi-writer shape: coordinates are the
    // SHUFFLED y-columns partitioned across 4 slaves, chunk width 7 — so
    // nearly every chunk is written by several slaves concurrently, with
    // disjoint cells. Convergence requires the CAS analog: each token
    // writer verifies chunk ownership after landing and re-merges lost
    // chunks onto the winner's blob.
    val root = tempRoot("graft-lop")
    val master = new SparkStore(spark, root)
    master.create("ds")
    val dims = Map("x" -> 20L, "y" -> 40L)
    val meta = DatasetMeta(
      dimensions = dims,
      chunkDimensions = Map("x" -> 7L, "y" -> 7L),
      variables = Map("v" -> VariableDef("short", Vector("x", "y"), -3.0)))
    val w = master.addVersion("ds", meta)
    val tok = w.token
    val nWorkers = 4
    val shuffled = new scala.util.Random(42).shuffle((0L until 40L).toVector)
    val parts = shuffled.grouped(40 / nWorkers).toSeq

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = parts.zipWithIndex.map { case (cols, i) =>
      new Thread(() =>
        try {
          val mySession = spark.newSession()
          org.apache.spark.sql.SparkSession.setActiveSession(mySession)
          val myWriter = new SparkStore(mySession, root).writerFromToken("ds", tok)
          // one write call with all of this slave's column slabs — the
          // reference script's shape (generate-data over the coord list)
          val slabs = cols.map(y =>
            Slab.empty(DType.SHORT, Slice(Seq(0L, y), Seq(20L, y + 1)), 1.0))
          myWriter.write("v", slabs)
        } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    if (!failures.isEmpty) throw failures.peek()

    val vid = w.finishVersion()
    val got = new SparkStore(spark, root).reader("ds").onVersion(vid)
      .getSlice("v", Slice(Seq(0L, 0L), Seq(20L, 40L)))
    for (x <- 0L until 20L; y <- 0L until 40L)
      assert(got.valueAt(Seq(x, y)) == 1.0,
        s"cell ($x,$y) lost to a concurrent co-writer — CAS retry failed")
  }

  test("cross-JVM token ingest: two REAL worker processes (own JVMs, own " +
      "SparkSessions) bootstrap from (root, token) argv, write CHUNK-" +
      "SHARING halves in parallel (split mid-chunk at y=5), and the " +
      "shared-writer re-merge converges across the process boundary; " +
      "master commits (script.clj:54-83)") {
    // The full process boundary, not a simulation: nothing crosses but
    // argv + the filesystem. Workers are java subprocesses running
    // graft.testtools.TokenWorkerMain on THIS test JVM's classpath.
    val root = tempRoot("graft-xjvm")
    val master = new SparkStore(spark, root)
    master.create("ds")
    val w = master.addVersion("ds", meta2d)
    val io = ioDir()
    val tokenFile = java.nio.file.Files.createTempFile(io.toPath, "graft-token", ".json")
    java.nio.file.Files.writeString(tokenFile, w.token)

    val java17Opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def spawn(half: Int): (Process, java.io.File) = {
      val out = java.io.File.createTempFile(s"graft-worker$half", ".log", io)
      val cmd = (Seq(
        System.getProperty("java.home") + "/bin/java", "-Xmx2g",
        "-cp", System.getProperty("java.class.path")) ++ java17Opens ++ Seq(
        "graft.testtools.TokenWorkerMain",
        root, "ds", tokenFile.toString, half.toString)).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      (pb.start(), out)
    }
    val procs = Seq(spawn(0), spawn(1)) // both workers run CONCURRENTLY
    procs.foreach { case (p, out) =>
      assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        "worker process timed out")
      val log = java.nio.file.Files.readString(out.toPath)
      assert(p.exitValue() == 0, s"worker failed (exit ${p.exitValue()}):\n" +
        log.linesIterator.toSeq.takeRight(30).mkString("\n"))
      assert(log.contains(graft.testtools.TokenWorkerMain.DoneMarker),
        "worker never reported done")
    }
    // worker writes are staged but invisible until the MASTER commits
    assert(new SparkStore(spark, root).versions("ds").isEmpty,
      "cross-process writes must not be visible before the master's commit")
    val vid = w.finishVersion()
    val got = new SparkStore(spark, root).reader("ds").onVersion(vid)
      .getSlice("v", Slice(Seq(0L, 0L), Seq(9L, 10L)))
    assert(got.valueAt(Seq(4L, 2L)) == 3.0, "worker 0's half (other JVM)")
    assert(got.valueAt(Seq(4L, 7L)) == 4.0, "worker 1's half (other JVM)")
    // the y∈[3,6) chunk column was written by BOTH processes with
    // disjoint cells: every cell of both halves must survive
    for (x <- 0L until 9L) {
      assert(got.valueAt(Seq(x, 4L)) == 3.0,
        s"cell ($x,4) of the shared chunk lost worker 0's write")
      assert(got.valueAt(Seq(x, 5L)) == 4.0,
        s"cell ($x,5) of the shared chunk lost worker 1's write")
    }
  }

  test("cross-JVM mis-ordered lots-of-processes: FOUR worker JVMs each " +
      "write a shuffled interleave of y-columns over 7-wide chunks (every " +
      "chunk written by every worker, one write() per column), master " +
      "commits — per-write CAS retries plus the commit-time torn-write " +
      "repair converge to all cells (concurrency.clj:162-243)") {
    val root = tempRoot("graft-xjvm4")
    val master = new SparkStore(spark, root)
    master.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 6L, "y" -> 14L),
      chunkDimensions = Map("x" -> 6L, "y" -> 7L), // 2 chunks, both shared 4-ways
      variables = Map("v" -> VariableDef("double", Vector("x", "y"), -1.0)))
    val w = master.addVersion("ds", meta)
    val io = ioDir()
    val tokenFile = java.nio.file.Files.createTempFile(io.toPath, "graft-token4", ".json")
    java.nio.file.Files.writeString(tokenFile, w.token)
    val java17Opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def spawn(k: Int): (Process, java.io.File) = {
      val out = java.io.File.createTempFile(s"graft-worker4-$k", ".log", io)
      val cmd = (Seq(
        System.getProperty("java.home") + "/bin/java", "-Xmx2g",
        "-cp", System.getProperty("java.class.path")) ++ java17Opens ++ Seq(
        "graft.testtools.TokenWorkerMain",
        root, "ds", tokenFile.toString, s"cols${k}of4")).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      (pb.start(), out)
    }
    val procs = (0 until 4).map(spawn)
    procs.foreach { case (p, out) =>
      assert(p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS),
        "worker process timed out")
      val log = java.nio.file.Files.readString(out.toPath)
      assert(p.exitValue() == 0, s"worker failed (exit ${p.exitValue()}):\n" +
        log.linesIterator.toSeq.takeRight(30).mkString("\n"))
      assert(log.contains(graft.testtools.TokenWorkerMain.DoneMarker),
        "worker never reported done")
    }
    val vid = w.finishVersion()
    val got = new SparkStore(spark, root).reader("ds").onVersion(vid)
      .getSlice("v", Slice(Seq(0L, 0L), Seq(6L, 14L)))
    for (x <- 0L until 6L; y <- 0L until 14L)
      assert(got.valueAt(Seq(x, y)) == (y + 1).toDouble,
        s"cell ($x,$y): column $y's write (worker ${y % 4}) was lost")
  }
}
