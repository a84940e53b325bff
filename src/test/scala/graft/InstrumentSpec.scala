package graft

import graft.api.GraftStore
import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.metrics.Instrument
import graft.store.MemBackend
import org.scalatest.funsuite.AnyFunSuite

class InstrumentSpec extends AnyFunSuite {
  test("timers record engine hot paths when enabled, no-op when disabled") {
    Instrument.reset()
    val store = new GraftStore(new MemBackend)
    store.create("ds")
    val meta = DatasetMeta(Map("x" -> 4L), Map("x" -> 2L),
      Map("v" -> VariableDef("int", Vector("x"), 0.0)))
    val w = store.writer("ds").addVersion(meta)
    w.write("v", Seq(Slab.fromDoubles(DType.INT, Slice(Seq(0L), Seq(4L)), Seq(1, 2, 3, 4))))
    w.finishVersion()
    // disabled: nothing recorded
    store.reader("ds").onLastVersion().getSlice("v", Slice(Seq(0L), Seq(4L)))
    assert(!Instrument.snapshot.contains("engine.getSlice"))
    // enabled: counts + durations
    Instrument.enable(SparkTestSession.spark)
    store.reader("ds").onLastVersion().getSlice("v", Slice(Seq(0L), Seq(4L)))
    store.reader("ds").onLastVersion().getSlice("v", Slice(Seq(0L), Seq(2L)))
    val snap = Instrument.snapshot("engine.getSlice")
    assert(snap("count") == 2.0 && snap("totalSec") >= 0.0)
    // spark executions show up via the listener (async bus: poll bounded)
    SparkTestSession.spark.range(10).count()
    val deadline = System.nanoTime() + 10e9.toLong
    while (!Instrument.snapshot.keys.exists(_.startsWith("sql.")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(Instrument.snapshot.keys.exists(_.startsWith("sql.")))
    // double enable must not double-count
    Instrument.enable(SparkTestSession.spark)
    val before = Instrument.snapshot.get("sql.count").map(_("count")).getOrElse(0.0)
    SparkTestSession.spark.range(10).count()
    val d2 = System.nanoTime() + 10e9.toLong
    while (Instrument.snapshot.get("sql.count").map(_("count")).getOrElse(0.0) <= before &&
        System.nanoTime() < d2) Thread.sleep(50)
    assert(Instrument.snapshot("sql.count")("count") == before + 1.0)
    Instrument.disable()
  }

  test("store timers count one call each when enabled, nothing when disabled") {
    val spark = SparkTestSession.spark
    Instrument.disable()
    Instrument.reset()
    val meta = DatasetMeta(Map("x" -> 4L), Map("x" -> 2L),
      Map("v" -> VariableDef("int", Vector("x"), 0.0)))
    val slab = Slab.fromDoubles(DType.INT, Slice(Seq(0L), Seq(4L)), Seq(1, 2, 3, 4))
    // one call of each timed store operation
    def exercise(store: graft.spark.SparkStore, ds: String): Unit = {
      store.create(ds)
      val w = store.addVersion(ds, meta)
      w.write("v", Seq(slab)) // writeRows
      w.finishVersion()       // commitVersion
      store.compact(ds)       // compact, plus its own checkpoint commit
      store.expireHistory(ds)
      store.cloneDataset(ds, ds + "_clone")
      store.vacuum(0L)
    }
    def root() = java.nio.file.Files.createTempDirectory("graft-timers").toString
    exercise(new graft.spark.SparkStore(spark, root()), "off")
    assert(!Instrument.snapshot.keys.exists(_.startsWith("store.")))
    Instrument.enable(spark)
    try {
      exercise(new graft.spark.SparkStore(spark, root()), "on")
      val counts = Instrument.snapshot.collect {
        case (k, v) if k.startsWith("store.") => k -> v("count")
      }
      assert(counts == Map("store.writeRows" -> 1.0,
        "store.commitVersion" -> 2.0, "store.compact" -> 1.0,
        "store.expireHistory" -> 1.0, "store.cloneDataset" -> 1.0,
        "store.vacuum" -> 1.0))
    } finally Instrument.disable()
  }

  test("the point resolve timer counts one per resolve when enabled, none " +
      "when disabled") {
    val spark = SparkTestSession.spark
    Instrument.disable()
    Instrument.reset()
    val meta = DatasetMeta(Map("x" -> 16L), Map("x" -> 4L),
      Map("v" -> VariableDef("int", Vector("x"), 0.0)))
    val root = java.nio.file.Files.createTempDirectory("graft-resolve-timer").toString
    val store = new graft.spark.SparkStore(spark, root)
    store.create("ds")
    val w = store.addVersion("ds", meta)
    w.write("v", Seq(Slab.fromDoubles(DType.INT, Slice(Seq(0L), Seq(16L)),
      (0 until 16).map(_.toDouble))))
    val vid = w.finishVersion()
    // one point resolve each: a getSlice and a DSv2 window read
    def reads(): Unit = {
      store.reader("ds").onVersion(vid).getSlice("v", Slice(Seq(2L), Seq(9L)))
      spark.read.format("graft").option("root", root).option("dataset", "ds")
        .option("variable", "v").load().filter("x < 6").collect()
      ()
    }
    reads()
    assert(!Instrument.snapshot.contains("store.resolvePoints"))
    Instrument.enable(spark)
    try {
      reads()
      assert(Instrument.snapshot("store.resolvePoints")("count") == 2.0)
    } finally Instrument.disable()
  }
}
