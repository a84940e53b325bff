package graft

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.{SparkStore, VersionDiff}
import org.scalatest.funsuite.AnyFunSuite

/** Per-variable REPLACE versions (INSERT OVERWRITE semantics). */
class ReplaceSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestSession.spark

  private def meta2 = DatasetMeta(
    dimensions = Map("h" -> 20L),
    chunkDimensions = Map("h" -> 8L),
    variables = Map(
      "a" -> VariableDef("long", Vector("h"), -1.0),
      "b" -> VariableDef("long", Vector("h"), -1.0)))

  private def readAll(store: SparkStore, v: Long, varName: String): Seq[Long] =
    store.reader("d").onVersion(v)
      .exploded(varName, Slice(Seq(0L), Seq(20L)))
      .orderBy("h").collect().map(_.getLong(1)).toSeq

  test("replace truncates ONLY its variable; time travel keeps the old " +
      "overlay; diff sees removed cells as value→fill") {
    val store = new SparkStore(spark,
      tempRoot("graft_repl"))
    store.create("d")
    val w1 = store.addVersion("d", meta2)
    w1.write("a", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(20L)), (0 until 20).map(_ * 2.0))))
    w1.write("b", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(20L)), 7.0)))
    val v1 = w1.finishVersion()
    Thread.sleep(2)
    val w2 = store.addReplaceVersion("d", meta2, "a")
    w2.write("a", Seq(Slab.empty(DType.LONG, Slice(Seq(5L), Seq(7L)), 99.0)))
    val v2 = w2.finishVersion()

    // a at v2: only the overwrite's cells; everything else fill
    assert(readAll(store, v2, "a") ==
      (0 until 20).map(h => if (h == 5 || h == 6) 99L else -1L))
    // b at v2: untouched full overlay (the barrier is per-variable)
    assert(readAll(store, v2, "b") == Seq.fill(20)(7L))
    // time travel below the barrier: a's old overlay intact
    assert(readAll(store, v1, "a") == (0 until 20).map(_ * 2L))
    // CDC across the replace: every cell that changed, including
    // value→fill transitions outside the overwrite slab
    val d = VersionDiff.diffCells(store, "d", "a", v1, v2)
    assert(d.count() == 20L) // h=5: 10→99, h=6: 12→99, others → fill (h0: 0 → -1 changes too)
  }

  test("SQL DELETE: a rectangular delete is metadata-only, reads back as " +
      "fill, and time-travels; a value predicate routes to the row-level " +
      "path and fills exactly the matched cells") {
    val root = tempRoot("graft_del")
    val store = new SparkStore(spark, root)
    store.create("d")
    val m = DatasetMeta(Map("h" -> 20L), Map("h" -> 8L),
      Map("a" -> VariableDef("long", Vector("h"), -1.0)))
    val w1 = store.addVersion("d", m)
    w1.write("a", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(20L)), (0 until 20).map(_ * 1.0))))
    val v1 = w1.finishVersion()
    val cat = "graft_" +
      java.lang.Integer.toHexString(root.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.source.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // value predicates aren't a rectangle: the row-level (WriteDelta)
    // path scans the matched cells and fills exactly those — never the
    // bounding envelope (RowLevelDmlSpec pins the plan shapes)
    spark.sql(s"DELETE FROM $cat.d.a WHERE value > 17")
    val afterPred = store.versions("d").head._2
    val gotPred = store.reader("d").onVersion(afterPred)
      .exploded("a", Slice(Seq(0L), Seq(20L)))
      .orderBy("h").collect().map(_.getLong(1)).toSeq
    assert(gotPred == (0 until 20).map(h => if (h > 17) -1L else h.toLong))
    spark.sql(s"DELETE FROM $cat.d.a WHERE h >= 3 AND h <= 4")
    val latest = store.versions("d").head._2
    val got = store.reader("d").onVersion(latest)
      .exploded("a", Slice(Seq(0L), Seq(20L)))
      .orderBy("h").collect().map(_.getLong(1)).toSeq
    assert(got == (0 until 20).map(h =>
      if (h == 3 || h == 4 || h > 17) -1L else h.toLong))
    val old = store.reader("d").onVersion(v1)
      .exploded("a", Slice(Seq(0L), Seq(20L)))
      .orderBy("h").collect().map(_.getLong(1)).toSeq
    assert(old == (0 until 20).map(_.toLong))
  }

  test("replace then compact: the checkpoint preserves replace semantics") {
    val store = new SparkStore(spark,
      tempRoot("graft_repl2"))
    store.create("d")
    val w1 = store.addVersion("d", meta2)
    w1.write("a", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(20L)), 3.0)))
    w1.write("b", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(20L)), 4.0)))
    w1.finishVersion()
    Thread.sleep(2)
    val w2 = store.addReplaceVersion("d", meta2, "a")
    w2.write("a", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(2L)), 9.0)))
    w2.finishVersion()
    store.compact("d")
    val latest = store.versions("d").head._2
    assert(readAll(store, latest, "a") ==
      (0 until 20).map(h => if (h < 2) 9L else -1L))
    assert(readAll(store, latest, "b") == Seq.fill(20)(4L))
  }
}
