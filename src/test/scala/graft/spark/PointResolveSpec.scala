package graft.spark

import graft.SparkTestSession
import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.source.GraftScan
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The point resolve (`resolvedPointsPinned`: per-file winners read by
  * `PointIndexReader`, on the driver or in tasks) picks the same (hash,
  * stats) per coordinate as the grouped resolve (`resolvedIndexPinned`),
  * in both placements, under every admissible-set rule and tie-break. */
class PointResolveSpec extends AnyFunSuite with graft.TempRoots {
  private lazy val spark = SparkTestSession.spark

  private val meta = DatasetMeta(
    dimensions = Map("x" -> 64L), chunkDimensions = Map("x" -> 8L),
    variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)))

  private def newStore(): SparkStore = {
    val s = new SparkStore(spark,
      tempRoot("graft-ptres"))
    s.create("d")
    s
  }

  private def band(lo: Long, hi: Long, v: Double) =
    Slab.empty(DType.LONG, Slice(Seq(lo), Seq(hi)), v)

  /** Both resolves at `vid` over the whole variable and over a window
    * envelope, compared per coordinate, with the point resolve on the
    * driver and in tasks (a zero byte bound); returns the full point
    * resolve. */
  private def assertParity(store: SparkStore, vid: Long): Map[String, (String, Row)] = {
    val pinned = store.metadata("d", vid)
    def grouped(f: org.apache.spark.sql.Column) =
      store.resolvedIndexPinned("d", "v", pinned, coordFilter = f)
        .select("coordKey", "hash", "stats").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getStruct(2))).toMap
    Seq(lit(true) -> PointKeys.Box(Seq(0L), Seq(7L)),
        col("coord")(0).between(2L, 5L) -> PointKeys.Box(Seq(2L), Seq(5L))).map {
      case (f, keys) =>
        val expected = grouped(f)
        var tasksJobs = -1
        val Seq(onDriver, inTasks) = Seq(GraftScan.DriverPointBytes, 0L).map { bound =>
          var point: Map[String, (String, Row)] = null
          val jobs = SparkTestSession.jobsDuring {
            point = store.resolvedPointsPinned("d", "v", pinned, keys, bound)
          }
          if (bound == 0L) tasksJobs = jobs
          else assert(jobs == 0, s"the driver placement ran $jobs job(s)")
          point
        }
        assert(tasksJobs == 1, s"the task placement ran $tasksJobs job(s)")
        assert(onDriver == expected, s"driver resolve parity at version $vid, filter $f")
        assert(inTasks == expected, s"task resolve parity at version $vid, filter $f")
        onDriver
    }.head
  }

  test("point resolve matches the grouped resolve: rewrites across " +
      "versions, two write() calls of one version, REPLACE floor, " +
      "compact checkpoint") {
    val store = newStore()
    val w1 = store.addVersion("d", meta)
    w1.write("v", Seq(band(0, 64, 1.0)))
    val v1 = w1.finishVersion()
    Thread.sleep(2)
    // rewrites chunks 1-2 of v1
    val w2 = store.addVersion("d", meta)
    w2.write("v", Seq(band(8, 24, 2.0)))
    val v2 = w2.finishVersion()
    Thread.sleep(2)
    // two write() calls of one version: same version, different seq
    val w3 = store.addVersion("d", meta)
    w3.write("v", Seq(band(16, 20, 3.0)))
    w3.write("v", Seq(band(18, 40, 4.0)))
    val v3 = w3.finishVersion()
    Seq(v1, v2, v3).foreach(assertParity(store, _))
    val at3 = assertParity(store, v3)
    val idx = store.admittedIndexDF("d", "v", Seq(v3))
      .filter(col("coordKey") === "2").select("seq", "hash").collect()
    assert(idx.length == 2, "chunk 2 holds one row per write() call")
    assert(at3("2")._1 == idx.maxBy(_.getLong(0)).getString(1),
      "the later write() call wins")
    Thread.sleep(2)
    // REPLACE floor: unwritten chunks stop resolving
    val w4 = store.addReplaceVersion("d", meta, "v")
    w4.write("v", Seq(band(40, 48, 5.0)))
    val v4 = w4.finishVersion()
    assert(assertParity(store, v4).keySet == Set("5"))
    Thread.sleep(2)
    val w5 = store.addVersion("d", meta)
    w5.write("v", Seq(band(0, 8, 6.0)))
    val v5 = w5.finishVersion()
    assert(assertParity(store, v5).keySet == Set("0", "5"))
    Thread.sleep(2)
    // compact checkpoint, then one more version on top of it
    val cp = store.compact("d")
    assertParity(store, cp)
    Thread.sleep(2)
    val w6 = store.addVersion("d", meta)
    w6.write("v", Seq(band(44, 52, 7.0)))
    val v6 = w6.finishVersion()
    assert(assertParity(store, v6).keySet == Set("0", "5", "6"))
  }

  test("an expired pin raises the tripwire on the point resolve too") {
    val store = newStore()
    val w1 = store.addVersion("d", meta)
    w1.write("v", Seq(band(0, 64, 1.0)))
    w1.finishVersion()
    Thread.sleep(2)
    val w2 = store.addVersion("d", meta)
    w2.write("v", Seq(band(0, 8, 2.0)))
    val v2 = w2.finishVersion()
    val pinned = store.reader("d").onVersion(v2).meta
    assertParity(store, v2)
    store.compact("d")
    store.expireHistory("d")
    val e = intercept[IllegalStateException] {
      store.resolvedPointsPinned("d", "v", pinned, PointKeys.Box(Seq(0L), Seq(7L)))
    }
    assert(e.getMessage.contains("expired"), e.getMessage)
  }

  test("per-task reducer: greatest (version, seq, hash), equal " +
      "(version, seq) broken by hash, stats ride with the winner") {
    def row(k: String, v: Long, s: Long, h: String, cnt: Long) =
      Row(k, v, s, h, Row(cnt, null, null, null, null, null, 0L))
    val rows = Seq(
      row("0", 1L, 9L, "ff", 1L), row("0", 2L, 1L, "00", 2L), // version wins
      row("1", 3L, 1L, "aa", 3L), row("1", 3L, 2L, "0a", 4L), // seq wins
      row("2", 4L, 5L, "b1", 5L), row("2", 4L, 5L, "c2", 6L), // hash breaks the tie
      row("2", 4L, 5L, "a3", 7L))
    def winners(rs: Seq[Row]) = SparkStore.keepWinners(rs.iterator)
      .map(r => r.getString(0) -> (r.getString(3), r.getStruct(4).getLong(0))).toMap
    val expected = Map("0" -> ("00", 2L), "1" -> ("0a", 4L), "2" -> ("c2", 6L))
    assert(winners(rows) == expected)
    // associative: per-task winners reduced again agree, whatever the split
    assert(winners(rows.reverse) == expected)
    val (a, b) = rows.splitAt(3)
    assert(winners(SparkStore.keepWinners(a.iterator).toSeq ++
      SparkStore.keepWinners(b.iterator).toSeq) == expected)
    // and the grouped resolve's max_by breaks the same tie the same way
    import spark.implicits._
    val grouped = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getStruct(4).getLong(0)))
      .toDF("coordKey", "version", "seq", "hash", "cnt")
      .groupBy("coordKey")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct(col("hash"), col("cnt")),
        org.apache.spark.sql.functions.struct(col("version"), col("seq"),
          col("hash"))).as("w"))
      .select(col("coordKey"), col("w.hash"), col("w.cnt")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(grouped == expected)
  }
}
