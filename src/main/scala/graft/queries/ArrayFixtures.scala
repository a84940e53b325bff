package graft.queries

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Deterministic array-engine fixtures built FROM the driver's parquet
  * testdata (FIXTURES.md §F8): a dense events-per-hour variable family,
  * written through the full distributed ingest path, so every §2.7 oracle
  * query exercises shred → shuffle-merge → dedup append → commit → MVCC
  * resolve → pruned exploded read.
  *
  * Versions written to dataset `ev` (variable `n`, long, fill −1):
  *   v1: slab A = per-hour event counts on [0,H) then slab B = 999 on
  *       [20,30)  (in-version overlap → last-writer-wins, Q-MERGE)
  *   v2: slab C = 777 on [25,35)                        (Q-TIMETRAVEL)
  *   v3: zeros everywhere, NEVER committed              (Q-ABORT)
  * plus `m` (written [0,10) only → fill visible, Q-FILL), scalar `s`
  * (total event count, Q-SCALAR), float `f` with NaN fill (Q-NAN).
  * Dataset `evgrow`: v1 counts on [0,H); v2 grows H → H+24 (Q-GROW).
  * Dataset `evshrink`: v1 counts on [0,H); v2 shrinks H → H−16 (Q-SHRINK,
  * reference test/shrink.clj:55-70 — retained data visible inside the new
  * bounds, the old extent rejected per-version).
  * Dataset `dd`: 50 constant chunks → 1 blob (Q-DEDUP).
  */
object ArrayFixtures {

  final case class Handles(store: SparkStore, hours: Long,
      evV1: Long, evV2: Long, growV1: Long, growV2: Long,
      shrinkV1: Long, shrinkV2: Long,
      months: Long, gridV1: Long,
      regrowV1: Long, regrowV2: Long, regrowV3: Long)

  private val cache = TrieMap.empty[String, Handles]

  def get(spark: SparkSession, sfDir: String): Handles =
    cache.getOrElseUpdate(sfDir, synchronized { build(spark, sfDir) })

  /** Per-hour event counts relative to the first hour in the table —
    * the shared ground truth with the DuckDB oracle
    * (`floor(epoch(ts)/3600) - min(...)`). `ts`'s physical type varies
    * across testdata regenerations (nanos-INT64 vs micros-TIMESTAMP_NTZ);
    * EventTime derives epoch seconds from whichever is present. */
  def hourCounts(spark: SparkSession, sfDir: String): Array[Long] = {
    val ev = EventTime.eventsWithSeconds(spark, sfDir)
      .select(floor(col("ts_s") / 3600L).cast("long").as("ah"))
    val rows = ev.groupBy("ah").count().collect()
    val minH = rows.map(_.getLong(0)).min
    val maxH = rows.map(_.getLong(0)).max
    val counts = new Array[Long]((maxH - minH + 1).toInt)
    rows.foreach(r => counts((r.getLong(0) - minH).toInt) = r.getLong(1))
    counts
  }

  private def build(spark: SparkSession, sfDir: String): Handles = {
    val counts = hourCounts(spark, sfDir)
    val h = counts.length.toLong
    val root = graft.spark.StoreFs.tempDirAtExit("graft_fixture")
    val store = new SparkStore(spark, root)

    def countsSlab(dtype: DType, upto: Long): Slab =
      Slab.fromDoubles(dtype, Slice(Seq(0L), Seq(upto)),
        counts.take(upto.toInt).map(_.toDouble).toIndexedSeq)

    // ---- dataset ev ----
    store.create("ev")
    val evMeta = DatasetMeta(
      dimensions = Map("h" -> h),
      chunkDimensions = Map("h" -> 64L),
      variables = Map(
        "n" -> VariableDef("long", Vector("h"), -1.0),
        "m" -> VariableDef("long", Vector("h"), -1.0),
        "s" -> VariableDef("long", Vector(), 0.0),
        "f" -> VariableDef("float", Vector("h"), Double.NaN)))
    val w1 = store.addVersion("ev", evMeta)
    w1.write("n", Seq(
      countsSlab(DType.LONG, h),
      Slab.empty(DType.LONG, Slice(Seq(20L), Seq(30L)), 999.0)))
    w1.write("m", Seq(countsSlab(DType.LONG, 10L)))
    w1.write("s", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq.empty[Long], Seq.empty[Long]), Seq(counts.sum.toDouble))))
    w1.write("f", Seq(countsSlab(DType.FLOAT, 5L)))
    val evV1 = w1.finishVersion()

    // guarantee v1/v2 commit at DISTINCT milliseconds: the SQL
    // `TIMESTAMP AS OF <v1-commit>` gate resolves "newest version at or
    // before" and same-ms commits would make that resolution ambiguous
    Thread.sleep(2)

    val w2 = store.addVersion("ev", evMeta)
    w2.write("n", Seq(Slab.empty(DType.LONG, Slice(Seq(25L), Seq(35L)), 777.0)))
    val evV2 = w2.finishVersion()

    // v3: written but never committed (Q-ABORT, failed_ingest.clj analog)
    val w3 = store.addVersion("ev", evMeta)
    w3.write("n", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(h)), 0.0)))

    // ---- dataset evgrow ----
    store.create("evgrow")
    val gMeta = DatasetMeta(
      dimensions = Map("h" -> h),
      chunkDimensions = Map("h" -> 64L),
      variables = Map("g" -> VariableDef("long", Vector("h"), -1.0)))
    val gw1 = store.addVersion("evgrow", gMeta)
    gw1.write("g", Seq(countsSlab(DType.LONG, h)))
    val growV1 = gw1.finishVersion()
    val gw2 = store.addVersion("evgrow", gMeta.copy(dimensions = Map("h" -> (h + 24))))
    val growV2 = gw2.finishVersion()

    // ---- dataset evshrink (Q-SHRINK, shrink.clj:55-70) ----
    store.create("evshrink")
    val sMeta = DatasetMeta(
      dimensions = Map("h" -> h),
      chunkDimensions = Map("h" -> 64L),
      variables = Map("k" -> VariableDef("long", Vector("h"), -1.0)))
    val sw1 = store.addVersion("evshrink", sMeta)
    sw1.write("k", Seq(countsSlab(DType.LONG, h)))
    val shrinkV1 = sw1.finishVersion()
    val sw2 = store.addVersion("evshrink", sMeta.copy(dimensions = Map("h" -> (h - 16))))
    val shrinkV2 = sw2.finishVersion()

    // ---- dataset evregrow: grow THEN shrink in ONE lineage (Q-REGROW,
    //      the grow.clj:56-71 + shrink.clj:55-70 composition) ----
    //   v1: counts on [0,h), dims h
    //   v2: dims h+24, writes 555 on [h, h+8) of the newly exposed region
    //   v3: dims h−16 — v2's new-region write now out of bounds, invisible
    store.create("evregrow")
    val rMeta = DatasetMeta(
      dimensions = Map("h" -> h),
      chunkDimensions = Map("h" -> 64L),
      variables = Map("r" -> VariableDef("long", Vector("h"), -1.0)))
    val rw1 = store.addVersion("evregrow", rMeta)
    rw1.write("r", Seq(countsSlab(DType.LONG, h)))
    val regrowV1 = rw1.finishVersion()
    val rw2 = store.addVersion("evregrow", rMeta.copy(dimensions = Map("h" -> (h + 24))))
    rw2.write("r", Seq(Slab.empty(DType.LONG, Slice(Seq(h), Seq(h + 8)), 555.0)))
    val regrowV2 = rw2.finishVersion()
    val rw3 = store.addVersion("evregrow", rMeta.copy(dimensions = Map("h" -> (h - 16))))
    val regrowV3 = rw3.finishVersion()

    // ---- dataset grid: 2-D revenue[shipMonth × partBucket] from lineitem
    //      (FIXTURES.md F8 shape) ----
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("am"),
        pmod(col("l_partkey"), lit(8L)).as("b"),
        col("l_quantity"))
    val gRows = li.groupBy("am", "b")
      .agg(sum(col("l_quantity")).cast("long").as("q")).collect()
    val minM = gRows.map(_.getAs[Number]("am").longValue).min
    val maxM = gRows.map(_.getAs[Number]("am").longValue).max
    val months = maxM - minM + 1
    val cells = Array.ofDim[Double](months.toInt, 8)
    for (r <- cells.indices; c <- 0 until 8) cells(r)(c) = 0.0
    gRows.foreach { r =>
      cells((r.getAs[Number]("am").longValue - minM).toInt)(r.getAs[Number]("b").intValue) =
        r.getLong(2).toDouble
    }
    store.create("grid")
    val gridMeta = DatasetMeta(
      dimensions = Map("m" -> months, "b" -> 8L),
      chunkDimensions = Map("m" -> 4L, "b" -> 4L),
      variables = Map("qty" -> VariableDef("long", Vector("m", "b"), -1.0)))
    val gwr = store.addVersion("grid", gridMeta)
    gwr.write("qty", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L, 0L), Seq(months, 8L)),
      cells.flatten.toIndexedSeq)))
    val gridV1 = gwr.finishVersion()

    // ---- dataset dd: 100 cells / chunk 2 → 50 identical chunks ----
    store.create("dd")
    val dMeta = DatasetMeta(
      dimensions = Map("x" -> 100L),
      chunkDimensions = Map("x" -> 2L),
      variables = Map("d" -> VariableDef("short", Vector("x"), -3.0)))
    val dw = store.addVersion("dd", dMeta)
    dw.write("d", Seq(Slab.empty(DType.SHORT, Slice(Seq(0L), Seq(100L)), 5.0)))
    dw.finishVersion()

    Handles(store, h, evV1, evV2, growV1, growV2, shrinkV1, shrinkV2,
      months, gridV1, regrowV1, regrowV2, regrowV3)
  }
}
