package graft.spark.source

import graft.SparkTestSession
import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}
import org.scalatest.funsuite.AnyFunSuite

/** Aggregate pushdown (partial, from zone-map stats) + value-predicate
  * chunk skipping on the DSv2 source. */
class AggSkipSpec extends AnyFunSuite with graft.TempRoots {
  private lazy val spark = SparkTestSession.spark

  /** long v over [0,100) chunk 16: cells 1..40 written, fill −2 after. */
  private def withLong[A](body: String => A): A = withRoot("graft-agg") { root =>
    val store = new SparkStore(spark, root)
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 100L), chunkDimensions = Map("x" -> 16L),
      variables = Map("v" -> VariableDef("long", Vector("x"), -2.0)))
    val w = store.addVersion("ds", meta)
    w.write("v", Seq(Slab.fromDoubles(DType.LONG, Slice(Seq(0L), Seq(40L)),
      (1 to 40).map(_.toDouble))))
    w.finishVersion()
    body(root)
  }

  private def loadDs(root: String) =
    spark.read.format("graft").option("root", root)
      .option("dataset", "ds").option("variable", "v").load()

  test("global min/max/sum/count push down as partials from chunk stats") {
    withLong { root =>
      val df = loadDs(root).agg(
        min("value").as("a"), max("value").as("b"),
        sum("value").as("c"), count(col("value")).as("d"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("pushedAggregates="), plan.take(1200))
      val row = df.collect()(0)
      assert(row.getLong(0) == -2L)
      assert(row.getLong(1) == 40L)
      assert(row.getLong(2) == (1 to 40).sum - 2L * 60)
      assert(row.getLong(3) == 100L)
    }
  }

  test("count(*) via SQL and dim min/max push down; windowed agg clips") {
    withLong { root =>
      loadDs(root).createOrReplaceTempView("t_agg")
      val r1 = spark.sql("SELECT count(*), min(x), max(x) FROM t_agg").collect()(0)
      assert(r1.getLong(0) == 100L && r1.getLong(1) == 0L && r1.getLong(2) == 99L)
      // dim-filtered window: range filters are fully pushed, so the agg still
      // pushes; partials clip to the window (boundary chunks decode)
      val df = loadDs(root).filter(col("x") >= 10 && col("x") < 50)
        .agg(min("value"), max("value"), sum("value"), count(lit(1)))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("pushedAggregates="), plan.take(1200))
      val r2 = df.collect()(0)
      assert(r2.getLong(0) == -2L) // fill cells 40..49
      assert(r2.getLong(1) == 40L)
      assert(r2.getLong(2) == (11 to 40).sum - 2L * 10)
      assert(r2.getLong(3) == 40L)
    }
  }

  test("empty pushed-agg scan: count is 0 (not NULL), min/max NULL") {
    withLong { root =>
      val df = loadDs(root).filter(col("x") < 0)
        .agg(count(lit(1)).as("c"), min("value").as("mn"), max("value").as("mx"))
      assert(df.queryExecution.executedPlan.toString.contains("pushedAggregates="))
      val r = df.collect()(0)
      assert(!r.isNullAt(0) && r.getLong(0) == 0L)
      assert(r.isNullAt(1) && r.isNullAt(2))
      // parity with a plain (unpushed) empty aggregate
      val plain = loadDs(root).filter(col("x") < 0).select("value").collect()
      assert(plain.isEmpty)
    }
  }

  test("float NaN-fill variable: pushed min/max keep Spark NaN semantics") {
    withRoot("graft-aggf") { root =>
      val store = new SparkStore(spark, root)
      store.create("ds")
      val meta = DatasetMeta(
        dimensions = Map("x" -> 32L), chunkDimensions = Map("x" -> 8L),
        variables = Map("v" -> VariableDef("float", Vector("x"), Double.NaN)))
      val w = store.addVersion("ds", meta)
      w.write("v", Seq(Slab.fromDoubles(DType.FLOAT, Slice(Seq(0L), Seq(8L)),
        Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0))))
      w.finishVersion()
      val df = loadDs(root).agg(min("value"), max("value"), count(lit(1)))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("pushedAggregates="), plan.take(1200))
      val r = df.collect()(0)
      assert(r.getFloat(0) == 1.0f)
      assert(r.getFloat(1).isNaN) // NaN fill cells exist → NaN-greatest max
      assert(r.getLong(2) == 32L)
      // unpushed reference: identical results from a plain scan + aggregate
      val ref = loadDs(root).select("value").collect().map(_.getFloat(0))
      assert(ref.filterNot(_.isNaN).min == 1.0f && ref.exists(_.isNaN))
    }
  }

  test("sum over float is NOT pushed (falls back to a plain scan)") {
    withRoot("graft-aggf2") { root =>
      val store = new SparkStore(spark, root)
      store.create("ds")
      val meta = DatasetMeta(
        dimensions = Map("x" -> 16L), chunkDimensions = Map("x" -> 8L),
        variables = Map("v" -> VariableDef("double", Vector("x"), 0.5)))
      val w = store.addVersion("ds", meta)
      w.write("v", Seq(Slab.fromDoubles(DType.DOUBLE, Slice(Seq(0L), Seq(16L)),
        (1 to 16).map(_.toDouble))))
      w.finishVersion()
      val df = loadDs(root).agg(sum("value"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("pushedAggregates="), plan.take(1200))
      assert(df.collect()(0).getDouble(0) == (1 to 16).sum.toDouble)
    }
  }

  /** builder-level: count chunks the scan actually plans. */
  private def plannedChunks(scan: GraftScan): Int =
    scan.planInputPartitions().map {
      case p: GraftPointPartition => p.coords.length
      case p: GraftChunkPartition => 1
      case p: GraftFillRangePartition => (p.linearTo - p.linearFrom).toInt
      case _ => 0
    }.sum

  test("value predicates skip chunks via zone-map stats at planning time") {
    withRoot("graft-skip") { root =>
      val store = new SparkStore(spark, root)
      store.create("ds")
      val meta = DatasetMeta(
        dimensions = Map("x" -> 64L), chunkDimensions = Map("x" -> 8L),
        variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)))
      val w = store.addVersion("ds", meta)
      // value = x on [0,32); fill −1 on [32,64)
      w.write("v", Seq(Slab.fromDoubles(DType.LONG, Slice(Seq(0L), Seq(32L)),
        (0 until 32).map(_.toDouble))))
      w.finishVersion()
      val r = GraftSource.resolve(Map("root" -> root, "dataset" -> "ds", "variable" -> "v"))

      def planWith(fs: Filter*): GraftScan = {
        val b = new GraftScanBuilder(r)
        val residual = b.pushFilters(fs.toArray)
        assert(fs.forall(residual.contains)) // value filters stay residual
        b.build().asInstanceOf[GraftScan]
      }
      assert(plannedChunks(planWith()) == 8)
      // only the chunk holding 24..31 can satisfy value >= 24 (fill −1 fails)
      assert(plannedChunks(planWith(GreaterThanOrEqual("value", 24L))) == 1)
      // fill −1 satisfies value < 0 → 4 data chunks skipped, 4 fill kept
      assert(plannedChunks(planWith(LessThan("value", 0L))) == 4)
      // end-to-end: results identical to the unskipped scan
      val df = loadDs(root).filter(col("value") >= 24)
      assert(df.count() == 8)
      assert(df.agg(min("x")).collect()(0).getLong(0) == 24L)
      val df2 = loadDs(root).filter(col("value") < 0)
      assert(df2.count() == 32)
    }
  }

  test("limit pushdown plans a chunk prefix, not the whole scan") {
    withLong { root => // 100 cells, chunk 16 → 7 chunks
      val r = GraftSource.resolve(Map("root" -> root, "dataset" -> "ds", "variable" -> "v"))
      val b = new GraftScanBuilder(r)
      assert(b.pushLimit(20))
      val scan = b.build().asInstanceOf[GraftScan]
      // 20 cells need ceil(20/16) = 2 chunks
      assert(plannedChunks(scan) == 2)
      // results: the limit itself is re-applied by Spark above the scan
      val rows = loadDs(root).limit(20).collect()
      assert(rows.length == 20)
      // windowed + limited: prefix walks the NARROWED request
      val b2 = new GraftScanBuilder(r)
      b2.pushFilters(Array(GreaterThanOrEqual("x", 90L))) // 10 cells, 1 chunk
      assert(b2.pushLimit(5))
      assert(plannedChunks(b2.build().asInstanceOf[GraftScan]) == 1)
      val win = loadDs(root).filter(col("x") >= 90).limit(5).collect()
      assert(win.length == 5 && win.forall(_.getLong(0) >= 90))
      // under a residual value predicate the limit is refused (rows may hide
      // arbitrarily deep), results still correct
      val b3 = new GraftScanBuilder(r)
      b3.pushFilters(Array(GreaterThanOrEqual("value", 39L)))
      assert(!b3.pushLimit(5))
      val vf = loadDs(root).filter(col("value") >= 39).limit(5).collect()
      assert(vf.length == 2) // cells 39, 40
    }
  }

  test("range path: manifest rows carry stats; value skip works above the " +
    "point threshold") {
    withRoot("graft-skipR") { root =>
      val store = new SparkStore(spark, root)
      store.create("ds")
      // 2048 chunks > GraftScan.PointLookupThreshold → manifest-planned range scan
      val meta = DatasetMeta(
        dimensions = Map("x" -> 16384L), chunkDimensions = Map("x" -> 8L),
        variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)))
      val w = store.addVersion("ds", meta)
      w.write("v", Seq(Slab.fromDoubles(DType.LONG, Slice(Seq(0L), Seq(16384L)),
        (0 until 16384).map(_.toDouble))))
      w.finishVersion()
      val df = loadDs(root).filter(col("value") >= 16376)
      assert(df.count() == 8)
      assert(df.agg(min("x")).collect()(0).getLong(0) == 16376L)
      // pushed LIMIT above the point threshold: plans a 1-chunk prefix and
      // never runs the manifest job (partitions are point, not data-hash)
      val lim = GraftSource.resolve(
        Map("root" -> root, "dataset" -> "ds", "variable" -> "v"))
      val lb = new GraftScanBuilder(lim)
      assert(lb.pushLimit(5))
      val parts = lb.build().asInstanceOf[GraftScan].planInputPartitions()
      assert(parts.forall(_.isInstanceOf[GraftPointPartition]))
      assert(plannedChunks(lb.build().asInstanceOf[GraftScan]) == 1)
      assert(loadDs(root).limit(5).collect().length == 5)
      // aggregate over the manifest path: stats partials, no full decode
      val agg = loadDs(root).agg(min("value"), max("value"), sum("value"))
      assert(agg.queryExecution.executedPlan.toString.contains("pushedAggregates="))
      val r = agg.collect()(0)
      assert(r.getLong(0) == 0L && r.getLong(1) == 16383L)
      assert(r.getLong(2) == (0L until 16384L).sum)
    }
  }
}
