package graft

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** spark.read.format("graft"): schema inference, pushdown → chunk
  * pruning, column pruning, version time travel, post-scan residuals. */
class DataSourceSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestSession.spark

  private def mkStore(): (SparkStore, Long, Long) = {
    val root = tempRoot("graft-dsv2")
    val store = new SparkStore(spark, root)
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 9L, "y" -> 10L),
      chunkDimensions = Map("x" -> 4L, "y" -> 3L),
      variables = Map("v" -> VariableDef("double", Vector("x", "y"), -9.0)))
    val w1 = store.addVersion("ds", meta)
    w1.write("v", Seq(Slab.fromDoubles(DType.DOUBLE,
      Slice(Seq(0L, 0L), Seq(9L, 10L)), (1 to 90).map(_.toDouble))))
    val v1 = w1.finishVersion()
    val w2 = store.addVersion("ds", meta)
    w2.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(1L, 1L)), 777.0)))
    val v2 = w2.finishVersion()
    (store, v1, v2)
  }

  private def load(store: SparkStore, version: Option[Long] = None) = {
    val r = spark.read.format("graft")
      .option("root", store.root).option("dataset", "ds").option("variable", "v")
    version.fold(r)(v => r.option("version", v.toString)).load()
  }

  test("schema inference + full read") {
    val (store, _, _) = mkStore()
    val df = load(store)
    assert(df.schema.simpleString == "struct<x:bigint,y:bigint,value:double>")
    assert(df.count() == 90)
    val m = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((0L, 0L)) == 777.0) // latest version
    assert(m((8L, 9L)) == 90.0)
  }

  test("dim-range filters are pushed down and prune chunks") {
    val (store, _, _) = mkStore()
    val df = load(store).filter(col("x") >= 4 && col("x") < 8 && col("y") === 2)
    val cells = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cells.size == 4)
    assert(cells((4L, 2L)) == 43.0 && cells((7L, 2L)) == 73.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan"), plan.take(500))
    // the narrowed request shows in the scan description
    assert(plan.contains("request=Slice(Vector(4, 2),Vector(8, 3)"), plan.take(800))
  }

  test("column pruning: value-only and dim-only projections") {
    val (store, _, _) = mkStore()
    assert(load(store).select("value").collect().map(_.getDouble(0)).sum > 0)
    assert(load(store).select("y").distinct().count() == 10)
  }

  test("version option time-travels; residual value filter applies post-scan") {
    val (store, v1, _) = mkStore()
    val old = load(store, Some(v1)).filter(col("x") === 0 && col("y") === 0)
    assert(old.first().getDouble(2) == 1.0) // pre-overwrite
    // value predicate is NOT pushed (stays a residual Filter) but works
    val hi = load(store).filter(col("value") > 85.0)
    assert(hi.count() == 6) // cells 86..90 plus the 777 overwrite at (0,0)
  }

  test("IN-predicate on a dim narrows the scan to the values' envelope at " +
      "build time; exact membership still applies as a residual") {
    val (store, _, _) = mkStore()
    val df = load(store).filter(col("x").isin(2L, 6L))
    val plan = df.queryExecution.executedPlan.toString
    // build-time narrowing: the request window is [2, 7) on x, not [0, 9)
    assert(plan.contains("request=Slice(Vector(2, 0),Vector(7, 10)"), plan.take(800))
    // residual keeps exact membership: x = 3..5 (inside the envelope) excluded
    val xs = df.collect().map(_.getLong(0)).toSet
    assert(xs == Set(2L, 6L))
    assert(df.count() == 20)
    // single-value IN behaves like equality
    assert(load(store).filter(col("y").isin(7L)).count() == 9)
  }

  test("contradictory pushed range → empty scan, no crash") {
    val (store, _, _) = mkStore()
    assert(load(store).filter(col("x") > 100).count() == 0)
    assert(load(store).filter(col("x") >= 5 && col("x") < 5).count() == 0)
  }

  test("df.write.format(graft) commits a new version: cells merge onto the " +
      "latest state, run coalescing, bounds + missing-column rejection") {
    val (store, _, v2) = mkStore()
    import spark.implicits._
    // overwrite a 2×3 window with value 1000+x*10+y, leave the rest
    val cells = (for { x <- 2L to 3L; y <- 4L to 6L }
      yield (x, y, 1000.0 + x * 10 + y)).toDF("x", "y", "value")
    cells.write.format("graft").option("root", store.root)
      .option("dataset", "ds").option("variable", "v").mode("append").save()
    val after = load(store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(after((2L, 4L)) == 1024.0 && after((3L, 6L)) == 1036.0)
    assert(after((0L, 0L)) == 777.0, "untouched cells keep the previous version's state")
    assert(after((8L, 9L)) == 90.0)
    // a THIRD version exists now; time travel back still sees v2's state
    assert(store.versions("ds").size == 3)
    val back = load(store, Some(v2)).filter(col("x") === 2 && col("y") === 4).first().getDouble(2)
    assert(back == 25.0) // original value at (2,4) pre-write
    // out-of-extent cells rejected
    val bad = Seq((50L, 0L, 1.0)).toDF("x", "y", "value")
    val e = intercept[Exception] {
      bad.write.format("graft").option("root", store.root)
        .option("dataset", "ds").option("variable", "v").mode("append").save()
    }
    assert(e.getMessage.contains("outside the variable extent")
      || e.getCause != null, e.getMessage)
    // missing value column rejected (Spark's by-name resolution, pre-plan)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1L, 1L)).toDF("x", "y").write.format("graft").option("root", store.root)
        .option("dataset", "ds").option("variable", "v").mode("append").save()
    }
    // version option on write rejected
    intercept[IllegalArgumentException] {
      cells.write.format("graft").option("root", store.root)
        .option("dataset", "ds").option("variable", "v")
        .option("version", v2.toString).mode("append").save()
    }
  }

  test("create=true: df.write to a fresh dataset creates it + v1 in one shot") {
    val root = tempRoot("graft-dsv2-create")
    import spark.implicits._
    val cells = (for { x <- 0L to 3L; y <- 0L to 2L }
      yield (x, y, (x * 10 + y).toDouble)).toDF("x", "y", "value")
    // convenience form: dims triples + type + fill
    cells.write.format("graft").option("root", root)
      .option("dataset", "fresh").option("variable", "v")
      .option("create", "true").option("dims", "x:6:4,y:5:3")
      .option("type", "double").option("fill", "-1.0").mode("append").save()
    val store = new SparkStore(spark, root)
    assert(store.versions("fresh").size == 1)
    val got = spark.read.format("graft").option("root", root)
      .option("dataset", "fresh").option("variable", "v").load().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == 30 && got((3L, 2L)) == 32.0 && got((5L, 4L)) == -1.0)
    // idempotent create: a second create=true write APPENDS a version
    cells.write.format("graft").option("root", root)
      .option("dataset", "fresh").option("variable", "v")
      .option("create", "true").option("dims", "x:6:4,y:5:3")
      .option("fill", "-1.0").mode("append").save()
    assert(store.versions("fresh").size == 2)
    // ... and a retry that omits type/fill entirely is NOT a conflict
    // (only options actually supplied are attested)
    cells.write.format("graft").option("root", root)
      .option("dataset", "fresh").option("variable", "v")
      .option("create", "true").option("dims", "x:6:4,y:5:3")
      .mode("append").save()
    assert(store.versions("fresh").size == 3)
    // ... but a CONFLICTING definition against the existing dataset fails
    val conflict = intercept[Exception] {
      cells.write.format("graft").option("root", root)
        .option("dataset", "fresh").option("variable", "v")
        .option("create", "true").option("dims", "x:6:2,y:5:3")
        .option("fill", "-1.0").mode("append").save()
    }
    assert(conflict.getMessage.contains("chunk-dimension"), conflict.getMessage)
    val fillConflict = intercept[Exception] {
      cells.write.format("graft").option("root", root)
        .option("dataset", "fresh").option("variable", "v")
        .option("create", "true").option("fill", "7.5").mode("append").save()
    }
    assert(fillConflict.getMessage.contains("has fill"), fillConflict.getMessage)
    // metadata JSON form, with the invalid-metadata matrix still enforced
    cells.write.format("graft").option("root", root)
      .option("dataset", "fresh2").option("variable", "w")
      .option("create", "true")
      .option("metadata",
        """{"dimensions":{"x":6,"y":5},"chunk-dimensions":{"x":4,"y":3},
          |"variables":{"w":{"type":"double","shape":["x","y"],"fill-value":-1}}}""".stripMargin)
      .mode("append").save()
    assert(new SparkStore(spark, root).versions("fresh2").size == 1)
    val invalid = intercept[Exception] {
      cells.write.format("graft").option("root", root)
        .option("dataset", "fresh3").option("variable", "w")
        .option("create", "true")
        .option("metadata", // NaN fill on an int variable: matrix-rejected
          """{"dimensions":{"x":6},"chunk-dimensions":{"x":4},
            |"variables":{"w":{"type":"int","shape":["x"]}}}""".stripMargin)
        .mode("append").save()
    }
    assert(invalid.getMessage.contains("fill values are invalid"), invalid.getMessage)
    // fresh dataset without create: still the old loud failure
    intercept[Exception] {
      cells.write.format("graft").option("root", root)
        .option("dataset", "nope").option("variable", "v").mode("append").save()
    }
    // create without any definition: actionable error
    val nodef = intercept[Exception] {
      cells.write.format("graft").option("root", root)
        .option("dataset", "fresh4").option("variable", "v")
        .option("create", "true").mode("append").save()
    }
    assert(nodef.getMessage.contains("dims"), nodef.getMessage)
  }

  test("full-variable scan above the point threshold plans coordinate ranges: " +
      "O(buckets) driver state, manifest resolved distributedly, parity with exploded") {
    val root = tempRoot("graft-dsv2-full")
    val store = new SparkStore(spark, root)
    store.create("big")
    // 1100 covering chunks > GraftScan.PointLookupThreshold (1024) → range path
    val meta = DatasetMeta(
      dimensions = Map("x" -> 2200L), chunkDimensions = Map("x" -> 2L),
      variables = Map("v" -> VariableDef("long", Vector("x"), -9.0)))
    val w = store.addVersion("big", meta)
    w.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(1000L)), (0 until 1000).map(_.toDouble))))
    val v1 = w.finishVersion()
    val df = spark.read.format("graft").option("root", store.root)
      .option("dataset", "big").option("variable", "v").load()
    // partitions bounded by ~4×parallelism buckets per family (hash-range
    // data buckets + linear fill buckets), NOT by chunk count
    assert(df.rdd.getNumPartitions <= 8 * spark.sparkContext.defaultParallelism + 2,
      s"got ${df.rdd.getNumPartitions} partitions")
    // the scan feeds Spark columnar batches (ColumnarToRow in the plan)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      df.queryExecution.executedPlan.toString.take(500))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 2200)
    assert(got(0L) == 0L && got(999L) == 999L)
    assert(got(1000L) == -9L && got(2199L) == -9L, "fill for never-written chunks")
    val exp = store.reader("big").onVersion(v1)
      .exploded("v", Slice(Seq(0L), Seq(2200L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp, "range-path scan must match the join-based exploded plan")
  }

  test("chunked=true reports KeyGroupedPartitioning: grid-aligned " +
      "aggregation and same-grid join run with NO Exchange above the scan") {
    val (store, _, _) = mkStore()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // co-partitioned join with join keys ⊃ partition keys (the chunk keys
    // plus the dims) needs the all-cluster-keys requirement relaxed
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // exact scan statistics make this TINY test grid a broadcast candidate;
    // disable auto-broadcast so the test exercises the big-big SPJ path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def loadChunked() = spark.read.format("graft").option("root", store.root)
        .option("dataset", "ds").option("variable", "v")
        .option("chunked", "true").load()
      val df = loadChunked()
      assert(df.columns.toSeq == Seq("x", "y", "_chunk_x", "_chunk_y", "value"))
      // per-chunk aggregation: no shuffle
      val agg = df.groupBy("_chunk_x", "_chunk_y")
        .agg(sum("value").as("s"), count(lit(1)).as("n"))
      val aggRows = agg.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), s"grid-aligned agg shuffled:\n$aggPlan")
      // oracle: same aggregation via the default (unchunked) scan + floorDiv
      val exp = load(store)
        .groupBy(expr("x div 4").as("cx"), expr("y div 3").as("cy"))
        .agg(sum("value").as("s"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      assert(aggRows == exp)
      assert(aggRows((0L, 0L))._2 == 12L) // full 4×3 chunk
      assert(aggRows((2L, 3L))._2 == 1L)  // corner overhang chunk 1×1
      // cell-level grouping including the chunk keys: still no shuffle
      val cellAgg = df.groupBy("_chunk_x", "_chunk_y", "x", "y").agg(max("value"))
      assert(!cellAgg.queryExecution.executedPlan.toString.contains("Exchange"))
      // storage-partitioned join: two scans of the same grid joined on the
      // chunk keys + dims — neither side shuffles
      val j = loadChunked().alias("a").join(loadChunked().alias("b"),
        Seq("_chunk_x", "_chunk_y", "x", "y"))
        .select(col("x"), col("y"), expr("a.value + b.value").as("v2"))
      val jPlan = j.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange"), s"same-grid join shuffled:\n$jPlan")
      assert(j.count() == 90)
      assert(j.filter(col("x") === 8 && col("y") === 9).first().getDouble(2) == 180.0)
      // bench_spj_join's exact shape: hinting the build side to a
      // shuffled-hash join must keep the storage-partitioned (exchange-
      // free) layout — SHJ skips the in-partition sorts that SMJ pays on
      // two identically-ordered sides (~1.5× at bench scale)
      val jShj = loadChunked().alias("a")
        .join(loadChunked().alias("b").hint("shuffle_hash"),
          Seq("_chunk_x", "_chunk_y", "x", "y"))
        .select(col("x"), col("y"), expr("a.value + b.value").as("v2"))
      val shjPlan = jShj.queryExecution.executedPlan.toString
      assert(shjPlan.contains("ShuffledHashJoin"),
        s"shuffle_hash hint ignored:\n$shjPlan")
      assert(!shjPlan.contains("Exchange"), s"hinted SHJ shuffled:\n$shjPlan")
      assert(jShj.count() == 90)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("chunked cap is a session conf: a grid over " +
      "spark.graft.chunkedMaxChunks refuses loudly; raising the dial " +
      "admits it") {
    val (store, _, _) = mkStore()
    def loadChunked() = spark.read.format("graft").option("root", store.root)
      .option("dataset", "ds").option("variable", "v")
      .option("chunked", "true").load()
    spark.conf.set("spark.graft.chunkedMaxChunks", "1")
    try {
      val e = intercept[Exception] { loadChunked().count() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else String.valueOf(t.getMessage) +: msgs(t.getCause)
      assert(msgs(e).exists(_.contains("chunked=true scan covers")),
        s"expected the cap refusal, got: ${msgs(e)}")
      spark.conf.set("spark.graft.chunkedMaxChunks", "100000")
      assert(loadChunked().count() > 0)
      // capture semantics: the dial is resolved ONCE when the scan is
      // constructed (planning), so partition planning and
      // outputPartitioning can never observe different values — a plan
      // built under a raised dial keeps it even if the session dial
      // changes (or a planner thread loses the active session) before
      // the partitions are actually planned
      val df = loadChunked()
      val plan = df.queryExecution.executedPlan // constructs the scan
      spark.conf.set("spark.graft.chunkedMaxChunks", "1")
      assert(plan.execute().count() > 0,
        "a scan planned under dial=100000 must keep it after the dial drops")
    } finally spark.conf.unset("spark.graft.chunkedMaxChunks")
  }

  test("CROSS-VARIABLE storage-partitioned join: two variables of one " +
      "grid join on (_chunk_*, dims) with no Exchange, fill included") {
    val root = tempRoot("graft-dsv2-xv")
    val store = new SparkStore(spark, root)
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 9L),
      chunkDimensions = Map("x" -> 4L),
      variables = Map(
        "a" -> VariableDef("long", Vector("x"), -1.0),
        "b" -> VariableDef("long", Vector("x"), -5.0)))
    val w = store.addVersion("ds", meta)
    w.write("a", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(9L)), (1 to 9).map(_.toDouble))))
    w.write("b", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(5L)), (11 to 15).map(_.toDouble)))) // [5,9) = fill -5
    w.finishVersion()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def side(v: String) = spark.read.format("graft")
        .option("root", root).option("dataset", "ds").option("variable", v)
        .option("chunked", "true").load()
      val j = side("a").alias("l").join(side("b").alias("r"), Seq("_chunk_x", "x"))
        .select(col("x"), expr("l.value + r.value").as("s"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"cross-variable join shuffled:\n$plan")
      val got = j.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (0 until 9).map(x =>
        x.toLong -> ((x + 1).toLong + (if (x < 5) (11 + x).toLong else -5L))).toMap
      assert(got == want)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("scan reports EXACT statistics: a small pruned slice auto-broadcasts " +
      "in a join with no hint, at planning time (AQE off)") {
    val (store, _, _) = mkStore()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val small = load(store).filter(col("x") === 1) // 10 cells → ~260 B
      val big = spark.range(100000).selectExpr("id % 10 AS y", "id AS payload")
      val j = big.join(small, "y")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"small graft slice should auto-broadcast:\n$plan")
      assert(j.count() == 100000)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("scan manifests are cached by (dataset, variable, version, window): " +
      "a repeated large scan reuses the published manifest, no new planning job") {
    val root = tempRoot("graft-dsv2-cache")
    val store = new SparkStore(spark, root)
    store.create("big")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 2200L), chunkDimensions = Map("x" -> 2L),
      variables = Map("v" -> VariableDef("long", Vector("x"), -9.0)))
    val w = store.addVersion("big", meta)
    w.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(1000L)), (0 until 1000).map(_.toDouble))))
    w.finishVersion()
    import scala.jdk.CollectionConverters._
    def manifestDirs: Set[String] = {
      val base = java.nio.file.Paths.get(root, ".scan_manifest")
      if (!java.nio.file.Files.exists(base)) Set.empty
      else scala.util.Using.resource(java.nio.file.Files.list(base)) {
        _.iterator().asScala.map(_.getFileName.toString).toSet
      }
    }
    def scan() = spark.read.format("graft").option("root", store.root)
      .option("dataset", "big").option("variable", "v").load().count()
    assert(scan() == 2200)
    val after1 = manifestDirs
    // the staging UUID dir was atomically renamed to its 40-hex cache key
    // and marked complete
    val keyed = after1.filter(_.matches("[0-9a-f]{40}"))
    assert(keyed.size == 1, s"expected one published manifest, got $after1")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, ".scan_manifest", keyed.head, SparkStore.ManifestCompleteMarker)))
    assert(scan() == 2200)
    assert(manifestDirs == after1,
      "second identical scan must reuse the cached manifest, not re-plan")
    // a different window (pushed filter) is a different key → new manifest
    val filtered = spark.read.format("graft").option("root", store.root)
      .option("dataset", "big").option("variable", "v").load()
    assert(filtered.filter(col("x") < 1000).count() == 1000)
    // (small windows go through the point path; just assert no corruption)
    assert(scan() == 2200)
  }
}
