package graft.tools

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sustained-operation probe (dev tool, not a gate) — the two round-16
  * verdict items the gate suite proves only at small scale:
  *
  * LEG A — sustained streaming ingest. `versionedSink` commits one
  * version per real micro-batch; the gates prove 3 batches. Here: 50
  * file-fed micro-batches in two 25-batch phases with the maintenance
  * triad (compact → expireHistory) run MID-STREAM between them, as a
  * long-running deployment would weekly. Measured: listing + full-scan
  * planning time at 25 accumulated manifests vs after maintenance vs at
  * the end (must stay flat — manifest count is bounded by expireHistory,
  * so planning never grows with stream lifetime); a FRESH version-tail
  * stream (startingVersion=earliest) that must cross the mid-history
  * checkpoint (the re-delivery rule, CompactionSpec) and converge to the
  * exact batch state; and the final MVCC read vs the batch oracle
  * computed from the same synthetic events.
  *
  * LEG B — shared-token concurrent writers at x4 scale. The ownership
  * verify + bounded re-merge (SparkStore.verifySharedWrite) is raced by
  * the gates at 7-chunk width; here writers rebuilt from one token
  * ingest the x4 perf shape (400×600×3600 shorts, 33.6k chunks). Three
  * ratios against a single-writer FULL-PATH baseline at equal volume:
  *  - race_1_shared: one token writer, full volume — isolates the
  *    verify machinery's cost (the verdict's ≤ ~20% bar applies HERE;
  *    measured ~1.03×);
  *  - race_4_disjoint: 4 concurrent writers on disjoint x-quarters —
  *    adds local[32] CPU contention (4 "drivers" sharing ONE executor;
  *    a real cluster gives each writer its own executors);
  *  - race_4_overlap: plus a deliberately raced one-x-chunk stripe
  *    (2,400 chunks × 6 fragments) — adds CAS re-merge rounds, the
  *    price of heavy same-chunk contention.
  * Convergence is asserted BY CONTENT (every cell equals exactly one
  * fragment's formula — no torn or lost cells), never by predicting a
  * winner: cross-writer interleaving is contractually wall-clock-
  * ordered-but-unspecified (reference CAS semantics). Cross-JVM token
  * bootstrap is separately proven by SparkFlowSpec's real-process test;
  * this leg measures the verify's SCALING, which is process-layout-
  * independent (all coordination state lives in the store, none in
  * memory).
  *
  * LEG C — deep-history metadata plane. A dataset BETWEEN maintenance
  * runs accumulates un-compacted versions; a fresh handle's pin then
  * pays the O(depth) point-GET chain walk and a pinned read resolves
  * over depth-many index partitions. Measures, at depth N (default
  * 200): listing, fresh-handle pin, pinned window read — then compact +
  * expireHistory and the same three, where the checkpoint floors the
  * walk to O(1) and the resolve to one partition. The claim under test
  * is the round-17 chain-scoped resolution's cost envelope at the
  * depths weekly maintenance permits.
  *
  * Usage: sbt "runMain graft.tools.SustainProbe"   (or plain java -cp)
  * Legs: SPARK_GRAFT_SUSTAIN_LEGS=stream,race,history (default all)
  */
object SustainProbe {
  private val probe = new ProbeRecord("sustain")
  import probe.{rec, time}

  def main(args: Array[String]): Unit = {
    val legs = sys.env.getOrElse("SPARK_GRAFT_SUSTAIN_LEGS", "stream,race,history")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = graft.GraftSession.local("graft-sustain-probe", defaultCpus = 32)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    import spark.implicits._

    if (legs("stream")) runStreamLeg(spark)
    if (legs("race")) runRaceLeg(spark)
    if (legs("history")) runHistoryLeg(spark)

    println(probe.line())
    spark.stop()
  }

  // ---------------------------------------------------------------- leg A
  private def runStreamLeg(spark: SparkSession): Unit = {
    import spark.implicits._
    val hours = 1600L
    val h0 = 400000L
    // fixed event-time density: 128 events/hour, deterministic offsets
    val ev = spark.range(hours * 128).select(
      (lit(h0 * 3600L) + (col("id") % hours) * 3600L +
        (col("id") * 37L % 3600L)).as("ts_s")).persist()
    val oracle = ev.select((col("ts_s") / 3600L).cast("long").as("ah"))
      .groupBy("ah").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0) - h0) -> r.getLong(1)).toMap

    val root = java.nio.file.Files.createTempDirectory("graft_sustain").toString
    val store = new SparkStore(spark, root)
    val mid = (h0 + hours / 2) * 3600L
    def work() = java.nio.file.Files
      .createTempDirectory("graft_sustain_feed").toString

    time("sustain_phaseA_25batches") {
      val n = StreamingIngest.hourlyVersionedStreamFile(
        ev.filter(col("ts_s") < mid), store, "sus", h0, hours, 25, work())
      require(n == 25, s"phase A must commit 25 versions, got $n")
    }
    time("sustain_listing_at25") { require(store.versions("sus").size == 25) }
    var planned = 0
    time("sustain_plan_at25") {
      planned = spark.read.format("graft").option("root", root)
        .option("dataset", "sus").option("variable", "n").load()
        .rdd.partitions.length
    }
    rec("sustain_plan_partitions_at25", planned.toDouble)

    // mid-stream maintenance, as a deployment runs weekly
    time("sustain_compact") { store.compact("sus"); () }
    time("sustain_expire") {
      rec("sustain_expired_versions", store.expireHistory("sus").toDouble)
    }
    time("sustain_vacuum") {
      rec("sustain_vacuum_blobs", store.vacuum(graceMs = 0L).toDouble)
    }

    time("sustain_phaseB_25batches") {
      val n = StreamingIngest.hourlyVersionedStreamFile(
        ev.filter(col("ts_s") >= mid), store, "sus", h0, hours, 25, work())
      require(n == 26, s"phase B must add 25 versions over the checkpoint, got $n")
    }
    time("sustain_listing_at50") { require(store.versions("sus").nonEmpty) }
    time("sustain_plan_at50") {
      planned = spark.read.format("graft").option("root", root)
        .option("dataset", "sus").option("variable", "n").load()
        .rdd.partitions.length
    }
    rec("sustain_plan_partitions_at50", planned.toDouble)
    rec("sustain_manifests_final", store.versions("sus").size.toDouble)

    // final MVCC read vs the batch oracle
    val got = store.reader("sus").onLastVersion()
      .exploded("n", Slice(Seq(0L), Seq(hours)))
      .filter(col("value") =!= -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(got == oracle,
      s"final MVCC read must equal the batch oracle (${got.size} vs ${oracle.size} cells)")
    rec("sustain_final_cells", got.size.toDouble)

    // FRESH version-tail from earliest: must cross the mid-history
    // checkpoint (re-delivery rule) and converge to the same state —
    // last delta per coordinate in arrival order wins
    time("sustain_tail_backfill") {
      val state = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = spark.readStream.format("graft").option("root", root)
        .option("dataset", "sus").option("variable", "n").load()
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => state.put(r.getLong(0), r.getLong(1)))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      val tailState = {
        import scala.jdk.CollectionConverters._
        state.asScala.toMap.filter(_._2 != -1L)
      }
      require(tailState == oracle,
        s"tail backfill across the checkpoint must converge to the oracle " +
          s"(${tailState.size} vs ${oracle.size} cells)")
    }
    ev.unpersist()
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    ()
  }

  // ---------------------------------------------------------------- leg B
  private def runRaceLeg(spark: SparkSession): Unit = {
    import spark.implicits._
    val zDim = 3600L // x4 of the reference perf shape: 33.6k chunks
    val dims = Map("x" -> 400L, "y" -> 600L, "z" -> zDim)
    val meta = DatasetMeta(
      dimensions = dims,
      chunkDimensions = Map("x" -> 30L, "y" -> 30L, "z" -> 30L),
      variables = Map("foo" -> VariableDef("short", Vector("x", "y", "z"), -3.0)))
    val root = java.nio.file.Files.createTempDirectory("graft_race").toString
    val store = new SparkStore(spark, root)

    // one x-plane per slab row, generated on executors (ArrayBench shape).
    // Cell value = (x*31 + i) % 500 + tag, where i is the in-plane linear
    // index and tag identifies the writing fragment: quarter rows carry
    // tag = writerId*1000, overlap-band rows tag = writerId*1000 + 500 —
    // so every converged cell's provenance is checkable BY CONTENT.
    def planeRows(xs: Range, tag: Long, seqBase: Long) = {
      val yz = 600L * zDim
      val zD = zDim
      spark.range(xs.start, xs.end).map { xo =>
        val x = xo.toLong
        val bytes = new Array[Byte]((yz * 2).toInt)
        var i = 0
        while (i < yz) {
          val v = ((x * 31 + i) % 500 + tag).toShort
          bytes(2 * i) = (v >> 8).toByte; bytes(2 * i + 1) = v.toByte
          i += 1
        }
        (Array(x, 0L, 0L), Array(x + 1L, 600L, zD), bytes, seqBase + x)
      }.toDF("start", "stop", "bytes", "seq")
    }

    // Baselines. v1 rides the FIRST-WRITE fast path (no base machinery);
    // v2 is the full read-modify-write path every non-initial write runs.
    // The shared-token race below writes a non-initial version too, so
    // race_single_fullpath is the like-for-like denominator for the
    // verify-overhead ratio; fastpath is recorded for context only.
    // JIT warm-up commits into a SEPARATE dataset — a warm-up version
    // inside "base" would give the fastpath leg a parent with index
    // data, silently demoting it to the full path. TWO warm versions:
    // the second runs the full read-modify-write path, so the timed
    // fullpath baseline below is not the first (cold) execution of the
    // base-resolve/merge pipeline — a cold denominator would bias every
    // overhead ratio low.
    store.create("warm")
    for (_ <- 0 until 2) {
      val wWarm = store.addVersion("warm",
        meta.copy(dimensions = dims.updated("z", 60L)))
      wWarm.write("foo", Seq(Slab.empty(DType.SHORT,
        Slice(Seq(0L, 0L, 0L), Seq(30L, 30L, 60L)), 1.0)))
      wWarm.finishVersion()
    }
    store.create("base")
    time("race_single_fastpath") {
      val w = store.addVersion("base", meta)
      w.writeRows("foo", planeRows(0 until 400, tag = 0L, seqBase = 0L))
      w.finishVersion()
      ()
    }
    var singleSec = 0.0
    time("race_single_fullpath") {
      val t0 = System.nanoTime()
      val w = store.addVersion("base", meta)
      w.writeRows("foo", planeRows(0 until 400, tag = 0L, seqBase = 0L))
      w.finishVersion()
      singleSec = (System.nanoTime() - t0) / 1e9
    }

    // Shared-token writers, one writeRows call each. Cross-writer
    // interleaving is BY CONTRACT wall-clock-ordered-but-unspecified
    // (reference CAS semantics, SparkStore.lastSeqBase note), so
    // convergence is asserted by CONTENT — every cell equals exactly one
    // fragment's formula, never a torn mix — not by predicting a winner.
    // Each race dataset is seeded with a v1 so all four writers run the
    // same full read-modify-write path as the baseline.
    def seeded(ds: String): graft.spark.SparkVersionWriter = {
      store.create(ds)
      val wSeed = store.addVersion(ds, meta)
      wSeed.write("foo", Seq(Slab.empty(DType.SHORT,
        Slice(Seq(0L, 0L, 0L), Seq(30L, 30L, 30L)), 1.0)))
      wSeed.finishVersion()
      store.addVersion(ds, meta)
    }
    def race4(ds: String, label: String)(rowsOf: Int => DataFrame): Double = {
      val master = seeded(ds)
      val tok = master.token
      var sec = 0.0
      time(label) {
        val t0 = System.nanoTime()
        val threads = (0 until 4).map { i =>
          val t = new Thread(() => {
            val mine = new SparkStore(spark, root).writerFromToken(ds, tok)
            mine.writeRows("foo", rowsOf(i))
          })
          t.start(); t
        }
        threads.foreach(_.join())
        master.finishVersion()
        sec = (System.nanoTime() - t0) / 1e9
      }
      sec
    }

    // (0) ONE shared-token writer at full volume — isolates the
    // token-sharing machinery (ownership verify job + provenance
    // bookkeeping) from multi-writer CPU contention: in local[32] all
    // "writers" below share one executor, so their concurrent Spark jobs
    // contend for cores in a way a real cluster (one driver + executors
    // per writer process) does not. verify overhead ≈ this ratio;
    // the 4-writer ratios bundle that contention on top.
    val sharedOneSec = {
      val master = seeded("race_s1")
      val tok = master.token
      var sec = 0.0
      time("race_1_shared") {
        val t0 = System.nanoTime()
        val mine = new SparkStore(spark, root).writerFromToken("race_s1", tok)
        mine.writeRows("foo", planeRows(0 until 400, tag = 0L, seqBase = 0L))
        master.finishVersion()
        sec = (System.nanoTime() - t0) / 1e9
      }
      sec
    }
    rec("race_1_shared_overhead_ratio",
      if (singleSec > 0) sharedOneSec / singleSec else -1.0)

    // (a) DISJOINT x-quarters — the verdict's verify-overhead bar:
    // token-sharing cost (per-writer ownership verify + losing the
    // single-plan economies) at zero contention, vs the same volume
    // single-writer full path
    val disjointSec = race4("race_dj", "race_4_disjoint") { i =>
      planeRows((i * 100) until ((i + 1) * 100),
        tag = i.toLong * 1000L, seqBase = i.toLong)
    }
    rec("race_disjoint_overhead_ratio",
      if (singleSec > 0) disjointSec / singleSec else -1.0)

    // (b) quarters PLUS the deliberately raced band x∈[198,202): ONE
    // x-chunk stripe = 2,400 chunks each contested by 6 fragments (2
    // quarter owners + 4 band writers), so every losing writer re-merges
    // up to 2,400 chunks per CAS retry round — the measured price of
    // heavy same-chunk contention, reported separately from the
    // disjoint overhead (band seq > own-quarter seq within each call)
    val overlapSec = race4("race_ov", "race_4_overlap") { i =>
      planeRows((i * 100) until ((i + 1) * 100),
        tag = i.toLong * 1000L, seqBase = i.toLong)
        .union(planeRows(198 until 202,
          tag = i.toLong * 1000L + 500L, seqBase = 1000L + i.toLong))
    }
    rec("race_overlap_overhead_ratio",
      if (singleSec > 0) overlapSec / singleSec else -1.0)

    // convergence by content, fully distributed: cell (x,y,z) must equal
    // base + tag where base = (x*31 + y*z + z)%500 and tag is
    //  - EXACTLY the owning quarter's tag for unraced cells, and
    //  - a BAND tag (w*1000 + 500, any writer) in the raced band (each
    //    writer's band row outranks its own quarter row, so a quarter
    //    value surviving there would be a lost-update).
    def checkConverged(ds: String, withBand: Boolean): Unit = {
      val zD = zDim
      val df = spark.read.format("graft").option("root", root)
        .option("dataset", ds).option("variable", "foo").load()
        .select(col("x"), col("value").cast("long").as("v"),
          ((col("x") * 31L + col("y") * zD + col("z")) % 500L).as("base"))
        .withColumn("r", col("v") - col("base"))
      val owner = floor(col("x") / 100L).cast("long") * 1000L
      val isBand = lit(withBand) && col("x") >= 198L && col("x") < 202L
      val ok = when(isBand, col("r").isin(500L, 1500L, 2500L, 3500L))
        .otherwise(col("r") === owner)
      val agg = df.agg(count(lit(1)).as("n"),
        sum(when(ok, 0L).otherwise(1L)).as("bad")).collect()(0)
      require(agg.getLong(0) == 400L * 600L * zDim,
        s"$ds converged cell count, got ${agg.getLong(0)}")
      require(agg.getLong(1) == 0L,
        s"$ds: ${agg.getLong(1)} cells match no single fragment (torn/lost)")
    }
    checkConverged("race_dj", withBand = false)
    checkConverged("race_ov", withBand = true)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    ()
  }

  // ---------------------------------------------------------------- leg C
  private def runHistoryLeg(spark: SparkSession): Unit = {
    val depth = sys.env.getOrElse("SPARK_GRAFT_HISTORY_DEPTH", "200").toInt
    val root = java.nio.file.Files.createTempDirectory("graft_hist").toString
    val store = new SparkStore(spark, root)
    val meta = DatasetMeta(
      dimensions = Map("h" -> 4096L), chunkDimensions = Map("h" -> 64L),
      variables = Map("v" -> VariableDef("long", Vector("h"), -1.0)))
    store.create("hist")
    time(s"hist_commits_x$depth") {
      var i = 0
      while (i < depth) {
        val w = store.addVersion("hist", meta)
        val at = (i.toLong * 37L) % 4095L
        w.write("v", Seq(Slab.fromDoubles(DType.LONG,
          Slice(Seq(at), Seq(at + 1L)), Seq(i.toDouble))))
        w.finishVersion()
        i += 1
      }
    }
    val latest = store.versions("hist").head._2
    time("hist_listing") { require(store.versions("hist").size == depth) }
    // fresh handle: nothing cached — the pin pays the O(depth) point-GET
    // parent-chain walk the round-17 resolution is built on
    time("hist_pin_fresh") {
      val s2 = new SparkStore(spark, root)
      require(s2.reader("hist").onVersion(latest).meta
        .versionId.contains(latest))
    }
    time("hist_read_window") { // pinned read resolving over depth partitions
      val n = new SparkStore(spark, root).reader("hist").onVersion(latest)
        .exploded("v", Slice(Seq(0L), Seq(256L))).count()
      require(n == 256L)
    }
    time("hist_compact") { store.compact("hist"); () }
    time("hist_expire") {
      rec("hist_expired_versions", store.expireHistory("hist").toDouble)
    }
    val cp = store.versions("hist").head._2
    time("hist_pin_fresh_postcompact") { // checkpoint floors the walk to O(1)
      val s3 = new SparkStore(spark, root)
      require(s3.reader("hist").onVersion(cp).meta.versionId.contains(cp))
    }
    time("hist_read_window_postcompact") {
      val n = new SparkStore(spark, root).reader("hist").onVersion(cp)
        .exploded("v", Slice(Seq(0L), Seq(256L))).count()
      require(n == 256L)
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    ()
  }
}
