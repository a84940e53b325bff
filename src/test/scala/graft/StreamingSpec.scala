package graft

import graft.core.Slice
import graft.spark.{SparkStore, StoreFs}
import graft.streaming.{Feed, StreamingIngest}
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming ingest: micro-batches become committed versions; late rows
  * land in later versions; time travel walks stream progress. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("stateful sessionization via flatMapGroupsWithState: gap splits, state carries across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Sessionize
    import Sessionize.{Event, Session}
    val input = MemoryStream[Event]
    val out = Sessionize.sessions(input.toDS(), gapMs = 60000L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      def ev(u: Long, tMs: Long, t: String) = Event(u, new Timestamp(tMs), t)
      // batch 1: user 1 has two events 10s apart (one open session)
      input.addData(ev(1, 0, "click"), ev(1, 10000, "view"))
      out.processAllAvailable()
      assert(spark.table("sessions_out").count() == 0) // session still open
      // batch 2: event 2 minutes later → closes the first session
      input.addData(ev(1, 130000, "click"))
      out.processAllAvailable()
      val closed = spark.table("sessions_out").as[Session].collect()
      assert(closed.length == 1)
      assert(closed(0).n_events == 2 && closed(0).n_types == 2 && closed(0).duration_ms == 10000L)
      // state carried across batches: the new open session closes on next gap
      input.addData(ev(1, 300000, "buy"))
      out.processAllAvailable()
      val all = spark.table("sessions_out").as[Session].collect()
      assert(all.length == 2 && all.map(_.n_events).sum == 3)
    } finally out.stop()
  }

  test("file-source sessionization (production path: readStream.parquet " +
      "feed, parquet sink, no driver collect) matches the batch twin") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.Sessionize
    val ev = graft.queries.EventTime
      .eventsWithSeconds(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 20)
    val streamed = Sessionize.sessionsGate(
        ev.select("user_id", "ts_s", "event_type"),
        gapSeconds = 1800L, nBatches = 3, feed = Feed.Files())
      .collect().map(_.toSeq).toSeq
    val batch = Sessionize.sessionsBatch(
        ev.select("user_id", "event_id", "event_type", "ts_s"),
        gapSeconds = 1800L)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "file-source streaming sessions must equal the relational twin")
  }

  test("EventTimeTimeout sessionization (watermark auto-close, no " +
      "per-user sentinels) matches the batch twin") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.Sessionize
    val ev = graft.queries.EventTime
      .eventsWithSeconds(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 20)
    val streamed = Sessionize.timeoutGate(
        ev.select("user_id", "ts_s", "event_type"),
        gapSeconds = 1800L, nBatches = 3)(Sessionize.sessionsWithTimeout)
      .collect().map(_.toSeq).toSeq
    val batch = Sessionize.sessionsBatch(
        ev.select("user_id", "event_id", "event_type", "ts_s"),
        gapSeconds = 1800L)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "timeout-closed streaming sessions must equal the relational twin")
  }

  test("timeout sessionizer fails LOUDLY when no-data micro-batches are " +
      "disabled (trailing timeouts never fire) — never silently partial") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.Sessionize
    val ev = graft.queries.EventTime
      .eventsWithSeconds(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 5)
    val e = intercept[IllegalStateException] {
      Sessionize.timeoutGate(
        ev.select("user_id", "ts_s", "event_type"),
        gapSeconds = 1800L, nBatches = 3,
        pinNoData = false)(Sessionize.sessionsWithTimeout).collect()
    }
    assert(e.getMessage.contains("noDataMicroBatches"),
      s"wrong failure: ${e.getMessage}")
    // and the pin really is restored + an externally-disabled session
    // conf cannot break the pinned gate
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val rows = Sessionize.timeoutGate(
        ev.select("user_id", "ts_s", "event_type"),
        gapSeconds = 1800L, nBatches = 3)(Sessionize.sessionsWithTimeout).collect()
      assert(rows.nonEmpty, "pinned gate must close sessions regardless " +
        "of the session default")
      assert(spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled") == "false",
        "gate must restore the caller's session conf")
    } finally spark.conf.set(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
  }

  test("out-of-order sessionizer: fragment merge survives the adversarial " +
      "permutation that breaks an arrival-order gap rule") {
    // user 1's true sessions (gap 1800 s): {0, 1750, 1900} and {10000}.
    // Arrival order 0, 1900, 1750: when 1900 arrives the latest state is
    // 0 and 1900-0 > gap — an arrival-order sessionizer wrongly closes
    // {0}; the fragment merge holds {0} and {1900} apart until 1750
    // BRIDGES them (1750-0 ≤ gap, 1900-1750 ≤ gap).
    import org.apache.spark.sql.functions.col
    import graft.streaming.{Replay, Sessionize}
    import Sessionize.Event
    import spark.implicits._
    // +1 day base: a ts equal to the state store's INITIAL watermark (0)
    // is discarded as late before first-seen (same offset the dedup
    // replay documents)
    val base = 86400L
    def ev(u: Long, tS: Long, t: String) =
      Event(u, new Timestamp((base + tS) * 1000L), t)
    val arrivals = IndexedSeq(
      ev(1, 0, "a"), ev(1, 1900, "b"), ev(1, 1750, "c"), ev(1, 10000, "d"))
    val sentinel = IndexedSeq(ev(-1, 100000, "_wm"))
    val out = Replay.run(spark, arrivals, nBatches = 4,
      tailBatches = Seq(sentinel)) { ds =>
      // delay 200 s covers the feed's displacement (1900 before 1750)
      Sessionize.sessionsOutOfOrder(
        ds.withWatermark("ts", "200 seconds"), gapMs = 1800000L).toDF()
    }
    val sessions = out.filter(col("user_id") === 1L)
      .orderBy("start_ms").collect()
      .map(r => (r.getAs[Long]("start_ms"), r.getAs[Long]("end_ms"),
        r.getAs[Long]("n_events")))
    val b = base * 1000L
    assert(sessions.toSeq ==
      Seq((b, b + 1900000L, 3L), (b + 10000000L, b + 10000000L, 1L)),
      s"got ${sessions.toSeq}")
  }

  test("watermark contract: a row later than the slack is DROPPED by the " +
      "out-of-order sessionizer — the explicit data-loss budget, not a " +
      "silent wrong merge") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.{Replay, Sessionize}
    import Sessionize.Event
    import spark.implicits._
    val base = 86400L
    def ev(u: Long, tS: Long, t: String) =
      Event(u, new Timestamp((base + tS) * 1000L), t)
    // delay 100 s; t=5000 advances the watermark to 4900, so the t=1000
    // straggler in the next batch is beyond slack and must be dropped.
    // Were it kept, it would merge with t=0 (gap 1000 ≤ 1800) into one
    // 2-event session — the assertion distinguishes the two outcomes.
    val arrivals = IndexedSeq(ev(1, 0, "a"), ev(1, 5000, "b"), ev(1, 1000, "late"))
    val sentinel = IndexedSeq(ev(-1, 100000, "_wm"))
    val out = Replay.run(spark, arrivals, nBatches = 3,
      tailBatches = Seq(sentinel)) { ds =>
      Sessionize.sessionsOutOfOrder(
        ds.withWatermark("ts", "100 seconds"), gapMs = 1800000L).toDF()
    }
    val sessions = out.filter(col("user_id") === 1L)
      .orderBy("start_ms").collect()
      .map(r => (r.getAs[Long]("start_ms") / 1000L - base,
        r.getAs[Long]("n_events")))
    assert(sessions.toSeq == Seq((0L, 1L), (5000L, 1L)),
      s"late row must be dropped, not merged: ${sessions.toSeq}")
  }

  test("graft streaming source tails committed versions (chunk-granular deltas)") {
    import graft.core._
    import graft.meta.{DatasetMeta, VariableDef}
    val root = StoreFs.tempDirAtExit("graft-tail")
    val store = new SparkStore(spark, root)
    store.create("tail")
    val meta = DatasetMeta(
      dimensions = Map("h" -> 10L), chunkDimensions = Map("h" -> 4L),
      variables = Map("n" -> VariableDef("long", Vector("h"), -1.0)))
    val w1 = store.addVersion("tail", meta)
    w1.write("n", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(10L)), (1 to 10).map(_.toDouble))))
    w1.finishVersion()
    val q = spark.readStream.format("graft").option("root", root)
      .option("dataset", "tail").option("variable", "n").load()
      .writeStream.format("memory").queryName("tail_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // startingVersion=earliest (default): first batch = all existing cells
      assert(spark.table("tail_out").count() == 10)
      // a new version touching cells [2,4) rewrites chunk 0 → its 4 cells stream
      val w2 = store.addVersion("tail", meta)
      w2.write("n", Seq(Slab.empty(DType.LONG, Slice(Seq(2L), Seq(4L)), 99.0)))
      w2.finishVersion()
      q.processAllAvailable()
      val rows = spark.table("tail_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length == 14, s"10 initial + 4 delta cells, got ${rows.length}")
      val delta = rows.drop(10).toMap
      assert(delta == Map(0L -> 1L, 1L -> 2L, 2L -> 99L, 3L -> 99L),
        s"delta must be chunk 0 resolved at v2: $delta")
      // no new versions → no new rows
      q.processAllAvailable()
      assert(spark.table("tail_out").count() == 14)
    } finally q.stop()
  }

  test("streaming source resumes from checkpoint: versions committed while " +
      "the stream is down arrive as the next batch") {
    import graft.core._
    import graft.meta.{DatasetMeta, VariableDef}
    val root = StoreFs.tempDirAtExit("graft-cdc")
    val out = StoreFs.tempDirAtExit("graft-cdc-out")
    val ckpt = StoreFs.tempDirAtExit("graft-cdc-ckpt")
    val store = new SparkStore(spark, root)
    store.create("cdc")
    val meta = DatasetMeta(
      dimensions = Map("h" -> 10L), chunkDimensions = Map("h" -> 4L),
      variables = Map("n" -> VariableDef("long", Vector("h"), -1.0)))
    val w1 = store.addVersion("cdc", meta)
    w1.write("n", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(10L)), (1 to 10).map(_.toDouble))))
    w1.finishVersion()
    def start() = spark.readStream.format("graft").option("root", root)
      .option("dataset", "cdc").option("variable", "n").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 10)
    // a version lands while the stream is DOWN
    val w2 = store.addVersion("cdc", meta)
    w2.write("n", Seq(Slab.empty(DType.LONG, Slice(Seq(8L), Seq(10L)), 55.0)))
    w2.finishVersion()
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val rows = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getLong(1)))
    // delta = chunk 2 = [8,12) clipped to the extent → cells 8, 9
    assert(rows.length == 12, s"10 + 2-cell tail chunk, got ${rows.length}")
    val counts = rows.groupBy(identity).map { case (k, v) => k -> v.length }
    assert(counts((8L, 55L)) == 1 && counts((9L, 55L)) == 1)
  }

  test("each micro-batch commits a version; late data lands in a later version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = StoreFs.tempDirAtExit("graft-stream")
    val store = new SparkStore(spark, root)

    val input = MemoryStream[Timestamp]
    val events = input.toDF().toDF("ts")
    val counts = StreamingIngest.hourlyCounts(events, watermark = "10 hours")
    val h0 = 473000L // arbitrary epoch-hour origin for the test
    val q = StreamingIngest.versionedSink(store, "stream_ev", h0, hours = 100L)(counts)
    try {
      def ts(hour: Long, minute: Int): Timestamp =
        new Timestamp((hour * 3600L + minute * 60L) * 1000L)

      input.addData(ts(h0 + 1, 0), ts(h0 + 1, 30), ts(h0 + 2, 10))
      q.processAllAvailable()
      val r1 = store.reader("stream_ev").onLastVersion()
      val s1 = r1.getSlice("n", Slice(Seq(0L), Seq(5L)))
      assert(s1.valueAt(Seq(1L)) == 2.0 && s1.valueAt(Seq(2L)) == 1.0)
      val v1 = r1.meta.versionId.get

      // late event for hour h0+1 (inside watermark) → new version snapshot
      input.addData(ts(h0 + 1, 45))
      q.processAllAvailable()
      val r2 = store.reader("stream_ev").onLastVersion()
      assert(r2.meta.versionId.get != v1)
      assert(r2.getSlice("n", Slice(Seq(1L), Seq(2L))).valueAt(Seq(1L)) == 3.0)
      // time travel back to the pre-late-data snapshot
      assert(store.reader("stream_ev").onVersion(v1)
        .getSlice("n", Slice(Seq(1L), Seq(2L))).valueAt(Seq(1L)) == 2.0)
      assert(store.versions("stream_ev").size >= 2)
    } finally q.stop()
  }

  test("file-source production twin: one committed version per real " +
      "micro-batch, overlay equals the batch per-hour counts") {
    import spark.implicits._
    // 3 hours of events, deliberately uneven (2 + 1 + 3 per hour)
    val h0 = 474000L
    val secs = Seq(
      h0 * 3600L + 60, h0 * 3600L + 120,
      (h0 + 1) * 3600L + 60,
      (h0 + 2) * 3600L + 60, (h0 + 2) * 3600L + 120, (h0 + 2) * 3600L + 180)
    val events = secs.toDF("ts_s")
    val store = new SparkStore(spark,
      StoreFs.tempDirAtExit("graft-fstream-ing"))
    val nBatches = 3
    val nVersions = StreamingIngest.hourlyVersionedStreamFile(
      events, store, "fs_ev", h0, hours = 10L, nBatches = nBatches,
      workDir = StoreFs.tempDirAtExit("graft-fstream-feed"))
    assert(nVersions == nBatches,
      s"expected exactly one committed version per real micro-batch " +
        s"($nBatches), got $nVersions")
    val s = store.reader("fs_ev").onLastVersion()
      .getSlice("n", Slice(Seq(0L), Seq(4L)))
    assert(s.valueAt(Seq(0L)) == 2.0 && s.valueAt(Seq(1L)) == 1.0 &&
      s.valueAt(Seq(2L)) == 3.0 && s.valueAt(Seq(3L)) == -1.0,
      "overlay must equal the batch per-hour counts, fill −1 elsewhere")
  }

  test("operator state is horizon-bounded, not volume-bounded: at fixed " +
      "event-time density, max state rows at 4× volume equal 1× within one batch") {
    import graft.streaming.{Sessionize, StreamJoin}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // a session of its own with one shuffle partition: each micro-batch
    // commits one state-store partition per operator, not four
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "1")
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val base = 1600000000L // event-time epoch, seconds
    val nBatches = 12
    /** The largest state-row count any progress of the query reports over
      * `nBatches` time-ordered micro-batches of `evs`. */
    def maxStateRows[T: Encoder](evs: IndexedSeq[T])(
        op: MemoryStream[T] => DataFrame): Long = {
      val input = MemoryStream[T]
      val sink = s"state_bound_${System.nanoTime()}"
      val q = op(input).writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try evs.grouped(evs.length / nBatches).map { b =>
        input.addData(b)
        q.processAllAvailable()
        Option(q.lastProgress).fold(0L)(_.stateOperators.map(_.numRowsTotal).sum)
      }.max
      finally { q.stop(); ss.catalog.dropTempView(sink) }
    }
    // one click and one purchase per event-time second, lookback 300 s
    def joinMax(scale: Int): Long = maxStateRows((0 until 3000 * scale).flatMap { i =>
      val ts = new Timestamp((base + i) * 1000L)
      Seq(StreamJoin.Ev(i % 100L, 2L * i, "click", ts),
        StreamJoin.Ev(i % 100L, 2L * i + 1, "purchase", ts))
    })(in => StreamJoin.clickAttribution(in.toDS(), lookbackSeconds = 300L))
    // ten events per event-time second, each from a user never seen before
    def sessionsMax(scale: Int): Long = maxStateRows((0 until 6000 * scale).map(i =>
      Sessionize.Event(i.toLong, new Timestamp((base + i / 10) * 1000L), "click")))(
      in => Sessionize.sessionsWithTimeout(
        in.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000L).toDF())
    // the four runs are independent queries; most of a micro-batch is
    // driver latency, so they overlap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val runs = try Await.result(Future.sequence(for {
        (leg, run) <- Seq[(String, Int => Long)]("join" -> joinMax, "sessions" -> sessionsMax)
        scale <- Seq(1, 4)
      } yield Future((leg, scale) -> run(scale))), 5.minutes).toMap
      finally pool.shutdown()
    // both legs feed 6,000 events at 1×, so one 1× batch is 500 events
    val batchSlack = 6000L / nBatches
    for (leg <- Seq("join", "sessions")) {
      val (at1, at4) = (runs((leg, 1)), runs((leg, 4)))
      assert(at1 > 0 && math.abs(at4 - at1) <= batchSlack,
        s"$leg: max state rows $at1 at 1×, $at4 at 4× volume")
    }
  }
}
