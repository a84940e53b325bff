package graft

import graft.streaming.{FileFeed, Sessionize}
import graft.streaming.Sessionize.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** `transformWithState` sessionizer (Spark 4's successor API to
  * flatMapGroupsWithState): engine choice must be invisible to results,
  * its timer discipline must survive session extension, and its
  * RocksDB-only contract must fail loudly, not silently fall back. */
class TransformWithStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def evFrame(rows: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("user_id", "ts_s", "event_type")
  }

  test("tws engine output equals fmgws engine and the batch twin") {
    // three users, multi-session, sessions spanning slice boundaries
    val rows = (for {
      u <- 1L to 3L
      k <- 0 until 4 // four sessions per user...
      j <- 0 until 3 // ...of three events each, 30 s apart
    } yield (u, 1000000L + k * 7200L + j * 30L + u * 11L,
      if (j == 0) "view" else "click")).toSeq
    val gap = 1800L
    val tws = Sessionize.timeoutGate(evFrame(rows), gap,
      rocksDb = true)(Sessionize.sessionsTws)
    val fmg = Sessionize.timeoutGate(evFrame(rows), gap,
      rocksDb = true)(Sessionize.sessionsWithTimeout)
    val twsMap = Sessionize.timeoutGate(evFrame(rows), gap,
      rocksDb = true)(Sessionize.sessionsTwsMap)
    val batch = Sessionize.sessionsBatch(
      evFrame(rows).withColumn("event_id", col("ts_s")), gap)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    assert(dump(tws) == dump(fmg))
    assert(dump(tws) == dump(batch))
    assert(dump(tws) == dump(twsMap)) // MapState engine, same answer
    assert(tws.count() == 12) // 3 users × 4 sessions
  }

  test("ooo tws engine (ListState + timers) equals fmgws on a disordered feed") {
    // same shape as the q_pipe_sessions_ooo gate, smaller: 2 users,
    // sessions of 4 events 60 s apart, gap 600 s, disorder ±90 s under
    // a 200 s watermark delay
    val rows = (for {
      u <- 1L to 2L
      k <- 0 until 3
      j <- 0 until 4
    } yield (u, 500000L + k * 3600L + j * 60L + u * 7L, "click")).toSeq
    val tws = Sessionize.outOfOrderGate(evFrame(rows),
      gapSeconds = 600L, skewSeconds = 90L, delaySeconds = 200L,
      rocksDb = true)(
      Sessionize.sessionsOutOfOrderTws)
    val fmg = Sessionize.outOfOrderGate(evFrame(rows),
      gapSeconds = 600L, skewSeconds = 90L, delaySeconds = 200L)(
      Sessionize.sessionsOutOfOrder)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    assert(dump(tws) == dump(fmg))
    assert(tws.count() == 6) // 2 users × 3 sessions
  }

  test("warm start: a session spanning the migration cut stays ONE session") {
    // span = [1000, 3000] s; the midpoint cut (2000) falls INSIDE user 1's
    // only session (events every 300 s < gap 600 s) — a cold stream would
    // restart it at the cut and emit two sessions; the seeded stream must
    // continue it and emit exactly one. User 2 finishes before the cut
    // and never returns: its seeded state must still close via watermark.
    val u1 = (0 until 7).map(j => (1L, 1000L + j * 300L, "click"))
    val u2 = Seq((2L, 1100L, "view"), (2L, 1200L, "view"))
    val warm = Sessionize.warmGate(evFrame(u1 ++ u2),
      gapSeconds = 600L)
    val rows = warm.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSeq.sorted
    // (user, session_no, n_events, n_types, duration_s)
    assert(rows == Seq((1L, 1L, 7L, 1L, 1800L), (2L, 1L, 2L, 1L, 100L)),
      s"got $rows")
  }

  test("stale timer from a pre-extension batch never closes the session early") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    FileFeed.withStateProvider(spark, rocksDb = true) {
      val input = MemoryStream[Event]
      val q = Sessionize.sessionsTws(
        input.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000L)
        .writeStream.format("memory").queryName("tws_stale")
        .outputMode("append").start()
      try {
        def ev(u: Long, tMs: Long) = Event(u, new Timestamp(tMs), "click")
        // timestamps sit strictly above the initial watermark (0): the
        // pre-state late filter drops ts <= watermark
        input.addData(ev(1, 10000)) // arms a timer at 70 s
        q.processAllAvailable()
        input.addData(ev(1, 40000)) // extends: live deadline now 100 s
        q.processAllAvailable()
        // watermark passes the STALE 70 s timer but not the 100 s one:
        // the session must stay open
        input.addData(ev(99, 80000))
        q.processAllAvailable()
        val mid = spark.table("tws_stale").as[Session].collect()
        assert(!mid.exists(_.user_id == 1L),
          s"stale timer closed an extended session early: ${mid.toSeq}")
        // watermark passes 100 s: now it closes, as ONE two-event session
        input.addData(ev(99, 300000))
        q.processAllAvailable()
        val done = spark.table("tws_stale").as[Session]
          .collect().filter(_.user_id == 1L)
        assert(done.length == 1 && done(0).n_events == 2 &&
          done(0).duration_ms == 30000L, s"got ${done.toSeq}")
      } finally {
        q.stop()
        spark.catalog.dropTempView("tws_stale")
      }
    }
    org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
  }

  test("MapState TTL: expired entries vanish at the state layer; a " +
      "fresh event restarts the count instead of resuming the expired " +
      "tally") {
    import spark.implicits._
    import graft.streaming.ProfileState
    implicit val sqlCtx = spark.sqlContext
    // PIN no-data micro-batches OFF: in ProcessingTime mode every empty
    // batch advances processing time, so the engine otherwise busy-loops
    // empty micro-batches (each a full RocksDB commit) between addData
    // calls; TTL expiry is filtered on READ, so the probe batch observes
    // it without any empty-batch help
    FileFeed.withConf(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
    FileFeed.withStateProvider(spark, rocksDb = true) {
      val input = MemoryStream[ProfileState.PEvent]
      val q = ProfileState.profiles(input.toDS(), ttlMs = 1500L)
        .toDF().writeStream.format("memory").queryName("ttl_prof")
        .outputMode("update").start()
      try {
        def rows() = spark.table("ttl_prof")
          .as[ProfileState.ProfileRow].collect().toSeq
        input.addData(ProfileState.PEvent(1, "click"),
          ProfileState.PEvent(1, "click"), ProfileState.PEvent(1, "view"))
        q.processAllAvailable()
        assert(rows().toSet == Set(
          ProfileState.ProfileRow(1, "click", 2),
          ProfileState.ProfileRow(1, "view", 1)), s"got ${rows()}")
        Thread.sleep(2500L) // processing time crosses the 1.5 s TTL
        val nBefore = rows().size
        // a probe reads the profile without contributing: the state
        // layer filters expired entries on read → empty profile, no
        // emissions
        input.addData(ProfileState.PEvent(1, ProfileState.Probe))
        q.processAllAvailable()
        assert(rows().size == nBefore,
          s"expired map entries must vanish, got ${rows()}")
        // a fresh event RESTARTS its count at 1 — never resumes the
        // expired tally at 3
        input.addData(ProfileState.PEvent(1, "click"))
        q.processAllAvailable()
        val after = rows()
        assert(after.contains(ProfileState.ProfileRow(1, "click", 1)),
          s"fresh post-expiry count must restart at 1: $after")
        assert(!after.exists(r => r.event_type == "click" && r.n == 3),
          s"expired tally resumed: $after")
      } finally {
        q.stop()
        spark.catalog.dropTempView("ttl_prof")
      }
    } }
    org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
  }

  test("MapState TTL within the horizon is invisible: the TTL'd stream " +
      "profile equals the batch groupBy exactly") {
    import graft.streaming.ProfileState
    import spark.implicits._
    val ev = (for {
      u <- 1L to 5L; k <- 0 until 6
    } yield (u, 1000L + k * 60L + u, if (k % 3 == 0) "view" else "click"))
      .toDF("user_id", "ts_s", "event_type")
      .select(col("user_id"), col("event_type"), col("ts_s"))
    val got = ProfileState.profilesGate(ev, ttlMs = 3600000L,
      nBatches = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n")).orderBy("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("rearmTimer deletes superseded deadlines instead of accumulating " +
      "one stale timer per extending micro-batch") {
    // a stub handle backed by a plain set — rearmTimer only touches the
    // three timer methods, so the state accessors can stay unimplemented
    val timers = scala.collection.mutable.SortedSet.empty[Long]
    object h extends org.apache.spark.sql.streaming.StatefulProcessorHandle {
      import org.apache.spark.sql.Encoder
      import org.apache.spark.sql.streaming.{ListState, MapState, QueryInfo,
        TTLConfig, ValueState}
      def registerTimer(at: Long): Unit = timers += at
      def deleteTimer(at: Long): Unit = timers -= at
      def listTimers(): Iterator[Long] = timers.toSeq.iterator
      def getValueState[T](n: String, e: Encoder[T], t: TTLConfig): ValueState[T] =
        throw new UnsupportedOperationException
      def getValueState[T](n: String, t: TTLConfig)(
          implicit e: Encoder[T]): ValueState[T] =
        throw new UnsupportedOperationException
      def getListState[T](n: String, e: Encoder[T], t: TTLConfig): ListState[T] =
        throw new UnsupportedOperationException
      def getListState[T](n: String, t: TTLConfig)(
          implicit e: Encoder[T]): ListState[T] =
        throw new UnsupportedOperationException
      def getMapState[K, V](n: String, ek: Encoder[K], ev: Encoder[V],
          t: TTLConfig): MapState[K, V] =
        throw new UnsupportedOperationException
      def getMapState[K, V](n: String, t: TTLConfig)(implicit ek: Encoder[K],
          ev: Encoder[V]): MapState[K, V] =
        throw new UnsupportedOperationException
      def getQueryInfo(): QueryInfo = throw new UnsupportedOperationException
      def deleteIfExists(n: String): Unit =
        throw new UnsupportedOperationException
    }
    // a session extending across four micro-batches: exactly ONE live
    // deadline at any time, never four accumulated (wm well below all)
    Sessionize.rearmTimer(h, 70000L, wm = 0L)
    assert(timers.toSeq == Seq(70000L))
    Sessionize.rearmTimer(h, 100000L, wm = 0L) // extension moved the deadline
    assert(timers.toSeq == Seq(100000L),
      s"superseded 70 s timer must be deleted, got $timers")
    Sessionize.rearmTimer(h, 100000L, wm = 0L) // unchanged deadline: no churn
    assert(timers.toSeq == Seq(100000L))
    Sessionize.rearmTimer(h, 130000L, wm = 0L)
    assert(timers.toSeq == Seq(130000L))
    // a stray FUTURE timer (e.g. restored from a pre-fix checkpoint)
    // is also cleaned at the next re-arm while it is still unexpired
    timers += 125000L
    Sessionize.rearmTimer(h, 130000L, wm = 40000L)
    assert(timers.toSeq == Seq(130000L))
    // a timer AT OR BELOW the watermark is DUE THIS BATCH and must
    // survive the re-arm: handleInputRows runs before the engine's
    // expired-timer scan, and deleting the due close would lose the
    // session on a bounded run's final batch (late event, delay > gap)
    timers += 90000L // due: wm has passed it
    Sessionize.rearmTimer(h, 130001L, wm = 95000L)
    assert(timers.toSeq == Seq(90000L, 130001L),
      s"a due (≤ wm) timer must never be deleted, got $timers")
  }

  test("refuses the heap state-store provider loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // NO provider switch: the default heap provider is active
    val input = MemoryStream[Event]
    val err = intercept[Exception] {
      val q = Sessionize.sessionsTws(
        input.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000L)
        .writeStream.format("memory").queryName("tws_heap")
        .outputMode("append").start()
      try {
        input.addData(Event(1, new Timestamp(0), "click"))
        q.processAllAvailable()
      } finally {
        q.stop()
        spark.catalog.dropTempView("tws_heap")
      }
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(err).exists(m => m.contains("RocksDB") ||
      m.contains("not supported") || m.contains("UNSUPPORTED")),
      s"expected a RocksDB-requirement error, got: ${messages(err)}")
  }
}
