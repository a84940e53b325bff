package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful event sessionization over a stream: gap-based sessions per
  * user via `flatMapGroupsWithState` — the Structured-Streaming custom
  * state surface (SURVEY §2.6 lists streaming as absent in the reference;
  * this is the training-pipeline extension for clickstream/event data).
  *
  * Scale shape: state is partitioned by user_id (one `SessionState` per
  * user ever seen — `NoTimeout`, so the deterministic gates control
  * eviction themselves via sentinel flushes), so state size is O(user
  * population), not O(events) (PLANS.md round 14). A production
  * deployment with an unbounded user space would switch to
  * `EventTimeTimeout` so dormant users' sessions auto-close at the
  * watermark instead of living in state forever.
  */
object Sessionize {

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Long, types: Set[String])
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, n_types: Int, duration_ms: Long)

  /** Close a session when `gapMs` passes between consecutive events of a
    * user (event-time gap, judged per micro-batch arrival order). Emits
    * closed sessions; open sessions stay in state until the gap elapses
    * or the state times out. */
  def sessions(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = t, n = s.n + 1, types = s.types + e.event_type))
              case Some(s) =>
                closed += Session(userId, s.start, s.last, s.n, s.types.size, s.last - s.start)
                cur = Some(SessionState(t, t, 1, Set(e.event_type)))
              case None =>
                cur = Some(SessionState(t, t, 1, Set(e.event_type)))
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None => state.remove()
          }
          closed.result().iterator
      }
  }

  /** Gate for [[sessions]], on either feed, in the batch twin's schema
    * (one oracle gates both). The bounded input (caller caps it — the
    * gate uses user_id < 50) is fed in `nBatches` event-time slices, state
    * carrying across batches; a final sentinel batch at max(ts)+2·gap,
    * one row per input event, closes every user's open session (the
    * sentinels' own session stays open in state and is never emitted).
    * Input columns: user_id, ts_s, event_type. */
  def sessionsGate(events: DataFrame, gapSeconds: Long, nBatches: Int = 3,
      feed: Feed): DataFrame = {
    val span = Gate.span(eventCols(events), Seq("ts_s"), feed)
    val flush = span.frame.select(col("user_id"),
      lit(span.maxT + 2 * gapSeconds).as("ts_s"), lit("_flush").as("event_type"))
    numbered(Gate.run(span, nBatches, Seq(flush)) { s =>
      sessions(typed(s, None), gapMs = gapSeconds * 1000L).toDF()
    })
  }

  /** (user_id, ts_s, event_type) cast to the gate's column types. */
  private def eventCols(events: DataFrame): DataFrame =
    events.select(col("user_id").cast("long"), col("ts_s").cast("long"),
      col("event_type").cast("string"))

  /** A fed (user_id, ts_s, event_type) frame as events, watermarked
    * `delaySeconds` behind event time when given. */
  private def typed(fed: DataFrame, delaySeconds: Option[Long]): Dataset[Event] = {
    val ev = fed.select(col("user_id"), timestamp_seconds(col("ts_s")).as("ts"),
      col("event_type"))
    delaySeconds.fold(ev)(d => ev.withWatermark("ts", s"$d seconds"))
      .as(Encoders.product[Event])
  }

  /** One watermark sentinel row at `ts`, for user −1 ([[numbered]] drops it). */
  private def wmSentinel(spark: SparkSession, ts: Long): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(-1L, ts, "_wm")),
      eventSchema)

  private val eventSchema = StructType(Seq(StructField("user_id", LongType),
    StructField("ts_s", LongType), StructField("event_type", StringType)))

  /** Closed sessions renumbered per user by start time — session starts
    * strictly increase within a user, so this equals the batch twin's
    * running new-session sum — in its schema (user_id, session_no,
    * n_events, n_types, duration_s); sentinel users (< 0) dropped. */
  private def numbered(sessions: DataFrame): DataFrame = {
    val byStart = Window.partitionBy("user_id").orderBy("start_ms")
    sessions.filter(col("user_id") >= 0)
      .withColumn("session_no", row_number().over(byStart).cast("long"))
      .select(col("user_id"), col("session_no"),
        col("n_events"), col("n_types").cast("long").as("n_types"),
        (col("duration_ms") / 1000L).cast("long").as("duration_s"))
      .orderBy("user_id", "session_no")
  }

  /** Exact conservation: every event of `ev` lies in exactly one closed
    * session of `sessions` (per-user counts) — else fail loudly, never
    * return silently-partial sessions. */
  private def requireConserved(ev: DataFrame, sessions: DataFrame,
      failure: Long => String): Unit = {
    val expected = ev.groupBy("user_id").agg(count(lit(1)).as("n_in"))
    val got = sessions.filter(col("user_id") >= 0)
      .groupBy("user_id").agg(sum("n_events").as("n_out"))
    val bad = expected.join(got, Seq("user_id"), "left_outer")
      .filter(col("n_out").isNull || col("n_out") =!= col("n_in")).count()
    if (bad > 0) throw new IllegalStateException(failure(bad))
  }

  /** Event-time-timeout sessionizer — the unbounded-user-space
    * production variant of [[sessions]]: a user's open session AUTO-
    * CLOSES (emits and leaves state) when the WATERMARK passes its
    * last event + gap, so state is bounded by the users active within
    * one gap of the watermark, not by every user ever seen. `events`
    * must carry a watermark on `ts` before this operator (the gate uses
    * delay 0 over a time-ordered feed; a real deployment sets its
    * reorder slack). Emission differences vs [[sessions]]: closes
    * happen at watermark passage (no successor event or sentinel
    * needed), which is exactly the gap rule, so outputs are identical
    * on any time-ordered feed. */
  def sessionsWithTimeout(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed last + gap: the session is closed by the
            // gap rule itself — emit and evict
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.last, s.n, s.types.size,
              s.last - s.start))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1,
                    types = s.types + e.event_type))
                case Some(s) =>
                  closed += Session(userId, s.start, s.last, s.n,
                    s.types.size, s.last - s.start)
                  cur = Some(SessionState(t, t, 1, Set(e.event_type)))
                case None =>
                  cur = Some(SessionState(t, t, 1, Set(e.event_type)))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.last + gapMs)
              case None => state.remove()
            }
            closed.result().iterator
          }
      }
  }

  /** Gate for the auto-closing engines ([[sessionsWithTimeout]],
    * [[sessionsTws]], [[sessionsTwsMap]]) on a time-ordered file feed: open
    * sessions close when the watermark (delay 0) passes them, so the tail
    * is ONE watermark sentinel (user −1, dropped) at max(ts)+2·gap. The
    * timeouts it arms fire in the trailing NO-DATA micro-batch the engine
    * runs for state cleanup — `spark.sql.streaming.noDataMicroBatches
    * .enabled` is PINNED true for the stream's lifetime (it is the
    * mechanism these operators depend on, not a default to inherit);
    * `pinNoData = false` exists only for the spec that proves the gate
    * fails LOUDLY without it. Loud-fail invariant: by feed end every input
    * event lies in a closed session, so a per-user count mismatch means
    * trailing timeouts never fired — the gate throws instead of returning
    * silently-partial rows. The transformWithState engines need
    * `rocksDb = true` (the API refuses the heap provider). */
  def timeoutGate(events: DataFrame, gapSeconds: Long, nBatches: Int = 3,
      rocksDb: Boolean = false, pinNoData: Boolean = true)(
      op: (Dataset[Event], Long) => Dataset[Session]): DataFrame = {
    val ev = eventCols(events)
    val sunk = closing(ev, gapSeconds, 0L, 0L, nBatches, rocksDb,
      pinNoData)(op)
    requireConserved(ev, sunk, bad =>
      s"timeoutGate: $bad user(s) have unclosed sessions — trailing " +
        "no-data micro-batches did not fire the armed timeouts/timers" +
        (if (pinNoData) ""
         else " (spark.sql.streaming.noDataMicroBatches.enabled was " +
           "deliberately unpinned — this loud failure is the expected " +
           "outcome without it)"))
    numbered(sunk)
  }

  /** Run `op` with watermark delay `delaySeconds` over the events on a
    * file feed displaced by up to ±`skewSeconds`, plus one watermark
    * sentinel past every open session, no-data micro-batches pinned to
    * `pinNoData`; returns the sunk sessions. */
  private def closing(ev: DataFrame, gapSeconds: Long, delaySeconds: Long,
      skewSeconds: Long, nBatches: Int, rocksDb: Boolean, pinNoData: Boolean)(
      op: (Dataset[Event], Long) => Dataset[Session]): DataFrame = {
    val spark = ev.sparkSession
    val span = Gate.span(ev, Seq("ts_s"), Feed.Files(skewSeconds))
    val tail = wmSentinel(spark, span.maxT + 2 * gapSeconds + 2 * delaySeconds)
    FileFeed.withConf(spark,
      "spark.sql.streaming.noDataMicroBatches.enabled", pinNoData.toString) {
      Gate.run(span, nBatches, Seq(tail), rocksDb = rocksDb) { s =>
        op(typed(s, Some(delaySeconds)), gapSeconds * 1000L).toDF()
      }
    }
  }

  /** BATCH→STREAM MIGRATION gate ([[sessionsTwsWarm]]): the feed is cut
    * at its event-time midpoint; everything before the cut is a batch
    * BACKFILL (sessions computed relationally — closed ones emitted
    * directly, each user's last session becomes the stream's SEEDED open
    * state), everything at/after the cut streams through the warm-start
    * processor. The union must equal the full-feed sessionization
    * exactly (same oracle), proving the migration cut is invisible: a
    * session SPANNING the cut is continued by the stream, not restarted,
    * and a seeded session whose user never returns still closes at the
    * watermark. The stream side runs on the file feed. */
  def warmGate(events: DataFrame, gapSeconds: Long,
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000L
    val ev = eventCols(events)
    val Array(minT, maxT) = ev.agg(min(col("ts_s")), max(col("ts_s")))
      .head() match { case r => Array(r.getLong(0), r.getLong(1)) }
    val cut = (minT + maxT) / 2
    // --- batch side: relational sessionization of the pre-cut slice
    val byUser = Window.partitionBy("user_id").orderBy("ts_s")
    val pre = ev.filter(col("ts_s") < cut)
      .withColumn("prev_ts", lag(col("ts_s"), 1).over(byUser))
      .withColumn("new_s", when(col("prev_ts").isNull ||
        col("ts_s") - col("prev_ts") > gapSeconds, 1L).otherwise(0L))
      .withColumn("sno", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    // localCheckpoint (eager): the backfill feeds THREE consumers — the
    // stream's seeded initial state, the conservation check, and the
    // final union — and unmaterialized each re-ran the full window chain
    // over the pre-cut slice (profiled: 24 jobs/rep, the three heaviest
    // being this subtree). One window-chain pass; the checkpointed frame
    // is one row per pre-cut session (tiny at any corpus: sessions, not
    // events). Fresh per call — never reused across bench reps.
    val preSessions = pre.groupBy(col("user_id"), col("sno"))
      .agg(min(col("ts_s")).as("start_s"), max(col("ts_s")).as("last_s"),
        count(lit(1)).as("n"), collect_set(col("event_type")).as("types"))
      .withColumn("last_sno", max(col("sno")).over(
        Window.partitionBy("user_id")))
      .localCheckpoint()
    // closed before the cut: every pre-cut session except each user's
    // last (whether the last is still open is the STREAM's decision)
    val closedPre = preSessions.filter(col("sno") < col("last_sno"))
      .select(col("user_id"), (col("start_s") * 1000L).as("start_ms"),
        (col("last_s") * 1000L).as("end_ms"), col("n").as("n_events"),
        size(col("types")).as("n_types"),
        ((col("last_s") - col("start_s")) * 1000L).as("duration_ms"))
    val warm: Dataset[(Long, SessionState)] = preSessions
      .filter(col("sno") === col("last_sno"))
      .select("user_id", "start_s", "last_s", "n", "types")
      .as[(Long, Long, Long, Long, Seq[String])]
      .map { case (u, s0, l, n, ts) =>
        (u, SessionState(s0 * 1000L, l * 1000L, n, ts.toSet)) }
    // --- stream side: post-cut slice through the warm-start processor
    // bounds (cut, maxT) instead of a dedicated min/max job over post:
    // the true post-cut minimum is >= cut, so slicing from cut only
    // shifts slice boundaries within the same ordered range — session
    // results are batch-composition-invariant (the ooo gates prove it),
    // and an empty leading slice still feeds one (empty) micro-batch
    val span = Gate.span(ev.filter(col("ts_s") >= cut), Seq("ts_s"),
      Feed.Files(), bounds = Some((cut, maxT)))
    val sunk = FileFeed.withConf(spark,
      "spark.sql.streaming.noDataMicroBatches.enabled", "true") {
      Gate.run(span, nBatches, Seq(wmSentinel(spark, maxT + 2 * gapSeconds)),
        rocksDb = true) { s =>
        sessionsTwsWarm(typed(s, Some(0L)), gapMs, warm).toDF()
      }
    }
    val all = sunk.filter(col("user_id") >= 0)
      .select("user_id", "start_ms", "end_ms", "n_events", "n_types",
        "duration_ms")
      .unionByName(closedPre)
    // a mismatch means a seeded session was dropped, restarted, or
    // double-counted across the cut
    requireConserved(ev, all, bad => s"warmGate: $bad user(s) lost or " +
      "duplicated events across the migration cut")
    numbered(all)
  }

  /** [[sessionsWithTimeout]] re-expressed on `transformWithState` —
    * Spark 4's successor API to `flatMapGroupsWithState` and the one new
    * stateful operators should target: typed state handles (ValueState /
    * ListState / MapState, optional TTL), EXPLICIT event-time timers
    * with a separate expiry callback instead of the per-key timeout
    * timestamp, and RocksDB-only state (the API refuses the heap
    * provider, which is the right default at 100 TB — state lives on
    * local SSD from day one).
    *
    * Semantics are identical to [[sessionsWithTimeout]] — same gap rule,
    * same auto-close at watermark passage — and the gate shares the
    * q_pipe_sessions oracle, so the engine choice is provably invisible
    * to results. Timer discipline: one timer per live session at
    * `last + gap`; extending the session re-arms a later timer, and the
    * expiry callback ignores STALE timers (expiry < the live session's
    * own deadline) so an earlier armed time can never close an extended
    * session early. */
  def sessionsTws(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new GapSessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append)
  }

  /** The arrival-order gap fold shared by the ValueState tws engines:
    * merge a batch's sorted events into the open session, closing on
    * each gap crossing. Returns (open state, sessions closed mid-batch). */
  private[streaming] object GapFold {
    def apply(userId: Long, sorted: Seq[Event],
        cur0: Option[SessionState], gapMs: Long)
        : (Option[SessionState], Seq[Session]) = {
      var cur = cur0
      val closed = Seq.newBuilder[Session]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(s.copy(last = t, n = s.n + 1,
              types = s.types + e.event_type))
          case Some(s) =>
            closed += Session(userId, s.start, s.last, s.n,
              s.types.size, s.last - s.start)
            cur = Some(SessionState(t, t, 1, Set(e.event_type)))
          case None =>
            cur = Some(SessionState(t, t, 1, Set(e.event_type)))
        }
      }
      (cur, closed.result())
    }
  }

  /** Re-arm a key's single live event-time deadline. Every other FUTURE
    * timer for the key is SUPERSEDED — the deadline moved when the
    * session/fragment was extended — and without cleanup they accumulate
    * one per extending micro-batch in the timer column family, each
    * later firing a no-op expiry callback: state growth plus wasted
    * timer fires for long-lived sessions. So delete the superseded
    * future deadlines before (re-)registering.
    *
    * Timers AT OR BELOW the current watermark are DUE THIS BATCH and
    * are never deleted: handleInputRows runs before the engine's
    * expired-timer scan, and a due timer deleted here would close only
    * after a FURTHER watermark advance — which a bounded run's final
    * batch never gets (the close would be lost). For the gap processors
    * this window is closed independently (an input row that could
    * coexist with a due deadline is either late-dropped pre-state or
    * closes the session inline in GapFold), but that safety is a
    * coupling of three rules in two places — the guard here makes
    * rearm locally correct for ANY processor, and costs nothing: the
    * expiry callbacks are stale-safe, so letting a due-but-superseded
    * timer fire is always sound.
    *
    * `listTimers` is key-scoped and tiny (≤ open-fragment count), and
    * skipping an already-armed expiry avoids a per-batch WARN + wasted
    * state write when the deadline is unchanged. */
  private[graft] def rearmTimer(
      h: org.apache.spark.sql.streaming.StatefulProcessorHandle,
      at: Long, wm: Long): Unit = {
    // materialized before deleting: never mutate the timer column
    // family under its own live state iterator (tiny per key)
    var armed = false
    h.listTimers().toVector.foreach { t =>
      if (t == at) armed = true
      else if (t > wm) h.deleteTimer(t) // superseded FUTURE deadline only
    }
    if (!armed) h.registerTimer(at)
  }

  /** The ValueState+timer discipline shared by the plain and warm-start
    * gap processors — ONE copy, so the engines the gates prove
    * equivalent cannot silently desynchronize. A trait may extend the
    * StatefulProcessor class, and the warm variant's base
    * (StatefulProcessorWithInitialState) is a subclass of it, so both
    * concrete processors mix this in. */
  private[streaming] trait GapTimerLogic
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, Session] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode,
      TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    protected def gapMs: Long
    @transient protected var sess: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionState]("sess",
        Encoders.product[SessionState], TTLConfig.NONE)

    /** Arm (or keep) the session's close timer at `last + gap`, strictly
      * above the current watermark (the clamp only moves a deadline the
      * watermark ALREADY passed); superseded deadlines are deleted, not
      * left to fire no-op expiries (see [[Sessionize.rearmTimer]]). */
    protected def arm(s: SessionState, tv: TimerValues): Unit = {
      val wm = tv.getCurrentWatermarkInMs()
      rearmTimer(getHandle, math.max(wm + 1, s.last + gapMs), wm)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[Session] = {
      val (cur, closed) = GapFold(userId, rows.toSeq.sortBy(_.ts.getTime),
        if (sess.exists()) Some(sess.get()) else None, gapMs)
      cur.foreach { s => sess.update(s); arm(s, tv) }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      if (!sess.exists()) return Iterator.empty // closed by a later event
      val s = sess.get()
      // stale timer: the session was extended after this timer was armed
      // (its live deadline is later) — the re-armed timer will close it
      if (info.getExpiryTimeInMs() < s.last + gapMs) return Iterator.empty
      sess.clear()
      Iterator(Session(userId, s.start, s.last, s.n, s.types.size,
        s.last - s.start))
    }
  }

  /** Gap-sessionization [[org.apache.spark.sql.streaming.StatefulProcessor]]:
    * ValueState holds the open session, an event-time timer fires its
    * close when the watermark passes `last + gap`. */
  private[streaming] class GapSessionProcessor(val gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, Session] with GapTimerLogic

  /** WARM-START engine: the same gap discipline (mixed in, not copied),
    * but per-key state can be SEEDED from a batch backfill before the
    * first micro-batch — the batch-to-stream MIGRATION path.
    * `handleInitialState` runs once per seeded key at query start; each
    * seeded open session arms its close timer exactly as if its events
    * had streamed, so a user whose last backfill session never continues
    * still closes at the watermark. */
  private[streaming] class GapSessionWarmProcessor(val gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, Event, Session, SessionState] with GapTimerLogic {
    override def handleInitialState(userId: Long, init: SessionState,
        tv: org.apache.spark.sql.streaming.TimerValues): Unit = {
      sess.update(init)
      arm(init, tv)
    }
  }

  /** [[sessionsTws]] with state seeded from a batch backfill: `initial`
    * carries each user's OPEN session at the migration cut (epoch ms). */
  def sessionsTwsWarm(events: Dataset[Event], gapMs: Long,
      initial: Dataset[(Long, SessionState)]): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new GapSessionWarmProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append,
        initial.groupByKey(_._1).mapValues(_._2))
  }

  /** One open-session FRAGMENT: a maximal run of already-seen events
    * whose consecutive gaps are ≤ gap. Disordered arrival can hold
    * several not-yet-bridged fragments per user at once. */
  final case class Frag(start: Long, last: Long, n: Long, types: Set[String])
  final case class FragState(frags: Seq[Frag])

  /** One-event interval-merge step shared by BOTH out-of-order engines
    * (fmgws and the ListState tws processor): the event joins every
    * fragment within gap of it (possibly bridging several) or starts its
    * own. One copy keeps the engines' shared-oracle equivalence a
    * structural fact rather than a maintenance discipline. */
  private[streaming] object FragMerge {
    def add(frags: Seq[Frag], e: Event, gapMs: Long): Seq[Frag] = {
      val t = e.ts.getTime
      val (touch, rest) = frags.partition(f =>
        t >= f.start - gapMs && t <= f.last + gapMs)
      val merged = touch.foldLeft(
        Frag(t, t, 1L, Set(e.event_type))) { (a, f) =>
        Frag(math.min(a.start, f.start), math.max(a.last, f.last),
          a.n + f.n, a.types ++ f.types)
      }
      merged +: rest
    }
  }

  /** OUT-OF-ORDER-safe sessionizer — the production variant for a feed
    * with bounded disorder (reorder slack covered by the WATERMARK DELAY
    * the caller sets on `ts`). [[sessionsWithTimeout]]'s arrival-order
    * gap rule is wrong under reordering: an event arriving before its
    * in-time predecessors can sit > gap from the latest state yet belong
    * to the same session once the intermediates land. This operator
    * instead keeps per-user session FRAGMENTS and merges them as events
    * arrive — interval merging is ORDER-INDEPENDENT, so any arrival
    * permutation yields the same sessions provided no row is dropped as
    * late (guaranteed when watermark delay > the feed's displacement
    * bound; rows beyond that slack are dropped by Spark's pre-state
    * late-row filter, per the watermark contract — the deployment's
    * explicit data-loss budget).
    *
    * A fragment closes (emits and leaves state) when the watermark
    * passes `last + gap`: no event that could extend or bridge it can
    * still arrive, because such an event has ts ≤ last + gap < watermark
    * and would be filtered as late. State per user is O(open fragments
    * within the watermark horizon) — bounded by disorder, not by user
    * lifetime; dormant users leave state entirely, like
    * [[sessionsWithTimeout]]. */
  def sessionsOutOfOrder(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FragState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FragState]) =>
          val wm = state.getCurrentWatermarkMs()
          var frags = state.getOption.map(_.frags).getOrElse(Seq.empty)
          // merge phase (shared with the tws engine): each event joins
          // every fragment within gap of it or starts its own
          batch.foreach { e => frags = FragMerge.add(frags, e, gapMs) }
          // close phase: a fragment whose last+gap the watermark passed
          // can never be extended or bridged again — it IS the session
          val (closed, open) = frags.partition(_.last + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(FragState(open))
            // earliest possible close; must be strictly above the current
            // watermark or Spark rejects the registration
            state.setTimeoutTimestamp(
              math.max(wm + 1, open.map(_.last + gapMs).min))
          }
          closed.sortBy(_.start).iterator.map(f =>
            Session(userId, f.start, f.last, f.n, f.types.size, f.last - f.start))
      }
  }

  /** Gate for the out-of-order engines ([[sessionsOutOfOrder]],
    * [[sessionsOutOfOrderTws]]): on a NON-time-ordered file feed (rows
    * displaced across micro-batch boundaries by up to ±`skewSeconds`,
    * [[Feed.Files]]) consumed with a REAL watermark delay
    * (> 2·skew, so no row is late-dropped and the oracle stays the exact
    * batch twin). One far-future sentinel row advances the watermark past
    * every open fragment; trailing no-data micro-batches fire the
    * timeouts (pinned on, as in [[timeoutGate]]). */
  def outOfOrderGate(events: DataFrame, gapSeconds: Long, skewSeconds: Long,
      delaySeconds: Long, nBatches: Int = 4, rocksDb: Boolean = false)(
      op: (Dataset[Event], Long) => Dataset[Session]): DataFrame = {
    require(2 * skewSeconds < gapSeconds,
      "disorder bound must stay under the session gap")
    require(delaySeconds > 2 * skewSeconds,
      "watermark delay must cover the feed's displacement bound")
    numbered(closing(eventCols(events), gapSeconds, delaySeconds, skewSeconds,
      nBatches, rocksDb, pinNoData = true)(op))
  }

  /** Scalar core of an open session when the distinct-type set lives in
    * its own MapState instead of inside the value row. */
  final case class SessCore(start: Long, last: Long, n: Long)

  /** Third `transformWithState` engine for the same gap rule, exercising
    * the remaining typed state primitive: the open session's scalar core
    * rides a ValueState and its per-event-type COUNTS ride a
    * MapState[String, Long] — the shape a production profile accumulator
    * takes when the per-key map is too large to rewrite wholesale every
    * batch (MapState updates touch only the entries an event changes;
    * a Set inside the value row rewrites the whole blob). n_types is the
    * map's key count at close, so the output is bit-identical to the
    * other engines and the same oracle gates it. */
  def sessionsTwsMap(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new GapSessionMapProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append)
  }

  private[streaming] class GapSessionMapProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, Session] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
      TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var core: ValueState[SessCore] = _
    @transient private var types: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      core = getHandle.getValueState[SessCore]("core",
        Encoders.product[SessCore], TTLConfig.NONE)
      types = getHandle.getMapState[String, Long]("types",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    private def emit(userId: Long, s: SessCore): Session = {
      val nTypes = types.keys().size
      types.clear()
      Session(userId, s.start, s.last, s.n, nTypes, s.last - s.start)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[Session] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var cur = if (core.exists()) Some(core.get()) else None
      val closed = Seq.newBuilder[Session]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(SessCore(s.start, t, s.n + 1))
          case Some(s) =>
            closed += emit(userId, s) // clears the type map for the next
            cur = Some(SessCore(t, t, 1))
          case None =>
            cur = Some(SessCore(t, t, 1))
        }
        types.updateValue(e.event_type,
          (if (types.containsKey(e.event_type))
            types.getValue(e.event_type) else 0L) + 1L)
      }
      cur.foreach { s =>
        core.update(s)
        val wm = tv.getCurrentWatermarkInMs()
        rearmTimer(getHandle, math.max(wm + 1, s.last + gapMs), wm)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      if (!core.exists()) return Iterator.empty
      val s = core.get()
      if (info.getExpiryTimeInMs() < s.last + gapMs) return Iterator.empty
      core.clear()
      Iterator(emit(userId, s))
    }
  }

  /** [[sessionsOutOfOrder]] re-expressed on `transformWithState`: the
    * per-user open FRAGMENTS live in a typed ListState (the natural fit —
    * fmgws had to wrap the Seq in a case class to satisfy its single
    * state slot), and fragment closes are driven by explicit event-time
    * timers. Same order-independent interval-merge semantics, same
    * close-at-watermark rule, so the disordered-feed gate shares the
    * q_pipe_sessions oracle. Timer discipline: re-armed each batch at
    * the earliest possible close among open fragments; duplicate/stale
    * timers are harmless because the expiry callback re-derives closes
    * from the CURRENT watermark and re-arms for whatever stays open. */
  def sessionsOutOfOrderTws(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new OooSessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append)
  }

  /** Fragment-merge sessionization processor: ListState[Frag] + timers. */
  private[streaming] class OooSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, Session] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
      TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var frags: ListState[Frag] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      frags = getHandle.getListState[Frag]("frags",
        Encoders.product[Frag], TTLConfig.NONE)

    /** Close watermark-passed fragments, store the rest, re-arm. */
    private def closeAndRearm(userId: Long, open0: Seq[Frag],
        wm: Long): Iterator[Session] = {
      val (closed, open) = open0.partition(_.last + gapMs < wm)
      if (open.isEmpty) frags.clear()
      else {
        frags.put(open.toArray)
        rearmTimer(getHandle,
          math.max(wm + 1, open.map(_.last + gapMs).min), wm)
      }
      closed.sortBy(_.start).iterator.map(f =>
        Session(userId, f.start, f.last, f.n, f.types.size, f.last - f.start))
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[Session] = {
      var fs = if (frags.exists()) frags.get().toSeq else Seq.empty[Frag]
      rows.foreach { e => fs = FragMerge.add(fs, e, gapMs) }
      closeAndRearm(userId, fs, tv.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      if (!frags.exists()) return Iterator.empty
      closeAndRearm(userId, frags.get().toSeq, tv.getCurrentWatermarkInMs())
    }
  }

  /** Batch variant — identical session definition expressed relationally
    * (window lag → gap flag → running session id), DuckDB-oracle-checkable.
    * Input columns: user_id, event_id, event_type, ts_s (epoch seconds). */
  def sessionsBatch(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val withGap = events
      .withColumn("prev_ts", lag(col("ts_s"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts_s") - col("prev_ts") > gapSeconds, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        (max(col("ts_s")) - min(col("ts_s"))).as("duration_s"))
      .select("user_id", "session_no", "n_events", "n_types", "duration_s")
      .orderBy("user_id", "session_no")
  }
}
