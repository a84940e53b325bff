package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
  TimerValues, TTLConfig}

/** TTL-bounded per-user PROFILE accumulator on `transformWithState`
  * MapState — the knob a production profile store uses to bound per-key
  * state WITHOUT explicit timers: `TTLConfig` expires idle map entries
  * at the state-store layer (TTL is PROCESSING-time based, per Spark's
  * contract — the processor runs in `TimeMode.ProcessingTime`), so a
  * user who stops arriving simply ages out of state with no timer
  * bookkeeping and no expiry callbacks.
  *
  * Complements the timer-driven session processors ([[Sessionize]]):
  * timers express event-time DEADLINES (close this session when the
  * watermark passes last+gap); TTL expresses state RETENTION (keep a
  * profile only while its user stays active). At 100 TB the difference
  * is material — a billion-key profile store with explicit per-key
  * timers pays a timer column family the TTL path never writes.
  */
object ProfileState {
  final case class PEvent(user_id: Long, event_type: String)
  final case class ProfileRow(user_id: Long, event_type: String, n: Long)

  /** Sentinel event type: reads the user's current profile without
    * contributing to it (the test/serve probe shape). */
  val Probe = "__probe__"

  /** Per-user event-type counts in a `MapState[event_type → n]` created
    * with the given TTL (`ttlMs <= 0` → `TTLConfig.NONE`). Each input
    * batch re-emits the user's full VISIBLE profile — expired entries
    * are filtered by the state layer on read, so a post-expiry probe
    * observes an empty profile and a fresh event restarts its count
    * at 1, never resuming the expired tally. */
  private[streaming] class ProfileProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, PEvent, ProfileRow] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl = if (ttlMs <= 0L) TTLConfig.NONE
        else TTLConfig(java.time.Duration.ofMillis(ttlMs))
      counts = getHandle.getMapState[String, Long]("profile",
        Encoders.STRING, Encoders.scalaLong, ttl)
    }

    override def handleInputRows(userId: Long, rows: Iterator[PEvent],
        tv: TimerValues): Iterator[ProfileRow] = {
      rows.foreach { e =>
        if (e.event_type != Probe) {
          val cur = if (counts.containsKey(e.event_type))
            counts.getValue(e.event_type) else 0L
          counts.updateValue(e.event_type, cur + 1L)
        }
      }
      // materialized: the emitted rows must not lazily read state after
      // the callback returns
      counts.iterator().map { case (k, v) => ProfileRow(userId, k, v) }
        .toVector.iterator
    }
  }

  /** The streaming profile frame (update mode: each batch re-emits the
    * profiles it touched). */
  def profiles(events: Dataset[PEvent], ttlMs: Long): Dataset[ProfileRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Gate for [[profiles]]: per-user event-type counts accumulated in
    * TTL'd MapState over the fed events, update log reduced to final
    * values. Within the TTL horizon (gate feeds run in seconds; the TTL is
    * generous) results must equal the batch `groupBy` exactly — retention
    * bounding must be invisible to in-horizon answers. Runs on the file
    * feed. Input columns: user_id, event_type, ts_s. */
  def profilesGate(events: DataFrame, ttlMs: Long, nBatches: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val span = Gate.span(events.select(col("user_id").cast("long"),
      col("event_type").cast("string"), col("ts_s").cast("long")),
      Seq("ts_s"), Feed.Files())
    // PINNED off: in ProcessingTime mode every no-data batch advances
    // processing time, so the engine would interleave empty micro-batches
    // (full state commits each) with the fed batches for no benefit —
    // TTL expiry is filtered on read, never driven by empty batches
    FileFeed.withConf(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      Gate.run(span, nBatches, outputMode = "update", rocksDb = true) { s =>
        profiles(s.select(col("user_id"), col("event_type")).as[PEvent],
          ttlMs).toDF()
      }
    }.groupBy("user_id", "event_type").agg(max(col("n")).as("n"))
      .orderBy("user_id", "event_type")
  }
}
