package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked stream-stream interval join: click→purchase attribution
  * where each purchase pairs with every click by the same user in the
  * preceding `lookback` window.
  *
  * This is the Structured-Streaming twin of
  * [[graft.operators.RangeJoin]]: the same interval predicate, but
  * evaluated incrementally — both sides buffer in watermark-bounded join
  * state, matches emit as soon as both rows have arrived, and the
  * event-time range conjunct lets Spark evict state once the watermark
  * passes a row's last possible match. State is O(events within the
  * watermark horizon per side), not O(stream), which is what makes the
  * operator viable on an unbounded 100 TB/day event feed.
  */
object StreamJoin {

  final case class Ev(user_id: Long, event_id: Long, event_type: String,
      ts: java.sql.Timestamp)

  /** The streaming join itself (any streaming source; the gate feeds it
    * a MemoryStream or a file source). Clicks carry a watermark
    * of 2·lookback (a click must outlive every purchase it could serve,
    * plus reorder slack); purchases carry lookback.
    */
  def clickAttribution(events: Dataset[Ev], lookbackSeconds: Long): DataFrame = {
    val base = events.toDF()
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", s"$lookbackSeconds seconds")
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", s"${2 * lookbackSeconds} seconds")
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("gap_s"))
  }

  /** STREAM-STATIC enrichment: each streamed event joined (broadcast) to
    * a static per-user profile frame. Unlike the stream-stream join this
    * is STATELESS — Spark re-plans the static side per micro-batch, the
    * broadcast never enters the state store, and a profile update is
    * picked up at the next batch. This is the dimension-enrichment shape
    * of a production feed (events × user table). */
  def enrichWithProfile(events: Dataset[Ev], profile: DataFrame): DataFrame =
    events.toDF()
      .join(org.apache.spark.sql.functions.broadcast(profile), Seq("user_id"),
        "left")
      .select(col("user_id"), col("event_id"), col("event_type"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))

  /** LEFT OUTER variant: purchases with no click in the window emit a
    * null-click row — but only once the watermark proves no matching
    * click can still arrive, which is the part of stream-stream joins
    * that trips people up (an unmatched row's emission is *watermark-
    * driven*, not arrival-driven): see [[clickAttributionOuterGate]]. */
  def clickAttributionOuter(events: Dataset[Ev],
      lookbackSeconds: Long): DataFrame = {
    val base = events.toDF()
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", s"$lookbackSeconds seconds")
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", s"${2 * lookbackSeconds} seconds")
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("gap_s"))
  }

  /** Gate for [[enrichWithProfile]], on either feed: the profile
    * (per-user purchase counts) is computed once as a batch frame, the
    * event stream is fed against it, and the enriched rows must equal the
    * batch left join. Input columns (all gates here): user_id, event_id,
    * event_type, ts_s (epoch seconds). */
  def enrichGate(events: DataFrame, nBatches: Int = 3, feed: Feed): DataFrame = {
    val ev = eventCols(events)
    val profile = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n_purchases"))
    Gate.run(Gate.span(ev, Seq("ts_s", "event_id"), feed), nBatches) { s =>
      enrichWithProfile(typed(s), profile)
    }.orderBy("event_id")
  }

  /** Gate for the INNER join [[clickAttribution]], on either feed (the
    * file feed may be disordered: bounded skew ≪ the join's own watermark
    * delays). Inner-join matches emit in whatever micro-batch completes
    * the pair, so no sentinel flush is needed. Gated against the plain
    * SQL interval join. */
  def clickAttributionGate(events: DataFrame, lookbackSeconds: Long,
      nBatches: Int = 3, feed: Feed): DataFrame =
    Gate.run(Gate.span(eventCols(events), Seq("ts_s", "event_id"), feed),
      nBatches) { s =>
      clickAttribution(typed(s), lookbackSeconds)
    }.orderBy("purchase_id", "click_id")

  /** Gate for the LEFT OUTER join [[clickAttributionOuter]], on either
    * feed. An unmatched purchase's null-click row emits only when the
    * WATERMARK proves no matching click can still arrive, so two
    * far-future sentinel pairs (append emission lags the watermark by one
    * batch) push both watermarks past every real purchase's match window;
    * the collected output then equals the full batch left join. */
  def clickAttributionOuterGate(events: DataFrame, lookbackSeconds: Long,
      nBatches: Int = 3, feed: Feed): DataFrame = {
    val span = Gate.span(eventCols(events), Seq("ts_s", "event_id"), feed)
    val farFuture = span.maxT + 10L * lookbackSeconds
    val spark = events.sparkSession
    Gate.run(span, nBatches, Seq(sentinelPair(spark, farFuture, -1L),
      sentinelPair(spark, farFuture + lookbackSeconds, -11L))) { s =>
      clickAttributionOuter(typed(s), lookbackSeconds)
    }.filter(col("user_id") =!= SentinelUser)
      .orderBy("purchase_id", "click_id")
  }

  private val SentinelUser = -1L

  /** A click and a purchase of the sentinel user at `ts`: the pair matches
    * itself, advancing both sides' watermarks, and the gate drops it. */
  private def sentinelPair(spark: SparkSession, ts: Long,
      idBase: Long): DataFrame = {
    import spark.implicits._
    Seq((SentinelUser, idBase, "click", ts),
      (SentinelUser, idBase - 1L, "purchase", ts))
      .toDF("user_id", "event_id", "event_type", "ts_s")
  }

  private def eventCols(events: DataFrame): DataFrame =
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
      col("event_type").cast("string"), col("ts_s").cast("long"))

  private def typed(fed: DataFrame): Dataset[Ev] =
    fed.select(col("user_id"), col("event_id"), col("event_type"),
      timestamp_seconds(col("ts_s")).as("ts")).as(Encoders.product[Ev])
}
