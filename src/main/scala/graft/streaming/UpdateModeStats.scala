package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** UPDATE-mode streaming aggregation: unwatermarked per-key counts that
  * re-emit a key's refreshed row each micro-batch it changes in — the
  * dashboard/serving shape (append mode can't emit an unwatermarked
  * aggregate at all; update mode is the surface Spark provides for it).
  *
  * The gate freezes the update stream deterministically: the sunk update
  * log carries every intermediate emission, and for a
  * MONOTONE aggregate (a count of non-negative arrivals) the final value
  * per key is simply the max over its emissions — no reliance on sink
  * row order.
  */
object UpdateModeStats {

  /** The streaming aggregation itself: counts + exact value sums per
    * (hour bucket, event_type). State is O(distinct keys); at 100 TB/day
    * you'd bound it with a watermark — the gate input is bounded, and
    * leaving the watermark off is exactly what exercises update mode. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("hour_s", expr("(ts_s div 3600) * 3600"))
      .groupBy("hour_s", "event_type")
      .agg(count(lit(1)).as("n"))

  /** Gate for [[hourlyCounts]], on either feed: the input is fed in
    * `nBatches` event-time slices, and the update log (memory sink, or
    * the file feed's `foreachBatch` parquet log) reduces to its per-key
    * final row — max of the monotone count. Gated against the plain batch
    * GROUP BY. Input columns: user_id, event_id, event_type, ts_s. */
  def hourlyCountsGate(events: DataFrame, nBatches: Int = 3,
      feed: Feed): DataFrame = {
    val span = Gate.span(events.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("event_type").cast("string"),
      col("ts_s").cast("long")), Seq("ts_s", "event_id"), feed)
    Gate.run(span, nBatches, outputMode = "update") { s =>
      hourlyCounts(s.select(col("event_type"), col("ts_s")))
    }.groupBy("hour_s", "event_type")
      .agg(max(col("n")).as("n"))
      .orderBy("hour_s", "event_type")
  }

  /** Streaming heavy hitters: term counts as an UPDATE-mode aggregation
    * over a document stream fed in doc_id order (either feed), reduced to
    * final counts (max of the monotone per-term emissions) and cut to the
    * exact top-k. Shares the batch heavy-hitters oracle — the streaming
    * route must land on the identical exact answer.
    *
    * Scale: state is O(vocabulary) (terms, not documents); a production
    * deployment bounds emission with a watermarked window — unwatermarked
    * update mode is exactly the always-fresh dashboard shape. */
  def heavyHittersGate(docs: DataFrame, k: Int = 50, nBatches: Int = 3,
      feed: Feed): DataFrame = {
    val span = Gate.span(docs.select(col("doc_id").cast("long"), col("text")),
      Seq("doc_id"), feed)
    Gate.run(span, nBatches, outputMode = "update") { s =>
      s.select(explode(graft.pipeline.TextOps.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
    }.groupBy("term").agg(max(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(k)
  }
}
