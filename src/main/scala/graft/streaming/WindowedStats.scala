package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked event-time window aggregation for continuous ingest
  * monitoring: per-window, per-key counts and byte totals over a document
  * (or event) stream — the canonical Structured Streaming shape
  * (readStream → withWatermark → groupBy(window, key) → agg).
  *
  * Scale design: state is one row per open (window, key); the watermark
  * CLOSES windows once event time passes `horizon` beyond their end, so
  * the state store holds O(active windows × keys), never stream-lifetime
  * history. Append output mode emits each window exactly once, when it
  * closes — the right contract for downstream sinks that must not see
  * partial aggregates (e.g. `StreamingIngest.versionedSink` committing a
  * stats variable per window). Late rows beyond the horizon are dropped
  * by construction, making replays and out-of-order firehose arrivals
  * safe. */
object WindowedStats {

  /** `docs` must be a streaming frame with (ts: timestamp, lang: string,
    * text: string); returns one row per closed (window, lang):
    * (window_start, window_end, lang, n_docs, n_chars). */
  def perWindow(docs: DataFrame, windowLength: String = "1 minute",
      horizon: String = "10 minutes"): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .groupBy(window(col("ts"), windowLength), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("lang"), col("n_docs"), col("n_chars"))

  /** Gate for [[perWindow]], on either feed: the bounded input (ts_s:
    * epoch seconds, lang, text) is fed in event-time order through the
    * real watermarked window aggregate; two sentinel batches at
    * max(ts)+horizon+2·window flush every real window out of append-mode
    * state (the first advances the watermark past them, and append
    * emission lags the watermark by one micro-batch; the sentinels' own
    * window is dropped). Window bounds come back as epoch seconds —
    * timestamp-free for stable cross-engine hashing. */
  def perWindowGate(events: DataFrame, windowSeconds: Long,
      horizonSeconds: Long, nBatches: Int = 3, feed: Feed): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val span = Gate.span(events.select(col("ts_s").cast("long"),
      col("lang").cast("string"), col("text").cast("string")), Seq("ts_s"), feed)
    val flush = Seq((span.maxT + horizonSeconds + 2 * windowSeconds, "_flush",
      "")).toDF("ts_s", "lang", "text")
    val sunk = Gate.run(span, nBatches, Seq(flush, flush)) { s =>
      perWindow(s.select(timestamp_seconds(col("ts_s")).as("ts"), col("lang"),
        col("text")), s"$windowSeconds seconds", s"$horizonSeconds seconds")
    }
    sunk.filter(col("lang") =!= "_flush")
      .select(
        expr("unix_micros(window_start) div 1000000").cast("long").as("window_start_s"),
        expr("unix_micros(window_end) div 1000000").cast("long").as("window_end_s"),
        col("lang"), col("n_docs"), col("n_chars"))
      .orderBy("window_start_s", "lang")
  }
}
