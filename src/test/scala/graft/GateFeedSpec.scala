package graft

import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Every two-feed streaming gate returns the same rows whether its input
  * arrives through [[Feed.Memory]] (MemoryStream, memory sink) or
  * [[Feed.Files]] (parquet file source, parquet sink): the feed is
  * plumbing and must be invisible to the answer. */
class GateFeedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** 300 events of 10 users over ~5.5 h, fixed seed; `text` draws from 40
    * sentences, so documents repeat (dedup) and terms recur (heavy
    * hitters). */
  private lazy val events: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val types = Seq("view", "view", "click", "click", "purchase")
    (0 until 300).map { i =>
      (rnd.nextInt(10).toLong, i.toLong, types(rnd.nextInt(types.size)),
        86400L + rnd.nextInt(20000).toLong,
        s"term${rnd.nextInt(40) % 7} term${i % 40} word${(i % 40) % 5}")
    }.toDF("user_id", "event_id", "event_type", "ts_s", "text")
  }
  private def ev = events.select("user_id", "event_id", "event_type", "ts_s")
  private def docs = events.select(col("event_id").as("doc_id"),
    col("text"))
  private def clicks = ev.filter(col("event_type").isin("click", "purchase"))

  // two slices: state must carry across a micro-batch boundary, and
  // each run stays short (the spec runs 18 bounded streams)
  private val n = 2
  private val gates: Seq[(String, Feed => DataFrame)] = Seq(
    "sessionsGate" -> (f => Sessionize.sessionsGate(
      ev.select("user_id", "ts_s", "event_type"), gapSeconds = 600L, n, f)),
    "perWindowGate" -> (f => WindowedStats.perWindowGate(
      events.select(col("ts_s"), col("event_type").as("lang"), col("text")),
      windowSeconds = 3600L, horizonSeconds = 600L, n, f)),
    "hourlyCountsGate" -> (f => UpdateModeStats.hourlyCountsGate(ev, n, f)),
    "heavyHittersGate" -> (f =>
      UpdateModeStats.heavyHittersGate(docs, k = 10, n, f)),
    "enrichGate" -> (f => StreamJoin.enrichGate(ev, n, f)),
    "clickAttributionGate" -> (f => StreamJoin.clickAttributionGate(
      clicks, lookbackSeconds = 600L, n, f)),
    "clickAttributionOuterGate" -> (f => StreamJoin.clickAttributionOuterGate(
      clicks, lookbackSeconds = 600L, n, f)),
    "byFingerprintGate" -> (f => StreamingDedup.byFingerprintGate(docs, n, f)),
    "funnelGate" -> (f => FunnelStream.funnelGate(
      ev.select("user_id", "ts_s", "event_type"), n, f)))

  gates.foreach { case (name, gate) =>
    test(s"$name: Feed.Memory and Feed.Files return identical rows") {
      def rows(feed: Feed): Seq[String] =
        gate(feed).collect().map(_.toSeq.mkString("|")).toSeq.sorted
      val memory = rows(Feed.Memory)
      assert(memory.nonEmpty)
      assert(memory == rows(Feed.Files()))
    }
  }
}
