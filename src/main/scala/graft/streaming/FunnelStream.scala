package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Live conversion-funnel tracking: the streaming twin of q_pipe_funnel's
  * batch view → click → purchase analysis, as a per-user state machine on
  * `mapGroupsWithState` (update mode — each micro-batch re-emits a user's
  * current stage; stages are monotone, so the final stage is the max over
  * the update log, the same reduction q_pipe_hourly_stream uses).
  *
  * State is three longs per user (first qualifying view/click/purchase
  * time), bounded by O(users) — at production scale a processing-time
  * timeout would expire dormant users; the replay gate keeps NoTimeout so
  * the final counts are exact.
  */
object FunnelStream {

  final case class Ev(user_id: Long, ts_s: Long, event_type: String)
  final case class FunnelState(vTs: Long, cTs: Long, pTs: Long)

  /** Same-timestamp tie rule as the batch twin's `>=` constraints: a view
    * at t qualifies a click at the same t, a click a purchase — so at
    * equal ts the earlier funnel stage must be processed first. */
  private val StageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
  private def typeRank(t: String): Int = StageRank.getOrElse(t, 3)

  /** (user_id, stage) updates; stage = 0 none, 1 viewed, 2 clicked after
    * first view, 3 purchased after first qualifying click. */
  def stageUpdates(events: Dataset[Ev]): Dataset[(Long, Int)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, (Long, Int)](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Ev], state: org.apache.spark.sql.streaming.GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          batch.toSeq.sortBy(e => (e.ts_s, typeRank(e.event_type))).foreach { e =>
            e.event_type match {
              case "view" if s.vTs < 0 => s = s.copy(vTs = e.ts_s)
              case "click" if s.vTs >= 0 && s.cTs < 0 && e.ts_s >= s.vTs =>
                s = s.copy(cTs = e.ts_s)
              case "purchase" if s.cTs >= 0 && s.pTs < 0 && e.ts_s >= s.cTs =>
                s = s.copy(pTs = e.ts_s)
              case _ =>
            }
          }
          state.update(s)
          val stage = if (s.pTs >= 0) 3 else if (s.cTs >= 0) 2
            else if (s.vTs >= 0) 1 else 0
          (uid, stage)
      }
  }

  /** Gate for [[stageUpdates]], on either feed, in q_pipe_funnel's exact
    * one-row schema so both share one oracle: the update log of stages is
    * reduced to the final stage per user (stages are monotone). Events at
    * one timestamp stay in funnel-stage order across micro-batches: the
    * memory feed sorts by (ts_s, stage rank), and the file feed's uniform
    * event-time slices keep equal-ts events in one micro-batch, which the
    * operator sorts the same way. Input columns: user_id, ts_s,
    * event_type. */
  def funnelGate(events: DataFrame, nBatches: Int = 3, feed: Feed): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val span = Gate.span(events.select(col("user_id").cast("long"),
        col("ts_s").cast("long"), col("event_type").cast("string"))
      .withColumn("rank", coalesce(
        element_at(typedLit(StageRank), col("event_type")), lit(3))),
      Seq("ts_s", "rank", "user_id"), feed)
    val sunk = Gate.run(span, nBatches, outputMode = "update") { s =>
      stageUpdates(s.select("user_id", "ts_s", "event_type").as[Ev])
        .toDF("user_id", "stage")
    }
    val finalStage = sunk.groupBy("user_id").agg(max("stage").as("stage"))
    finalStage.agg(
        sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_click"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_purchase"))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        expr("n_click * 1000 div n_view").as("click_pm"),
        expr("n_purchase * 1000 div n_click").as("purchase_pm"))
  }
}
