package graft

import graft.operators.RangeJoin
import org.scalatest.funsuite.AnyFunSuite

/** Interval-join semantics: banded equi-join ≡ naive range join,
  * including bucket-boundary cases; streaming twin replays to the same
  * pair set. */
class RangeJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("intervalJoin ≡ naive range join on randomized data, " +
      "boundary timestamps included") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val w = 100L
    // cluster timestamps around bucket edges (multiples of w) to hit the
    // replicate-to-next-bucket path hard
    def ts(): Long = {
      val base = rnd.nextInt(10).toLong * w
      base + (rnd.nextInt(5) match {
        case 0 => 0L; case 1 => w - 1; case 2 => 1L
        case _ => rnd.nextInt(w.toInt).toLong
      })
    }
    val left = (0 until 200).map(i => (rnd.nextInt(4).toLong, i.toLong, ts()))
    val right = (0 until 200).map(i => (rnd.nextInt(4).toLong, 1000L + i, ts()))
    val l = left.toDF("k", "lid", "lts")
    val r = right.toDF("k", "rid", "rts")

    val got = RangeJoin.intervalJoin(l, r, "lts", "rts", w, Seq("k"))
      .select("lid", "r_rid").as[(Long, Long)].collect().toSet
    val want = (for {
      (lk, lid, lts) <- left
      (rk, rid, rts) <- right
      if lk == rk && rts >= lts - w && rts <= lts
    } yield (lid, rid)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("intervalJoin carries right columns with r_ prefix, keeps left " +
      "schema, and respects the inclusive bounds exactly") {
    import spark.implicits._
    val l = Seq((1L, 1L, 100L)).toDF("k", "lid", "lts")
    val r = Seq(
      (1L, 10L, 100L), // gap 0 — included
      (1L, 11L, 50L),  // gap 50 = w — included
      (1L, 12L, 49L),  // gap 51 > w — out
      (1L, 13L, 101L), // future — out
      (2L, 14L, 100L)  // other key — out
    ).toDF("k", "rid", "rts")
    val out = RangeJoin.intervalJoin(l, r, "lts", "rts", 50L, Seq("k"))
    assert(out.columns.toSeq == Seq("k", "lid", "lts", "r_rid", "r_rts"))
    assert(out.select("r_rid").as[Long].collect().toSet == Set(10L, 11L))
  }

  test("streaming twin: clickAttributionReplay emits exactly the batch " +
      "interval-join pairs across micro-batch splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val events = (0 until 300).map { i =>
      (rnd.nextInt(5).toLong, i.toLong,
        if (rnd.nextInt(3) == 0) "purchase" else "click",
        86400L + rnd.nextInt(2000).toLong)
    }
    val df = events.toDF("user_id", "event_id", "event_type", "ts_s")
    val got = graft.streaming.StreamJoin
      .clickAttributionGate(df, lookbackSeconds = 300L, nBatches = 4,
        feed = graft.streaming.Feed.Memory)
      .select("purchase_id", "click_id", "gap_s")
      .as[(Long, Long, Long)].collect().toSet
    val want = (for {
      (pu, pid, pt, pts) <- events if pt == "purchase"
      (cu, cid, ct, cts) <- events if ct == "click"
      if pu == cu && cts >= pts - 300L && cts <= pts
    } yield (pid, cid, pts - cts)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }
}
