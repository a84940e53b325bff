package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Streaming STATE-STORE scaling probe (dev tool, not a gate). The
  * batch pipeline is growth-probed by ScaleProbe/MetaScaleProbe; the
  * stateful streaming operators so far only had correctness gates. This
  * probe turns their 100 TB claim — state bounded by the WATERMARK
  * HORIZON (or the active-key population), never by stream lifetime
  * volume — into measurements.
  *
  * Experiment design: events arrive at FIXED event-time density
  * (events per event-time second) and total volume scales 1×/4×/16× by
  * EXTENDING the covered time span; the feed is chunked into
  * time-ordered micro-batches so the watermark advances and evicts as
  * it would on an unbounded feed. If state is horizon-bounded, the MAX
  * state rows across the run stays flat as volume grows; a leak shows
  * as max state growing with volume. A second leg scales the horizon
  * at fixed volume — state should grow ~linearly with horizon.
  *
  * Probed operators:
  *  - within-watermark exact dedup (StreamingDedup.byFingerprint —
  *    dropDuplicatesWithinWatermark state),
  *  - watermarked stream-stream interval join (StreamJoin
  *    .clickAttribution — two-sided join state),
  *  - flatMapGroupsWithState sessionization (Sessionize.sessions —
  *    state keyed by user; bounded by the ACTIVE USER population, so
  *    the probe fixes the user pool and scales event volume).
  *
  * Usage:
  *   SPARK_GRAFT_STREAM_SCALES=1,4,16 sbt "runMain graft.tools.StreamScaleProbe"
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val scales = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALES", "1,4,16")
      .split(",").toSeq.map(_.trim.toInt)
    // Optional leg filter (substring match, comma-separated) so one leg
    // can be re-measured without re-running the whole sweep.
    val legFilter = sys.env.get("SPARK_GRAFT_STREAM_LEGS")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    def on(leg: String): Boolean = legFilter.forall(_.exists(leg.contains))
    val spark = graft.GraftSession.local("graft-stream-scale-probe", defaultCpus = 32)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // streaming plans
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = 1600000000L // fixed event-time epoch (seconds)

    /** Drive one operator over time-ordered micro-batches; returns
      * (max state rows, max state bytes, output rows, seconds). */
    def runLeg[T: org.apache.spark.sql.Encoder](
        batches: Seq[Seq[T]])(mk: MemoryStream[T] => DataFrame)
        : (Long, Long, Long, Double) = {
      val t0 = System.nanoTime()
      val input = MemoryStream[T]
      val sinkName = s"probe_${System.nanoTime()}"
      val q = mk(input).writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      var maxRows = 0L
      var maxBytes = 0L
      try {
        batches.foreach { b =>
          input.addData(b)
          q.processAllAvailable()
          val p = q.lastProgress
          if (p != null) {
            val rows = p.stateOperators.map(_.numRowsTotal).sum
            val bytes = p.stateOperators.map(_.memoryUsedBytes).sum
            if (rows > maxRows) maxRows = rows
            if (bytes > maxBytes) maxBytes = bytes
          }
        }
        val out = spark.table(sinkName).count()
        (maxRows, maxBytes, out, (System.nanoTime() - t0) / 1e9)
      } finally {
        q.stop()
        spark.catalog.dropTempView(sinkName)
      }
    }

    def chunk[T](xs: IndexedSeq[T], n: Int): Seq[Seq[T]] =
      xs.grouped(math.max(1, xs.length / n)).map(_.toSeq).toSeq

    println(f"${"leg"}%-28s ${"scale"}%6s ${"events"}%9s ${"maxStateRows"}%13s " +
      f"${"maxStateMB"}%11s ${"outRows"}%9s ${"sec"}%7s")

    def report(leg: String, scale: Int, events: Long,
        r: (Long, Long, Long, Double)): Unit =
      println(f"$leg%-28s $scale%6d $events%9d ${r._1}%13d " +
        f"${r._2 / 1048576.0}%11.1f ${r._3}%9d ${r._4}%7.1f")

    // ---- 1. within-watermark dedup: density 10 docs/s, horizon 600 s.
    // Horizon-bounded state ≈ 10·600 = 6,000 keys + in-batch slack,
    // whatever the total volume.
    if (on("dedup_fixed_horizon")) for (s <- scales) {
      val n = 6000 * s
      val docs = (0 until n).map(i => StreamingDedupDoc(
        new Timestamp((base + i / 10) * 1000L), s"document body $i"))
      val r = runLeg(chunk(docs, 12))(in =>
        graft.streaming.StreamingDedup.byFingerprint(
          in.toDF(), horizon = "600 seconds"))
      report("dedup_fixed_horizon", s, n, r)
    }
    // horizon leg: fixed volume, horizon 300/600/1200 — expect ~linear
    if (on("dedup_horizon")) for (h <- Seq(300, 600, 1200)) {
      val n = 24000
      val docs = (0 until n).map(i => StreamingDedupDoc(
        new Timestamp((base + i / 10) * 1000L), s"document body $i"))
      val r = runLeg(chunk(docs, 12))(in =>
        graft.streaming.StreamingDedup.byFingerprint(
          in.toDF(), horizon = s"$h seconds"))
      report(s"dedup_horizon_${h}s", 1, n, r)
    }

    // ---- 2. stream-stream interval join: density 2 ev/s (1 click +
    // 1 purchase), lookback 300 s (clicks watermark 600 s). State is
    // two watermark-bounded buffers ≈ density × horizon per side.
    if (on("join_fixed_lookback")) for (s <- scales) {
      val nSec = 3000 * s
      val evs = (0 until nSec).flatMap { i =>
        val ts = new Timestamp((base + i) * 1000L)
        Seq(
          graft.streaming.StreamJoin.Ev(i % 100L, i * 2L, "click", ts),
          graft.streaming.StreamJoin.Ev(i % 100L, i * 2L + 1L, "purchase", ts))
      }
      val r = runLeg(chunk(evs, 12))(in =>
        graft.streaming.StreamJoin.clickAttribution(
          in.toDS(), lookbackSeconds = 300L))
      report("join_fixed_lookback", s, evs.length.toLong, r)
    }

    // ---- 3. sessionization: FIXED pool of 500 users, event volume
    // scales. State is one entry per user ever active (NoTimeout), so
    // max state rows must stay pinned at the pool size.
    if (on("sessions_fixed_users")) for (s <- scales) {
      val n = 6000 * s
      val evs = (0 until n).map(i => graft.streaming.Sessionize.Event(
        (i % 500).toLong, new Timestamp((base + i / 10) * 1000L), "click"))
      val r = runLeg(chunk(evs, 12))(in =>
        graft.streaming.Sessionize.sessions(in.toDS(), gapMs = 60000L).toDF())
      report("sessions_fixed_users", s, n, r)
    }

    // ---- 4. timeout sessionization under an UNBOUNDED user population:
    // every event is a brand-new user (the NoTimeout variant's state
    // would grow linearly with volume), gap 60 s at 10 users/s — the
    // EventTimeTimeout variant must hold state at the gap-window
    // population (~600 + one batch), flat across volume.
    if (on("sessions_tmo_unbounded")) for (s <- scales) {
      val n = 6000 * s
      val evs = (0 until n).map(i => graft.streaming.Sessionize.Event(
        i.toLong, new Timestamp((base + i / 10) * 1000L), "click"))
      val r = runLeg(chunk(evs, 12))(in =>
        graft.streaming.Sessionize.sessionsWithTimeout(
          in.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000L).toDF())
      report("sessions_tmo_unbounded", s, n, r)
    }

    // ---- 5. OUT-OF-ORDER fragment sessionizer under an unbounded user
    // population AND a disordered feed: every event a brand-new user,
    // arrival displaced by a deterministic per-index perturbation within
    // ±skew, watermark delay = 2·skew+1. State = open fragments within
    // the (gap + delay) horizon — must stay flat across volume; disorder
    // adds at most the displaced-window population, never volume-scaled
    // growth.
    if (on("sessions_ooo_unbounded")) for (s <- scales) {
      val n = 6000 * s
      val skew = 30L // seconds; delay 61 s covers the 2·skew bound
      val evs = (0 until n).map { i =>
        val trueTs = base + i / 10
        val delta = (i * 2654435761L % (2 * skew + 1)) - skew
        (trueTs + delta, graft.streaming.Sessionize.Event(
          i.toLong, new Timestamp(trueTs * 1000L), "click"))
      }.sortBy(_._1).map(_._2)
      val r = runLeg(chunk(evs, 12))(in =>
        graft.streaming.Sessionize.sessionsOutOfOrder(
          in.toDS().withWatermark("ts", s"${2 * skew + 1} seconds"),
          gapMs = 60000L).toDF())
      report("sessions_ooo_unbounded", s, n, r)
    }

    // ---- 6. RocksDB state backend, same dedup workload: state lives on
    // local disk (block-cache working set on heap), the deployment shape
    // for horizons whose key population exceeds executor memory. Rows
    // must stay horizon-pinned exactly like the heap provider; the
    // reported bytes are RocksDB's own memory estimate (block cache +
    // memtables), expected ~flat across volume.
    if (on("dedup_rocksdb")) for (s <- scales) {
      val n = 6000 * s
      val docs = (0 until n).map(i => StreamingDedupDoc(
        new Timestamp((base + i / 10) * 1000L), s"document body $i"))
      val r = graft.streaming.FileFeed.withStateProvider(spark, rocksDb = true) {
        runLeg(chunk(docs, 12))(in =>
          graft.streaming.StreamingDedup.byFingerprint(
            in.toDF(), horizon = "600 seconds"))
      }
      report("dedup_rocksdb", s, n, r)
    }
    // the ListState fragment sessionizer (out-of-order tws engine) under
    // the same disordered unbounded-user feed as leg 5: state rows are
    // the per-user ListState entries, expected pinned at the
    // (gap + delay)-window population like the fmgws fragment engine
    if (on("sessions_ooo_tws_rocksdb")) for (s <- scales) {
      val n = 6000 * s
      val skew = 30L
      val evs = (0 until n).map { i =>
        val trueTs = base + i / 10
        val delta = (i * 2654435761L % (2 * skew + 1)) - skew
        (trueTs + delta, graft.streaming.Sessionize.Event(
          i.toLong, new Timestamp(trueTs * 1000L), "click"))
      }.sortBy(_._1).map(_._2)
      val r = graft.streaming.FileFeed.withStateProvider(spark, rocksDb = true) {
        runLeg(chunk(evs, 12))(in =>
          graft.streaming.Sessionize.sessionsOutOfOrderTws(
            in.toDS().withWatermark("ts", s"${2 * skew + 1} seconds"),
            gapMs = 60000L).toDF())
      }
      report("sessions_ooo_tws_rocksdb", s, n, r)
    }
    // the transformWithState sessionizer (ValueState + explicit
    // event-time timers; RocksDB-only API): progress reports the value
    // rows (timer registry rides separate column families), so the pin
    // is the same gap-window key population as the fmgws engine
    if (on("sessions_tws_rocksdb")) for (s <- scales) {
      val n = 6000 * s
      val evs = (0 until n).map(i => graft.streaming.Sessionize.Event(
        i.toLong, new Timestamp((base + i / 10) * 1000L), "click"))
      val r = graft.streaming.FileFeed.withStateProvider(spark, rocksDb = true) {
        runLeg(chunk(evs, 12))(in =>
          graft.streaming.Sessionize.sessionsTws(
            in.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000L).toDF())
      }
      report("sessions_tws_rocksdb", s, n, r)
    }
    // timeout sessionizer (flatMapGroupsWithState + timers) on RocksDB
    if (on("sessions_tmo_rocksdb")) for (s <- scales) {
      val n = 6000 * s
      val evs = (0 until n).map(i => graft.streaming.Sessionize.Event(
        i.toLong, new Timestamp((base + i / 10) * 1000L), "click"))
      val r = graft.streaming.FileFeed.withStateProvider(spark, rocksDb = true) {
        runLeg(chunk(evs, 12))(in =>
          graft.streaming.Sessionize.sessionsWithTimeout(
            in.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000L).toDF())
      }
      report("sessions_tmo_rocksdb", s, n, r)
    }

    spark.stop()
  }

  final case class StreamingDedupDoc(ts: Timestamp, text: String)
}
