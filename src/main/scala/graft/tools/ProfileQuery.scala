package graft.tools

import graft.metrics.SparkCost

/** Dev aid (guide §1): attribute where a SparkEntry query's wall time
  * goes — per-job wall clock + per-stage task totals
  * ([[SparkCost.report]]) — so optimization targets the measured cost,
  * not the guessed one. Runs on the bench's session shape
  * ([[graft.GraftSession]]).
  *
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <name>[,<name>] [reps]
  */
object ProfileQuery {

  /** Poor-man's async-profiler: sample all live threads every ~60 ms,
    * bucket executor-task samples by their deepest "interesting" frame.
    * Enabled with SPARK_GRAFT_PROFILE_STACKS=1. */
  final class Sampler extends Thread {
    setDaemon(true)
    @volatile var halted = false
    val hits = scala.collection.concurrent.TrieMap.empty[String, Int]
    private def interesting(tr: Array[StackTraceElement]): String = {
      // the top-most frame plus the first frame mentioning spark/graft
      val top = tr.headOption.map(_.toString).getOrElse("<empty>")
      val anchor = tr.find { f =>
        val c = f.getClassName
        (c.startsWith("org.apache.spark.sql.execution") ||
          c.startsWith("graft.")) && !c.contains("Sampler")
      }.map(_.toString).getOrElse("")
      s"$top || $anchor"
    }
    override def run(): Unit = while (!halted) {
      val all = Thread.getAllStackTraces
      all.forEach { (t, tr) =>
        if ((t.getName.startsWith("Executor task launch") ||
              t.getName.startsWith("stream execution")) &&
            tr.nonEmpty && t.getState != Thread.State.WAITING) {
          // skip idle pool threads parked in queue take
          val topC = tr.headOption.map(_.getClassName).getOrElse("")
          val idle = topC.contains("Unsafe") && tr.exists(
            _.getClassName.contains("ThreadPoolExecutor"))
          if (!idle) {
            val key = t.getName.take(22) + " :: " + interesting(tr)
            hits.updateWith(key) { case Some(n) => Some(n + 1); case None => Some(1) }
          }
        }
      }
      Thread.sleep(60)
    }
    def report(top: Int = 30): String =
      hits.toSeq.sortBy(-_._2).take(top)
        .map { case (k, n) => f"$n%5d  $k" }.mkString("\n")
  }

  /** Per-micro-batch phase durations from the streaming progress events —
    * the driver-gap attribution the stage metrics cannot see
    * (queryPlanning / walCommit / commitOffsets / addBatch / getBatch
    * are driver-side phases). Printed per progress when
    * SPARK_GRAFT_PROFILE_STREAM=1. */
  final class StreamProgress extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
        "walCommit", "commitOffsets", "addBatch", "latestOffset")
      val parts = keys.flatMap(k => Option(d.get(k)).map(v => s"$k=$v"))
      val st = p.stateOperators.map(s =>
        s"commit=${s.allUpdatesTimeMs}/${s.commitTimeMs}ms rows=${s.numRowsTotal}")
        .mkString(" | ")
      println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} " +
        parts.mkString(" ") + (if (st.nonEmpty) s"  state: $st" else ""))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq("q_pipe_novelty")
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.local("graft-profile", defaultCpus = 32)
    // extra runtime SQL confs for A/B probes: SPARK_GRAFT_PROFILE_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    try graft.queries.ArrayFixtures.get(spark, sfDir) catch { case _: Throwable => () }
    val sampleStacks = sys.env.get("SPARK_GRAFT_PROFILE_STACKS").contains("1")
    if (sys.env.get("SPARK_GRAFT_PROFILE_STREAM").contains("1"))
      spark.streams.addListener(new StreamProgress)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      for (r <- 0 until reps) {
        val sampler = if (sampleStacks && r == reps - 1) {
          val s = new Sampler; s.start(); Some(s)
        } else None
        val t0 = System.nanoTime()
        val cost = SparkCost.measure(spark) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        sampler.foreach { s =>
          s.halted = true
          println(s"---- stack samples for $n ----")
          println(s.report())
        }
        println(f"==== $n rep $r: $dt%.3f s ====")
        println(cost.report())
      }
    }
    spark.stop()
  }
}
