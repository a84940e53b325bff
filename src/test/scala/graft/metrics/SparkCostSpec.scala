package graft.metrics

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class SparkCostSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("measure reports a one-job action's job and task time on return " +
      "and leaves no listener attached") {
    val cost = SparkCost.measure(spark) {
      spark.sparkContext.parallelize(1 to 200000, 4).map(i => i.toLong * i).reduce(_ + _)
      ()
    }
    assert(cost.jobs.size == 1, cost.report())
    assert(cost.jobs.head.endMs >= cost.jobs.head.startMs)
    val t = cost.totals
    assert(t.tasks > 0 && t.runMs + t.cpuMs > 0, cost.report())
    // detached: later jobs never reach it
    val later = SparkCost.measure(spark) {
      spark.range(10).collect(); spark.range(20).collect(); ()
    }
    assert(later.jobs.size == 2)
    assert(cost.jobs.size == 1)
  }

  test("measure detaches when the body throws") {
    val e = intercept[IllegalStateException] {
      SparkCost.measure(spark) {
        spark.range(5).collect()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(SparkCost.measure(spark)(spark.range(3).collect()).jobs.size == 1)
  }

  test("measure counts its own jobs only: another thread's job is left " +
      "out, an AQE aggregate's query-stage jobs are in with the description") {
    val sc = spark.sparkContext
    def aggregate(): Unit = {
      spark.range(0, 100000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
        .collect()
      ()
    }
    val alone = SparkCost.measure(spark)(aggregate()).jobs.size
    // AQE runs the shuffle map stage as a job of its own
    assert(alone >= 2, s"$alone jobs")
    // a thread started before `measure` runs its job inside the body
    val go = new java.util.concurrent.CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      sc.parallelize(1 to 1000, 2).count()
      ()
    })
    other.start()
    sc.setJobDescription("aggregate under test")
    try {
      val cost = SparkCost.measure(spark) {
        go.countDown()
        other.join()
        aggregate()
      }
      assert(cost.jobs.size == alone, cost.report())
      assert(cost.jobs.forall(_.description == "aggregate under test"), cost.report())
      assert(cost.totals.tasks > 0)
      // the caller's local properties are back
      assert(sc.getLocalProperty("spark.job.description") == "aggregate under test")
      assert(sc.getLocalProperty("spark.jobGroup.id") == null)
      assert(sc.getJobTags().isEmpty)
    } finally sc.setJobDescription(null)
  }

  test("measure leaves the caller's job group in place: cancelJobGroup " +
      "still reaches the body's jobs") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller", interruptOnCancel = false)
    try {
      val canceller = new Thread(() => {
        while (sc.statusTracker.getJobIdsForGroup("caller-group").isEmpty)
          Thread.sleep(10)
        sc.cancelJobGroup("caller-group")
      })
      canceller.start()
      val cost = SparkCost.measure(spark) {
        assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
        val e = intercept[org.apache.spark.SparkException] {
          sc.parallelize(1 to 2, 2).map { i =>
            val deadline = System.nanoTime() + 60L * 1000000000L
            while (System.nanoTime() < deadline &&
                !org.apache.spark.TaskContext.get().isInterrupted()) Thread.sleep(10)
            i
          }.count()
        }
        assert(e.getMessage.contains("cancel"), e.getMessage)
      }
      canceller.join()
      assert(cost.jobs.size == 1, cost.report())
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
    } finally sc.clearJobGroup()
  }

  test("measure counts a streaming query's micro-batch jobs and task time: " +
      "the stream thread started inside the body inherits the job tag") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    input.addData(1 to 1000: _*)
    val cost = SparkCost.measure(spark) {
      val q = input.toDS().groupBy($"value" % 7).count()
        .writeStream.format("memory").queryName("spark_cost_stream")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        assert(q.recentProgress.map(_.numInputRows).sum == 1000)
      } finally q.stop()
    }
    assert(spark.table("spark_cost_stream").count() == 7)
    assert(cost.jobs.nonEmpty, cost.report())
    assert(cost.totals.tasks > 0 && cost.totals.runMs + cost.totals.cpuMs > 0,
      cost.report())
  }
}
