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
}
