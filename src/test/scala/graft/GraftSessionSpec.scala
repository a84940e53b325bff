package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.local is idempotent and sets the bench's session confs") {
    val spark = SparkTestSession.spark // built by the factory at 4 cores
    val cpus = GraftSession.cpus(4)
    try {
      val a = GraftSession.local("graft-test", defaultCpus = 4)
      val b = GraftSession.local("graft-test", defaultCpus = 4)
      assert((a eq spark) && (b eq spark))
      val conf = spark.conf
      assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
      assert(conf.get("spark.sql.session.timeZone") == "UTC")
      assert(conf.get("spark.sql.adaptive.enabled") == "true")
      assert(conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert(spark.sparkContext.master == "local[4]")
  }
}
