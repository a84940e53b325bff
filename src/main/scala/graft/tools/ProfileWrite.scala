package graft.tools

import graft.metrics.SparkCost

/** Dev aid: staged timing of the array ingest path (bench_array_write).
  * Prints each rep's Spark jobs and stages ([[SparkCost.report]]) plus
  * wall-clock splits of the driver-side commit tail, so a write-path
  * regression can be attributed to a stage instead of guessed at.
  */
object ProfileWrite {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-profile-write", defaultCpus = 32)
    import spark.implicits._
    import graft.meta.{DatasetMeta, VariableDef}
    import graft.spark.SparkStore

    val zDim = 900L
    val dims = Map("x" -> 400L, "y" -> 600L, "z" -> zDim)
    val meta = DatasetMeta(
      dimensions = dims,
      chunkDimensions = Map("x" -> 30L, "y" -> 30L, "z" -> 30L),
      variables = Map("foo" -> VariableDef("short", Vector("x", "y", "z"), -3.0)))
    val root = java.nio.file.Files.createTempDirectory("graft_profile").toString
    val store = new SparkStore(spark, root)

    def writeOnce(ds: String): Unit = {
      store.create(ds)
      val w = store.addVersion(ds, meta)
      val yz = 600L * zDim
      val slabRows = spark.range(400).map { xo =>
        val x = xo.toLong
        val bytes = new Array[Byte]((yz * 2).toInt)
        var i = 0
        while (i < yz) {
          val v = ((x * 31 + i) % 1000).toShort
          bytes(2 * i) = (v >> 8).toByte; bytes(2 * i + 1) = v.toByte
          i += 1
        }
        (Array(x, 0L, 0L), Array(x + 1L, 600L, zDim), bytes, x)
      }.toDF("start", "stop", "bytes", "seq")
      var t0 = System.nanoTime()
      w.writeRows("foo", slabRows)
      val tWrite = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      w.finishVersion()
      val tCommit = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[stage] writeRows=$tWrite%6.2f s  finishVersion=$tCommit%6.2f s")
    }

    // warm rep (JIT), then measured reps
    writeOnce("warm")
    for (r <- 0 until 3) {
      try { new ProcessBuilder("sync").start().waitFor() } catch { case _: Throwable => () }
      System.err.println(s"==== rep $r ====")
      val t0 = System.nanoTime()
      val cost = SparkCost.measure(spark)(writeOnce(s"perf$r"))
      System.err.println(f"[rep $r] total=${(System.nanoTime() - t0) / 1e9}%6.2f s")
      System.err.print(cost.report())
    }
    spark.stop()
  }
}
