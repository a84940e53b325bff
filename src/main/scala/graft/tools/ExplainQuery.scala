package graft.tools

/** Dev aid: print the formatted physical plan of named SparkEntry
  * queries (post-execution, so AQE re-planning is final).
  *
  * Usage: runMain graft.tools.ExplainQuery <sfDir> <name>[,<name>...]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
      else Seq("q_rel_pricing")
    val spark = graft.GraftSession.local("graft-explain", defaultCpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      println(s"==== $n ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
