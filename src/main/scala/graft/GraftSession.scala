package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape every graft entry point runs on —
  * Bench, Verify and the dev tools — in the style of an
  * idempotent `SqlStrategy.setup`: `getOrCreate` hands a second caller
  * the session the first one built.
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions` = cpus (not 200);
  *  - AQE on, UI off, UTC session time zone;
  *  - `spark.shuffle.sort.bypassMergeThreshold` = 1: the sort-based
  *    shuffle writer even for no-combine (repartition) shuffles. The
  *    bypass writer creates R partition files PER MAP TASK (M×R creates
  *    per shuffle — stack-sampled as the dominant wait of the fanned-out
  *    gates: FileOutputStream.open0 + mmap under
  *    IndexShuffleBlockResolver); the sort writer one data+index pair per
  *    task. With R ≈ cores and row-sized records the sort is noise;
  *    bypass's file-create storm is not.
  *
  * `SPARK_GRAFT_CPUS` (read here and nowhere else) overrides each entry
  * point's default core count. A caller that needs a different conf sets
  * it on the returned session (runtime SQL confs only). */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else `defaultCpus`. */
  private[graft] def cpus(defaultCpus: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(defaultCpus)

  def local(appName: String, defaultCpus: Int): SparkSession =
    withCpus(appName, cpus(defaultCpus))

  /** The same session shape at a fixed core count, plus build-time
    * `extraConfs` (a test session's file-system registrations), for
    * callers whose width must not follow `SPARK_GRAFT_CPUS`. */
  private[graft] def withCpus(appName: String, cpus: Int,
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    extraConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
