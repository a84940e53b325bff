package graft.tools

/** The named numbers one probe run reports, and their one record format:
  * each value is logged to stderr as it lands (`[logTag] name: value`),
  * and [[line]] renders the run as the single JSON line the probe prints,
  * `{"probe":"<probe>",<fields>,"timings":{"<name>":<value>,…}}`, values
  * with `digits` decimals in insertion order. */
final class ProbeRecord(probe: String, digits: Int = 3, logTag: String = "probe") {
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  def rec(name: String, v: Double): Unit = {
    results(name) = v
    System.err.println(s"[$logTag] $name: ${fmt(v)}")
  }

  /** Record the seconds `f` takes under `name`; a failure records -1. */
  def time(name: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    val sec =
      try { f; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[$logTag] $name FAILED: ${e.getMessage}")
        e.printStackTrace()
        -1.0
      }
    rec(name, sec)
  }

  /** The run's JSON line; `fields` are extra string members placed before
    * the timings. */
  def line(fields: (String, String)*): String = {
    val timings = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val extra = fields.map { case (k, v) => s""""$k":"$v",""" }.mkString
    s"""{"probe":"$probe",$extra"timings":$timings}"""
  }
}
