package perfbench

/** Summary statistics for the samples of one run. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** Candidate tail percentiles, highest last. */
  val Tails: Seq[Double] = Seq(0.75, 0.9, 0.95, 0.99, 0.999)

  /** The highest candidate tail percentile that has at least ten samples
    * strictly beyond it, with its value — None when n is too small for
    * even p75. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Tails.reverse.iterator.map(p => (p, quantile(xs, p)))
      .find { case (_, v) => xs.count(_ > v) >= 10 }
}

/** One traced interval. `parent` is the id of the enclosing span (-1 at
  * the root of an op); all spans of one op share `op`. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  /** Layer of a span: the name up to its first dot, except that `source.*`
    * spans belong to the `spark.source` layer. */
  def layer: String = name.takeWhile(_ != '.') match {
    case "source" => "spark.source"
    case l => l
  }
}

/** Spans recorded by the benchmark around its own calls into the program.
  * Kept in memory and written once at exit. Single-threaded: the benchmark
  * has one client thread. When `on` is false, `apply` only runs the body. */
final class Tracer(val on: Boolean) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var curOp = -1

  def spans: Seq[Span] = buf.toSeq

  /** Span the whole of op `i`; the spans opened inside it are its children. */
  def op[T](i: Int, name: String)(f: => T): T = {
    curOp = i
    try apply(name)(f) finally curOp = -1
  }

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        buf += Span(id, name, parent, curOp, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = buf.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    ()
  }
}

object Ledger {
  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its children's intervals. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self seconds per layer. */
  def layerSelfS(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** Mean duration in ms of the spans named `name` (0 when none ran). */
  def meanMs(spans: Seq[Span], name: String): Double = {
    val d = spans.filter(_.name == name).map(_.durNs)
    if (d.isEmpty) 0.0 else d.sum / d.size / 1e6
  }
}
