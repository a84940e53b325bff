package perfbench

import graft.filters.FilterChain

/** The benchmark's own tests: the percentile rule, span self-time
  * arithmetic, and generator/model determinism. Run with
  * `python3 perfbench/build.py --test`; exits non-zero on any failure. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(s"  $name threw $e"); false }
    if (ok) passed += 1 else { failures += 1; System.err.println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    spans()
    generator()
    model()
    println(s"perfbench self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def seq(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  private def percentiles(): Unit = {
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }
    check("no tail percentile below ten samples beyond p75") { Stats.tail(seq(37)).isEmpty }
    check("p75 once ten samples lie beyond it") { Stats.tail(seq(38)).map(_._1).contains(0.75) }
    check("p90 at n=100, not p95") { Stats.tail(seq(100)).map(_._1).contains(0.9) }
    check("p99 at n=1000, not p99.9") { Stats.tail(seq(1000)).map(_._1).contains(0.99) }
    check("tied samples have nothing beyond any percentile") {
      Stats.tail(Seq.fill(200)(5.0)).isEmpty
    }
    check("every reported tail has at least ten samples beyond it") {
      (1 to 300).forall { n =>
        val xs = seq(n)
        Stats.tail(xs).forall { case (_, v) => xs.count(_ > v) >= 10 }
      }
    }
  }

  private def spans(): Unit = {
    // root [0,100] with children [10,30] and [20,50] (overlapping) and
    // [60,70]; a grandchild [12,15]; a child reaching past the root's end
    // in a second op
    val ss = Seq(
      Span(0, "bench.op", -1, 0, 0, 100),
      Span(1, "spark.a", 0, 0, 10, 30),
      Span(2, "meta.b", 0, 0, 20, 50),
      Span(3, "source.c", 0, 0, 60, 70),
      Span(4, "spark.d", 1, 0, 12, 15),
      Span(5, "bench.op", -1, 1, 200, 210),
      Span(6, "spark.e", 5, 1, 205, 220))
    val self = Ledger.selfNs(ss)
    check("root self time subtracts the union of its children") { self(0) == 100 - 40 - 10 }
    check("child self time subtracts its own child") { self(1) == 20 - 3 }
    check("leaf self time is its duration") { self(2) == 30 && self(3) == 10 && self(4) == 3 }
    check("a child outside its parent is clipped") { self(5) == 5 }
    val layers = Ledger.layerSelfS(ss)
    check("layers: source.* spans belong to spark.source") {
      layers("spark.source") == 10 / 1e9 && !layers.contains("source")
    }
    check("without overlapping siblings, self times sum to the ops' walls") {
      val flat = ss.filterNot(_.id == 2)
      val total = Ledger.layerSelfS(flat).values.sum
      math.abs(total - (ss(0).durNs + (ss(6).endNs - ss(5).startNs)) / 1e9) < 1e-15
    }
    check("tracer nests spans and tags them with the op") {
      val t = new Tracer(true)
      t.op(7, "bench.x") { t("spark.y") { t("meta.z") { () } } }
      val s = t.spans.map(x => x.name -> x).toMap
      s("meta.z").parent == s("spark.y").id && s("spark.y").parent == s("bench.x").id &&
        s("bench.x").parent == -1 && t.spans.forall(_.op == 7)
    }
    check("a tracer that is off records nothing") {
      val t = new Tracer(false)
      t("spark.y") { 1 } == 1 && t.spans.isEmpty
    }
  }

  // the scan fixture's grid: 400 × 600 cells in Bench.Chunk columns
  private def field(seed: Long, salt: Long) = Field(seed, salt, C, 0.25, 400 / C, 600 / C, -3)
  private val C = Bench.Chunk

  private def generator(): Unit = {
    val lo = Array(0L, 0L, 0L); val hi = Array(400L, 600L, 2 * C)
    val a = field(7, 3).bytes(lo, hi)
    check("same seed and salt, same bytes") { java.util.Arrays.equals(a, field(7, 3).bytes(lo, hi)) }
    check("another seed, other bytes") { !java.util.Arrays.equals(a, field(8, 3).bytes(lo, hi)) }
    check("another salt, other bytes") { !java.util.Arrays.equals(a, field(7, 4).bytes(lo, hi)) }
    check("value agrees with bytes, cell for cell") {
      val f = field(7, 3)
      val blo = Array(17L, 233L, 5L); val bhi = Array(29L, 251L, 30L)
      val b = f.bytes(blo, bhi)
      var o = 0
      var same = true
      for (x <- blo(0) until bhi(0); y <- blo(1) until bhi(1); z <- blo(2) until bhi(2)) {
        same &&= ((b(o) << 8) | (b(o + 1) & 0xff)).toShort == f.value(x, y, z)
        o += 2
      }
      same
    }
    check("land share is exact and land is the same for every salt") {
      val cols = for (cx <- 0L until 400 / C; cy <- 0L until 600 / C) yield (cx, cy)
      val land = cols.filter { case (cx, cy) => field(7, 3).isLand(cx * C, cy * C) }
      land.size == cols.size / 4 && cols.forall { case (cx, cy) =>
        field(7, 3).isLand(cx * C, cy * C) == field(7, 99).isLand(cx * C, cy * C)
      }
    }
    val f = field(7, 3)
    val grid = for (cx <- 0L until 400 / C; cy <- 0L until 600 / C) yield (cx, cy)
    val chunks = grid.map { case (cx, cy) => f.bytes(Array(cx * C, cy * C, 0L), Array(cx * C + C, cy * C + C, C)) }
    val (land, ocean) = chunks.zip(grid.map { case (cx, cy) => f.isLand(cx * C, cy * C) })
      .partition(_._2)
    check("land chunks are identical, so they dedup to one blob") {
      land.nonEmpty && land.map(c => java.util.Arrays.hashCode(c._1)).distinct.size == 1
    }
    check("ocean chunks are all distinct") {
      ocean.map(c => new String(c._1, "ISO-8859-1")).distinct.size == ocean.size
    }
    check("LZ4 clears the 1.2 raw-fallback ratio on ocean chunks") {
      ocean.forall { case (c, _) =>
        val e = FilterChain.encode(FilterChain.DefaultWriteChain, c)
        e(3) == 1 && c.length.toDouble / e.length > 1.2 // marker byte 1: compressed
      }
    }
    check("parallel checksum equals the sequential one over the bytes") {
      f.checksum(lo, hi) == Checksum.ofBytes(a, lo, hi)
    }
    check("checksum counts every cell and is placement-sensitive") {
      val c = Checksum.ofBytes(a, lo, hi)
      val swapped = a.clone()
      // swap two cells that hold different values
      val i = (0 until a.length / 2 - 1).find(k => a(2 * k) != a(2 * k + 2) || a(2 * k + 1) != a(2 * k + 3)).get
      val (h, l) = (swapped(2 * i), swapped(2 * i + 1))
      swapped(2 * i) = swapped(2 * i + 2); swapped(2 * i + 1) = swapped(2 * i + 3)
      swapped(2 * i + 2) = h; swapped(2 * i + 3) = l
      val d = Checksum.ofBytes(swapped, lo, hi)
      c.count == 400L * 600 * 2 * C && d.sum == c.sum && d.wsum != c.wsum
    }
  }

  private def model(): Unit = {
    def build(): VersionModel = {
      val m = new VersionModel(field(5, 0))
      m.add(field(5, 1), Array(10L, 10L, 10L), Array(50L, 50L, 50L))
      m.add(field(5, 2), Array(40L, 40L, 40L), Array(80L, 80L, 80L))
      m
    }
    val lo = Array(0L, 0L, 0L); val hi = Array(90L, 90L, 90L)
    val m = build()
    check("model: same writes, same expected bytes at every version") {
      (0 to 2).forall(v => java.util.Arrays.equals(m.expected(v, lo, hi), build().expected(v, lo, hi)))
    }
    check("model: version 0 is the base field") {
      java.util.Arrays.equals(m.expected(0, lo, hi), field(5, 0).bytes(lo, hi))
    }
    def at(v: Int, x: Long, y: Long, z: Long): Short = {
      val b = m.expected(v, Array(x, y, z), Array(x + 1, y + 1, z + 1))
      ((b(0) << 8) | (b(1) & 0xff)).toShort
    }
    check("model: the last writer wins where writes overlap") {
      at(2, 45, 45, 45) == field(5, 2).value(45, 45, 45) &&
        at(1, 45, 45, 45) == field(5, 1).value(45, 45, 45) &&
        at(2, 20, 20, 20) == field(5, 1).value(20, 20, 20) &&
        at(2, 85, 85, 85) == field(5, 0).value(85, 85, 85)
    }
    check("model: a window agrees with its single-cell reads") {
      val b = m.expected(2, Array(38L, 38L, 38L), Array(42L, 42L, 42L))
      var o = 0
      var same = true
      for (x <- 38L until 42L; y <- 38L until 42L; z <- 38L until 42L) {
        same &&= ((b(o) << 8) | (b(o + 1) & 0xff)).toShort == at(2, x, y, z)
        o += 2
      }
      same
    }
  }
}
