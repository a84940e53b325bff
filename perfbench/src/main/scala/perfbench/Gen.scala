package perfbench

/** Seeded content for every workload: a smooth, coarsely quantized 3-D
  * field (think sea-surface temperature in integer steps) over a land mask
  * that makes a fixed share of the x-y chunk columns all-fill.
  *
  * The two properties the store's write path depends on are set here and
  * nowhere else:
  *  - ocean chunks compress: neighbouring cells repeat their short value
  *    for a few cells along z, so LZ4 clears the filter's 1.2 raw-fallback
  *    ratio, and the field is never periodic, so no two ocean chunks share
  *    bytes;
  *  - land chunks are identical (fill everywhere, overhang included), so
  *    content-addressed dedup collapses them to one blob: real but bounded
  *    dedup work, equal to the land share.
  *
  * `salt` separates independent fields drawn from one seed (one per
  * fixture, one per time-travel commit). Everything is a pure function of
  * (seed, salt, coordinate), so executors and the driver-side checks agree.
  */
final case class Field(seed: Long, salt: Long, chunk: Long, landShare: Double,
    gridX: Long, gridY: Long, fill: Short) {
  private val p: Array[Double] = {
    val r = new java.util.SplittableRandom(Gen.mix(seed) ^ Gen.mix(salt + 0x5DEECE66DL))
    Array.fill(6)(r.nextDouble()) // p(4), p(5): phases
  }
  // the mask depends on the seed only: every salt of one seed sees one coast
  private val q: Array[Double] = {
    val r = new java.util.SplittableRandom(Gen.mix(seed + 0x1F2E3D4CL))
    Array.fill(2)(r.nextDouble())
  }
  // wavelengths of ~230 cells and amplitudes of a few dozen steps keep the
  // per-cell gradient below ~0.7 step, so values repeat along z; only the
  // phases are random, which keeps the compression ratio nearly the same
  // for every seed
  private val kx = 2 * math.Pi / 229
  private val ky = 2 * math.Pi / 233
  private val kz = 2 * math.Pi / 227
  private val base = 600.0

  /** Land chunk columns: the `landShare` of (cx, cy) columns ranked highest
    * by a smooth mask, so land is spatially coherent and its share exact. */
  private val land: Array[Boolean] = {
    val cols = for (cx <- 0L until gridX; cy <- 0L until gridY) yield {
      val m = math.sin(cx * 0.7 + 6.28 * q(0)) + math.cos(cy * 0.45 + 6.28 * q(1))
      (m, cx * gridY + cy)
    }
    val nLand = (landShare * cols.size).toInt
    val out = new Array[Boolean](cols.size)
    cols.sortBy(c => (-c._1, c._2)).take(nLand).foreach(c => out(c._2.toInt) = true)
    out
  }

  def isLand(x: Long, y: Long): Boolean = {
    val cx = x / chunk; val cy = y / chunk
    cx < gridX && cy < gridY && land((cx * gridY + cy).toInt)
  }

  // value(x, y, z) = floor(base + tx(x)·ty(y) + tz + 0.05·(x + y)) with
  // tz = 25·sin(kz·z + φ(x, y)), expanded as sin(a)cos(b) + cos(a)sin(b) so
  // `bytes` can hoist each factor out of its loops. The z phase drifts
  // over x and y by more than a period, so every seed samples the whole
  // sinusoid. Both paths call `cell`, so they agree bit for bit.
  private def tx(x: Long): Double = 40.0 * math.sin(kx * x + 6.28 * p(4))
  private def ty(y: Long): Double = math.cos(ky * y)
  private def phase(x: Long, y: Long): Double = 6.28 * p(5) + 0.02 * x + 0.013 * y
  private def cell(txv: Double, tyv: Double, sa: Double, ca: Double, cb: Double, sb: Double,
      x: Long, y: Long): Short =
    math.floor(base + txv * tyv + 25.0 * (sa * cb + ca * sb) + 0.05 * (x + y)).toShort

  def value(x: Long, y: Long, z: Long): Short =
    if (isLand(x, y)) fill
    else {
      val b = phase(x, y)
      cell(tx(x), ty(y), math.sin(kz * z), math.cos(kz * z), math.cos(b), math.sin(b), x, y)
    }

  /** Row-major big-endian bytes of the box [lo, hi) — a Slab buffer. */
  def bytes(lo: Array[Long], hi: Array[Long]): Array[Byte] = {
    val nx = hi(0) - lo(0); val ny = hi(1) - lo(1); val nz = (hi(2) - lo(2)).toInt
    val out = new Array[Byte]((nx * ny * nz * 2).toInt)
    val sa = Array.tabulate(nz)(k => math.sin(kz * (lo(2) + k)))
    val ca = Array.tabulate(nz)(k => math.cos(kz * (lo(2) + k)))
    var o = 0
    var x = lo(0)
    while (x < hi(0)) {
      val txv = tx(x)
      var y = lo(1)
      while (y < hi(1)) {
        val landRow = isLand(x, y)
        val tyv = ty(y)
        val b = phase(x, y)
        val cb = math.cos(b); val sb = math.sin(b)
        var k = 0
        while (k < nz) {
          val v = if (landRow) fill else cell(txv, tyv, sa(k), ca(k), cb, sb, x, y)
          out(o) = (v >> 8).toByte; out(o + 1) = v.toByte
          o += 2; k += 1
        }
        y += 1
      }
      x += 1
    }
    out
  }

  /** Checksum of the box [lo, hi), one x-plane per parallel task. */
  def checksum(lo: Array[Long], hi: Array[Long]): Checksum =
    java.util.stream.LongStream.range(lo(0), hi(0)).parallel()
      .mapToObj[Checksum] { x =>
        val plo = Array(x, lo(1), lo(2)); val phi = Array(x + 1, hi(1), hi(2))
        Checksum.ofBytes(bytes(plo, phi), plo, phi)
      }
      .reduce(Checksum.Zero, (a: Checksum, b: Checksum) => a + b)
}

/** Order- and placement-sensitive checksum of a set of cells: the count,
  * the plain sum and a coordinate-weighted sum. The weighted sum cannot be
  * answered from per-chunk zone maps, so a read that matches it pushed
  * every cell through decode, and a cell read at the wrong coordinate
  * changes it. */
final case class Checksum(count: Long, sum: Long, wsum: Long) {
  def +(o: Checksum): Checksum = Checksum(count + o.count, sum + o.sum, wsum + o.wsum)
}

object Checksum {
  val Zero = Checksum(0, 0, 0)

  /** Weight of a cell; `weightSql` is the same expression for Spark. */
  def weight(x: Long, y: Long, z: Long): Long = 1 + x + 2 * y + 3 * z
  val weightSql = "(1 + x + 2 * y + 3 * z)"

  /** Checksum of the cells of a row-major big-endian short buffer over the
    * box [lo, hi). */
  def ofBytes(b: Array[Byte], lo: Array[Long], hi: Array[Long]): Checksum = {
    var s = 0L; var w = 0L; var o = 0
    var x = lo(0)
    while (x < hi(0)) {
      var y = lo(1)
      while (y < hi(1)) {
        var z = lo(2)
        while (z < hi(2)) {
          val v = ((b(o) << 8) | (b(o + 1) & 0xff)).toShort.toLong
          s += v; w += v * weight(x, y, z)
          o += 2; z += 1
        }
        y += 1
      }
      x += 1
    }
    Checksum((hi(0) - lo(0)) * (hi(1) - lo(1)) * (hi(2) - lo(2)), s, w)
  }
}

/** Driver-side model of a dataset's version chain: a base field plus the
  * boxes each commit overwrote, in commit order. Version i is the base
  * with writes 0 until i applied (last writer wins). */
final class VersionModel(val base: Field) {
  private val writes = scala.collection.mutable.ArrayBuffer.empty[(Field, Array[Long], Array[Long])]

  def commits: Int = writes.size
  def add(f: Field, lo: Array[Long], hi: Array[Long]): Unit = writes += ((f, lo, hi))

  /** Expected bytes of box [lo, hi) at version index `v` (0 = base). */
  def expected(v: Int, lo: Array[Long], hi: Array[Long]): Array[Byte] = {
    val out = base.bytes(lo, hi)
    val ny = hi(1) - lo(1); val nz = hi(2) - lo(2)
    var i = 0
    while (i < v) {
      val (f, wlo, whi) = writes(i)
      val a = Array.tabulate(3)(d => math.max(lo(d), wlo(d)))
      val b = Array.tabulate(3)(d => math.min(hi(d), whi(d)))
      if ((0 until 3).forall(d => a(d) < b(d))) {
        var x = a(0)
        while (x < b(0)) {
          var y = a(1)
          while (y < b(1)) {
            var z = a(2)
            var o = ((((x - lo(0)) * ny + (y - lo(1))) * nz + (z - lo(2))) * 2).toInt
            while (z < b(2)) {
              val v = f.value(x, y, z)
              out(o) = (v >> 8).toByte; out(o + 1) = v.toByte
              o += 2; z += 1
            }
            y += 1
          }
          x += 1
        }
      }
      i += 1
    }
    out
  }
}

object Gen {
  /** splitmix64 finalizer, used only to derive generator parameters. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
