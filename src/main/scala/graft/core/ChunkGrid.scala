package graft.core

/** Chunk-grid coordinate math (reference: src/io/mandoline/chunk.clj:11-33).
  * The chunk grid of a variable is expressed — as in the reference — as a
  * Slice whose `step` holds the per-axis chunk extent and whose
  * `start`/`stop` hold the variable extent
  * (reference: src/io/mandoline/variable.clj:49-56).
  */
object ChunkGrid {

  /** All chunk-grid coordinates covered by `slice`
    * (reference: chunk.clj:11-25 — per-axis distinct floor(x/extent) over
    * the stepped range, cartesian product, row-major order). */
  def toChunkCoordinates(slice: Slice, grid: Slice): Vector[Vector[Long]] = {
    require(slice.rank == grid.rank)
    if (slice.rank == 0) return Vector(Vector.empty)
    val perAxis: Vector[Vector[Long]] = Vector.tabulate(slice.rank) { i =>
      val ext = grid.step(i)
      if (slice.step(i) == 1L) {
        val lo = Math.floorDiv(slice.start(i), ext)
        val hi = Math.floorDiv(slice.stop(i) - 1, ext)
        (lo to hi).toVector
      } else {
        // stepped range: walk it (rare path; reference does the same walk)
        (slice.start(i) until slice.stop(i) by slice.step(i))
          .map(Math.floorDiv(_, ext)).distinct.toVector
      }
    }
    cartesian(perAxis)
  }

  /** Chunk coordinate → its data-space slice. NOT cropped at the variable
    * edge — boundary chunks overhang and hold fill in the overhang
    * (reference: chunk.clj:27-33, variable.clj:58-74). */
  def fromChunkCoordinate(grid: Slice, coord: Seq[Long]): Slice = {
    require(coord.size == grid.rank)
    Slice(
      Vector.tabulate(grid.rank)(i => coord(i) * grid.step(i)),
      Vector.tabulate(grid.rank)(i => (coord(i) + 1) * grid.step(i)))
  }

  private def cartesian(axes: Vector[Vector[Long]]): Vector[Vector[Long]] =
    axes.foldLeft(Vector(Vector.empty[Long])) { (acc, axis) =>
      acc.flatMap(prefix => axis.map(prefix :+ _))
    }
}

/** The chunks a step-1 `request` covers on a chunk grid (reference:
  * chunk.clj:11-25): per axis the first covering chunk `lo(i)`, the last
  * `hi(i)` and the count `counts(i)`, with the covered chunks numbered
  * row-major by a linear id in [0, size). Built once per (request, grid)
  * and shipped to executors inside input partitions — the one place the
  * read path turns a request into chunk coordinates. */
final class ChunkWindow(request: Slice, grid: Slice) extends Serializable {
  require(request.rank == grid.rank)
  val rank: Int = request.rank
  private val steps: Array[Long] = grid.step.toArray
  val lo: Array[Long] = Array.tabulate(rank)(i => Math.floorDiv(request.start(i), steps(i)))
  val hi: Array[Long] = Array.tabulate(rank)(i => Math.floorDiv(request.stop(i) - 1, steps(i)))
  val counts: Array[Long] = Array.tabulate(rank)(i => math.max(0L, hi(i) - lo(i) + 1))

  /** Covering-chunk count, saturating at Long.MaxValue. */
  val size: Long = counts.foldLeft(1L) { (acc, d) =>
    if (acc != 0L && d > Long.MaxValue / acc) Long.MaxValue else acc * d }

  /** Chunk coordinate of linear id `linear`. */
  def coordOf(linear: Long): Array[Long] = {
    val c = new Array[Long](rank)
    var rem = linear; var i = rank - 1
    while (i >= 0) { c(i) = lo(i) + rem % counts(i); rem /= counts(i); i -= 1 }
    c
  }

  /** Linear id of a covered chunk coordinate (inverse of [[coordOf]]). */
  def linearOf(coord: Array[Long]): Long = {
    var l = 0L; var i = 0
    while (i < rank) { l = l * counts(i) + (coord(i) - lo(i)); i += 1 }
    l
  }

  def contains(coord: Array[Long]): Boolean =
    (0 until rank).forall(i => coord(i) >= lo(i) && coord(i) <= hi(i))

  /** Every covered chunk coordinate, in linear-id order. */
  def coords: Iterator[Array[Long]] = (0L until size).iterator.map(coordOf)

  /** Chunk `coord` clipped to the request. */
  def clip(coord: Array[Long]): ChunkWindow.Clip = {
    val s = new Array[Long](rank); val e = new Array[Long](rank)
    var n = 1L; var interior = true
    var i = 0
    while (i < rank) {
      val c0 = coord(i) * steps(i); val c1 = c0 + steps(i)
      s(i) = math.max(c0, request.start(i)); e(i) = math.min(c1, request.stop(i))
      if (s(i) != c0 || e(i) != c1) interior = false
      n *= math.max(e(i) - s(i), 0L)
      i += 1
    }
    ChunkWindow.Clip(s, e, n, interior)
  }
}

object ChunkWindow {
  /** A chunk's part of the request: [start, stop), its cell count, and
    * whether the whole chunk lies inside the request (`interior`). */
  final case class Clip(start: Array[Long], stop: Array[Long], cells: Long,
      interior: Boolean)
}
