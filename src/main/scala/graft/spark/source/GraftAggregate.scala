package graft.spark.source

import graft.core._
import graft.meta.DatasetMeta
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Aggregate pushdown + zone-map chunk skipping for the graft DSv2 source.
  *
  * PARTIAL aggregate pushdown (`SupportsPushDownAggregates` with
  * `supportCompletePushDown = false`): each input partition emits ONE row
  * of partial MIN/MAX/SUM/COUNT values and Spark's final aggregate merges
  * them. Partials come from three sources, cheapest first:
  *   - chunk-grid GEOMETRY (counts, dim min/max): pure arithmetic;
  *   - per-chunk zone-map stats from the index/manifest (value min/max/sum
  *     of INTERIOR chunks): no blob read;
  *   - blob decode (boundary chunks, legacy stats-less rows): the only
  *     path that touches data, an O(perimeter) fraction of a window.
  * A full-variable `SELECT min(value), max(value), count(*)` therefore
  * reads the scan manifest and index stats — MBs at the 100 TB target —
  * instead of every chunk blob. Each partition's (coord, hash, stats)
  * entries and its boundary blobs come from `ChunkSlabCursor`, the fetch
  * every pinned read shares; `SparkPinnedReader.statsAggregate` runs the
  * same three-source rule as a scan over the same partitions.
  */
private[source] object GraftAgg {
  // kinds
  val Min = 0; val Max = 1; val Sum = 2; val Count = 3
  // targets: >=0 dim index; -1 the value column; -2 count(*)
  val ValueT: Int = -1; val StarT: Int = -2

  final case class FuncSpec(kind: Int, target: Int) extends Serializable
  /** `groupDims` non-empty = GROUPED pushdown (chunked scans only): the
    * grouping keys are `_chunk_<dim>` columns (dim indices, in the query's
    * groupBy order). Each input partition is exactly one chunk there, so
    * one keyed partial row per partition IS the per-chunk group — interior
    * chunks answer from zone-map stats with zero blob decode. */
  final case class AggSpec(funcs: Seq[FuncSpec],
      groupDims: Seq[Int] = Nil) extends Serializable {
    def needsValue: Boolean = funcs.exists(f =>
      f.target == ValueT && f.kind != Count)
    def needsSum: Boolean = funcs.exists(f => f.kind == Sum && f.target == ValueT)
  }
}

/** Conservative satisfiability of pushed-residual VALUE predicates against
  * per-chunk zone-map stats: `false` only when NO cell of the chunk can
  * match (so dropping the chunk is sound under the residual row filter
  * Spark still applies); `true` whenever unknown. Spark comparison
  * semantics: NaN is greater than any non-NaN value and equal to itself. */
private[source] object StatsPredicate {

  /** Long→double bounds for pruning: exact below 2^53; above it the
    * conversion ROUNDS (to nearest), so the bound is widened by one ulp in
    * the safe direction — a rounded-down upper bound would prune a chunk
    * whose true max still matches a `> c` filter (silent missing rows).
    * Widening only costs pruning aggressiveness, never correctness. */
  private val Exact = 1L << 53
  private def loD(v: Long): Double = {
    val d = v.toDouble
    if (v >= -Exact && v <= Exact) d else Math.nextDown(d)
  }
  private def hiD(v: Long): Double = {
    val d = v.toDouble
    if (v >= -Exact && v <= Exact) d else Math.nextUp(d)
  }

  /** Chunk-level view of the stats: [lo, hi] over non-NaN cells (integral
    * stats widened to bracketing doubles — pruning only, never results),
    * plus whether any NaN cell exists. */
  def satisfiable(lo: Double, hi: Double, hasReal: Boolean, hasNaN: Boolean,
      filters: Array[Filter]): Boolean =
    filters.forall {
      case GreaterThan("value", c: Number) =>
        hasNaN || (hasReal && hi > c.doubleValue)
      case GreaterThanOrEqual("value", c: Number) =>
        hasNaN || (hasReal && hi >= c.doubleValue)
      case LessThan("value", c: Number) => hasReal && lo < c.doubleValue
      case LessThanOrEqual("value", c: Number) => hasReal && lo <= c.doubleValue
      case EqualTo("value", c: Number) =>
        val d = c.doubleValue
        if (d.isNaN) hasNaN else hasReal && lo <= d && d <= hi
      case _ => true // unsupported shape: never skip
    }

  def statsSatisfiable(st: SlabStats, filters: Array[Filter]): Boolean =
    if (st == null) true
    else if (st.lmin.isDefined)
      satisfiable(loD(st.lmin.get), hiD(st.lmax.get),
        hasReal = true, hasNaN = false, filters)
    else
      satisfiable(st.dmin.getOrElse(0.0), st.dmax.getOrElse(0.0),
        hasReal = st.dmin.isDefined, hasNaN = st.nan > 0, filters)

  def fillSatisfiable(fill: Double, filters: Array[Filter]): Boolean =
    if (fill.isNaN) satisfiable(0.0, 0.0, hasReal = false, hasNaN = true, filters)
    else satisfiable(fill, fill, hasReal = true, hasNaN = false, filters)

  /** The value-predicate shapes the skipper understands; anything else is
    * not collected (and chunk skipping just won't fire for it). */
  def supported(f: Filter): Boolean = f match {
    case GreaterThan("value", _: Number) => true
    case GreaterThanOrEqual("value", _: Number) => true
    case LessThan("value", _: Number) => true
    case LessThanOrEqual("value", _: Number) => true
    case EqualTo("value", _: Number) => true
    case _ => false
  }
}

/** The one partition of an EMPTY pushed-aggregate scan: its reader emits
  * a single (count=0, min/max/sum=null) row so Spark's bare-SUM merge of
  * COUNT partials yields 0 rather than NULL. */
private[source] case object GraftEmptyAggPartition extends InputPartition

private[source] class GraftAggReaderFactory(metaJson: String, variable: String,
    request: Slice, spec: GraftAgg.AggSpec) extends PartitionReaderFactory {
  // constructed on the DRIVER (createReaderFactory), so capture the
  // session's resolved Hadoop conf here (as a broadcast — the factory
  // deserializes per task) and install it before any executor-side
  // manifest/blob parquet read — same conf-faithfulness contract as the
  // scan and staged-write factories
  private val hconfBc = graft.spark.StoreFs.broadcastConf()
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    graft.spark.StoreFs.installExecutorConf(hconfBc.value)
    new GraftAggPartitionReader(p, metaJson, variable, request, spec)
  }
}

/** Aggregate rows per input partition: ONE partial row in global mode;
  * in GROUPED mode (group keys = `_chunk_*` columns) one row PER CHUNK —
  * chunks are whole groups, so partitions pack many chunks and the rows
  * are final (complete pushdown) or subset-key partials. */
private[source] class GraftAggPartitionReader(part: InputPartition,
    metaJson: String, variable: String, request: Slice, spec: GraftAgg.AggSpec)
    extends PartitionReader[InternalRow] {
  import GraftAgg._

  private val meta = DatasetMeta.fromJson(metaJson)
  private val dtype = meta.dtype(variable)
  private val fill = meta.fill(variable)
  private val rank = request.rank
  private val isFloat = dtype == DType.FLOAT || dtype == DType.DOUBLE

  /** Accumulator for one output row: the whole partition (global mode) or
    * one chunk (grouped mode). */
  private final class Acc {
    var cells = 0L
    var lmin = Long.MaxValue
    var lmax = Long.MinValue
    var lsum = 0L // wrapping, like Spark's non-ANSI sum(long)
    var dmin = Double.PositiveInfinity
    var dmax = Double.NegativeInfinity
    var sawReal = false
    var sawNaN = false
    val dimMin = Array.fill(rank)(Long.MaxValue)
    val dimMax = Array.fill(rank)(Long.MinValue)

    def accumGeometry(s: Array[Long], e: Array[Long], n: Long): Unit = {
      cells += n
      var i = 0
      while (i < rank) {
        if (s(i) < dimMin(i)) dimMin(i) = s(i)
        if (e(i) - 1 > dimMax(i)) dimMax(i) = e(i) - 1
        i += 1
      }
    }

    def accumValueStats(st: SlabStats): Unit = {
      if (st.lmin.isDefined) {
        if (st.lmin.get < lmin) lmin = st.lmin.get
        if (st.lmax.get > lmax) lmax = st.lmax.get
        // lsum is only consumed when a SUM was pushed — a min/max-only
        // aggregate must not demand it (lsum is None after ingest-time
        // overflow; the needsSum path re-sums such chunks from the blob)
        if (spec.needsSum)
          lsum += st.lsum.getOrElse(
            throw new IllegalStateException("sum-from-stats needs a defined lsum"))
      } else {
        st.dmin.foreach { v => sawReal = true; if (v < dmin) dmin = v }
        st.dmax.foreach { v => if (v > dmax) dmax = v }
        if (st.nan > 0) sawNaN = true
      }
    }

    def accumFill(n: Long): Unit =
      if (isFloat) {
        if (fill.isNaN) sawNaN = true
        else { sawReal = true; if (fill < dmin) dmin = fill; if (fill > dmax) dmax = fill }
      } else {
        val fl = fill.toLong
        if (fl < lmin) lmin = fl
        if (fl > lmax) lmax = fl
        lsum += fl * n // wrapping, like Spark
      }

    def row(groupCoord: Array[Long]): InternalRow = {
      val groupVals: Array[Any] =
        if (groupCoord == null) Array.empty
        else spec.groupDims.map(i => groupCoord(i): Any).toArray
      val vals: Array[Any] = groupVals ++ spec.funcs.map { f =>
        (f.kind, f.target) match {
          case (Count, _) => cells
          case (Min, i) if i >= 0 => dimMin(i)
          case (Max, i) if i >= 0 => dimMax(i)
          case (Sum, ValueT) => lsum
          case (Min, ValueT) if !isFloat => typedValue(lmin)
          case (Max, ValueT) if !isFloat => typedValue(lmax)
          case (Min, ValueT) =>
            typedValue(if (sawReal) dmin else Double.NaN)
          case (Max, ValueT) =>
            typedValue(if (sawNaN) Double.NaN else if (sawReal) dmax
            else Double.NaN)
          case other => throw new IllegalStateException(s"bad agg spec $other")
        }
      }.toArray
      new GenericInternalRow(vals)
    }
  }

  /** Wrapped cell sum of a slab — Spark's non-ANSI sum(long) wraps, so a
    * chunk whose exact stats sum overflowed (lsum null) is re-summed with
    * plain wrapping adds for bit-parity with a full scan. */
  private def wrappedSum(slab: Slab): Long = {
    val bb = java.nio.ByteBuffer.wrap(slab.bytes)
    val n = slab.volume.toInt
    var s = 0L; var i = 0
    dtype match {
      case DType.BYTE => while (i < n) { s += slab.bytes(i); i += 1 }
      case DType.CHAR => while (i < n) { s += (bb.getShort(i * 2) & 0xffff); i += 1 }
      case DType.SHORT => while (i < n) { s += bb.getShort(i * 2); i += 1 }
      case DType.INT => while (i < n) { s += bb.getInt(i * 4); i += 1 }
      case _ => while (i < n) { s += bb.getLong(i * 8); i += 1 }
    }
    s
  }

  private lazy val rows: Iterator[InternalRow] =
    if (part == GraftEmptyAggPartition)
      Iterator.single(new GenericInternalRow(spec.funcs.map { f =>
        if (f.kind == Count) 0L else null
      }.toArray[Any]))
    else {
      val cursor = new ChunkSlabCursor(part, metaJson, variable, request)
      val window = cursor.window
      val global = spec.groupDims.isEmpty
      // one Acc per output row: the whole partition (global) or each chunk
      // (grouped: chunks are whole groups); blob decodes batched across
      // the partition
      val out = scala.collection.mutable.ArrayBuffer.empty[(Array[Long], Acc)]
      val decode = scala.collection.mutable.ArrayBuffer
        .empty[((Array[Long], String, SlabStats), Acc)]
      cursor.entries.foreach { case entry @ (coord, hash, st) =>
        val clip = window.clip(coord)
        val acc =
          if (global && out.nonEmpty) out.head._2
          else { val a = new Acc; out += ((coord, a)); a }
        acc.accumGeometry(clip.start, clip.stop, clip.cells)
        if (spec.needsValue) {
          if (hash == null) acc.accumFill(clip.cells)
          else if (st != null && clip.interior &&
            !(spec.needsSum && !isFloat && st.lsum.isEmpty)) acc.accumValueStats(st)
          else decode += ((entry, acc))
        }
      }
      val bytes = cursor.blobs(decode.map(_._1))
      decode.foreach { case ((coord, hash, _), acc) =>
        val clipped = cursor.clippedSlab(coord, bytes(hash))
        val st = clipped.stats
        if (spec.needsSum && !isFloat && st.lsum.isEmpty)
          acc.accumValueStats(st.copy(lsum = Some(wrappedSum(clipped))))
        else acc.accumValueStats(st)
      }
      out.iterator.map { case (coord, acc) => acc.row(if (global) null else coord) }
    }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  private def typedValue(v: Long): Any = dtype match {
    case DType.BYTE => v.toByte
    case DType.SHORT => v.toShort
    case DType.INT | DType.CHAR => v.toInt
    case _ => v
  }
  private def typedValue(v: Double): Any =
    if (dtype == DType.FLOAT) v.toFloat else v

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
