package graft.spark.source

import graft.core._
import graft.filters.FilterChain
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.{PointKeys, SparkPinnedReader, SparkStore, StoreFs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSourceV2 read path for graft variables:
  *
  * {{{
  * spark.read.format("graft")
  *   .option("root", "/data/graft-root")
  *   .option("dataset", "climate").option("variable", "temp")
  *   .option("version", "1786…")           // optional; default latest
  *   .load()
  *   .filter($"lat" >= 10 && $"lat" < 20)  // pushed down → chunk pruning
  * }}}
  *
  * Range predicates on dimension columns are pushed into the scan and
  * compiled to a narrowed hyperslab (the array analog of partition
  * pruning, reference: io/mandoline.clj:250-256). Planning resolves the
  * MVCC index once on the driver; each input partition owns a group of
  * chunks and reads their blobs straight from the chunk parquet files
  * with hash-range row-group pruning (blobs are written hash-sorted).
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSource.resolve(options.asScala.toMap).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    // Spark hands getTable the ORIGINAL-case option map (unlike
    // inferSchema's CaseInsensitiveStringMap) — normalize, or a user's
    // `.option("Version", …)` would silently read the LATEST version here
    // after inferSchema resolved the pinned one
    new GraftTable(properties.asScala.toMap.map {
      case (k, v) => (k.toLowerCase(java.util.Locale.ROOT), v)
    })
}

private[spark] final case class Resolved(store: SparkStore, meta: DatasetMeta,
    dataset: String, variable: String, chunked: Boolean = false,
    create: Boolean = false) { // meta is a PROPOSED definition, not committed
  def dims: Vector[String] = meta.variables(variable).shape
  /** `chunked=true` scans additionally expose one `_chunk_<dim>` column per
    * axis — the chunk-grid coordinate `floorDiv(dim, chunkDim)` — and key
    * every input partition by it (see GraftScan.outputPartitioning). */
  def schema: StructType = StructType(
    dims.map(d => StructField(d, LongType, nullable = false)) ++
      (if (chunked) dims.map(d =>
        StructField(s"_chunk_$d", LongType, nullable = false)) else Nil) :+
      StructField("value", meta.dtype(variable).sparkType, nullable = false))
}

private[source] object GraftSource {
  def resolve(options: Map[String, String]): Resolved = {
    def req(k: String) = options.getOrElse(k,
      throw new IllegalArgumentException(s"graft source requires option '$k'"))
    val spark = SparkSession.active
    val store = new SparkStore(spark, req("root"))
    val dataset = req("dataset")
    val variable = req("variable")
    val chunked = options.get("chunked").exists(_.toBoolean)
    val create = options.get("create").exists(_.toBoolean)
    // lazy: only the create path consults it — a plain read (explicit
    // version or latest) must not pay a full fork-resolved listing here
    // on top of its own resolution below
    lazy val committed =
      store.datasetExists(dataset) && store.versions(dataset).nonEmpty
    if (create && !committed) {
      // fresh dataset: the definition comes from the options and is
      // validated by the same Meta matrix a programmatic create runs
      val meta = metaFromOptions(options, variable)
      DatasetMeta.validate(meta)
      require(meta.variables.contains(variable),
        s"graft write: the supplied metadata defines no variable '$variable'")
      return Resolved(store, meta, dataset, variable, chunked, create = true)
    }
    val meta = options.get("version").map(_.toLong) match {
      case Some(v) =>
        // point-GET resolution + parent-chain orphan walk (never the
        // listing): a rolled-back branch stays unreadable by vid, while
        // a lagging listing can't spuriously refuse a fresh commit
        store.committedMetadata(dataset, v)
      case None =>
        // the listing's parsed manifest is reused — no re-GET/re-parse
        val vs = store.listedManifests(dataset)
        require(vs.nonEmpty, s"dataset $dataset has no committed versions")
        vs.head._3
    }
    val vid = meta.versionId.get
    require(meta.variables.contains(variable),
      s"no variable '$variable' in dataset $dataset at version $vid")
    if (create) attestDefinition(options, variable, meta)
    Resolved(store, meta, dataset, variable, chunked)
  }

  /** create-if-absent against an EXISTING dataset: every definition
    * option the caller actually SUPPLIED must agree with the committed
    * definition — silently ignoring a conflicting definition would let
    * two writers disagree about what the variable IS. Omitted options are
    * not attested (so an idempotent retry that passes only `dims` isn't
    * rejected over the defaulted type/fill). */
  private[source] def attestDefinition(options: Map[String, String],
      variable: String, committed: DatasetMeta): Unit = {
    options.get("metadata").foreach(json =>
      DatasetMeta.inherit(DatasetMeta.fromJson(json), committed))
    options.get("dims").foreach { _ =>
      val m = metaFromOptions(options - "metadata", variable)
      m.dimensions.foreach { case (k, ext) =>
        committed.dimensions.get(k).foreach(p => require(p == ext,
          s"graft write: dimension '$k' is $p in the dataset, supplied as $ext")) }
      m.chunkDimensions.foreach { case (k, c) =>
        committed.chunkDimensions.get(k).foreach(p => require(p == c,
          s"graft write: chunk-dimension '$k' is $p in the dataset, supplied as $c")) }
      committed.variables.get(variable).foreach { cv =>
        require(cv.shape == m.variables(variable).shape,
          s"graft write: variable '$variable' has shape ${cv.shape.mkString(",")}, " +
            s"supplied ${m.variables(variable).shape.mkString(",")}")
      }
    }
    committed.variables.get(variable).foreach { cv =>
      options.get("type").foreach(t => require(t == cv.typeName,
        s"graft write: variable '$variable' is ${cv.typeName}, supplied as $t"))
      options.get("fill").foreach(f =>
        require(DatasetMeta.nanEq(f.toDouble, cv.fillValue),
          s"graft write: variable '$variable' has fill ${cv.fillValue}, " +
            s"supplied as $f"))
    }
  }

  /** Dataset definition from write options — either `metadata` (the
    * reference's dataset JSON, verbatim) or the convenience triple form
    * `dims` = "name:extent:chunkExtent,…" with `type` (default double) and
    * `fill` (default NaN). */
  private[source] def metaFromOptions(options: Map[String, String],
      variable: String): DatasetMeta =
    options.get("metadata") match {
      case Some(json) => DatasetMeta.fromJson(json)
      case None =>
        val dims = options.getOrElse("dims", throw new IllegalArgumentException(
          "graft write with create=true against a fresh dataset needs a " +
            "definition: either .option(\"metadata\", <dataset JSON>) or " +
            ".option(\"dims\", \"name:extent:chunkExtent,…\") " +
            "[+ .option(\"type\", …), .option(\"fill\", …)]"))
        val triples = dims.split(',').toVector.map { part =>
          part.split(':') match {
            case Array(n, e, c) => (n.trim, e.trim.toLong, c.trim.toLong)
            case _ => throw new IllegalArgumentException(
              s"graft write: bad dims entry '$part' — want name:extent:chunkExtent")
          }
        }
        val fill = options.get("fill").map(_.toDouble).getOrElse(Double.NaN)
        DatasetMeta(
          dimensions = triples.map(t => t._1 -> t._2).toMap,
          chunkDimensions = triples.map(t => t._1 -> t._3).toMap,
          variables = Map(variable -> VariableDef(
            options.getOrElse("type", "double"), triples.map(_._1), fill)))
    }
}

/** Read-only table over a pin its caller already resolved — a
  * `SparkPinnedReader`'s store handle and manifest. The scan then
  * resolves through THAT handle's verified chain, so the reader's
  * snapshot (a pin taken before a rollback keeps reading) and the expire
  * tripwire govern it like every other read of the reader; the `version`
  * option would re-resolve through a fresh handle instead. */
private[spark] final class PinnedGraftTable(r: Resolved)
    extends Table with SupportsRead {
  override def name(): String = s"graft:${r.dataset}/${r.variable}"
  override def schema(): StructType = r.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(r)
}

private[source] class GraftTable(options: Map[String, String])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private lazy val resolved = GraftSource.resolve(options)

  /** SQL `DELETE FROM …` for a dense versioned array: deleting a region
    * means "reads return fill there" — committed as a NEW version whose
    * write is a fill-valued slab over the predicate's envelope (MVCC
    * append-only; time travel below still sees the data, vacuum after
    * expireHistory reclaims it). Only predicates that EXACTLY describe a
    * hyper-rectangle (conjunctions of dim range/equality) are accepted —
    * anything else must be rejected up front or the fill write would
    * delete a superset. */
  private def deleteEnvelope(filters: Array[Filter]): Option[(Array[Long], Array[Long])] = {
    val r = resolved
    val dims = r.dims
    val lo = Array.fill(dims.size)(0L)
    val hi = dims.map(r.meta.dimensions(_)).toArray
    val ok = filters.forall {
      case GreaterThan(a, v: Number) if dims.contains(a) =>
        val i = dims.indexOf(a)
        lo(i) = math.max(lo(i), GraftScanBuilder.incSat(v.longValue)); true
      case GreaterThanOrEqual(a, v: Number) if dims.contains(a) =>
        val i = dims.indexOf(a); lo(i) = math.max(lo(i), v.longValue); true
      case LessThan(a, v: Number) if dims.contains(a) =>
        val i = dims.indexOf(a); hi(i) = math.min(hi(i), v.longValue); true
      case LessThanOrEqual(a, v: Number) if dims.contains(a) =>
        val i = dims.indexOf(a)
        hi(i) = math.min(hi(i), GraftScanBuilder.incSat(v.longValue)); true
      case EqualTo(a, v: Number) if dims.contains(a) =>
        val i = dims.indexOf(a)
        lo(i) = math.max(lo(i), v.longValue)
        hi(i) = math.min(hi(i), GraftScanBuilder.incSat(v.longValue)); true
      case _ => false
    }
    if (ok) Some((lo, hi)) else None
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deleteEnvelope(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (lo, hi) = deleteEnvelope(filters).getOrElse(throw
      new UnsupportedOperationException(
        "graft DELETE supports only conjunctions of dimension " +
          "range/equality predicates (a hyper-rectangular region)"))
    if ((0 until lo.length).exists(i => lo(i) >= hi(i))) return // empty region
    val r = resolved
    val vs = r.store.versions(r.dataset)
    require(vs.nonEmpty, s"dataset ${r.dataset} has no committed versions")
    val w = r.store.addVersion(r.dataset,
      r.store.metadata(r.dataset, vs.head._2))
    val rank = lo.length
    if (rank == 0) {
      w.write(r.variable, Seq(graft.core.Slab.empty(
        r.meta.dtype(r.variable),
        graft.core.Slice(Seq.empty[Long], Seq.empty[Long]),
        r.meta.fill(r.variable))))
    } else {
      // fill rows are generated ON EXECUTORS, one per covering chunk
      // (clipped to the envelope) — a 100 TB-region delete never builds
      // a region-sized buffer on the driver, and all-fill chunk blobs
      // content-dedup to one blob in the store
      val window = new ChunkWindow(Slice(lo.toVector, hi.toVector),
        r.meta.chunkGridSlice(r.variable))
      val dtName = r.meta.dtype(r.variable).name
      val fillV = r.meta.fill(r.variable)
      val spark = SparkSession.active
      import spark.implicits._
      val slabRows = spark.range(window.size).map { linear =>
        val c = window.clip(window.coordOf(linear))
        val slab = graft.core.Slab.empty(graft.core.DType(dtName),
          graft.core.Slice(c.start.toIndexedSeq, c.stop.toIndexedSeq), fillV)
        (c.start, c.stop, slab.bytes, linear.longValue)
      }.toDF("start", "stop", "bytes", "seq")
      w.writeRows(r.variable, slabRows)
    }
    w.finishVersion()
    ()
  }
  /** SQL `UPDATE` / `MERGE INTO` / value-predicate `DELETE` — see
    * [[GraftRowLevelOperation]]. Rectangular DELETEs still resolve to the
    * scan-free `deleteWhere` above via Spark's metadata-only-delete
    * optimization; everything else scans matched rows and commits cell
    * deltas (deletes as fill) through the ordinary distributed write. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!options.contains("version"),
      "graft DML: the 'version' option is read-only time travel; " +
        "row-level operations always commit a NEW version on top of the latest")
    new GraftRowLevelOperationBuilder(options, info)
  }

  override def name(): String =
    s"graft:${options.getOrElse("dataset", "?")}/${options.getOrElse("variable", "?")}"
  override def schema(): StructType = resolved.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(resolved, o.asScala.toMap)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!options.contains("version"),
      "graft write: the 'version' option is read-only time travel; " +
        "writes always commit a NEW version on top of the latest")
    new GraftWriteBuilder(resolved)
  }
}

/** Write side of `format("graft")`: the exploded-cell DataFrame
  * (dim₁, …, dimₙ, value) commits as ONE NEW VERSION of the variable.
  *
  * Implemented as a V1Write bridge deliberately: graft's ingest is a
  * whole-plan operation (cells shred to chunk fragments, ONE cogroup
  * shuffle gives each chunk a single read-modify-write owner, then
  * content-dedup'd appends — `SparkVersionWriter.writeRows`). Independent
  * per-partition DataWriters could not merge concurrent cell writes to
  * one chunk without re-creating that shuffle; the bridge hands us the
  * whole DataFrame to route through the existing distributed plan.
  * SaveMode.Append and Overwrite behave identically (MVCC versions are
  * append-only; the new version shadows written coordinates). */
private[source] class GraftWriteBuilder(r: Resolved,
    replace: Boolean = false)
    extends WriteBuilder with SupportsTruncate {
  // INSERT OVERWRITE: still an MVCC append (no data is destroyed), but
  // the committed version carries a per-variable REPLACE barrier — older
  // overlays of THIS variable stop resolving at-or-after it, unwritten
  // regions read fill, other variables and time travel are untouched
  override def truncate(): WriteBuilder = new GraftWriteBuilder(r, replace = true)
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
            overwrite: Boolean): Unit =
          GraftCellIngest.ingest(r, data, replace = replace)
      }
  }
}

private[source] object GraftCellIngest {
  /** Max cells per assembled run-slab (bounds executor buffer memory). */
  val MaxRunCells = 1 << 16

  /** Route an exploded-cell DataFrame through the distributed write path.
    * Cells are locally sorted and coalesced into contiguous runs along the
    * LAST axis (dense frames — the common shape, e.g. re-ingesting a
    * transformed exploded view — become long slab rows instead of
    * per-cell fragments); the one-shuffle cogroup in writeRows then
    * merges runs onto base chunks. */
  def ingest(r: Resolved, data: org.apache.spark.sql.DataFrame,
      replace: Boolean = false): Unit = {
    val dims = r.dims
    val rank = dims.length
    val variable = r.variable
    val dtype = r.meta.dtype(variable)
    val varSlice = r.meta.varSlice(variable)
    val spark = data.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val missing = (dims :+ "value").filterNot(data.columns.contains)
    require(missing.isEmpty,
      s"graft write: input is missing column(s) ${missing.mkString(", ")} — " +
        s"expected (${(dims :+ "value").mkString(", ")})")
    // a dense array has no representation for null cells or coordinates —
    // reject them with the offending column named, instead of an opaque
    // unboxing NPE deep inside an executor task
    val guardedCols = (dims :+ "value").map { c =>
      val tpe = if (c == "value") dtype.sparkType else LongType
      val cast = col(c).cast(tpe)
      org.apache.spark.sql.functions.when(cast.isNull,
        org.apache.spark.sql.functions.raise_error(org.apache.spark.sql.functions.lit(
          s"graft write: null in column '$c' — dense arrays cannot hold null " +
            (if (c == "value") "cells" else "coordinates"))).cast(tpe))
        .otherwise(cast).as(c)
    }
    val cells = data.select(guardedCols: _*)
    val sorted = if (rank == 0) cells else cells.sortWithinPartitions(dims.map(col): _*)
    val dtName = dtype.name
    val es = dtype.size
    val lo = varSlice.start.toArray
    val hi = varSlice.stop.toArray
    val slabRows = sorted.mapPartitions { rows =>
      val dt = graft.core.DType(dtName)
      new Iterator[(Array[Long], Array[Long], Array[Byte], Long)] {
        private var runStart: Array[Long] = _
        private var runBuf: java.io.ByteArrayOutputStream = _
        private var runLen = 0
        private var pendingRow: org.apache.spark.sql.Row = _

        private def cellBytes(row: org.apache.spark.sql.Row): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(es) // big-endian
          dt match {
            case graft.core.DType.BYTE => bb.put(row.getByte(rank))
            case graft.core.DType.SHORT => bb.putShort(row.getShort(rank))
            case graft.core.DType.CHAR => bb.putShort(row.getInt(rank).toShort)
            case graft.core.DType.INT => bb.putInt(row.getInt(rank))
            case graft.core.DType.LONG => bb.putLong(row.getLong(rank))
            case graft.core.DType.FLOAT => bb.putFloat(row.getFloat(rank))
            case graft.core.DType.DOUBLE => bb.putDouble(row.getDouble(rank))
          }
          bb.array()
        }
        private def coordOf(row: org.apache.spark.sql.Row): Array[Long] = {
          val c = new Array[Long](rank)
          var i = 0
          while (i < rank) {
            c(i) = row.getLong(i)
            if (c(i) < lo(i) || c(i) >= hi(i))
              throw new IndexOutOfBoundsException(
                s"graft write: cell ${c.toSeq} outside the variable extent " +
                  s"[${lo.toSeq} … ${hi.toSeq})")
            i += 1
          }
          c
        }
        private def continuesRun(c: Array[Long]): Boolean = {
          if (runStart == null || runLen >= MaxRunCells) return false
          var i = 0
          while (i < rank - 1) { if (c(i) != runStart(i)) return false; i += 1 }
          rank == 0 || c(rank - 1) == runStart(rank - 1) + runLen
        }
        private def emit(): (Array[Long], Array[Long], Array[Byte], Long) = {
          val stop = runStart.clone()
          if (rank > 0) stop(rank - 1) = runStart(rank - 1) + runLen
          val out = (runStart,
            if (rank == 0) Array.empty[Long]
            else runStart.indices.map(i => if (i == rank - 1) stop(i) else runStart(i) + 1).toArray,
            runBuf.toByteArray, 0L)
          runStart = null; runBuf = null; runLen = 0
          out
        }

        def hasNext: Boolean = pendingRow != null || rows.hasNext || runStart != null
        def next(): (Array[Long], Array[Long], Array[Byte], Long) = {
          while (true) {
            val row = if (pendingRow != null) { val p = pendingRow; pendingRow = null; p }
              else if (rows.hasNext) rows.next()
              else return emit() // flush trailing run
            val c = coordOf(row)
            if (rank == 0) { // scalar: one run per row
              runStart = c; runBuf = new java.io.ByteArrayOutputStream(es)
              runBuf.write(cellBytes(row)); runLen = 1
              return emit()
            } else if (continuesRun(c)) {
              runBuf.write(cellBytes(row)); runLen += 1
            } else if (runStart == null) {
              runStart = c; runBuf = new java.io.ByteArrayOutputStream(64)
              runBuf.write(cellBytes(row)); runLen = 1
            } else { // run break: emit, reprocess this row next call
              pendingRow = row
              return emit()
            }
          }
          throw new IllegalStateException("unreachable")
        }
      }
    }.toDF("start", "stop", "bytes", "seq")
    def open(base: DatasetMeta) =
      if (replace) r.store.addReplaceVersion(r.dataset, base, variable)
      else r.store.addVersion(r.dataset, base)
    val w =
      if (r.create) {
        // create-if-absent: dataset + v1 in one shot from the proposed
        // definition (already Meta-matrix-validated at resolve; addVersion
        // re-validates). Race-safe: losing the create() race to a
        // concurrent first writer is benign, and if a first version
        // COMMITTED between resolve and here, the proposed definition is
        // re-attested against it — this writer's cell bytes were encoded
        // with the proposed dtype/extent, so a silent fall-through onto a
        // conflicting definition would commit garbage. The parent CAS in
        // finishVersion still rejects same-definition commit races.
        if (!r.store.datasetExists(r.dataset))
          try r.store.create(r.dataset)
          catch { case _: IllegalStateException => () } // lost the race
        r.store.versions(r.dataset).headOption match {
          case None => open(r.meta)
          case Some((_, vid)) =>
            val latest = r.store.metadata(r.dataset, vid)
            DatasetMeta.inherit(r.meta, latest) // frozen attrs must agree
            require(r.meta.dimensions == latest.dimensions,
              s"graft write: dataset ${r.dataset} was committed concurrently " +
                s"with extent ${latest.dimensions} != proposed ${r.meta.dimensions}")
            open(latest)
        }
      } else {
        val vs = r.store.versions(r.dataset)
        require(vs.nonEmpty, s"dataset ${r.dataset} has no committed versions")
        open(r.store.metadata(r.dataset, vs.head._2))
      }
    w.writeRows(variable, slabRows)
    w.finishVersion()
    ()
  }
}

private[source] object GraftScanBuilder {
  /** Saturating `v + 1` for exclusive upper bounds: `v + 1` on
    * Long.MaxValue wraps to MinValue and flips a tautological `<=` into
    * an empty scan (or drops rows from an IN envelope). Coordinates are
    * always < Long.MaxValue, so saturation only widens — sound. */
  def incSat(v: Long): Long = if (v == Long.MaxValue) v else v + 1
}

private[source] class GraftScanBuilder(r: Resolved,
    scanOptions: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private val dims = r.dims
  private var lo: Array[Long] = Array.fill(dims.size)(0L)
  private var hi: Array[Long] = dims.map(r.meta.dimensions(_)).toArray // exclusive
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = r.schema
  private var valueFilters: Array[Filter] = Array.empty
  private var aggSpec: Option[GraftAgg.AggSpec] = None
  private var limit: Option[Int] = None

  private def dimIdx(attr: String): Int = dims.indexOf(attr)

  /** Accept >=, >, <=, <, = on dimension columns; everything else stays
    * post-scan. Each accepted filter narrows the request hyperslab.
    *
    * `In(dim, values)` ALSO narrows — to the values' envelope
    * [min, max+1) — but that is a sound SUPERSET of the matching cells
    * (IN (3, 97) still excludes 4..96), so unlike the range shapes it is
    * returned as a residual too: the scan prunes to covering chunks, Spark
    * re-applies exact membership above it. Same narrowing the runtime-
    * filter path does for dynamic pruning, now at build time. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThan(a, _: Number) => dimIdx(a) >= 0
      case GreaterThanOrEqual(a, _: Number) => dimIdx(a) >= 0
      case LessThan(a, _: Number) => dimIdx(a) >= 0
      case LessThanOrEqual(a, _: Number) => dimIdx(a) >= 0
      case EqualTo(a, _: Number) => dimIdx(a) >= 0
      case _ => false
    }
    accepted.foreach {
      case GreaterThan(a, v: Number) =>
        val i = dimIdx(a); lo(i) = math.max(lo(i), GraftScanBuilder.incSat(v.longValue))
      case GreaterThanOrEqual(a, v: Number) =>
        val i = dimIdx(a); lo(i) = math.max(lo(i), v.longValue)
      case LessThan(a, v: Number) =>
        val i = dimIdx(a); hi(i) = math.min(hi(i), v.longValue)
      case LessThanOrEqual(a, v: Number) =>
        val i = dimIdx(a); hi(i) = math.min(hi(i), GraftScanBuilder.incSat(v.longValue))
      case EqualTo(a, v: Number) =>
        val i = dimIdx(a)
        lo(i) = math.max(lo(i), v.longValue)
        hi(i) = math.min(hi(i), GraftScanBuilder.incSat(v.longValue))
      case _ =>
    }
    val inFilters = rejected.collect {
      case f @ In(a, vs) if dimIdx(a) >= 0 && vs.nonEmpty => f
    }
    inFilters.foreach { case In(a, vsRaw) =>
      // non-numeric/null elements never match a long dim — ignoring them
      // for the envelope only widens it (sound)
      val vs = vsRaw.collect { case n: Number => n.longValue }
      val i = dimIdx(a)
      if (vs.nonEmpty) {
        lo(i) = math.max(lo(i), vs.min)
        hi(i) = math.min(hi(i), GraftScanBuilder.incSat(vs.max))
      } else hi(i) = lo(i) // only null/non-numeric values: nothing matches
    case _ =>
    }
    pushed = accepted ++ inFilters
    // residual VALUE predicates: not pushed (Spark re-applies them above
    // the scan) but recorded for zone-map chunk SKIPPING — partitions whose
    // stats prove no cell can match are never planned/fetched
    valueFilters = rejected.filter(StatsPredicate.supported)
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL aggregate pushdown: MIN/MAX/COUNT over dims or value, SUM
    * over an integral value. Two shapes:
    *  - global (no group-by), default scans: each partition emits one
    *    partial row merged by Spark's final aggregate;
    *  - grouped BY the `_chunk_*` columns, `chunked=true` scans: each
    *    partition is exactly one chunk, so it emits one KEYED partial row
    *    — per-chunk zone-map stats already ARE the groupBy(_chunk_*)
    *    answer, and interior chunks decode no blob. Combined with the
    *    scan's KeyGroupedPartitioning the final merge needs no Exchange.
    * Spark only attempts agg pushdown when every filter was fully pushed,
    * so agg partials never coexist with residual value predicates. Float
    * SUM stays un-pushed: a partial float sum is order-dependent in ANY
    * engine, but refusing keeps the pushed plan bit-identical to the
    * unpushed one. */
  /** Parse a V2 Aggregation into our spec, or None if any piece is
    * unsupported. Grouping keys must be `_chunk_<dim>` references (any
    * order, any subset — per-chunk partials merge correctly under a
    * subset key). */
  private def parseAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[GraftAgg.AggSpec] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    val groupDims: Seq[Int] =
      if (agg.groupByExpressions.isEmpty) {
        if (r.chunked) return None // keyed partitioning needs the keys in the output
        Nil
      } else {
        if (!r.chunked) return None
        val idx = agg.groupByExpressions.toSeq.map {
          case nr: NamedReference if nr.fieldNames.length == 1 &&
              nr.fieldNames()(0).startsWith("_chunk_") =>
            dimIdx(nr.fieldNames()(0).stripPrefix("_chunk_"))
          case _ => -1
        }
        if (idx.exists(_ < 0)) return None
        idx
      }
    val dt = r.meta.dtype(r.variable)
    val integral = dt != DType.FLOAT && dt != DType.DOUBLE
    def target(e: org.apache.spark.sql.connector.expressions.Expression): Option[Int] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          val f = nr.fieldNames()(0)
          if (f == "value") Some(GraftAgg.ValueT)
          else { val i = dimIdx(f); if (i >= 0) Some(i) else None }
        case _ => None
      }
    val specs = agg.aggregateExpressions.map {
      case m: Min => target(m.column).map(GraftAgg.FuncSpec(GraftAgg.Min, _))
      case m: Max => target(m.column).map(GraftAgg.FuncSpec(GraftAgg.Max, _))
      case c: CountStar => Some(GraftAgg.FuncSpec(GraftAgg.Count, GraftAgg.StarT))
      case c: Count if !c.isDistinct =>
        // dense arrays have no null cells: count(col) == count(*)
        target(c.column).map(_ => GraftAgg.FuncSpec(GraftAgg.Count, GraftAgg.StarT))
      case s: Sum if !s.isDistinct && integral =>
        target(s.column).filter(_ == GraftAgg.ValueT)
          .map(GraftAgg.FuncSpec(GraftAgg.Sum, _))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return None
    Some(GraftAgg.AggSpec(specs.map(_.get).toSeq, groupDims))
  }

  /** COMPLETE pushdown only when the group keys cover ALL chunk dims: a
    * `chunked=true` scan plans exactly one partition per chunk, so each
    * full-key group lives entirely in one partition and its "partial" row
    * already IS the final answer — Spark drops the final aggregate (and
    * with it the Exchange the partial rewrite would need, because the
    * rewrite's fresh output attrs never resolve the reported
    * KeyGroupedPartitioning). A SUBSET key spans chunks, so it must stay
    * partial and merge. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    parseAggregation(agg).exists(s =>
      s.groupDims.nonEmpty && s.groupDims.toSet == dims.indices.toSet)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    parseAggregation(agg) match {
      case Some(s) => aggSpec = Some(s); true
      case None => false
    }

  /** PARTIAL limit pushdown (`isPartiallyPushed` stays true, so Spark
    * still applies the global LIMIT): a dense array yields exactly its
    * clipped cell count per covering chunk, so planning can stop after a
    * PREFIX of chunks that covers `limit` cells — `LIMIT 20` against a
    * petabyte variable reads one chunk instead of planning a scan
    * manifest over millions. Refused under residual value predicates
    * (matching rows may hide arbitrarily deep) and for chunked scans
    * (the KeyGroupedPartitioning key set must stay complete). */
  override def pushLimit(l: Int): Boolean = {
    if (r.chunked || valueFilters.nonEmpty || l <= 0) return false
    limit = Some(l)
    true
  }

  override def build(): Scan = {
    val empty = (0 until dims.size).exists(i => hi(i) <= lo(i))
    new GraftScan(r, Slice(lo.toVector, hi.toVector.map(math.max(_, 0L))), empty,
      required, scanOptions, aggSpec, valueFilters, limit)
  }
}

/** Input partitions come in two shapes:
  *  - point: an explicit coordinate group + resolved hashes (small windows,
  *    ≤ PointLookupThreshold covering chunks — the pushdown sweet spot);
  *  - range: a linear coordinate RANGE (coords derived arithmetically on
  *    the executor) + the manifest files holding this range's resolved
  *    (linear → hash) rows. Nothing per-chunk ever materializes on the
  *    driver, so a full-variable scan at millions of chunks plans in
  *    O(#partitions) driver memory. */
private[source] final case class GraftPointPartition(
    coords: Array[Array[Long]], hashes: Array[String], // hashes(i) == null → fill chunk
    files: Array[String],
    stats: Array[graft.core.SlabStats]) extends InputPartition // null entry → no stats

/** `chunked=true` scans: exactly ONE covering chunk per partition, keyed
  * by its chunk-grid coordinate so the scan can report
  * KeyGroupedPartitioning — Catalyst then elides shuffles above the scan
  * for grid-aligned aggregations and chunk-aligned (storage-partitioned)
  * joins between variables on the same grid. */
private[source] final case class GraftChunkPartition(coord: Array[Long],
    hash: String, // null → fill chunk
    files: Array[String],
    stats: graft.core.SlabStats = null) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(coord.map(Long.box).toArray[Any])
}

/** Data chunks of one HASH-RANGE bucket: the wanted blob hashes are
  * contiguous, so the executor-side fetch is a single tight min/max
  * row-group range over the hash-sorted chunk files (a linear-coordinate
  * bucket's hashes would be uniform across the whole SHA space — its
  * range predicate would prune nothing). Coords derive from the manifest's
  * linear ids. */
private[source] final case class GraftDataHashPartition(window: ChunkWindow,
    manifestFiles: Array[String], chunkFiles: Array[String]) extends InputPartition

/** Fill chunks of one linear coordinate range: enumerate [from, to),
  * skip the linears the manifest lists as having data, emit fill cells. */
private[source] final case class GraftFillRangePartition(
    linearFrom: Long, linearTo: Long, // [from, to)
    window: ChunkWindow,
    manifestFiles: Array[String]) extends InputPartition

/** Driver-side chunk-file scoping: each InputPartition ships only the
  * chunk part files whose footer hash range can hold one of ITS wanted
  * hashes (fill partitions ship none). At the target scale the chunks dir
  * holds millions of part files — a full listing embedded in every task
  * is O(tasks × files) serialized scheduler traffic. Blobs are written
  * hash-SORTED, and a generation's part files are range-DISJOINT because
  * each landing task owns one contiguous hash range ([[HashRanges]],
  * `SparkVersionWriter.PointPass.land`), so the overlap test keeps ~1/nth
  * of the files per hash bucket. Footer (min, max) ranges come from the same
  * per-JVM cache the executors use (`ChunkBlobReader.fileHashRange` —
  * part files are write-once, entries never go stale), so re-plans are
  * directory-listing-only. */
private[spark] object ChunkFileScope {
  /** (file, minHash, maxHash) for every chunk part file under the store.
    * Ranges come from the ingest-time sidecars (see
    * SparkStore.writeChunkRangeSidecar) seeded into the per-JVM cache —
    * planning opens NO parquet footers for sidecar-covered files, so a
    * first plan on a million-file store is a directory listing plus small
    * TSV reads, not O(files) footer I/O. Files a sidecar doesn't cover
    * (pre-sidecar stores) fall back to a PARALLEL footer sweep, cached
    * thereafter. */
  def ranged(store: SparkStore): Array[(String, String, String)] = {
    store.loadChunkRangeSidecars()
    val files = SparkStore.parquetFilesUnder(store.chunksDir)
    java.util.Arrays.stream(files).parallel().map { f =>
      val (mn, mx) = ChunkBlobReader.fileHashRange(f, ChunkBlobReader.sharedConf)
      (f, mn, mx)
    }.toArray(n => new Array[(String, String, String)](n))
  }

  /** Per-hash file lists for a BATCH of hashes: one pass over the files,
    * each assigned to the sorted hashes inside its range — O(files × log
    * hashes + assignments), vs. calling `filesFor` once per hash
    * (O(hashes × files): quadratic-ish at tens of thousands of chunks
    * over millions of files). Only hashes with ≥1 candidate file appear. */
  def filesByHash(ranged: Array[(String, String, String)],
      hashes: Iterator[String]): scala.collection.Map[String, Array[String]] = {
    val hs = hashes.filter(_ != null).toArray.distinct.sorted
    val acc = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    ranged.foreach { case (f, mn, mx) =>
      var i = lowerBound(hs, mn)
      while (i < hs.length && hs(i) <= mx) {
        acc.getOrElseUpdate(hs(i), scala.collection.mutable.ArrayBuffer.empty) += f
        i += 1
      }
    }
    acc.map { case (h, fs) => h -> fs.toArray }
  }

  /** Files whose range can hold at least one of `hashes` (null entries —
    * fill chunks — want no file). */
  def filesFor(ranged: Array[(String, String, String)],
      hashes: Iterator[String]): Array[String] = {
    val hs = hashes.filter(_ != null).toArray.sorted
    if (hs.isEmpty) Array.empty
    else ranged.collect { case (f, mn, mx) if {
      val i = lowerBound(hs, mn); i < hs.length && hs(i) <= mx
    } => f }
  }

  /** Each of `items` with its blob, fetched by hash in batches of ≤
    * `ChunkBlobReader.OrTreeLimit` hashes, each batch through only the
    * files whose range can hold one of its hashes — the executor-side
    * by-hash fetch of `SparkStore.withBlobs` and of the point-planned
    * write's bases. An item whose `hashOf` is null fetches nothing; a
    * blob the store does not hold comes back null. */
  def fetchByHash[T](ranged: Array[(String, String, String)], items: Iterator[T])(
      hashOf: T => String): Iterator[(T, Array[Byte])] =
    items.grouped(ChunkBlobReader.OrTreeLimit).flatMap { batch =>
      val wanted = batch.iterator.map(hashOf).filter(_ != null).toSet
      val got =
        if (wanted.isEmpty) Map.empty[String, Array[Byte]]
        else ChunkBlobReader.read(filesFor(ranged, wanted.iterator), wanted,
          harvest = false)
      batch.iterator.map { t =>
        val h = hashOf(t)
        (t, if (h == null) null else got.getOrElse(h, null))
      }
    }

  /** Hash bucket of a hash column, `hb = (hash32 × nBuckets) div 2³²`
    * over its first 8 hex chars: contiguous hash ranges, one per bucket,
    * with no sampling job. The scan manifest's data layout and
    * `SparkStore.withBlobs`' fetch batches both bucket by it. */
  def hashBucket(hash: org.apache.spark.sql.Column, nBuckets: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{conv, lit, shiftright, substring}
    shiftright(conv(substring(hash, 1, 8), 16, 10).cast("bigint") *
      lit(nBuckets.toLong), 32)
  }

  /** [[hashBucket]]'s rule as a partitioner of hash-keyed rows: `n`
    * contiguous hash ranges, the same on every call, so no sampling job. */
  final case class HashRanges(n: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = ((java.lang.Long.parseLong(
      key.asInstanceOf[String].substring(0, 8), 16) * n) >>> 32).toInt
  }

  /** Full-hash string span of manifest hash bucket `b` of `nBuckets`.
    * [[hashBucket]] assigns `hb = (hash32 × nBuckets) div 2³²` over the
    * first 8 hex chars, so bucket b holds hash32 ∈
    * [⌈b·2³²/n⌉, ⌈(b+1)·2³²/n⌉ − 1]; endpoints widen to 40-char bounds
    * (prefix as lower bound, prefix + 32×'f' as upper). */
  def bucketSpan(b: Long, nBuckets: Int): (String, String) = {
    val lo = (b * 4294967296L + nBuckets - 1) / nBuckets
    val hi = math.min(((b + 1) * 4294967296L + nBuckets - 1) / nBuckets - 1,
      0xFFFFFFFFL)
    (f"$lo%08x", f"$hi%08x" + "f" * 32)
  }

  /** Files overlapping a [wLo, wHi] full-hash span. */
  def filesForSpan(ranged: Array[(String, String, String)],
      wLo: String, wHi: String): Array[String] =
    ranged.collect { case (f, mn, mx) if mx >= wLo && mn <= wHi => f }

  /** First index with hs(i) >= key, else hs.length. */
  private def lowerBound(hs: Array[String], key: String): Int = {
    var lo = 0; var hi = hs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (hs(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }
}

private[spark] class GraftScan(r: Resolved, request0: Slice, empty: Boolean,
    required: StructType, scanOptions: Map[String, String] = Map.empty,
    aggSpec: Option[GraftAgg.AggSpec] = None,
    valueFilters: Array[Filter] = Array.empty,
    limit: Option[Int] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // runtime filters (e.g. dynamic pruning from a dim-table join) narrow
  // the request further AFTER planning starts — soundly, to the envelope
  // of the filter values (a superset of the matching cells; the residual
  // row-level filter still applies above the scan)
  @volatile private var request: Slice = request0

  // the chunked-partition dial, captured ONCE from the session that
  // planned this scan: outputPartitioning / planChunked / planGroupedAgg
  // may later run on threads without an active session (whose fallback
  // is the default), and a raised dial observed by only SOME of the
  // three call sites would plan >default partitions while silently
  // reporting UnknownPartitioning — dropping SPJ co-location
  private val chunkedMaxChunks: Long = GraftScan.ChunkedMaxChunks

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // chunked scans report KeyGroupedPartitioning; runtime filtering that
    // shrank the partition set would violate Spark's preserved-partitioning
    // invariant (SparkException at execution) — advertise no filterable
    // attributes there, so DPP never fires on them
    if (r.chunked) Array.empty
    // only dims still present in the scan output: DPP resolves these
    // against the PRUNED schema, and a reference to a projected-away dim
    // fails analysis (surfaced once exact stats made small slices
    // broadcast-join candidates)
    else r.dims.filter(required.fieldNames.contains).map(d =>
      org.apache.spark.sql.connector.expressions.Expressions.column(d)).toArray

  override def filter(filters: Array[Filter]): Unit = {
    if (r.chunked) return
    val lo = request.start.toArray
    val hi = request.stop.toArray
    filters.foreach {
      case In(attr, values) if r.dims.contains(attr) && values.nonEmpty =>
        val i = r.dims.indexOf(attr)
        val vs = values.collect { case n: Number => n.longValue }
        if (vs.nonEmpty) {
          lo(i) = math.max(lo(i), vs.min)
          hi(i) = math.min(hi(i), GraftScanBuilder.incSat(vs.max))
        }
      case EqualTo(attr, v: Number) if r.dims.contains(attr) =>
        val i = r.dims.indexOf(attr)
        lo(i) = math.max(lo(i), v.longValue)
        hi(i) = math.min(hi(i), GraftScanBuilder.incSat(v.longValue))
      case _ => // unsupported runtime filter shapes are ignored (sound)
    }
    request = Slice(lo.toVector, hi.toVector.map(math.max(_, 0L)))
  }

  private def isEmpty: Boolean =
    empty || (0 until request.rank).exists(i => request.stop(i) <= request.start(i))

  /** EXACT cardinality for Catalyst's CBO: a dense scan of a clipped
    * request produces precisely its cell volume (fill materialization
    * means no selectivity guesswork), so a small pruned slice joined
    * against a big table broadcasts automatically — no hint needed.
    * Saturating multiply: a petacell variable must not overflow into a
    * "tiny" estimate. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val rows: Long =
        if (isEmpty) 0L
        // pushed-aggregate scans emit at most one row per covering chunk,
        // not one per cell
        else if (aggSpec.isDefined) window.size
        else (0 until request.rank).foldLeft(1L) { (acc, i) =>
          val d = request.stop(i) - request.start(i)
          if (acc != 0L && d > Long.MaxValue / acc) Long.MaxValue else acc * d
        }
      private val rowBytes: Long =
        8L * r.dims.length + r.meta.dtype(r.variable).size
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          if (rows > Long.MaxValue / rowBytes) Long.MaxValue else rows * rowBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }

  /** Pushed-aggregate scans output the GROUP columns first (grouped
    * pushdown only — named `_chunk_<dim>` so the reported
    * KeyGroupedPartitioning expressions still resolve against the scan
    * output), then exactly one column per aggregate, in spec order (Spark
    * zips both positionally with the rewritten final aggregate):
    * min/max(value) carry the value dtype, everything else is BIGINT. */
  private def aggSchema(spec: GraftAgg.AggSpec): StructType = StructType(
    spec.groupDims.map(i =>
      StructField(s"_chunk_${r.dims(i)}", LongType, nullable = false)) ++
    spec.funcs.zipWithIndex.map { case (f, i) =>
      val t = (f.kind, f.target) match {
        case (GraftAgg.Min | GraftAgg.Max, GraftAgg.ValueT) =>
          r.meta.dtype(r.variable).sparkType
        case _ => LongType
      }
      StructField(s"agg_$i", t, nullable = true)
    })

  override def readSchema(): StructType =
    aggSpec.map(aggSchema).getOrElse(required)
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!r.chunked, "graft: the 'chunked' option is batch-only")
    require(aggSpec.isEmpty, "graft: aggregate pushdown is batch-only")
    new GraftMicroBatchStream(r, request0, empty, required, scanOptions)
  }
  override def description(): String =
    s"GraftScan ${r.dataset}/${r.variable} request=$request" +
      aggSpec.map(s => s" pushedAggregates=${s.funcs.mkString(",")}" +
        (if (s.groupDims.nonEmpty)
          s" groupedBy=${s.groupDims.map(i => s"_chunk_${r.dims(i)}").mkString(",")}"
        else "")).getOrElse("") +
      (if (valueFilters.nonEmpty)
        s" skipFilters=${valueFilters.mkString(",")}" else "")

  /** The chunks the (possibly narrowed) request covers. */
  private def window = new ChunkWindow(request, r.meta.chunkGridSlice(r.variable))

  /** Index-scan filter to the chunk-coordinate box [lo, hi] (inclusive). */
  private def coordFilter(lo: Seq[Long], hi: Seq[Long]): org.apache.spark.sql.Column =
    lo.indices.map(i => col("coord")(i).between(lo(i), hi(i)))
      .foldLeft(org.apache.spark.sql.functions.lit(true))(_ && _)

  override def planInputPartitions(): Array[InputPartition] = {
    // An EMPTY pushed-aggregate scan must still emit ONE partial row:
    // Spark's partial-pushdown rewrite merges COUNT partials with a bare
    // SUM (no zero fallback), so zero partitions would turn count(*)=0
    // into NULL. One synthetic partition emits (0, null, null, …).
    // GROUPED pushdown is the opposite: zero partitions = zero groups is
    // exactly right (a synthetic row would invent a null-keyed group).
    if (isEmpty) return if (aggSpec.exists(_.groupDims.isEmpty))
      Array(GraftEmptyAggPartition: InputPartition) else Array.empty
    if (r.chunked)
      return if (aggSpec.exists(_.groupDims.nonEmpty)) planGroupedAgg()
        else planChunked()
    val w = window
    // pushed LIMIT: a chunk-prefix covering `l` cells suffices — dense
    // arrays yield exactly their clipped cell count per chunk, and Spark
    // re-applies the global limit above the scan
    if (limit.isDefined && aggSpec.isEmpty) {
      val l = limit.get
      var acc = 0L
      var k = 0L
      val maxWalk = math.min(w.size, GraftScan.PointLookupThreshold)
      while (k < maxWalk && acc < l) { acc += w.clip(w.coordOf(k)).cells; k += 1 }
      if (acc >= l) return planPoint(Some(k))
      // acc < l after the walk cap: fall through to normal planning
    }
    if (w.size <= GraftScan.PointLookupThreshold) planPoint()
    else planRange(w)
  }

  /** Grid-aligned clustering report (`chunked=true` scans only): the scan
    * output is keyed by the `_chunk_<dim>` columns, one partition per
    * covering chunk. With `spark.sql.sources.v2.bucketing.enabled=true`
    * Catalyst turns this into KeyGroupedPartitioning, so
    *  - `groupBy(_chunk_*)` (per-chunk stats) and
    *  - `groupBy(_chunk_*, dims…)` (per-cell ops — sound for free, the
    *    chunk coords are functions of the dims) and
    *  - equi-joins between two same-grid variables that include the
    *    `_chunk_*` keys (storage-partitioned join; additionally needs
    *    `spark.sql.requireAllClusterKeysForCoPartition=false` when the
    *    join keys are a superset of the chunk keys)
    * all run with NO Exchange above the scan (verified in
    * DataSourceSpec "chunked=true reports KeyGroupedPartitioning"). */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    // grouped agg pushdown packs chunks into point partitions
    // (planGroupedAgg) — one partition is no longer one key, so no
    // KeyGroupedPartitioning is reported (and none is needed: complete
    // pushdown has no merge above the scan; subset-key partials shuffle
    // one tiny row per chunk)
    if (!r.chunked || isEmpty || aggSpec.isDefined ||
        window.size > chunkedMaxChunks)
      new UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      r.dims.map(d => org.apache.spark.sql.connector.expressions.Expressions
        .identity(s"_chunk_$d"): org.apache.spark.sql.connector.expressions.Expression).toArray,
      window.size.toInt)
  }

  @volatile private var resolvedMemo: ((Slice, Option[Long]),
    Map[String, (String, SlabStats)]) = _

  /** (coordKey → (hash, stats)) collected to the driver by the point
    * resolve (`SparkStore.resolvedPointsPinned`: in-process or in one job,
    * by `GraftScan.onDriver`) — callers are bounded by
    * PointLookupThreshold / ChunkedMaxChunks. With a `prefix` (the
    * limit-pushdown walk: the window's first `prefix` linear chunks) the
    * resolve keeps only that prefix's bounding box, NOT the
    * whole window — a LIMIT against a petabyte variable must not collect
    * its full resolved index.
    *
    * Memoized per (request, prefix): Spark plans one scan object more
    * than once (at `executedPlan` and again inside the action), and a
    * pinned version's resolved hashes never go stale. `filter()` replaces
    * `request`, which misses the memo and re-resolves the narrowed
    * window. File scoping is not memoized — each plan re-lists the chunk
    * files, so a re-run after vacuum compaction finds the live ones. */
  private def resolveWithStats(prefix: Option[Long] = None)
      : Map[String, (String, SlabStats)] = {
    val key = (request, prefix)
    val hit = resolvedMemo
    if (hit != null && hit._1 == key) return hit._2
    val w = window
    val keys = prefix match {
      case Some(k) =>
        val cs = (0L until k).map(w.coordOf)
        PointKeys.Box(w.lo.indices.map(i => cs.map(_(i)).min),
          w.lo.indices.map(i => cs.map(_(i)).max))
      case None => PointKeys.Box(w.lo.toSeq, w.hi.toSeq)
    }
    GraftScan.pointResolves.incrementAndGet()
    val resolved = r.store.resolvedPointsPinned(r.dataset, r.variable, r.meta, keys)
      .map { case (k, (h, st)) => k -> (h, GraftScan.statsOf(st)) }
    resolvedMemo = (key, resolved)
    resolved
  }

  private def requireChunkedBound(): Unit = {
    val n = window.size
    require(n <= chunkedMaxChunks,
      s"chunked=true scan covers $n chunks > $chunkedMaxChunks; " +
        "narrow the request or drop the chunked option (default range scan)")
  }

  /** Grouped aggregate pushdown: each chunk is one whole GROUP (keys are
    * the `_chunk_*` columns), so the one-task-per-chunk layout planChunked
    * needs for KeyGroupedPartitioning would pay thousands of task
    * launches for rows that are mostly zone-map arithmetic. Pack many
    * chunks per partition instead (the point packing) — the reader emits
    * one (already final or subset-partial) row per chunk, and no
    * partitioning is reported (nothing above the scan needs it: complete
    * pushdown has no merge; subset keys shuffle tiny keyed partials). */
  private def planGroupedAgg(): Array[InputPartition] = {
    requireChunkedBound()
    planPoint()
  }

  /** One partition per covering chunk, resolved driver-side (bounded by
    * ChunkedMaxChunks — grid-aligned mode is for analytics at moderate
    * chunk counts; beyond it use the default range path). */
  private def planChunked(): Array[InputPartition] = {
    requireChunkedBound()
    val resolved = resolveWithStats()
    // one pass over the file ranges for ALL chunk hashes — per-chunk
    // filesFor calls would cost O(chunks × files) at plan time
    val byHash = ChunkFileScope.filesByHash(ChunkFileScope.ranged(r.store),
      resolved.valuesIterator.map(_._1))
    // NOTE: no zone-map partition skipping here even when valueFilters is
    // non-empty — chunked scans report KeyGroupedPartitioning, and dropping
    // partitions would change the reported key set under a co-partitioned
    // join. Readers still skip blob fetches.
    window.coords.map { c =>
      val (h, st) = resolved.getOrElse(SparkStore.coordKey(c.toIndexedSeq), (null, null))
      GraftChunkPartition(c, h,
        if (h == null) Array.empty[String] else byHash.getOrElse(h, Array.empty),
        st): InputPartition
    }.toArray
  }

  /** Small windows: resolve the covering coords driver-side (bounded by
    * PointLookupThreshold) and push exact hash lookups to the readers.
    * Residual value predicates skip whole chunks here, at PLANNING time:
    * a chunk whose zone-map stats (or fill value, for unindexed chunks)
    * prove no cell can match is never planned — sound because Spark
    * re-applies the residual filter row-wise above the scan. */
  private def planPoint(prefix: Option[Long] = None): Array[InputPartition] = {
    val w = window
    val resolved = resolveWithStats(prefix)
    val fill = r.meta.fill(r.variable)
    val entries = prefix.fold(w.coords)(k => (0L until k).iterator.map(w.coordOf))
      .map { c =>
        resolved.get(SparkStore.coordKey(c.toIndexedSeq)) match {
          case Some((h, st)) => (c, h, st)
          case None => (c, null: String, null: SlabStats)
        }
      }
      .filter { case (_, h, st) =>
        valueFilters.isEmpty ||
          (if (h == null) StatsPredicate.fillSatisfiable(fill, valueFilters)
          else StatsPredicate.statsSatisfiable(st, valueFilters))
      }.toSeq
    GraftScan.pointPartitions(r.store, entries)
  }

  /** Large scans: ONE distributed job resolves the MVCC index and writes a
    * (linear, hash, stats) scan manifest under the store root (shared
    * storage, so executors can read it), bucketed TWO ways:
    *  - data rows by HASH RANGE (first 8 hex chars) — each data partition's
    *    wanted blobs are hash-contiguous, so its fetch prunes row groups
    *    with one tight min/max range over the hash-sorted chunk files;
    *  - data linears by coordinate range — each fill partition enumerates
    *    its range and emits fill for linears the manifest does NOT list.
    * Nothing per-chunk materializes on the driver.
    *
    * The manifest is a pure function of (dataset, variable, versionId,
    * chunk window, bucket layout) over an immutable version, so it is
    * CACHED under a key of exactly those inputs: a repeated scan of the
    * same window reuses the published manifest and skips the planning job
    * entirely (locally ~18% of a full-table DSv2 read). */
  private def planRange(w: ChunkWindow): Array[InputPartition] = {
    val spark = SparkSession.active
    val n = w.size
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    val chunksPer = math.max(256L, (n + 4L * par - 1) / (4L * par))
    val nBuckets = ((n + chunksPer - 1) / chunksPer).toInt
    val cacheKey = graft.core.Sha1.hex(
      (Seq(r.dataset, r.variable, r.meta.versionId.get.toString,
        w.lo.mkString(","), w.counts.mkString(","), chunksPer.toString)
        .mkString("|")).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dir = r.store.cachedScanManifest(cacheKey).getOrElse {
      val staging = r.store.newScanManifestDir()
      val linearOf = org.apache.spark.sql.functions.udf(
        (c: scala.collection.Seq[Long]) => w.linearOf(c.toArray))
      // stats ride along FLATTENED (parquet-mr Group readers on the
      // executors read primitive fields; struct access via GroupReadSupport
      // is clumsier and no cheaper); the window filter keeps data chunks
      // of the window only
      val joined = r.store.resolvedIndexPinned(r.dataset, r.variable,
        r.meta, coordFilter = coordFilter(w.lo.toSeq, w.hi.toSeq))
        .select(linearOf(col("coord")).as("linear"), col("hash"),
          col("stats.cnt").as("scnt"), col("stats.lmin").as("slmin"),
          col("stats.lmax").as("slmax"), col("stats.lsum").as("slsum"),
          col("stats.dmin").as("sdmin"), col("stats.dmax").as("sdmax"),
          col("stats.nan").as("snan"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // repartition ON the bucket column before partitionBy: otherwise every
        // task opens a parquet writer per dynamic partition it touches
        // (tasks × buckets writer inits — measured 17 s for an 8400-row
        // manifest vs ~1 s repartitioned)
        joined
          .withColumn("hb", ChunkFileScope.hashBucket(col("hash"), nBuckets))
          .repartition(nBuckets, col("hb"))
          .write.partitionBy("hb").parquet(s"$staging/data")
        joined
          .select(col("linear"), expr(s"linear div ${chunksPer}L").as("bucket"))
          .repartition(nBuckets, col("bucket"))
          .write.partitionBy("bucket").parquet(s"$staging/fill")
      } finally joined.unpersist()
      r.store.publishScanManifest(staging, cacheKey)
    }
    // one listing per family, grouped by bucket — O(#files) driver work
    def bucketFiles(sub: String, prefix: String): Map[Long, Array[String]] =
      SparkStore.parquetFilesUnder(StoreFs.child(dir, sub))
        .groupBy(p => StoreFs.name(StoreFs.parent(p)).stripPrefix(prefix).toLong)
    val dataFiles = bucketFiles("data", "hb=")
    val fillFiles = bucketFiles("fill", "bucket=")
    val ranged = ChunkFileScope.ranged(r.store)
    // each hash bucket's wanted blobs sit in a contiguous hash span, so
    // its partition carries only the part files overlapping that span
    // (~files/nBuckets each, vs the full listing in every task)
    val dataParts = dataFiles.toSeq.sortBy(_._1).map { case (b, fs) =>
      val (wLo, wHi) = ChunkFileScope.bucketSpan(b, nBuckets)
      GraftDataHashPartition(w, fs,
        ChunkFileScope.filesForSpan(ranged, wLo, wHi)): InputPartition
    }
    val fillParts = (0 until nBuckets).map { b =>
      GraftFillRangePartition(b * chunksPer, math.min((b + 1) * chunksPer, n),
        w, fillFiles.getOrElse(b.toLong, Array.empty)): InputPartition
    }
    (dataParts ++ fillParts).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    aggSpec match {
      case Some(spec) =>
        new GraftAggReaderFactory(r.meta.toJson, r.variable, request, spec)
      case None =>
        new GraftReaderFactory(r.meta.toJson, r.variable, request,
          required.fieldNames, valueFilters)
    }
}

private[spark] object GraftScan {
  /** Windows covering at most this many chunks plan as point partitions
    * (resolved driver-side, exact hash lookups); larger ones plan through
    * the distributed, cached scan manifest (`planRange`). The one
    * point-vs-range decision for every chunk read — DSv2 scans and
    * `SparkPinnedReader`'s getSlice / streamChunks / explodedMulti — and
    * for every base-resolving write (`SparkVersionWriter`). */
  val PointLookupThreshold = 1024L

  /** The byte half of the point placement rule: see [[onDriver]]. A
    * starting value, not a break-even. A one-off run on 4 cores (local[4])
    * put the break-even of each path elsewhere: about 3 MiB of index files
    * for the resolve, about 8 MiB of decoded chunks for a getSlice, and
    * for a driver-held commit at least 30 MiB of weighed bytes (the
    * largest size tried, 1,000 chunks); README "Scale design" has the
    * numbers. No one value fits all three. Every benchmark op weighs
    * under 0.5 MiB and runs on the driver. */
  val DriverPointBytes: Long = 16L << 20

  /** Placement of a point plan (a resolve, a getSlice drain, a commit):
    * in-process on the driver when it covers at most
    * [[PointLookupThreshold]] chunks and at most `maxBytes` (default
    * [[DriverPointBytes]]) of input, else in Spark tasks. Both placements
    * run the same kernels; only the driver's memory and a single
    * thread's throughput bound the first. */
  def onDriver(chunks: Long, bytes: Long, maxBytes: Long = DriverPointBytes): Boolean =
    chunks <= PointLookupThreshold && bytes <= maxBytes

  /** Decoded bytes of one chunk of `varName`. */
  def chunkBytes(meta: DatasetMeta, varName: String): Long =
    meta.chunkGridSlice(varName).step.product * meta.dtype(varName).size

  /** Point resolves run by `GraftScan` plans (per JVM, monotonic) — the
    * observable the per-scan resolve memo is pinned on. */
  val pointResolves = new java.util.concurrent.atomic.AtomicLong()

  /** Upper bound on `chunked=true` partitions: one task + one driver-side
    * (coord, hash) entry per chunk. The 64 Ki default ≈ a few MiB of
    * driver state and a schedulable task count; larger windows must use
    * the default range path (which plans O(buckets) driver state).
    * Overridable per session via `spark.graft.chunkedMaxChunks` for
    * drivers provisioned to hold more — a dial, not a fix: per-chunk
    * partitions are the co-location tool for bounded grid windows, and
    * whole-grid work at scale belongs on the range scan (both shapes
    * measured at 84k chunks, PLANS.md round 16). */
  val ChunkedMaxChunksDefault: Long = 1L << 16
  def ChunkedMaxChunks: Long = {
    // no-active-session threads legitimately fall back to the default;
    // a PRESENT dial must parse and bound-check LOUDLY — silently
    // ignoring a malformed value would refuse scans with a message
    // implying a cap the user believes they raised
    val dial =
      try org.apache.spark.sql.SparkSession.active.conf
        .getOption("spark.graft.chunkedMaxChunks")
      catch { case _: Throwable => None }
    dial.fold(ChunkedMaxChunksDefault) { s =>
      val v =
        try s.trim.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"spark.graft.chunkedMaxChunks must be a positive long, got '$s'") }
      // Int bound: the reported KeyGroupedPartitioning takes an Int
      // partition count — a larger dial would overflow negative
      require(v > 0 && v <= Int.MaxValue,
        s"spark.graft.chunkedMaxChunks must be in (0, ${Int.MaxValue}], got $v")
      v
    }
  }

  /** Packs (coord, hash | null, stats | null) chunk entries into point
    * partitions of max(8, n / defaultParallelism) chunks each, every
    * partition shipping only the chunk files that can hold its hashes. */
  def pointPartitions(store: SparkStore,
      entries: Seq[(Array[Long], String, SlabStats)]): Array[InputPartition] =
    if (entries.isEmpty) Array.empty
    else {
      val ranged = ChunkFileScope.ranged(store)
      val perPartition = math.max(8, entries.size / math.max(1,
        SparkSession.active.sparkContext.defaultParallelism))
      entries.grouped(perPartition).map { group =>
        val hashes = group.map(_._2).toArray
        GraftPointPartition(group.map(_._1).toArray, hashes,
          ChunkFileScope.filesFor(ranged, hashes.iterator),
          group.map(_._3).toArray): InputPartition
      }.toArray
    }

  /** Decode a collected stats struct (null for index rows without one). */
  def statsOf(st: org.apache.spark.sql.Row): SlabStats =
    if (st == null) null
    else {
      def optL(j: Int) = if (st.isNullAt(j)) None else Some(st.getLong(j))
      def optD(j: Int) = if (st.isNullAt(j)) None else Some(st.getDouble(j))
      SlabStats(st.getLong(0), optL(1), optL(2), optL(3), optD(4), optD(5),
        if (st.isNullAt(6)) 0L else st.getLong(6))
    }
}

private[source] class GraftReaderFactory(metaJson: String, variable: String,
    request: Slice, requiredFields: Array[String],
    valueFilters: Array[Filter] = Array.empty) extends PartitionReaderFactory {
  // constructed on the DRIVER (createReaderFactory), so capture the
  // session's resolved Hadoop conf here; createReader installs it on the
  // executor BEFORE any manifest/blob parquet read, so those reads
  // resolve the store FileSystem with the driver's spark.hadoop.*
  // settings (s3a credentials/endpoint) instead of executor classpath
  // defaults — the read-side half of the staged-write factory's
  // conf-faithfulness contract (GraftDeltaWriterFactory). The conf rides
  // a BROADCAST, never the factory itself: the factory deserializes once
  // per TASK, and fine-grained chunked scans run THOUSANDS of tiny tasks
  // (bench_spj_join: ~3600/rep) — an embedded ~1k-entry Configuration
  // re-parses per task (measured: spj 3.3 s → 7.2 s), while a broadcast
  // value materializes once per executor and later tasks resolve it from
  // the block manager.
  private val hconfBc = graft.spark.StoreFs.broadcastConf()
  // every partition reads columnar, so Spark never asks for a row reader
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft scans read columnar batches only (GraftColumnarReader)")
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    graft.spark.StoreFs.installExecutorConf(hconfBc.value)
    new GraftColumnarReader(p, metaJson, variable, request, requiredFields,
      valueFilters)
  }
}

/** The one per-partition chunk cursor of every pinned-version read: turns
  * an input partition into its (coord, hash, stats) entries (point and
  * chunk partitions carry them verbatim; range partitions derive coords
  * from their chunk window and read their manifest bucket) and fetches
  * the blobs a reader asks for in one batch. Readers on top of it: the
  * columnar scan, the pushed-aggregate partials, and
  * `SparkPinnedReader`'s getSlice / streamChunks / explodedMulti /
  * statsAggregate. */
private[spark] final class ChunkSlabCursor(part: InputPartition,
    metaJson: String, variable: String, request: Slice,
    valueFilters: Array[Filter] = Array.empty) {

  val meta: DatasetMeta = DatasetMeta.fromJson(metaJson)
  val dtype: DType = meta.dtype(variable)
  val dims: Vector[String] = meta.variables(variable).shape
  private val fill = meta.fill(variable)
  lazy val window: ChunkWindow = new ChunkWindow(request, meta.chunkGridSlice(variable))

  /** This partition's chunks as (chunk-grid coordinate, hash, stats): the
    * hash is null for a fill chunk, the stats null where the index holds
    * none. Chunks whose stats (or the fill value) prove no cell can match
    * the residual value predicates are dropped here, BEFORE any blob
    * fetch — sound because Spark re-applies those predicates row-wise
    * above the scan. */
  val entries: Array[(Array[Long], String, SlabStats)] = (part match {
    case p: GraftChunkPartition => Iterator.single((p.coord, p.hash, p.stats))
    case p: GraftPointPartition =>
      p.coords.indices.iterator.map(i => (p.coords(i), p.hashes(i), p.stats(i)))
    case p: GraftDataHashPartition =>
      ScanManifestReader.read(p.manifestFiles).entrySet().iterator().asScala.map { e =>
        (p.window.coordOf(e.getKey), e.getValue._1, e.getValue._2)
      }
    case p: GraftFillRangePartition =>
      val dataLinears = ScanManifestReader.readLinears(p.manifestFiles)
      Iterator.range(p.linearFrom, p.linearTo)
        .filterNot(dataLinears.contains)
        .map(l => (p.window.coordOf(l), null: String, null: SlabStats))
  }).filter { case (_, hash, st) =>
    valueFilters.isEmpty ||
      (if (hash == null) StatsPredicate.fillSatisfiable(fill, valueFilters)
      else StatsPredicate.statsSatisfiable(st, valueFilters))
  }.toArray

  private val chunkFiles: Array[String] = part match {
    case p: GraftChunkPartition => p.files
    case p: GraftPointPartition => p.files
    case p: GraftDataHashPartition => p.chunkFiles
    case _: GraftFillRangePartition => Array.empty
  }

  /** Framed blob bytes, by hash, of the data chunks among `chosen`,
    * fetched in one batch. A resolved hash whose blob is missing raises
    * `SparkPinnedReader.requireBlob`'s error naming its chunk. */
  def blobs(chosen: Iterable[(Array[Long], String, SlabStats)]): Map[String, Array[Byte]] = {
    val wanted = chosen.iterator.map(_._2).filter(_ != null).toSet
    // sibling-harvest only for chunked (one-chunk-per-task) partitions:
    // their row-group-mates are wanted by OTHER tasks of the same scan,
    // so pre-decoding them into the blob cache amortizes. Point and
    // bucket partitions own their whole wanted set — harvesting there
    // decodes row groups nobody else reads.
    val got =
      if (wanted.isEmpty) Map.empty[String, Array[Byte]]
      else ChunkBlobReader.read(chunkFiles, wanted,
        harvest = part.isInstanceOf[GraftChunkPartition])
    chosen.foreach { case (coord, hash, _) =>
      SparkPinnedReader.requireBlob(SparkStore.coordKey(coord.toIndexedSeq), hash,
        if (hash == null) null else got.getOrElse(hash, null))
    }
    got
  }

  /** Each entry as (coordKey, chunk-grid coordinate, hash, framed blob
    * bytes); hash and bytes are null for a fill chunk. */
  def framedChunks: Iterator[(String, Array[Long], String, Array[Byte])] = {
    val got = blobs(entries)
    entries.iterator.map { case (coord, hash, _) =>
      (SparkStore.coordKey(coord.toIndexedSeq), coord, hash,
        if (hash == null) null else got(hash))
    }
  }

  /** Chunk `coord` as a slab clipped to the request; null `framed` ⇒ fill. */
  def clippedSlab(coord: Array[Long], framed: Array[Byte]): Slab = {
    val chunkSlice = meta.chunkSlice(variable, coord.toVector)
    val slab =
      if (framed == null) Slab.empty(dtype, chunkSlice, fill)
      else Slab(dtype, chunkSlice, FilterChain.decode(framed))
    slab.intersectWith(request)
  }

  /** Each entry as (chunk-grid coordinate, slab clipped to the request). */
  def clippedSlabs: Iterator[(Array[Long], Slab)] =
    framedChunks.map { case (_, coord, _, framed) => (coord, clippedSlab(coord, framed)) }

  /** Projection codes for `requiredFields`: dim index ≥ 0, value = −1,
    * `_chunk_<dim>` = −2 − dimIndex (constant per chunk). */
  def projectionOf(requiredFields: Array[String]): Array[Int] =
    requiredFields.map {
      case "value" => -1
      case f if f.startsWith("_chunk_") && dims.contains(f.stripPrefix("_chunk_")) =>
        -2 - dims.indexOf(f.stripPrefix("_chunk_"))
      case d => dims.indexOf(d)
    }
}

/** Columnar read path: one ColumnarBatch per clipped chunk, dim columns
  * filled by stride arithmetic and the value column decoded straight from
  * the big-endian slab buffer into primitive vectors — no per-cell boxing,
  * and Spark's ColumnarToRow/codegen consumes the batches directly. */
private[source] class GraftColumnarReader(part: InputPartition,
    metaJson: String, variable: String, request: Slice,
    requiredFields: Array[String],
    valueFilters: Array[Filter] = Array.empty)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val cursor = new ChunkSlabCursor(part, metaJson, variable, request, valueFilters)
  private val dtype = cursor.dtype
  private val proj: Array[Int] = cursor.projectionOf(requiredFields)
  private lazy val slabs = cursor.clippedSlabs
  private var batch: ColumnarBatch = _

  private def buildBatch(chunkCoord: Array[Long], clipped: Slab): ColumnarBatch = {
    val slice = clipped.slice
    val rank = slice.rank
    val shape = if (rank == 0) Array.empty[Int] else slice.shape.toArray
    val n = slice.volume.toInt
    val vectors = proj.map { p =>
      val dt = if (p == -1) dtype.sparkType else LongType
      val v = new OnHeapColumnVector(n, dt)
      if (p <= -2) {
        // _chunk_<dim>: constant for the whole chunk
        v.putLongs(0, n, chunkCoord(-2 - p))
      } else if (p >= 0) {
        // dim column: start + (i div stride) % shape (request slices are step-1)
        var stride = 1L
        var j = rank - 1
        while (j > p) { stride *= shape(j); j -= 1 }
        val start = slice.start(p)
        val sh = shape(p)
        var i = 0
        while (i < n) { v.putLong(i, start + (i / stride) % sh); i += 1 }
      } else {
        val b = clipped.bytes
        dtype match {
          case DType.BYTE =>
            var i = 0; while (i < n) { v.putByte(i, b(i)); i += 1 }
          case DType.SHORT =>
            var i = 0
            while (i < n) {
              v.putShort(i, (((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff)).toShort)
              i += 1
            }
          case DType.CHAR =>
            var i = 0
            while (i < n) {
              v.putInt(i, ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff)); i += 1
            }
          case DType.INT =>
            val bb = java.nio.ByteBuffer.wrap(b).asIntBuffer()
            var i = 0; while (i < n) { v.putInt(i, bb.get(i)); i += 1 }
          case DType.LONG =>
            val bb = java.nio.ByteBuffer.wrap(b).asLongBuffer()
            var i = 0; while (i < n) { v.putLong(i, bb.get(i)); i += 1 }
          case DType.FLOAT =>
            val bb = java.nio.ByteBuffer.wrap(b).asFloatBuffer()
            var i = 0; while (i < n) { v.putFloat(i, bb.get(i)); i += 1 }
          case DType.DOUBLE =>
            val bb = java.nio.ByteBuffer.wrap(b).asDoubleBuffer()
            var i = 0; while (i < n) { v.putDouble(i, bb.get(i)); i += 1 }
        }
      }
      v: org.apache.spark.sql.vectorized.ColumnVector
    }
    new ColumnarBatch(vectors, n)
  }

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    if (slabs.hasNext) {
      val (coord, clipped) = slabs.next()
      batch = buildBatch(coord, clipped)
      true
    } else false
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = if (batch != null) { batch.close(); batch = null }
}

private[source] final case class GraftOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** Streaming source: `spark.readStream.format("graft")` tails COMMITTED
  * VERSIONS of a variable. Offsets are version ids; each micro-batch
  * emits the cells of the chunks CHANGED in the new versions, resolved to
  * their state as of the batch's end version (chunk-granular deltas:
  * graft's read-modify-write ingest rewrites whole chunks, so a chunk is
  * the natural change unit). Pushed-down dim filters narrow the tail to a
  * window. `startingVersion` option: `earliest` (default — the first
  * batch carries all existing data), `latest` (only versions committed
  * after stream start), or a version id.
  *
  * The chunk grid is frozen across versions by design (dataset.clj:55-61),
  * so a long-running tail stays consistent; an extent GROW requires a
  * stream restart (the pinned metadata carries the extent).
  *
  * Pairs with `StreamingIngest.versionedSink` for the write side. */
private[source] class GraftMicroBatchStream(r: Resolved, request: Slice,
    empty: Boolean, required: StructType, options: Map[String, String])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def latestVersion: Long =
    r.store.versions(r.dataset).headOption.map(_._2).getOrElse(0L)

  override def initialOffset(): Offset =
    // scanOptions keys come from a CaseInsensitiveStringMap — lowercase only
    GraftOffset(options.get("startingversion") match {
      case Some("latest") => latestVersion
      case Some("earliest") | None => 0L
      case Some(v) => v.toLong
    })
  override def latestOffset(): Offset = GraftOffset(latestVersion)
  override def deserializeOffset(json: String): Offset = GraftOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].version
    val e = end.asInstanceOf[GraftOffset].version
    if (empty || e <= s) return Array.empty
    // delta-bounded driver collect: only chunks touched in (s, e]. The
    // limit guards the one unbounded case — startingVersion=earliest on a
    // huge variable turns the FIRST batch into a full scan; that backfill
    // belongs on the batch DSv2 path (manifest-planned, O(buckets)
    // driver), with the stream started from `latest`.
    val cap = GraftMicroBatchStream.MaxChunksPerBatch
    val collected = r.store.resolvedIndexBetween(r.dataset, r.variable, s, e)
      .select("coord", "hash").limit(cap + 1).collect()
    // the cap check runs BEFORE the window clip: limit() truncates
    // arbitrarily, so an over-cap result may have silently dropped
    // in-window chunks — fail instead of under-delivering
    if (collected.length > cap)
      throw new IllegalStateException(
        s"streaming batch ($s, $e] covers more than $cap chunks — backfill " +
          "with a batch spark.read.format(\"graft\") (scan-manifest planned) " +
          "and start the stream with startingVersion=latest")
    val window = new ChunkWindow(request, r.meta.chunkGridSlice(r.variable))
    GraftScan.pointPartitions(r.store, collected.toSeq
      .map(row => (row.getSeq[Long](0).toArray, row.getString(1), null: SlabStats))
      .filter { case (c, _, _) => window.contains(c) }) // the pushed-down window
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(r.meta.toJson, r.variable, request, required.fieldNames)
}

private[source] object GraftMicroBatchStream {
  /** Per-micro-batch chunk budget: bounds the driver-side delta collect
    * (a normal version's delta is orders of magnitude below this; only a
    * full-history backfill can exceed it — see planInputPartitions). */
  val MaxChunksPerBatch: Int = 1 << 20
}

/** Executor-side reader for scan-manifest buckets. */
private[source] object ScanManifestReader {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private def foreachRow(files: Array[String])(f: Group => Unit): Unit = {
    // the installed driver conf (shipped via the reader factory), NOT a
    // classpath default: manifest files live under the store root, whose
    // scheme may need driver-session spark.hadoop.* settings to resolve
    val conf = ChunkBlobReader.sharedConf
    files.foreach { file =>
      val reader = ChunkBlobReader.groupReader(new GroupReadSupport(), file, conf).build()
      try {
        var g = reader.read()
        while (g != null) { f(g); g = reader.read() }
      } finally reader.close()
    }
  }

  /** Data-bucket manifest: linear → (hash, stats | null). Field presence
    * is checked per row: manifests written before stats existed read as
    * stats-null (readers then decode the blob). */
  def read(files: Array[String])
      : java.util.HashMap[java.lang.Long, (String, SlabStats)] = {
    val out = new java.util.HashMap[java.lang.Long, (String, SlabStats)]()
    foreachRow(files) { g =>
      def present(n: String) = g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0
      def optL(n: String) = if (present(n)) Some(g.getLong(n, 0)) else None
      def optD(n: String) = if (present(n)) Some(g.getDouble(n, 0)) else None
      val st = optL("scnt") match {
        case Some(c) => SlabStats(c, optL("slmin"), optL("slmax"),
          optL("slsum"), optD("sdmin"), optD("sdmax"), optL("snan").getOrElse(0L))
        case None => null
      }
      out.put(g.getLong("linear", 0), (g.getString("hash", 0), st))
    }
    out
  }

  /** Fill-bucket manifest: linear ids only. */
  def readLinears(files: Array[String]): java.util.HashSet[Long] = {
    val out = new java.util.HashSet[Long]()
    foreachRow(files)(g => out.add(g.getLong("linear", 0)))
    out
  }
}

/** Executor-side point lookup of chunk blobs from the hash-sorted chunk
  * parquet files: equality predicates give row-group pruning via min/max
  * stats (parquet-hadoop Group API). Small wanted sets use a BALANCED or
  * tree (depth log₂k — a left-deep reduce at thousands of hashes risks
  * StackOverflowError in the recursive predicate visitors); large sets
  * fall back to one min/max range predicate with exact membership checked
  * against the in-memory wanted set. */
private[spark] object ChunkBlobReader {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.filter2.compat.FilterCompat
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport
  import org.apache.parquet.io.api.Binary

  /** Above this many wanted hashes, use the range predicate. */
  val OrTreeLimit = 512

  private def balancedOr(hs: Array[String], from: Int, to: Int): FilterPredicate =
    if (to - from == 1)
      FilterApi.eq(FilterApi.binaryColumn("hash"), Binary.fromString(hs(from)))
    else {
      val mid = (from + to) / 2
      FilterApi.or(balancedOr(hs, from, mid), balancedOr(hs, mid, to))
    }

  /** Filter on `hash` for a sorted wanted set: the or tree up to
    * OrTreeLimit hashes, the min/max range beyond. */
  private def hashFilter(sorted: Array[String]): FilterPredicate =
    if (sorted.length <= OrTreeLimit) balancedOr(sorted, 0, sorted.length)
    else FilterApi.and(
      FilterApi.gtEq(FilterApi.binaryColumn("hash"), Binary.fromString(sorted.head)),
      FilterApi.ltEq(FilterApi.binaryColumn("hash"), Binary.fromString(sorted.last)))

  /** Per-JVM cache of each chunk file's (min, max) hash from its footer
    * row-group stats. Chunk part files are WRITE-ONCE (appends create new
    * files; vacuum deletes and writes new names), so a path-keyed entry
    * never goes stale — a deleted file's entry is merely unused. This is
    * what makes fine-grained partitions (one chunk per task, e.g.
    * `chunked=true` scans) viable: without it every task re-reads every
    * footer — measured 88 s for an 8400-chunk grid-aligned aggregation,
    * ~3 s with pruning. Executors at cluster scale amortize the same way:
    * first task per file pays one footer read. */
  private val rangeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private val FullRange = ("", "\uFFFF")

  /** Seed the range cache from a sidecar entry (ingest-time recorded
    * ranges \u2014 see SparkStore.writeChunkRangeSidecar): planning then never
    * opens the file's footer. putIfAbsent keeps an already-read footer
    * authoritative. */
  private[spark] def seedRange(f: String, mn: String, mx: String): Unit = {
    rangeCache.putIfAbsent(f, (mn, mx)); ()
  }

  private[spark] def fileHashRange(f: String,
      conf: org.apache.hadoop.conf.Configuration): (String, String) = {
    val hit = rangeCache.get(f)
    if (hit != null) return hit
    val computed = footerRange(f, conf).getOrElse(FullRange)
    rangeCache.putIfAbsent(f, computed)
    computed
  }

  /** A part file's footer hash range, uncached; None when the footer
    * holds no row groups (a file with no blobs — never worth adopting). */
  private[spark] def footerRange(f: String,
      conf: org.apache.hadoop.conf.Configuration): Option[(String, String)] =
    try {
      // options from `conf`: the one-argument open reads them from a fresh
      // Configuration, which re-parses the Hadoop default resources
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(inputFile(f, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf).build())
      try {
        val blocks = r.getFooter.getBlocks.asScala
        val ranges = blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == "hash")
            .flatMap { c =>
              val s = c.getStatistics
              if (s == null || !s.hasNonNullValue) None
              else Some((s.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                s.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
            }
        }
        if (blocks.isEmpty) None
        else if (ranges.isEmpty) Some(FullRange)
        else Some((ranges.map(_._1).min, ranges.map(_._2).max))
      } finally r.close()
    } catch { case _: Exception => Some(FullRange) } // unreadable stats: scan it

  /** Budget for the per-JVM content-addressed blob LRU (bytes). Blobs are
    * immutable and globally unique by hash, so caching is trivially
    * correct. Point lookups (fine-grained partitions, e.g. `chunked=true`
    * scans: one chunk per task) decode a whole row group to extract one
    * blob — the cache keeps the SIBLING blobs of that row group so the
    * tasks that want them skip the decode entirely (row-group-mates, by
    * hash-sorted layout). Large scans neither populate nor need it. */
  val BlobCacheBudget: Long = 256L * 1024 * 1024
  /** Populate/consult the blob cache only for small wanted sets — a large
    * scan reads each blob once and would only churn the LRU. */
  val BlobCacheWantedLimit = 32

  private val blobCacheBytes = new java.util.concurrent.atomic.AtomicLong()
  private val blobCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Array[Byte]](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[Byte]]): Boolean = {
        if (blobCacheBytes.get() > BlobCacheBudget) {
          blobCacheBytes.addAndGet(-e.getValue.length.toLong); true
        } else false
      }
    })
  // synchronized on the map's own mutex so the put and the byte-counter
  // update are atomic w.r.t. clearBlobCache (a put racing a clear could
  // otherwise leave the counter drifted from the live entries for the
  // rest of the JVM's life, weakening the byte-cap)
  private def cachePut(h: String, b: Array[Byte]): Unit = blobCache.synchronized {
    if (blobCache.put(h, b) == null) { blobCacheBytes.addAndGet(b.length.toLong); () }
  }

  /** Drop the per-JVM blob cache (bench hygiene between suite sections:
    * up to 256 MB of one workload's fixture blobs otherwise sit in
    * old-gen while an unrelated suite is being timed). Correctness-
    * neutral — blobs are immutable and re-fetchable. */
  def clearBlobCache(): Unit = blobCache.synchronized {
    blobCache.clear()
    blobCacheBytes.set(0L)
  }

  // Configurations follow StoreFs.conf — on the driver the session's
  // resolved Hadoop conf, on executors the driver conf the reader/writer
  // factory installed (conf-faithful remote reads), classpath defaults
  // only when neither exists. The harvest variant (see below) is DERIVED
  // per base conf and cached by base-conf identity: StoreFs.conf returns
  // an identity-stable object per session / installed conf, so the copy
  // happens once per conf generation, not per read() call.
  private[spark] def sharedConf: org.apache.hadoop.conf.Configuration =
    graft.spark.StoreFs.conf
  @volatile private var harvestCache
      : (org.apache.hadoop.conf.Configuration,
         org.apache.hadoop.conf.Configuration) = _
  // harvest mode: the predicate prunes ROW GROUPS only; record-level and
  // page-level (column index) filtering are off, so the row-group scan
  // returns sibling rows for the blob cache
  private def harvestConf: org.apache.hadoop.conf.Configuration = {
    val base = graft.spark.StoreFs.conf
    val hit = harvestCache
    if (hit != null && (hit._1 eq base)) hit._2
    else {
      val c = new org.apache.hadoop.conf.Configuration(base)
      c.setBoolean("parquet.filter.record-level.enabled", false)
      c.setBoolean("parquet.filter.columnindex.enabled", false)
      harvestCache = (base, c)
      c
    }
  }

  /** Per-JVM decode-work counters — the observable the pruning contract
    * is pinned on (BASELINE.md: a chunk-aligned sub-slice read touches
    * exactly its covering chunks). OS/page-cache-independent, unlike
    * byte-level I/O statistics (parquet's ByteBuffer reads bypass
    * Hadoop's FileSystem.Statistics entirely). Monotonic; tests diff
    * snapshots around an action. */
  val blobsDecoded = new java.util.concurrent.atomic.AtomicLong()
  val blobPayloadBytes = new java.util.concurrent.atomic.AtomicLong()
  val blobFilesOpened = new java.util.concurrent.atomic.AtomicLong()

  /** Fetch `wanted` blobs from the hash-sorted chunk files.
    *
    * `harvest` selects the decode mode for cache-eligible (small) wanted
    * sets: with harvest ON, record-level filtering is disabled so every
    * record of a touched row group materializes and the SIBLING blobs
    * land in the per-JVM cache — the right trade for `chunked=true`
    * scans (one chunk per task; row-group-mates are wanted by other
    * tasks of the same scan within this JVM). With harvest OFF the
    * record filter materializes EXACTLY the wanted blobs — the right
    * trade for a windowed exploded read, whose single task would
    * otherwise decode whole row groups (at production row-group sizes,
    * 100× the wanted bytes) for siblings nobody asks for. */
  def read(files: Array[String], wanted: Set[String],
      harvest: Boolean): Map[String, Array[Byte]] = {
    val out = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val useCache = wanted.size <= BlobCacheWantedLimit
    if (useCache) wanted.foreach { h =>
      val hit = blobCache.get(h)
      if (hit != null) out(h) = hit
    }
    val missing = wanted diff out.keySet
    if (missing.isEmpty) return out.toMap
    val conf = if (useCache && harvest) harvestConf else sharedConf
    val sorted = missing.toArray.sorted
    val pred = hashFilter(sorted)
    // prune to files whose footer hash range overlaps the wanted span
    val (wLo, wHi) = (sorted.head, sorted.last)
    val candidates = files.filter { f =>
      val (mn, mx) = fileHashRange(f, sharedConf)
      wHi >= mn && wLo <= mx
    }
    candidates.foreach { f =>
      if (out.size < wanted.size) {
        blobFilesOpened.incrementAndGet()
        val reader = groupReader(new GroupReadSupport(), f, conf)
          .withFilter(FilterCompat.get(pred))
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            val h = g.getString("hash", 0)
            val b = g.getBinary("bytes", 0).getBytes
            blobsDecoded.incrementAndGet()
            blobPayloadBytes.addAndGet(b.length.toLong)
            if (missing.contains(h) && !out.contains(h))
              out(h) = b
            else if (useCache && !blobCache.containsKey(h))
              // sibling blob decoded anyway by the row-group scan: keep it
              cachePut(h, b)
            g = reader.read()
          }
        } finally reader.close()
      }
    }
    if (useCache) out.foreach { case (h, b) => cachePut(h, b) }
    out.toMap
  }

  /** The subset of `wanted` that `files` hold — the point writer's dedup
    * probe. Reads only the `hash` column, row-group and record filtered
    * to the wanted hashes, and never consults the blob cache: a cached
    * blob may already be vacuumed from the store. Opens no file once
    * every wanted hash is found. */
  def storedHashes(files: Array[String], wanted: Set[String]): Set[String] = {
    if (wanted.isEmpty) return Set.empty
    val found = scala.collection.mutable.Set.empty[String]
    val pred = hashFilter(wanted.toArray.sorted)
    files.foreach { f =>
      if (found.size < wanted.size) {
        val reader = groupReader(new ColumnsReadSupport(Seq("hash")), f, sharedConf)
          .withFilter(FilterCompat.get(pred))
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            val h = g.getString("hash", 0)
            if (wanted.contains(h)) found += h
            g = reader.read()
          }
        } finally reader.close()
      }
    }
    found.toSet
  }

  /** A record reader builder for part file `f` under `conf`. Not
    * `ParquetReader.builder(readSupport, path)`: that builder first reads
    * its options from a fresh `new Configuration()`, which re-parses the
    * Hadoop default XML resources on every call — milliseconds per file
    * opened, whatever conf `withConf` later sets. */
  private[spark] def groupReader(readSupport: GroupReadSupport, f: String,
      conf: org.apache.hadoop.conf.Configuration): ParquetReader.Builder[Group] =
    new ParquetReader.Builder[Group](inputFile(f, conf),
        new org.apache.parquet.conf.HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport: GroupReadSupport = readSupport
    }

  /** Part file `f` to read: through java.nio when its path is
    * scheme-less (as `StoreFs` reads it), else through its Hadoop
    * filesystem under `conf`. */
  private[spark] def inputFile(f: String,
      conf: org.apache.hadoop.conf.Configuration): org.apache.parquet.io.InputFile =
    StoreFs.localPath(f) match {
      case null => org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf)
      case local => new org.apache.parquet.io.LocalInputFile(local)
    }

  /** Projects a part file onto those of `columns` it has, whatever the
    * file's declared repetition of them. */
  private[spark] final class ColumnsReadSupport(columns: Seq[String])
      extends GroupReadSupport {
    override def init(conf: org.apache.hadoop.conf.Configuration,
        keyValueMetaData: java.util.Map[String, String],
        fileSchema: org.apache.parquet.schema.MessageType)
        : org.apache.parquet.hadoop.api.ReadSupport.ReadContext =
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(
        new org.apache.parquet.schema.MessageType(fileSchema.getName,
          columns.filter(fileSchema.containsField)
            .map(c => fileSchema.getType(fileSchema.getFieldIndex(c))).asJava))
  }
}
