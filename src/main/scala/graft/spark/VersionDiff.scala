package graft.spark

import graft.core.DType
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cell-level change-data-capture between two committed versions of a
  * variable — "what changed between yesterday's snapshot and today's?"
  * for versioned arrays, the incremental-consumer primitive the MVCC
  * index makes cheap:
  *
  *  1. resolve the coordinate→hash index at BOTH versions (index-only —
  *     O(chunks) metadata rows, no data);
  *  2. keep coordinates whose content hash differs (content addressing
  *     makes "chunk unchanged" a string equality — structurally shared
  *     chunks drop out here, which is the entire point: a version that
  *     touched 1 of 10⁶ chunks diffs by decoding 1 chunk pair);
  *  3. fetch only those chunk pairs' blobs by hash (`SparkStore.withBlobs`;
  *     a missing blob fails the diff), decode them (an unindexed side is
  *     fill) and emit cells whose values differ, clipped to the
  *     intersection of both extents (grow/shrink: regions exclusive to
  *     one version have no counterpart to diff against — extent changes
  *     are metadata).
  *
  * At 100 TB this reads MBs of index plus the changed blobs only; the
  * shuffle is one coordKey join of two index frames.
  */
object VersionDiff {

  def diffCells(store: SparkStore, name: String, varName: String,
      vOld: Long, vNew: Long): DataFrame = {
    val spark = store.spark
    val mOld = store.metadata(name, vOld)
    val mNew = store.metadata(name, vNew)
    require(mOld.variables.contains(varName) && mNew.variables.contains(varName),
      s"variable $varName must exist at both versions")
    val dims = mNew.variables(varName).shape
    val rank = dims.length
    val ext = dims.map(d => math.min(mOld.dimensions(d), mNew.dimensions(d)))
    val grid = mNew.chunkGridSlice(varName) // chunk extents are frozen across versions
    val dtype = mNew.dtype(varName)
    val fill = mNew.fill(varName)

    val idxO = store.resolvedIndexPinned(name, varName, mOld)
      .select(col("coordKey"), col("coord").as("coordO"), col("hash").as("hashO"))
    val idxN = store.resolvedIndexPinned(name, varName, mNew)
      .select(col("coordKey"), col("coord").as("coordN"), col("hash").as("hashN"))
    val changed = idxO.join(idxN, Seq("coordKey"), "full_outer")
      .filter(!(col("hashO") <=> col("hashN")))
      .select(col("coordKey"), coalesce(col("coordN"), col("coordO")).as("coord"),
        col("hashO"), col("hashN"))
    val inExtent =
      if (rank == 0) lit(true)
      else (0 until rank).map(i =>
        col("coord")(i) * lit(grid.step(i)) < lit(ext(i))).reduce(_ && _)

    // fetched by hash; a resolved hash whose blob is missing fails the
    // diff (`SparkPinnedReader.requireBlob`) instead of diffing as fill
    def blobs(df: DataFrame, h: String, b: String) =
      store.withBlobs(df, h, b, requireKeyCol = Some("coordKey"))
    val withBytes = blobs(blobs(changed.filter(inExtent), "hashO", "bytesO"),
      "hashN", "bytesN")

    graft.functions.ChunkFunctions.register(spark)
    val chunkShape = (0 until rank).map(i => grid.step(i))
    val strides = (0 until rank).map(i => (i + 1 until rank).map(chunkShape).product)
    val volume = if (rank == 0) 1L else chunkShape.product
    def cellsOf(b: String) = graft.functions.ChunkFunctions
      .chunkCells(spark, col(b), lit(volume), lit(dtype.name), lit(fill))
    val perChunk = (0 until rank).map(i =>
      (col("coord")(i) * lit(grid.step(i))).as(s"__base$i"))
    val zipped = withBytes
      .select(col("bytesO") +: col("bytesN") +: perChunk: _*)
      .select((0 until rank).map(i => col(s"__base$i")) :+
        posexplode(arrays_zip(cellsOf("bytesO").as("ov"), cellsOf("bytesN").as("nv"))): _*)
    val cellCols = (0 until rank).map { i =>
      s"(__base$i + (CAST(pos AS BIGINT) div ${strides(i)}L) % ${chunkShape(i)}L)" +
        s" AS `${dims(i)}`"
    }
    val out = zipped.selectExpr(
      cellCols ++ Seq("col.ov AS old_value", "col.nv AS new_value"): _*)
    val clipped = (0 until rank).foldLeft(out) { (df, i) =>
      df.filter(col(dims(i)) >= 0L && col(dims(i)) < ext(i))
    }
    // Spark comparison semantics make NaN equal to itself, so an
    // unwritten NaN-fill region on both sides does not diff
    clipped.filter(!(col("old_value") <=> col("new_value")))
  }
}
