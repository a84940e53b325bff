package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic FILE-SOURCE feed — the [[Feed.Files]] feed of the gate
  * runner ([[Gate]]), plus the session-conf helpers every stream shares:
  * a bounded frame is cut into `nBatches` uniform event-time slices, each
  * written by a Spark job as ONE parquet file with strictly increasing
  * mtimes, so `readStream.parquet` (oldest-first, maxFilesPerTrigger=1)
  * replays them as time-ordered micro-batches — the real unbounded path
  * (file landing zone → stateful operator → distributed sink), with no
  * event row ever crossing the driver. The only driver reads are the
  * min/max of the slicing column (two scalar aggregates, planning-sized).
  *
  * [[Feed.Memory]] ([[Replay]]) stays the right tool for tests sensitive
  * to per-batch composition (it controls batch membership exactly).
  */
object FileFeed {

  /** Write the slices + optional tail frames and return the streaming
    * frame reading them back (schema = `df.schema`). `tsCol` must be a
    * LONG event-time column (seconds); tails land after every slice in
    * arrival order (sentinel/flush batches).
    *
    * `oooSkewSeconds > 0` produces a NON-time-ordered feed with bounded
    * disorder — the production arrival shape (a firehose is never
    * perfectly ordered): each row is assigned to a slice by a PERTURBED
    * position `ts + δ` where δ is a deterministic per-row hash in
    * [-skew, +skew], so events cross slice boundaries by up to one skew
    * in either direction. Two rows can arrive out of order only when
    * their true event times differ by ≤ 2·skew — the displacement bound
    * a consumer's watermark delay must cover (delay > 2·skew ⇒ no row
    * is ever late-dropped; rows beyond that slack would be dropped by
    * the stateful operator's watermark filter, per Spark's contract).
    * Tail frames are never perturbed (they are watermark sentinels). */
  def sliced(df: DataFrame, tsCol: String, nBatches: Int, workDir: String,
      tails: Seq[DataFrame] = Nil, oooSkewSeconds: Long = 0L,
      knownBounds: Option[(Long, Long)] = None): DataFrame = {
    val spark = df.sparkSession
    val feed = s"$workDir/feed"
    new java.io.File(feed).mkdirs()
    // slice position: true event time, or the hash-perturbed variant for
    // the bounded-disorder feed (deterministic: same row → same slice)
    val pos =
      if (oooSkewSeconds <= 0) col(tsCol)
      else col(tsCol) +
        pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
          lit(2 * oooSkewSeconds + 1)) - oooSkewSeconds
    val withPos = df.withColumn("_feed_pos", pos)
    // knownBounds: a caller that already aggregated min/max of tsCol can
    // hand them over and skip the second full-input agg job this method
    // would otherwise run. Only valid for unperturbed feeds — with skew
    // the slicing position is NOT tsCol, so the caller cannot know it.
    require(knownBounds.isEmpty || oooSkewSeconds <= 0,
      "FileFeed.sliced: knownBounds is only valid without oooSkewSeconds")
    val (minT, maxT) = knownBounds.getOrElse {
      val mm = withPos.agg(min(col("_feed_pos")), max(col("_feed_pos"))).head()
      require(!mm.isNullAt(0), "FileFeed.sliced: empty input")
      (mm.getLong(0), mm.getLong(1))
    }
    val span = math.max(1L, maxT - minT + 1)
    val mtimeBase = System.currentTimeMillis() - 600000L
    def writeSlice(slice: DataFrame, i: Int): Unit = {
      val tmp = s"$workDir/slice_tmp_$i"
      slice.repartition(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"FileFeed: no part file in $tmp"))
      val dst = new java.io.File(feed, f"slice_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtimeBase + i * 2000L)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmp))
    }
    // ONE job writes every slice (guide §2.4: the per-slice
    // filter+repartition(1) loop re-scanned the input nBatches times and
    // paid nBatches job round-trips; with 14 file gates × reps that was
    // measurable suite-wide). Slice index by closed-form inverse of the
    // loop boundaries lo_i = minT + i*span/nBatches: for offset
    // d = pos - minT, slice(d) = max{i : i*span < (d+1)*nBatches} =
    // floor(((d+1)*nBatches - 1) / span) — row-identical to the old
    // per-slice range filters (pinned by FileFeedSliceSpec).
    val tmpAll = s"$workDir/slices_tmp"
    // A knownBounds narrower than the real position range would put a
    // main row outside [0, nBatches): below slice 0, past the last slice,
    // or onto a tail's index, where it would ride silently in a sentinel
    // batch. The write job itself refuses any row outside [minT, maxT]
    // (raise_error), so the check costs no extra job.
    val outside = s"FileFeed.sliced: rows landed outside slices [0, $nBatches) — " +
      s"knownBounds $knownBounds does not cover the $tsCol range"
    val mainSlices = withPos
      .withColumn("_slice", when(col("_feed_pos").between(minT, maxT), expr(
        s"CAST(((_feed_pos - ${minT}L + 1L) * ${nBatches}L - 1L) div ${span}L AS INT)"))
        .otherwise(raise_error(concat(lit(s"$outside: position "),
          coalesce(col("_feed_pos").cast("string"), lit("null"))))))
      .select((df.columns.map(col) :+ col("_slice")).toIndexedSeq: _*)
    // tails ride the SAME write job as fixed trailing slice indices
    // (nBatches + j) instead of one repartition(1) job each — sentinel
    // frames are single rows, so a dedicated Spark job per tail was pure
    // scheduling overhead across every file gate (guide §2.4)
    val tailSlices = tails.zipWithIndex.map { case (t, j) =>
      t.select(df.columns.map(col).toIndexedSeq: _*)
        .withColumn("_slice", lit(nBatches + j))
    }
    try tailSlices.foldLeft(mainSlices)(_ unionByName _)
      .repartition(col("_slice"))
      .write.partitionBy("_slice").parquet(tmpAll)
    catch { case e: Exception
        if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains(outside)) =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmpAll))
      throw new IllegalArgumentException(outside, e)
    }
    val slices = 0 until nBatches + tails.length
    for (i <- slices) {
      val dir = new java.io.File(tmpAll, s"_slice=$i")
      val parts = Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      // one part per slice dir is the repartition(col)'s invariant; if a
      // future conf (maxRecordsPerFile, skew splitting) ever breaks it,
      // fail loudly instead of silently dropping the extra parts' rows
      require(parts.length <= 1, s"FileFeed.sliced: slice $i produced " +
        s"${parts.length} part files — single-file-per-slice invariant broken")
      parts.headOption match {
        case Some(part) =>
          val dst = new java.io.File(feed, f"slice_$i%03d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(mtimeBase + i * 2000L)
        case None =>
          // an empty event-time range still feeds one (empty) file, so
          // micro-batch boundaries stay exactly as before
          writeSlice(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], df.schema), i)
      }
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmpAll))
    spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
  }

  /** Route checkpoint I/O through [[LocalNioCheckpointFileManager]] when
    * (and only when) the checkpoint root is on the local filesystem —
    * the default FileContext manager forks a `chmod` subprocess per
    * checkpoint file without libhadoop (see the manager's scaladoc; the
    * win was measured at ~25-30% of every bounded file-source gate).
    * An explicitly configured manager, or a non-file checkpoint root
    * (object store at scale), is left untouched. */
  def withLocalCheckpoints[A](spark: SparkSession, ckptDir: String)(
      body: => A): A = {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val scheme = try new java.net.URI(ckptDir).getScheme catch { case _: Throwable => null }
    val isLocal = scheme == null || scheme == "file"
    if (!isLocal || spark.conf.getOption(key).nonEmpty) body
    else withConf(spark, key, classOf[LocalNioCheckpointFileManager].getName)(body)
  }

  /** Pin one session conf for `body`'s span, restoring the previous
    * value (or unsetting) after — the shared pattern for confs a stream
    * depends on for its whole lifetime (e.g. noDataMicroBatches, which
    * the timeout gates PIN rather than inherit). */
  def withConf[A](spark: SparkSession, key: String, value: String)(
      body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Fully-qualified RocksDB state-store provider (bundled with Spark;
    * rocksdbjni ships in the distribution's jars). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's state-store provider switched to
    * RocksDB (restored after). The provider class is captured per query
    * at start, so wrapping the `start()`/`awaitTermination()` span is
    * sufficient. At 100 TB the DEFAULT heap provider is the wrong tool —
    * every active key lives on the executor heap, so state is bounded by
    * executor memory; RocksDB keeps state on local SSD with a block-cache
    * working set, which is how a production deployment holds a multi-TB
    * dedup horizon or join buffer. The gates run both providers against
    * the SAME oracle: state-backend choice must be invisible to results. */
  def withStateProvider[A](spark: SparkSession, rocksDb: Boolean,
      changelog: Boolean = false)(body: => A): A =
    if (!rocksDb) body
    else {
      // Changelog checkpointing is the production commit path at scale:
      // the default uploads a FULL RocksDB snapshot zip per micro-batch
      // per partition (commit cost grows with total state size), the
      // changelog mode uploads only the batch's changed keys and
      // snapshots in the background (commit cost ~ batch delta). Both
      // recover exactly-once — RocksDbStateSpec restarts under each.
      val keys = Seq(
        "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
          -> changelog.toString)
      val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}
