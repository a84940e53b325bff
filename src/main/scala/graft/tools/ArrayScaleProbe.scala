package graft.tools

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** ORDER-OF-MAGNITUDE probe for the array engine (dev tool, not a gate):
  * runs the performance-fixture shape (400×600×z short, 30³ chunks —
  * reference resources/performance.json:1-19) at z = 900·scale for each
  * requested scale and times the paths whose 100 TB posture was argued
  * from plan shape: full ingest, full exploded read, chunk-aligned
  * pruned window, driver slice, stats pushdown, chunk-grid aggregation,
  * and the storage-partitioned join window — plus the DRIVER-side
  * planning measurements the scale claims actually rest on (full-scan
  * planning time and partition count, manifest listing cost, post-GC
  * heap after planning).
  *
  * Healthy result: volume-proportional entries (ingest, full read, SPJ)
  * grow ~linearly in scale; fixed-window entries (pruned window, driver
  * slice) stay flat; planning partitions grow with #buckets while
  * planning TIME and driver heap stay far sub-linear. A super-linear
  * step names a structure that would not survive 100×.
  *
  * Usage:
  *   SPARK_GRAFT_ARRAY_SCALES=1,10 sbt "runMain graft.tools.ArrayScaleProbe"
  */
object ArrayScaleProbe {

  /** splitmix64 finalizer — the `unique` content mode's cell generator:
    * deterministic and avalanching, so every chunk's 27000-short payload
    * is globally unique and incompressible (the lz4 filter's 1.2× ratio
    * bail-out stores it raw). The default periodic content (v = f(i) %
    * 1000) content-dedups ~2700× in the content-addressed store, which
    * made both the blob-IO bandwidth and the vacuum-reclaim rows of the
    * triad table degenerate (r17 verdict: "reclaimed blobs 0/0/0"). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val scales = sys.env.getOrElse("SPARK_GRAFT_ARRAY_SCALES", "1,10")
      .split(",").toSeq.map(_.trim.toDouble)
    // periodic (default) = the historical fixture, numbers comparable
    // across rounds; unique = incompressible content for blob-IO /
    // vacuum-reclaim measurement (SPARK_GRAFT_ARRAY_CONTENT=unique)
    val uniqueContent =
      sys.env.getOrElse("SPARK_GRAFT_ARRAY_CONTENT", "periodic") == "unique"
    // metadata-plane mode (SPARK_GRAFT_ARRAY_METAONLY=1): skip the
    // volume-proportional DATA legs (full exploded reads, chunked agg,
    // SPJ) so the x100 shape (~840k chunks) measures what the 100 TB
    // posture actually rests on — manifest listing, planning partitions
    // + heap, pin cost, window reads, the maintenance triad, and the
    // zone-map aggregate (index-driven by design) — without decoding
    // 21.6 Gcells of fixture
    val metaOnly = sys.env.get("SPARK_GRAFT_ARRAY_METAONLY").contains("1")
    val spark = graft.GraftSession.local("graft-array-scale-probe", defaultCpus = 32)
    import spark.implicits._
    val probe = new ProbeRecord("array-scale")
    import probe.{rec, time}
    def heapMb(): Double = {
      System.gc(); Thread.sleep(300); System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
    def syncFs(): Unit =
      try { new ProcessBuilder("sync").start().waitFor(); () }
      catch { case _: Throwable => () }
    def duBytes(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try s.filter(f => java.nio.file.Files.isRegularFile(f))
          .mapToLong(f => java.nio.file.Files.size(f)).sum
        finally s.close()
      }
    }

    for (scale <- scales) {
      val tag = if (scale == scale.toLong.toDouble) s"x${scale.toLong}"
        else s"x$scale"
      val zDim = math.max(30L, (900 * scale).toLong)
      val dims = Map("x" -> 400L, "y" -> 600L, "z" -> zDim)
      val meta = DatasetMeta(
        dimensions = dims,
        chunkDimensions = Map("x" -> 30L, "y" -> 30L, "z" -> 30L),
        variables = Map("foo" ->
          VariableDef("short", Vector("x", "y", "z"), -3.0)))
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_scaleprobe_$tag").toString
      val store = new SparkStore(spark, root)
      val nChunks = 14L * 20L * ((zDim + 29L) / 30L)
      rec(s"chunks_$tag", nChunks.toDouble)
      rec(s"cells_$tag", 400.0 * 600.0 * zDim)

      // ---- ingest: the bench writer shape, slabs generated ON EXECUTORS
      // (same codepath as ArrayBench). Slab rows are BOUNDED at one
      // (x-plane × 900-z-block) = 600·900 shorts = 1.08 MB regardless of
      // scale — the shape a scale-honest writer uses. The round-16 form
      // (one UNBOUNDED row per whole x-plane, 10.8 MB/row at x10) made
      // ingest look super-linear at x10; the attribution run pinned that
      // to G1 humongous-allocation churn (85.6 s wall with 15.5 s GC and
      // ZERO spill, store-bytes ~1.6 MB, shuffle 262 MB — i.e. not IO),
      // a fixture artifact, not an engine property. Cell content is
      // unchanged, so every read leg's data is identical.
      def writePlanes(ds: String, zD: Long, nX: Long, create: Boolean,
          salt: Long): Unit = {
        val uniq = uniqueContent // plain boolean for the executor closure
        if (create) store.create(ds)
        val w = store.addVersion(ds, meta.copy(dimensions = dims.updated("z", zD)))
        val zBlock = 900L // 30-aligned; 600*900 shorts = 1.08 MB per row
        val nZ = (zD + zBlock - 1L) / zBlock
        val slabRows = spark.range(nX * nZ).map { rid =>
          val x = rid / nZ
          val z0 = (rid % nZ) * zBlock
          val z1 = math.min(zD, z0 + zBlock)
          val zw = z1 - z0
          val len = 600L * zw
          val bytes = new Array[Byte]((len * 2).toInt)
          var j = 0L
          while (j < len) {
            // same global cell content as the unsplit fixture:
            // in-plane index i = y*zD + z
            val i = (j / zw) * zD + z0 + j % zw
            val v: Short =
              if (uniq) mix64(x * 600L * zD + i + salt * 0x632BE59BD9B4E019L).toShort
              else ((x * 31 + i + salt) % 1000).toShort
            val o = (2 * j).toInt
            bytes(o) = (v >> 8).toByte; bytes(o + 1) = v.toByte
            j += 1
          }
          (Array(x, 0L, z0), Array(x + 1L, 600L, z1), bytes, rid)
        }.toDF("start", "stop", "bytes", "seq")
        w.writeRows("foo", slabRows)
        w.finishVersion()
        ()
      }
      def writePerf(ds: String, zD: Long): Unit =
        writePlanes(ds, zD, 400L, create = true, salt = 0L)
      writePerf("warm", 60L) // untimed JIT warm-up, both scales alike
      syncFs()
      // ---- ingest with IO ATTRIBUTION: store-root bytes (blob + index
      // parquet landed by the write) vs shuffle-write bytes (the one
      // cogroup shuffle) — the split a capacity planner sizes devices
      // by, and the denominator for MB/s when the wall number is
      // page-cache-writeback-bound on a single-disk box
      val preStoreBytes = duBytes(root)
      def gcMillis(): Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      }
      val preGc = gcMillis()
      val ingest = graft.metrics.SparkCost.measure(spark) {
        time(s"ingest_$tag") { writePerf("perf", zDim) }
      }.totals
      syncFs()
      rec(s"ingest_store_mb_$tag", (duBytes(root) - preStoreBytes) / 1048576.0)
      rec(s"ingest_shuffle_mb_$tag", ingest.shuffleWriteBytes / 1048576.0)
      rec(s"ingest_spill_disk_mb_$tag", ingest.diskSpillBytes / 1048576.0)
      rec(s"ingest_spill_mem_mb_$tag", ingest.memorySpillBytes / 1048576.0)
      rec(s"ingest_gc_sec_$tag", (gcMillis() - preGc) / 1000.0)
      rec(s"heap_after_ingest_mb_$tag", heapMb())

      // ---- driver planning state: manifest listing, full-scan planning
      time(s"listing_$tag") {
        require(store.versions("perf").nonEmpty)
      }
      val heapBeforePlan = heapMb()
      var planned = 0
      time(s"plan_full_$tag") {
        val df = spark.read.format("graft").option("root", root)
          .option("dataset", "perf").option("variable", "foo").load()
        planned = df.rdd.partitions.length
      }
      rec(s"plan_partitions_$tag", planned.toDouble)
      rec(s"heap_plan_delta_mb_$tag", heapMb() - heapBeforePlan)

      val reader = store.reader("perf").onLastVersion()
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      // untimed read warm-up (JIT + page cache for the decode path)
      noop(reader.exploded("foo", Slice(Seq(0L, 0L, 0L), Seq(60L, 60L, 60L))))

      // ---- volume-proportional reads
      if (!metaOnly) time(s"read_full_$tag") {
        noop(reader.exploded("foo",
          Slice(Seq(0L, 0L, 0L), Seq(400L, 600L, zDim))))
      }
      // ---- fixed-window reads: MUST stay flat across scales
      time(s"read_window_$tag") { // 8 chunks, scale-independent
        noop(reader.exploded("foo", Slice(Seq(30L, 30L, 0L), Seq(90L, 90L, 60L))))
      }
      time(s"slice_driver_$tag") { // 27k cells assembled on the driver
        reader.getSlice("foo", Slice(Seq(100L, 100L, 0L), Seq(130L, 130L, 30L)))
        ()
      }
      // ---- pushdown: zone-map stats, no interior blob decode
      time(s"stats_agg_$tag") {
        val row = spark.read.format("graft").option("root", root)
          .option("dataset", "perf").option("variable", "foo").load()
          .agg(min("value"), max("value"), sum("value"), count(lit(1)))
          .collect()(0)
        require(row.getLong(3) == 400L * 600L * zDim, "bad pushed count")
      }
      // ---- chunk-grid aggregation + storage-partitioned join window
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      if (!metaOnly) try {
        // chunk-aligned x<90 window (same as the SPJ window): volume-
        // proportional in z AND under the chunked scan's 65536-chunk
        // refusal cap at both scales. A FULL-grid chunked scan at x10
        // (84k chunks) refuses BY DESIGN — per-chunk partitions are the
        // co-location tool for bounded grid windows; whole-grid
        // aggregation at scale belongs on the range scan + shuffle.
        time(s"chunked_agg_$tag") {
          noop(spark.read.format("graft").option("root", root)
            .option("dataset", "perf").option("variable", "foo")
            .option("chunked", "true").load()
            .filter(col("x") < 90)
            .groupBy("_chunk_x", "_chunk_y", "_chunk_z")
            .agg(sum("value"), count(lit(1))))
        }
        System.gc()
        time(s"spj_window_$tag") {
          def side = spark.read.format("graft").option("root", root)
            .option("dataset", "perf").option("variable", "foo")
            .option("chunked", "true").load()
            .filter(col("x") < 90)
          // cast before adding: unique-content mode spans the full short
          // range, and SHORT + SHORT overflows under ANSI arithmetic
          noop(side.alias("a").join(side.alias("b").hint("shuffle_hash"),
            Seq("_chunk_x", "_chunk_y", "_chunk_z", "x", "y", "z"))
            .select(col("a.value").cast("int") + col("b.value").cast("int")))
        }
      } finally {
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      // ---- MVCC overlay at scale: a second version overwriting the
      // first 30-plane slab (one x-chunk row); reads at the child must
      // overlay-resolve BOTH versions' indexes over the whole grid, and
      // a pinned time-travel window at v1 must stay fixed-cost
      val v1 = store.versions("perf").head._2
      val preOverlayBytes = duBytes(root)
      time(s"overlay_commit_$tag") {
        writePlanes("perf", zDim, nX = 30L, create = false, salt = 7L)
      }
      syncFs()
      rec(s"overlay_store_mb_$tag",
        (duBytes(root) - preOverlayBytes) / 1048576.0)
      val rv2 = store.reader("perf").onLastVersion()
      if (!metaOnly) time(s"read_full_v2_$tag") {
        noop(rv2.exploded("foo",
          Slice(Seq(0L, 0L, 0L), Seq(400L, 600L, zDim))))
      }
      time(s"read_window_v1_$tag") { // pinned time travel, 8 chunks
        noop(store.reader("perf").onVersion(v1)
          .exploded("foo", Slice(Seq(30L, 30L, 0L), Seq(90L, 90L, 60L))))
      }

      // ---- maintenance triad at scale (the weekly ops of a 100 TB
      // store): compact → expireHistory → vacuum over the 2-version
      // history just built. The O(changes)-not-O(history) resolve claim
      // is pinned by MEASURING what the post-compact resolve scans —
      // selected index files, all belonging to the checkpoint version —
      // not by wall time alone.
      time(s"compact_$tag") { store.compact("perf"); () }
      val cpVid = store.versions("perf").head._2
      val postIdx = store.resolvedIndexPinned("perf", "foo",
        store.metadata("perf", cpVid))
      val scannedIdx = postIdx.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.toPartitionArray.toSeq.map(_.filePath.toString)
      }.flatten
      require(scannedIdx.nonEmpty &&
        scannedIdx.forall(_.contains(s"version=$cpVid")),
        s"post-compact resolve must scan only version=$cpVid index files")
      rec(s"postcompact_resolve_files_$tag", scannedIdx.size.toDouble)
      time(s"read_window_postcompact_$tag") { // must stay flat vs read_window
        noop(store.reader("perf").onLastVersion()
          .exploded("foo", Slice(Seq(30L, 30L, 0L), Seq(90L, 90L, 60L))))
      }
      if (!metaOnly) time(s"read_full_postcompact_$tag") { // vs read_full_v2
        noop(store.reader("perf").onLastVersion()
          .exploded("foo", Slice(Seq(0L, 0L, 0L), Seq(400L, 600L, zDim))))
      }
      time(s"expire_$tag") {
        rec(s"expired_versions_$tag", store.expireHistory("perf").toDouble)
      }
      val preVacBytes = duBytes(root)
      def blobCount(): Long = {
        val p = java.nio.file.Paths.get(root, "chunks")
        if (!java.nio.file.Files.exists(p)) 0L
        else {
          val s = java.nio.file.Files.walk(p)
          try s.filter(f => java.nio.file.Files.isRegularFile(f)).count()
          finally s.close()
        }
      }
      // blob FILES, not blobs: the chunk store packs hash-sorted blobs
      // into parquet files, so these two pin the file-level sweep while
      // vacuum_reclaimed_blobs is the true per-blob count (live blobs
      // after the triad = chunks_<tag>, every grid chunk exactly once)
      rec(s"chunkstore_files_prevac_$tag", blobCount().toDouble)
      time(s"vacuum_$tag") {
        rec(s"vacuum_reclaimed_blobs_$tag", store.vacuum(graceMs = 0L).toDouble)
      }
      syncFs()
      rec(s"chunkstore_files_postvac_$tag", blobCount().toDouble)
      rec(s"vacuum_reclaimed_mb_$tag", (preVacBytes - duBytes(root)) / 1048576.0)
      // post-triad integrity: the zone-map count over the full grid is
      // intact (cell-exact equality is the q_arr_compact gate's job)
      time(s"stats_agg_postvacuum_$tag") {
        val row = spark.read.format("graft").option("root", root)
          .option("dataset", "perf").option("variable", "foo").load()
          .agg(min("value"), max("value"), sum("value"), count(lit(1)))
          .collect()(0)
        require(row.getLong(3) == 400L * 600L * zDim, "bad post-vacuum count")
      }
      rec(s"heap_final_mb_$tag", heapMb())
      // reclaim the multi-GB fixture before the next scale runs
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
      ()
    }

    println(probe.line())
    spark.stop()
  }
}
