package graft

import graft.streaming.{FileFeed, StreamingDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** State-backend independence and checkpoint recovery.
  *
  * At 100 TB the heap state-store provider is the wrong tool (every live
  * key on the executor heap); production streams run RocksDB (state on
  * local SSD, block-cache working set). Two invariants pin that path:
  *
  *  1. Backend choice is invisible to results — the RocksDB run of the
  *     production dedup stream produces exactly the heap run's output,
  *     and the checkpoint proves the provider actually engaged (RocksDB
  *     snapshots state as version zips; the heap provider writes deltas).
  *  2. A stream killed between micro-batches resumes from its checkpoint
  *     EXACTLY-ONCE under both providers: recovered state still drops
  *     duplicates of pre-crash rows, already-committed input is not
  *     reprocessed, and nothing is lost.
  */
/** Cross-task injection flag for the mid-batch failure leg (local mode:
  * executor tasks share the JVM, so a static suffices). */
object RocksDbStateSpec {
  val poisonTripped = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class RocksDbStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def fps(df: DataFrame): Seq[String] = {
    import spark.implicits._
    df.select("fp").as[String].collect().toSeq.sorted
  }

  private def stateFiles(ckpt: Path, suffix: String): Seq[Path] = {
    val stateDir = ckpt.resolve("state")
    if (!Files.exists(stateDir)) Seq.empty
    else {
      val it = Files.walk(stateDir)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(_.toString.endsWith(suffix)).toList
      } finally it.close()
    }
  }

  /** The production dedup stream (file feed in `dir`/feed, parquet sink,
    * checkpoint at `dir`/ckpt, changelog commits under RocksDB as the
    * gates run it) over `rows`; returns the sunk rows. */
  private def dedupStream(rows: Seq[(Long, String)], dir: Path,
      rocksDb: Boolean): DataFrame = {
    val ev = docsDf(rows).withColumn("ts_s", col("doc_id") + 86400L)
    val stream = FileFeed.sliced(ev, "ts_s", nBatches = 3, dir.toString)
      .select(timestamp_seconds(col("ts_s")).as("ts"), col("text"))
    FileFeed.withStateProvider(spark, rocksDb, changelog = rocksDb) {
      StreamingDedup.byFingerprint(stream, horizon = "10 days")
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    spark.read.parquet(s"$dir/out")
  }

  test("RocksDB provider: engaged for real, results identical to heap") {
    val rows = (0L until 24L).map(i => (i, s"doc body ${i % 16}")) // 8 dups
    val heapDir = Files.createTempDirectory("rocks-heap")
    val rocksDir = Files.createTempDirectory("rocks-rocks")
    try {
      val heap = fps(dedupStream(rows, heapDir, rocksDb = false))
      val rocks = fps(dedupStream(rows, rocksDir, rocksDb = true))
      assert(heap == rocks)
      assert(heap.size == 16)
      assert(heap.distinct.size == heap.size, "duplicate fingerprints emitted")
      // provider engagement: RocksDB checkpoints state as <version>.zip
      // snapshots (or .changelog files); the heap provider writes .delta
      assert(stateFiles(heapDir.resolve("ckpt"), ".delta").nonEmpty,
        "heap run left no .delta state files")
      val rocksCkpt = rocksDir.resolve("ckpt")
      assert(stateFiles(rocksCkpt, ".zip").nonEmpty ||
        stateFiles(rocksCkpt, ".changelog").nonEmpty,
        "RocksDB run left no RocksDB-format state files — provider did not engage")
      assert(stateFiles(rocksCkpt, ".delta").isEmpty,
        "RocksDB run wrote heap-provider deltas")
    } finally Seq(heapDir, rocksDir).foreach(d =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(d.toFile))
  }

  // mode = (rocksDb, changelogCheckpointing): heap deltas, RocksDB
  // full-snapshot commits, RocksDB changelog commits (the at-scale
  // production path: per-batch upload is the batch's changed keys, not
  // a full state zip) — all three must recover exactly-once
  for ((rocksDb, changelog) <- Seq((false, false), (true, false), (true, true)))
    test("checkpoint restart is exactly-once " +
        s"(rocksDb=$rocksDb, changelog=$changelog)") {
      val work = Files.createTempDirectory(s"restart-$rocksDb-$changelog")
      val feed = work.resolve("feed"); Files.createDirectories(feed)
      val out = s"$work/out"; val ckpt = s"$work/ckpt"

      // one parquet file per micro-batch, monotone mtimes so the file
      // source replays them oldest-first (same shape as FileFeed.sliced)
      var nSlices = 0
      def writeSlice(rows: Seq[(Long, String)]): Unit = {
        val tmp = s"$work/tmp_$nSlices"
        docsDf(rows).repartition(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = feed.resolve(f"slice_$nSlices%03d.parquet")
        Files.move(part.toPath, dst)
        dst.toFile.setLastModified(
          System.currentTimeMillis() - 600000L + nSlices * 2000L)
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmp))
        nSlices += 1
      }

      // AvailableNow drains exactly the files present at start, then
      // stops — a deterministic stand-in for a crash between batches
      def runOnce(): Unit = FileFeed.withStateProvider(spark, rocksDb,
          changelog = changelog) {
        val stream = spark.readStream
          .schema(docsDf(Seq((0L, ""))).schema)
          .option("maxFilesPerTrigger", 1).parquet(feed.toString)
          .select(timestamp_seconds(col("doc_id") + 86400L).as("ts"),
            col("text"))
        val q = StreamingDedup.byFingerprint(stream, horizon = "10 days")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }

      // phase A: two slices, one internal dup
      writeSlice(Seq((0L, "alpha"), (1L, "beta")))
      writeSlice(Seq((2L, "alpha"), (3L, "gamma")))
      runOnce()
      val afterA = fps(spark.read.parquet(out))
      assert(afterA.size == 3, s"phase A emitted $afterA")

      // phase B (post-restart): dups of phase-A docs must be dropped by
      // RECOVERED state; new docs pass; phase-A input is not re-emitted
      writeSlice(Seq((4L, "beta"), (5L, "delta")))
      writeSlice(Seq((6L, "gamma"), (7L, "epsilon")))
      runOnce()
      val finalFps = fps(spark.read.parquet(out))
      val oracle = fps(
        docsDf((0L until 8L).map(i => (i, Seq("alpha", "beta", "alpha",
          "gamma", "beta", "delta", "gamma", "epsilon")(i.toInt))))
          .select(graft.pipeline.TextOps.fingerprint(col("text")).as("fp"))
          .distinct())
      assert(finalFps.distinct.size == finalFps.size,
        s"restart re-emitted rows: $finalFps")
      assert(finalFps.toSet == oracle.toSet,
        s"restart lost or invented rows: got $finalFps expected $oracle")
      assert(finalFps.size == 5)
      // mode engagement, from the checkpoint itself: changelog commits
      // write per-batch .changelog files; full-snapshot RocksDB commits
      // write version .zip files and no changelogs
      if (rocksDb && changelog)
        assert(stateFiles(work.resolve("ckpt"), ".changelog").nonEmpty,
          "changelog mode left no .changelog state files")
      if (rocksDb && !changelog)
        assert(stateFiles(work.resolve("ckpt"), ".changelog").isEmpty &&
          stateFiles(work.resolve("ckpt"), ".zip").nonEmpty,
          "snapshot mode should write .zip versions and no changelogs")
    }

  // The harder crash shape: a task failure MID micro-batch, after
  // sibling output tasks already wrote their parquet parts and committed
  // their state-store partitions. The batch never commits (no manifest
  // entry, no source-offset advance); the re-run reprocesses it from the
  // batch's input state version, overwriting the siblings' uncommitted
  // state and re-writing their files — readers (manifest-filtered) see
  // exactly-once output, orphaned first-attempt parts and all. local[n]
  // has task-maxFailures=1, so the injected failure surfaces as a query
  // failure and the retry is the checkpoint-driven batch replay — the
  // same recompute path a cluster's in-query task retry runs.
  for ((rocksDb, changelog) <- Seq((false, false), (true, false), (true, true)))
    test("mid-batch failure with partial sink output recovers " +
        s"exactly-once (rocksDb=$rocksDb, changelog=$changelog)") {
      import spark.implicits._
      RocksDbStateSpec.poisonTripped.set(false)
      val work = Files.createTempDirectory(s"midb-$rocksDb-$changelog")
      val feed = work.resolve("feed"); Files.createDirectories(feed)
      val out = s"$work/out"; val ckpt = s"$work/ckpt"

      var nSlices = 0
      def writeSlice(rows: Seq[(Long, String)]): Unit = {
        val tmp = s"$work/tmp_$nSlices"
        docsDf(rows).repartition(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = feed.resolve(f"slice_$nSlices%03d.parquet")
        Files.move(part.toPath, dst)
        dst.toFile.setLastModified(
          System.currentTimeMillis() - 600000L + nSlices * 2000L)
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmp))
        nSlices += 1
      }

      def runOnce(): Unit = FileFeed.withStateProvider(spark, rocksDb,
          changelog = changelog) {
        val stream = spark.readStream
          .schema(docsDf(Seq((0L, ""))).schema)
          .option("maxFilesPerTrigger", 1).parquet(feed.toString)
          .select(timestamp_seconds(col("doc_id") + 86400L).as("ts"),
            col("text"))
        val deduped = StreamingDedup.byFingerprint(stream,
          horizon = "10 days")
        // first-attempt poison: the task holding "zeta" stalls long
        // enough for sibling output tasks to finish their writes, then
        // dies — a genuinely partial micro-batch
        val poisoned = deduped
          .as[(java.sql.Timestamp, String, String)]
          .map { case r @ (_, text, _) =>
            if (text == "zeta" &&
                RocksDbStateSpec.poisonTripped.compareAndSet(false, true)) {
              Thread.sleep(2000L)
              throw new RuntimeException("injected first-attempt failure")
            }
            r
          }.toDF("ts", "text", "fp")
        val q = poisoned.writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }

      // batch 1 commits clean; batch 2 carries the poison row among
      // enough distinct fps to fan output across sibling tasks
      writeSlice(Seq((0L, "alpha"), (1L, "beta")))
      writeSlice(Seq((2L, "zeta"), (3L, "gamma"), (4L, "delta"),
        (5L, "alpha"), (6L, "epsilon")))
      val e = intercept[Exception] { runOnce() }
      assert(RocksDbStateSpec.poisonTripped.get, s"poison never fired: $e")
      // the failed batch must not have committed: manifest-filtered
      // readers still see only batch 1
      assert(fps(spark.read.parquet(out)).size == 2,
        "a failed micro-batch leaked committed output")
      // (sibling tasks of the poisoned batch did write their parts —
      // the 2 s stall guarantees it — but the manifest protocol's job
      // abort best-effort-deletes staged files, so no orphan count is
      // asserted; what matters is the reader saw none of them)
      // re-run: the checkpoint replays the poisoned batch from its input
      // state version; recovered output is exact despite the partial
      // first attempt
      runOnce()
      val got = fps(spark.read.parquet(out))
      assert(got.distinct.size == got.size, s"retry re-emitted rows: $got")
      val oracle = fps(docsDf(Seq((0L, "alpha"), (1L, "beta"),
        (2L, "zeta"), (3L, "gamma"), (4L, "delta"), (5L, "epsilon")))
        .select(graft.pipeline.TextOps.fingerprint(col("text")).as("fp"))
        .distinct())
      assert(got.toSet == oracle.toSet,
        s"retry lost or invented rows: got $got expected $oracle")
      assert(got.size == 6)
    }
}
