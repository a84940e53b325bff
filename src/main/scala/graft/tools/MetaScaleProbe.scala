package graft.tools

import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore

/** METADATA-PLANE probe for deep version histories (dev tool, not a
  * gate): the 100 TB posture assumes multi-thousand-version datasets
  * whose per-read cost is bounded by the checkpoint-floored chain walk
  * and whose listing/planning cost is bounded by expireHistory — this
  * measures those claims at depth N (default 2000) instead of arguing
  * them from structure.
  *
  * Legs (all driver-side wall clocks; blobs are tiny and content-dedup,
  * so only manifests + index rows cost disk — the point of the probe):
  *  - phase A, NO checkpoint: `commit_first100_nocp` / `commit_d100_200_
  *    nocp` / `commit_d200_300_nocp` — per-100 buckets of the first 300
  *    commits. Growth here is the SEMANTIC O(chain) of a no-maintenance
  *    history (each commit's read-modify-write admits the whole chain);
  *    the buckets name the slope. `pin_d300_nocp_cold`: fresh-handle pin
  *    at depth 300 with no checkpoint anywhere — O(depth) point GETs.
  *  - phase B, compact every SPARK_GRAFT_META_COMPACT_EVERY (default
  *    200, 0 = never), NO expire: `commit_middle_cp` /
  *    `commit_last100_cp` out to depth N with every historical partition
  *    still in the dir. Flat buckets prove per-commit cost is O(changes
  *    since last compact), not O(versions ever committed).
  *  - `listing_cold`: versions() on a FRESH store handle at ≥N manifests.
  *  - `seed_chains_cold`: listedManifests on a fresh handle — the
  *    memoized suffix-sharing chain seed over all manifests.
  *  - `pin_head_cold` / `pin_mid_cold`: fresh-handle pins, chain walk
  *    floored by the newest phase-B checkpoint (≤ compactEvery GETs).
  *  - `pin_head_postcp_cold`: after a HEAD compact() — the checkpoint
  *    floors the walk at O(1).
  *  - `read_window_head`: a small exploded read at the head (plan +
  *    execute) — the end-to-end cost a reader actually pays.
  *  - `expire`: expireHistory over the full history (mass manifest
  *    delete + index sweep), then `listing_postexpire`.
  *
  * Usage:
  *   SPARK_GRAFT_META_VERSIONS=2000 \
  *     sbt "runMain graft.tools.MetaScaleProbe"
  */
object MetaScaleProbe {
  def main(args: Array[String]): Unit = {
    val nVersions = sys.env.getOrElse("SPARK_GRAFT_META_VERSIONS", "2000").toInt
    require(nVersions >= 500,
      "SPARK_GRAFT_META_VERSIONS must be >= 500: the 3x100 no-checkpoint " +
        "buckets + middle + last-100 overlap below that and the leg counts lie")
    val spark = graft.GraftSession.local("graft-meta-scale-probe", defaultCpus = 32)
    val probe = new ProbeRecord("meta-scale", digits = 4)
    import probe.{rec, time}
    def heapMb(): Double = {
      System.gc(); Thread.sleep(300); System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }

    val root = java.nio.file.Files
      .createTempDirectory("graft_metaprobe").toString
    val store = new SparkStore(spark, root)
    val meta = DatasetMeta(
      dimensions = Map("h" -> 64L),
      chunkDimensions = Map("h" -> 16L),
      variables = Map("v" -> VariableDef("long", Vector("h"), -1.0)))
    store.create("deep")

    // ---- N single-chunk commits; first/last-100 rate pins drift.
    // Each version writes 4 cells in the chunk its index selects, so the
    // MVCC overlay stays non-trivial (every version contributes rows).
    def commitOne(i: Int): Unit = {
      val at = (i % 16).toLong * 4L
      val w = store.addVersion("deep", meta)
      w.write("v", Seq(Slab.fromDoubles(DType.LONG,
        Slice(Seq(at), Seq(at + 4L)),
        (0 until 4).map(k => (i * 10 + k).toDouble))))
      w.finishVersion()
      ()
    }
    // OPERATING POSTURE: a real 100 TB deployment compacts periodically
    // (the designed bound on resolve admission AND on the write path's
    // per-commit base resolve — without a checkpoint, every commit's
    // read-modify-write legitimately admits the WHOLE chain, so deep
    // no-maintenance histories are O(chain) per commit by SEMANTICS, not
    // by accident). Phase A measures that no-checkpoint drift explicitly
    // over the first 300 commits (per-100 buckets name the slope); phase
    // B then runs the posture — compact every `compactEvery` commits, NO
    // expire, so the dir keeps every version ever — out to depth N.
    // Flat phase-B buckets prove per-commit cost is O(changes since
    // last compact) even with thousands of unswept historical partitions
    // (the explicit-partition-path resolve; a whole-dir listing would
    // re-surface the phase-A drift here).
    val compactEvery = sys.env
      .getOrElse("SPARK_GRAFT_META_COMPACT_EVERY", "200").toInt
    commitOne(0) // JIT + path warm-up rides the first bucket anyway
    val t0 = System.nanoTime()
    (1 until 100).foreach(commitOne)
    rec("commit_first100_nocp", (System.nanoTime() - t0) / 1e9)
    val d2 = System.nanoTime()
    (100 until 200).foreach(commitOne)
    rec("commit_d100_200_nocp", (System.nanoTime() - d2) / 1e9)
    val d3 = System.nanoTime()
    (200 until 300).foreach(commitOne)
    rec("commit_d200_300_nocp", (System.nanoTime() - d3) / 1e9)

    // worst-case pin while NO checkpoint exists anywhere: O(depth=300)
    // manifest point-GETs on a fresh handle
    val headNoCp = store.versions("deep").head._2
    time("pin_d300_nocp_cold") {
      val fresh = new SparkStore(spark, root)
      require(fresh.reader("deep").onVersion(headNoCp).meta.versionId
        .contains(headNoCp))
    }

    def maybeCompact(i: Int): Unit =
      if (compactEvery > 0 && i % compactEvery == 0) { store.compact("deep"); () }
    val mid0 = System.nanoTime()
    (300 until (nVersions - 100)).foreach { i => maybeCompact(i); commitOne(i) }
    rec("commit_middle_cp", (System.nanoTime() - mid0) / 1e9)
    val tl0 = System.nanoTime()
    ((nVersions - 100) until nVersions).foreach { i => maybeCompact(i); commitOne(i) }
    rec("commit_last100_cp", (System.nanoTime() - tl0) / 1e9)
    rec("versions_total", nVersions.toDouble)

    val heapBefore = heapMb()
    // ---- cold listing + chain seeding (fresh handles: no caches);
    // >= because each phase-B compact adds a checkpoint version
    time("listing_cold") {
      require(new SparkStore(spark, root).versions("deep").size >= nVersions)
    }
    time("seed_chains_cold") {
      require(new SparkStore(spark, root)
        .listedManifests("deep").size >= nVersions)
    }
    rec("heap_listing_delta_mb", heapMb() - heapBefore)

    // ---- cold head pin: chain walk floored by the newest phase-B
    // checkpoint (<= compactEvery manifest GETs)
    val head = store.versions("deep").head._2
    time("pin_head_cold") {
      val fresh = new SparkStore(spark, root)
      require(fresh.reader("deep").onVersion(head).meta.versionId
        .contains(head))
    }
    // mid-history pin: also floored by ITS chain's newest checkpoint
    time("pin_mid_cold") {
      val mid = store.versions("deep")(nVersions / 2)._2
      val fresh = new SparkStore(spark, root)
      require(fresh.reader("deep").onVersion(mid).meta.versionId
        .contains(mid))
    }

    time("read_window_head") {
      store.reader("deep").onVersion(head)
        .exploded("v", Slice(Seq(0L), Seq(64L)))
        .write.format("noop").mode("overwrite").save()
    }

    // ---- head compact: the checkpoint floors every later walk at O(1)
    time("compact") { store.compact("deep"); () }
    val headCp = store.versions("deep").head._2
    time("pin_head_postcp_cold") {
      val fresh = new SparkStore(spark, root)
      require(fresh.reader("deep").onVersion(headCp).meta.versionId
        .contains(headCp))
    }
    time("read_window_head_postcp") {
      store.reader("deep").onVersion(headCp)
        .exploded("v", Slice(Seq(0L), Seq(64L)))
        .write.format("noop").mode("overwrite").save()
    }

    // ---- expire the pre-checkpoint history: N manifests + index sweep
    time("expire") {
      rec("expired_versions", store.expireHistory("deep").toDouble)
    }
    time("listing_postexpire") {
      require(new SparkStore(spark, root).versions("deep").nonEmpty)
    }
    time("read_window_head_postexpire") {
      store.reader("deep").onVersion(headCp)
        .exploded("v", Slice(Seq(0L), Seq(64L)))
        .write.format("noop").mode("overwrite").save()
    }
    rec("heap_final_mb", heapMb())
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))

    println(probe.line())
    spark.stop()
  }
}
