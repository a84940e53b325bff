package graft

import graft.metrics.SparkCost
import org.apache.spark.sql.SparkSession

/** Benchmark main — prints ONE JSON line with per-query seconds.
  *
  * Sampling. The suite runs as SPARK_GRAFT_BENCH_REPS (default 3)
  * interleaved passes: pass p runs every entry once, so a transient
  * machine stall touches at most one rep of each entry. The array engine
  * suite ([[ArrayBench]]) runs the same number of write reps and read
  * passes after the query passes. Every rep is timed inside
  * [[graft.metrics.SparkCost.measure]], so it carries its own executor
  * CPU and run time, jobs, stages and shuffle bytes; a failed rep records
  * -1.0.
  *
  * Publication. Each entry publishes the plain upper median of its
  * successful reps (-1.0 when every rep failed), with their min and max
  * and the median rep's Spark cost in the full record. Nothing is
  * discarded, rerun or resampled.
  *
  * Refusal. An entry is contended when its median rep took more than
  * [[ContendedWallX]]× its fastest rep (the fastest over
  * [[ContendedMinSec]]) while its executor CPU time stayed within
  * [[ContendedCpuX]]× the fastest rep's: the extra wall time was not the
  * query's own work. A run with more than [[MaxContended]] contended
  * entries is not a record: it is written as BENCH_ATTEMPT_* beside the
  * configured files, which keep the previous record.
  *
  * Two groups:
  *  - every SparkEntry query (array-fixture ingest is warmed first so
  *    timings measure query cost, not one-time fixture construction);
  *  - engine throughput benchmarks shaped like the reference's
  *    performance fixture (400×600×900 short, 30³ chunks ≈ 412 MiB raw,
  *    8400 chunks — /root/reference/resources/performance.json:1-19),
  *    scaled by SPARK_GRAFT_BENCH_SCALE (default 1.0, the full volume).
  */
object Bench {

  /** Entries whose fastest rep is at most this many seconds are never
    * contended: at that size JIT, GC and scheduling jitter are a large
    * share of a rep, and such an entry cannot move the record's total. */
  val ContendedMinSec = 0.3

  /** The median rep must exceed the fastest by this factor: the same
    * plan on the same data ran at the fastest rep's time in this run, so
    * a median half as slow again means most reps ran well below what the
    * machine proved it can do. */
  val ContendedWallX = 1.5

  /** ...and its executor CPU time must be at most this factor of the
    * fastest rep's. Contention (CPU steal, a noisy neighbour) stretches
    * wall time but not the query's own CPU time; a plan that really does
    * more work in some reps (an adaptive join flip, a cold cache) raises
    * both. The slack covers the CPU cost of cache misses under
    * contention. */
  val ContendedCpuX = 1.25

  /** A run with more contended entries than this is refused: a few are
    * the normal spread of a 200-entry suite, more mean the run sat in a
    * contended window. */
  val MaxContended = 3

  /** One timed rep: wall seconds (-1.0 when it failed) and the Spark cost
    * of the jobs it ran. */
  final case class Rep(sec: Double, cpuSec: Double = 0.0, runSec: Double = 0.0,
      jobs: Int = 0, stages: Int = 0, shuffleBytes: Long = 0L)

  val Failed: Rep = Rep(-1.0, -1.0, -1.0, -1, -1, -1L)

  /** Time `body` inside [[SparkCost.measure]]; the timer excludes the
    * listener-bus drains around it. */
  def timed(spark: SparkSession, name: String)(body: => Unit): Rep =
    try {
      var sec = 0.0
      val cost = SparkCost.measure(spark) {
        val t0 = System.nanoTime()
        body
        sec = (System.nanoTime() - t0) / 1e9
      }
      val t = cost.totals
      Rep(sec, t.cpuMs / 1e3, t.runMs / 1e3, cost.jobs.size, cost.stages.size,
        t.shuffleWriteBytes)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      Failed
    }

  /** Upper median of the successful (non-negative) values: pessimistic
    * for even n; -1.0 when there is none. */
  def median(xs: Seq[Double]): Double = medianRep(xs.map(Rep(_))).sec

  /** The successful rep at the upper median, or [[Failed]]. */
  def medianRep(reps: Seq[Rep]): Rep = {
    val s = reps.filter(_.sec >= 0).sortBy(_.sec)
    if (s.isEmpty) Failed else s(s.length / 2)
  }

  /** The contention test of the class doc, over one entry's reps. */
  def contended(reps: Seq[Rep]): Boolean = {
    val ok = reps.filter(_.sec >= 0)
    ok.length >= 2 && {
      val fastest = ok.minBy(_.sec)
      val mid = medianRep(ok)
      fastest.sec > ContendedMinSec && mid.sec > ContendedWallX * fastest.sec &&
        mid.cpuSec <= ContendedCpuX * fastest.cpuSec
    }
  }

  /** The contended entries' names, sorted. */
  def contendedEntries(samples: collection.Map[String, Seq[Rep]]): Seq[String] =
    samples.collect { case (k, v) if contended(v) => k }.toSeq.sorted

  def refused(contendedEntries: Seq[String]): Boolean =
    contendedEntries.size > MaxContended

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // floor of 1: every entry needs at least one rep for its median
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local("graft-bench", defaultCpus = 32)

    // Warm up: fixture ingest + parquet footer caches, excluded from
    // timings. MUST NOT abort the run — a broken fixture voids only the
    // q_arr entries (each then records -1.0 on its own), not the whole
    // round's record (BENCH_r07 lost every number to an uncaught warm-up
    // failure here).
    try graft.queries.ArrayFixtures.get(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] array-fixture warm-up failed " +
        s"(q_arr entries will record -1.0): ${e.getMessage}")
    }

    // Dev aid: SPARK_GRAFT_BENCH_ONLY=substr,substr runs a subset (full run when unset).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    def wanted(name: String) = only.forall(_.exists(name.contains))
    val runs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Rep]]
    def record(name: String, rep: Rep): Unit =
      runs(name) = runs.getOrElse(name, Vector.empty[Rep]) :+ rep
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => wanted(q._1))

    // ANN serving path, measured separately: the index build is the
    // expensive once-per-corpus pass (Lloyd + assignment over all N
    // vectors); queries against the prebuilt index never re-scan the
    // corpus. ivf_query should land ≪ q_pipe_knn_ivf (which rebuilds
    // per run). verifyCorpus=false in the timed body: the fingerprint
    // attestation is a once-per-batch pinning cost, not per-query — the
    // build entry already includes computing the fingerprint.
    def ivfPass(): Unit = {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val idx = java.nio.file.Files.createTempDirectory("graft-bench-ivf").toString
      try {
        record("bench_ivf_build", timed(spark, "bench_ivf_build") {
          graft.pipeline.Similarity.ivfBuild(emb, idx, nCentroids = 16) })
        record("bench_ivf_query", timed(spark, "bench_ivf_query") {
          graft.pipeline.Similarity
            .ivfQuery(emb, idx, k = 5, nQueries = 20, verifyCorpus = false)
            .write.format("noop").mode("overwrite").save() })
      } finally graft.spark.StoreFs.deleteTree(idx)
    }

    // Interleaved passes: pass p runs EVERY query once, so a transient
    // machine stall poisons at most one rep per query instead of all
    // reps of whichever query it lands on (BENCH_r03's failure mode).
    // NOTE (round 16): a per-entry System.gc() before each timed body was
    // tried and REJECTED — on G1 the explicit full GC's follow-on
    // concurrent cleanup and heap-resize churn bleed INTO the next timed
    // body, elevating the sub-second entries ~1.3-2× across the board
    // (A/B full runs: aggregate 1.18× without vs 1.23× with). Cross-entry
    // pressure is real (q_pipe_dedup_incr_serve: 0.65 s in isolation vs
    // 1.4-1.9 s mid-suite) but per-entry forced GC is the wrong remedy;
    // the suite keeps the section-boundary JVM hygiene below instead.
    for (pass <- 0 until reps) {
      entries.foreach { case (name, fn) =>
        record(name, timed(spark, name) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save() })
      }
      if (wanted("bench_ivf_build") || wanted("bench_ivf_query")) ivfPass()
      System.err.println(s"[bench] pass ${pass + 1}/$reps done")
    }

    // JVM hygiene between suite sections: the query passes pin blocks
    // (localCheckpoint RDDs from packing/e2e, cached relations) that
    // stay in the block manager until unpersisted — left in place, the
    // engine benches below time 70-queries-worth of GC pressure and
    // storage-memory eviction, not the engine (observed: the SAME array
    // suite measures spj_join 12.6 s late in a full run vs 2.6 s in a
    // fresh JVM). Dropping them is free and outside every timed body.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // up to 256 MB of query-suite fixture blobs otherwise stay pinned
    // in old-gen while the engine suite is timed
    graft.spark.SparkStore.clearBlobCache()
    // the streaming gates' stopped queries leave loaded state-store
    // providers behind until periodic maintenance unloads them — with
    // 11 streaming entries × passes that is real heap pressure on
    // whatever is timed next (the per-gate unload in Gate.bounded
    // covers the gates themselves; this covers anything they missed)
    try org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
    catch { case _: Throwable => () }
    System.gc()

    // Engine throughput: performance.json-shaped dense array write + read.
    if (only.forall(_.exists(_.startsWith("bench"))))
      runs ++= ArrayBench.run(spark, reps)

    runs.foreach { case (name, v) =>
      System.err.println(f"[bench] $name: ${median(v.map(_.sec))}%.2f s  " +
        v.map(r => f"${r.sec}%.2f").mkString("[", ", ", "]") + "  cpu " +
        v.map(r => f"${r.cpuSec}%.2f").mkString("[", ", ", "]"))
    }

    val meds = runs.map { case (k, v) => k -> median(v.map(_.sec)) }
    val contendedNames = contendedEntries(runs)
    val contended = refused(contendedNames)
    def names(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = meds.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val rs = runs.map { case (k, v) =>
      "\"" + k + "\":" + v.map(_.sec).mkString("[", ",", "]") }.mkString("{", ",", "}")
    // per entry: the spread of its successful reps, its median rep's
    // Spark cost (every field -1 when no rep succeeded) and every rep's
    // CPU time, so a refusal can be checked from the record
    val es = runs.map { case (k, v) =>
      val ok = v.map(_.sec).filter(_ >= 0)
      val m = medianRep(v)
      s""""$k":{"min":${ok.minOption.getOrElse(-1.0)},"max":${ok.maxOption.getOrElse(-1.0)},""" +
        s""""cpuSec":${m.cpuSec},"runSec":${m.runSec},"jobs":${m.jobs},""" +
        s""""stages":${m.stages},"shuffleBytes":${m.shuffleBytes},""" +
        s""""cpuRuns":${v.map(_.cpuSec).mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val total = meds.values.filter(_ >= 0).sum
    val parallelism = spark.sparkContext.defaultParallelism
    // FULL record (every median at full precision + every raw rep) goes
    // to a local file — BENCH_r08's stdout line hit ~18 KB at 155
    // entries and overflowed the driver's bounded tail capture
    // ("parsed": null), so stdout must stay small and the audit trail
    // moves to disk. The keys reran through stallX described noise guards
    // that no longer exist; they stay, empty, so readers of older records
    // keep parsing.
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","contended":$contended,"contendedEntries":${names(contendedNames)},"queries":$qs,"runs":$rs,"reps":$reps,"reran":[],"minKept":[],"preGuardMedians":{},"recoverySamples":{},"rejectedSamples":{},"stallX":0,"sf":"$sfDir","cpus":$cpus,"defaultParallelism":$parallelism,"entries":$es}"""
    // attempt files land BESIDE the configured record (same directory),
    // so a driver pointing the outputs elsewhere still finds the refused
    // run's audit trail
    // one shared stamp so a refused run's full+summary pair stays
    // matchable by name across multiple refusals
    val attemptStamp = System.currentTimeMillis()
    def attemptSibling(configured: String, kind: String): String = {
      val p = java.nio.file.Paths.get(configured).toAbsolutePath
      p.resolveSibling(s"BENCH_ATTEMPT_${attemptStamp}_$kind.json").toString
    }
    // A SPARK_GRAFT_BENCH_ONLY subset run is a dev probe, not a record:
    // it must never replace the official full/summary files (a 3-entry
    // "full" record would erase the 190+-entry audit trail). Subset
    // output diverts to _subset-suffixed siblings unless the caller
    // explicitly configured the paths.
    def subsetDivert(configured: String, envKey: String): String =
      if (only.isEmpty || sys.env.contains(envKey)) configured
      else {
        val p = java.nio.file.Paths.get(configured).toAbsolutePath
        val n = p.getFileName.toString
        val dot = n.lastIndexOf('.')
        val diverted =
          if (dot >= 0) n.substring(0, dot) + "_subset" + n.substring(dot)
          else n + "_subset"
        p.resolveSibling(diverted).toString
      }
    val fullConfigured = subsetDivert(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_LOCAL_full.json"),
      "SPARK_GRAFT_BENCH_FULL")
    val summaryConfigured = subsetDivert(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "BENCH_SUMMARY.json"),
      "SPARK_GRAFT_BENCH_SUMMARY")
    if (contended) System.err.println(
      s"[bench] RECORD REFUSED (contended): ${contendedNames.size} entries' " +
        s"median reps ran over ${ContendedWallX}x their fastest at flat CPU time " +
        s"(${contendedNames.mkString(", ")}); emitting BENCH_ATTEMPT_* beside " +
        "the configured record — the official record is unchanged")
    val fullPath =
      if (contended) attemptSibling(fullConfigured, "full")
      else fullConfigured
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}") }
    // Compact stdout line. THE DRIVER PARSES PER-QUERY TIMINGS FROM THIS
    // LINE, so the queries map comes before any other list and the
    // default budget is sized so all ~207 entries fit (~7 KB).
    // Locale.ROOT: the f interpolator uses the default locale, which on
    // e.g. a de_DE JVM renders "0,123" — malformed JSON for the driver
    def f3(d: Double): String =
      if (d < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_STDOUT_BYTES", "24000").toInt
    def compact(picked: collection.Map[String, Double]): String = {
      val othersTotal =
        meds.collect { case (k, v) if !picked.contains(k) && v >= 0 => v }.sum
      val q = picked.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","contended":$contended,"queries":$q,"others":{"n":${meds.size - picked.size},"total":${f3(othersTotal)}},"n_queries":${meds.size},"reps":$reps,"reranN":0,"recoveredN":0,"minKeptN":0,"reran":[],"recovered":[],"minKept":[],"preGuardMedians":{},"full":"$fullPath","sf":"$sfDir","cpus":$cpus,"defaultParallelism":$parallelism}"""
    }
    // bench_* first, then slowest-first: with the default budget EVERY
    // entry fits; the ordering only matters if a deployment shrinks the
    // budget, in which case the most informative entries survive
    val ordered = {
      val (bench, rest) = meds.toSeq.partition(_._1.startsWith("bench_"))
      bench.sortBy(_._1) ++ rest.sortBy(-_._2)
    }
    val picked = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var used = compact(picked).length
    ordered.foreach { case (k, v) =>
      val cost = k.length + f3(v).length + 4
      if (used + cost <= budget) { picked(k) = v; used += cost }
    }
    val compactLine = compact(picked)
    println(compactLine)
    // The same line as the SINGLE line of BENCH_SUMMARY.json: under sbt
    // the stdout line prints mid-stream and sbt's own "[success]" trailer
    // ends the log, so a parser reading the last stdout line misses it —
    // the file is the parse-safe copy. (A JVM shutdown hook doesn't help:
    // sbt echoes the forked process's output and appends its trailer
    // after process exit, so nothing printed from this JVM can be last.)
    val summaryPath =
      if (contended) attemptSibling(summaryConfigured, "summary") // refused
      else summaryConfigured
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(summaryPath), compactLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $summaryPath: ${e.getMessage}") }
    spark.stop()
  }
}

/** Dense-array engine benchmarks (BASELINE.md engine-side targets). */
object ArrayBench {
  import Bench.{Failed, Rep, timed}
  import graft.core._
  import graft.meta.{DatasetMeta, VariableDef}
  import graft.spark.SparkStore

  /** The read entries, in the order each read pass times them. */
  private val readEntries = Seq(
    "bench_array_read_full", "bench_array_read_window", "bench_dsv2_read_full",
    "bench_array_slice_driver", "bench_stats_agg", "bench_chunked_agg",
    "bench_spj_join")

  def run(spark: SparkSession, reps: Int): Seq[(String, Seq[Rep])] = {
    // volume scale: 1.0 = the reference's full 216M-cell fixture
    val scale = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE", "1.0").toDouble
    val zDim = math.max(30L, (900 * scale).toLong)
    val dims = Map("x" -> 400L, "y" -> 600L, "z" -> zDim)
    val meta = DatasetMeta(
      dimensions = dims,
      chunkDimensions = Map("x" -> 30L, "y" -> 30L, "z" -> 30L),
      variables = Map("foo" -> VariableDef("short", Vector("x", "y", "z"), -3.0)))
    val root = java.nio.file.Files.createTempDirectory("graft_bench").toString
    val store = new SparkStore(spark, root)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Rep]]

    def time(name: String)(f: => Unit): Unit =
      results(name) = results.getOrElse(name, Vector.empty[Rep]) :+ timed(spark, name)(f)

    // Distributed ingest: one x-slab per row, generated on executors.
    // Each rep writes a FRESH dataset — content-addressed dedup would make
    // a second write of identical bytes nearly free and corrupt the median.
    import spark.implicits._
    // create/addVersion stay OUTSIDE the timed body (pre-change scope —
    // keeps write medians comparable across rounds)
    def prepare(ds: String, zD: Long): graft.spark.SparkVersionWriter = {
      store.create(ds)
      store.addVersion(ds, meta.copy(dimensions = dims.updated("z", zD)))
    }
    def writePerf(w: graft.spark.SparkVersionWriter, zD: Long): Unit = {
      val yz = (600L * zD)
      val slabRows = spark.range(400).map { xo =>
        val x = xo.toLong
        val bytes = new Array[Byte]((yz * 2).toInt)
        var i = 0
        while (i < yz) { // deterministic pattern
          val v = ((x * 31 + i) % 1000).toShort
          bytes(2 * i) = (v >> 8).toByte; bytes(2 * i + 1) = v.toByte
          i += 1
        }
        (Array(x, 0L, 0L), Array(x + 1L, 600L, zD), bytes, x)
      }.toDF("start", "stop", "bytes", "seq")
      w.writeRows("foo", slabRows)
      w.finishVersion()
    }
    try {
      // Untimed small-volume warmup (never larger than the timed shape):
      // first-write reps otherwise measure JIT compilation of the
      // shred/hash/compress/parquet path, not steady-state throughput
      // (observed 10 s cold vs 4 s warm for the SAME full write).
      val warmZ = math.min(zDim, 60L)
      writePerf(prepare("warm", warmZ), warmZ)
      // An UNTIMED sync between write reps pays the dirty-page flush of
      // ~400 MB of fresh blobs outside the timer, so the next rep doesn't
      // inherit the previous rep's writeback.
      def syncFs(): Unit =
        try { new ProcessBuilder("sync").start().waitFor() }
        catch { case _: Throwable => () }
      for (r <- 0 until reps) {
        val w = prepare(s"perf$r", zDim)
        syncFs()
        time("bench_array_write") { writePerf(w, zDim) }
      }
      syncFs()

      if (store.versions("perf0").isEmpty) { // the first write failed
        readEntries.foreach(n => results(n) = Vector.fill(reps)(Failed))
        return results.toSeq
      }
      val reader = store.reader("perf0").onLastVersion()
      // storage-partitioned join: two chunked scans of the same grid
      // joined on (_chunk_*, dims) — the reported KeyGroupedPartitioning
      // co-locates matching chunks, so NO Exchange moves either side
      // (plan shape pinned by DataSourceSpec). Window = a chunk-aligned
      // quarter (54M cells/side). The build side is hinted to a
      // shuffled-hash join: both sides arrive in identical row-major
      // order from the same decode, so the in-partition SMJ sorts are
      // pure waste — hashing one side is ~1.5× faster here and stays
      // exchange-free (pinned by DataSourceSpec's hinted-SHJ probe).
      def spjJoin(): Unit = {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        try {
          import org.apache.spark.sql.functions.col
          def side = spark.read.format("graft").option("root", root)
            .option("dataset", "perf0").option("variable", "foo")
            .option("chunked", "true").load()
            .filter(col("x") < 90) // chunk-aligned (30-wide x-chunks)
          side.alias("a").join(side.alias("b").hint("shuffle_hash"),
            Seq("_chunk_x", "_chunk_y", "_chunk_z", "x", "y", "z"))
            .select(col("a.value") + col("b.value"))
            .write.format("noop").mode("overwrite").save()
        } finally {
          spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
          spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        }
      }
      // Untimed same-shape SHJ warm-up: the first timed spj rep otherwise
      // pays JIT of the hash-join + columnar-decode path AND the cold page
      // cache on the freshly-written blobs (observed 4.1 vs 2.9 s
      // first-vs-last rep spread); every read entry warms the same way.
      try spjJoin()
      catch { case e: Throwable =>
        System.err.println(s"[bench] spj warm-up failed: ${e.getMessage}")
      }
      for (_ <- 0 until reps) {
        time("bench_array_read_full") {
          val df = reader.exploded("foo", Slice(Seq(0L, 0L, 0L), Seq(400L, 600L, zDim)))
          df.write.format("noop").mode("overwrite").save()
        }
        time("bench_array_read_window") {
          // chunk-aligned window: must touch exactly 8 chunks
          val df = reader.exploded("foo", Slice(Seq(30L, 30L, 0L), Seq(90L, 90L, 60L)))
          df.write.format("noop").mode("overwrite").save()
        }
        time("bench_dsv2_read_full") {
          // same cells via the DSv2 range-partition + columnar path
          spark.read.format("graft").option("root", root)
            .option("dataset", "perf0").option("variable", "foo").load()
            .write.format("noop").mode("overwrite").save()
        }
        time("bench_array_slice_driver") {
          reader.getSlice("foo", Slice(Seq(100L, 100L, 0L), Seq(130L, 130L, 30L)))
        }
        time("bench_stats_agg") {
          // full-variable min/max/sum/count: pushed-down partials answered
          // from zone-map index stats — no interior blob is decoded (compare
          // bench_array_read_full, which decodes all 216M cells)
          import org.apache.spark.sql.functions.{count, lit, max, min, sum}
          val row = spark.read.format("graft").option("root", root)
            .option("dataset", "perf0").option("variable", "foo").load()
            .agg(min("value"), max("value"), sum("value"), count(lit(1)))
            .collect()(0)
          require(row.getLong(3) == 400L * 600L * zDim, "bad pushed count")
        }
        time("bench_chunked_agg") {
          // grid-aligned per-chunk stats via the chunked scan: the reported
          // KeyGroupedPartitioning elides the groupBy shuffle entirely
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          try {
            import org.apache.spark.sql.functions.{count, lit, sum}
            spark.read.format("graft").option("root", root)
              .option("dataset", "perf0").option("variable", "foo")
              .option("chunked", "true").load()
              .groupBy("_chunk_x", "_chunk_y", "_chunk_z")
              .agg(sum("value"), count(lit(1)))
              .write.format("noop").mode("overwrite").save()
          } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        }
        // GC outside the timer: late-suite reps otherwise inherit the
        // previous entries' garbage (observed in-JVM rep drift 4.2→7.9 s
        // on an unchanged plan in the round-8 official run)
        System.gc()
        time("bench_spj_join")(spjJoin())
      }
      results.toSeq
    } finally graft.spark.StoreFs.deleteTree(root)
  }
}
