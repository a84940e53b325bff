package perfbench

import graft.core.{DType, Sha1, Slab, Slice}
import graft.filters.FilterChain
import graft.functions.DecodeChunkCells
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}

/** Array-store benchmark: one closed-loop client thread drives one
  * workload (`scan` or `timetravel`) against a local[cores]
  * Spark session for a fixed measured time, checks every answer, and
  * prints its metrics; the last stdout line is the JSON result.
  *
  *   perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir> [--corrupt-check]
  *
  * `--work` holds the stores and Spark's scratch files (deleted at exit);
  * `--out` receives the span file of a traced run. `--corrupt-check`
  * perturbs every expected checksum, to show the checks can fail.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String, corrupt: Boolean)

  def parse(argv: Array[String]): Args = {
    def get(k: String): String = {
      val i = argv.indexOf(k)
      require(i >= 0 && i + 1 < argv.length, s"missing $k")
      argv(i + 1)
    }
    val a = Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--work"), get("--out"), argv.contains("--corrupt-check"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  val Workloads = Seq("scan", "timetravel")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ok = try new Bench(spark, a, cores, sessionS).run()
      finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Where op times and checks are recorded. Times count only while `on`
  * (the measured rounds); checks count always, set-up and warm-up too. */
final class Recorder {
  val walls = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  var on = false
  var attempted = 0L
  var failed = 0L

  def add(kind: String, seconds: Double): Unit =
    if (on) walls(kind) = walls.getOrElse(kind, Vector.empty) :+ seconds

  /** Count one checked operation; a false `ok` is a wrong answer. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] WRONG: $what") }
  }

  def fail(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what: $e")
  }
}

final class Bench(spark: SparkSession, a: Main.Args, cores: Int, sessionS: Double) {
  import Bench._
  import spark.implicits._

  private val rec = new Recorder
  private val tracer = new Tracer(a.trace)
  private val exec = new ExecStats("op-")
  spark.sparkContext.addSparkListener(exec)
  private val rng = new java.util.Random(a.seed)
  private val corrupt = if (a.corrupt) 1L else 0L

  private def nowS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Flush policy, the same before every measured op and every set-up
    * pass: write dirty pages of the store's file system back and collect
    * garbage, both outside the timers. */
  private def flush(): Unit = {
    val t0 = System.nanoTime()
    try { new ProcessBuilder("sync", "-f", a.work).inheritIO().start().waitFor(); () }
    catch { case _: java.io.IOException => () }
    System.gc()
    flushS += nowS(t0)
  }
  private var flushS = 0.0

  /** Run rounds of `op` closed-loop until the measured round time reaches
    * the budget (at least `minOps` rounds); the flush runs between rounds.
    * A traced run traces half of its rounds, in the order T U U T T U U T
    * so that a steady drift (JIT warm-up) cancels, and reports traced −
    * untraced round time as the tracing overhead; it runs at least one
    * whole T U U T block. */
  private def measure(minOps: Int)(op: Int => Unit): Unit = {
    val need = if (tracer.on) math.max(minOps, 4) else minOps
    val start = System.nanoTime()
    rec.on = true
    var spent = 0.0
    var i = 0
    // stop before a round that would likely end more than half a round
    // past the budget, so a run's length stays near --seconds
    while (i < need || spent + Stats.median(rec.walls("round")) / 2 < a.seconds) {
      flush()
      val traced = tracer.on && (i % 4 == 0 || i % 4 == 3)
      tr = if (traced) tracer else Bench.Off
      spark.sparkContext.setJobGroup(s"op-$i", s"measured op $i", interruptOnCancel = false)
      val t0 = System.nanoTime()
      op(i)
      val dt = nowS(t0)
      spark.sparkContext.clearJobGroup()
      tr = Bench.Off
      if (tracer.on) rec.add(if (traced) "round.traced" else "round.untraced", dt)
      rec.add("round", dt)
      spent += dt
      i += 1
    }
    rec.on = false
    System.err.println(s"[perfbench] measured ${fmt(spent)} s of ops in ${fmt(nowS(start))} s wall; flush total ${fmt(flushS)} s")
    rec.walls.foreach { case (k, v) => System.err.println(s"[perfbench]   $k: ${v.map(fmt).mkString(" ")}") }
  }
  // the tracer of the op running now: Off outside measured ops and for
  // the untraced ops of a traced run
  private var tr: Tracer = Bench.Off

  private def store(root: String) = new SparkStore(spark, root)

  private def meta(dims: Seq[Long]): DatasetMeta = DatasetMeta(
    dimensions = Map("x" -> dims(0), "y" -> dims(1), "z" -> dims(2)),
    chunkDimensions = Map("x" -> Chunk, "y" -> Chunk, "z" -> Chunk),
    variables = Map(Var -> VariableDef("short", Vector("x", "y", "z"), Fill.toDouble)))

  private def field(dims: Seq[Long], salt: Long): Field =
    Field(a.seed, salt, Chunk, LandShare, ceilDiv(dims(0), Chunk), ceilDiv(dims(1), Chunk), Fill)

  /** Slab rows for the whole variable, generated on executors: one row per
    * (x-plane × all y × all z) — bounded at dims(1)·dims(2) shorts. */
  private def planeRows(f: Field, dims: Seq[Long]): DataFrame = {
    val ny = dims(1); val nz = dims(2)
    spark.range(dims(0)).map { x0 =>
      val x: Long = x0
      val lo = Array(x, 0L, 0L); val hi = Array(x + 1, ny, nz)
      (lo, hi, f.bytes(lo, hi), x)
    }.toDF("start", "stop", "bytes", "seq")
  }

  /** Create a dataset and commit the whole variable as its first version. */
  private def writeDataset(st: SparkStore, ds: String, f: Field, dims: Seq[Long]): Long = {
    tr("spark.create") { st.create(ds) }
    val w = tr("spark.add_version") { st.addVersion(ds, meta(dims)) }
    val rows = planeRows(f, dims)
    tr("spark.write_rows") { w.writeRows(Var, rows) }
    tr("spark.finish_version") { w.finishVersion() }
  }

  private def reader(root: String, ds: String, vid: Long, chunked: Boolean): DataFrame = {
    val r = spark.read.format("graft").option("root", root).option("dataset", ds)
      .option("variable", Var).option("version", vid.toString)
    (if (chunked) r.option("chunked", "true") else r).load()
  }

  private val checksumCols = Seq(count(lit(1)).as("c"),
    sum(col("value").cast("long")).as("s"),
    sum(col("value").cast("long") * expr(Checksum.weightSql)).as("w"))

  /** Plan (DataFrame construction → executedPlan) and execute a checksum
    * query under spans `<prefix>.plan` / `<prefix>.exec`. */
  private def runChecksum(prefix: String)(build: => DataFrame): Checksum = {
    val df = tr(s"$prefix.plan") { val d = build; d.queryExecution.executedPlan; d }
    val r = tr(s"$prefix.exec") { df.collect() }.head
    Checksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def expect(c: Checksum): Checksum = c.copy(wsum = c.wsum + corrupt)
  private def expectBytes(b: Array[Byte]): Array[Byte] = { b(1) = (b(1) + corrupt).toByte; b }

  private def duBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }

  private def blobCounter(name: String): Long = {
    val m = Class.forName("graft.spark.source.ChunkBlobReader$").getField("MODULE$").get(null)
    m.getClass.getMethod(name).invoke(m).asInstanceOf[java.util.concurrent.atomic.AtomicLong].get()
  }

  /** Set-up time: session start + the median of `SetupPasses` identical
    * fixture passes + one warm-up. Nothing here is measured as an op. */
  private def setup(pass: Int => Unit)(warmup: => Unit): Double = {
    val ts = (0 until SetupPasses).map { i => flush(); val t0 = System.nanoTime(); pass(i); nowS(t0) }
    flush()
    val t0 = System.nanoTime()
    warmup
    val w = nowS(t0)
    System.err.println(s"[perfbench] set-up passes: ${ts.map(fmt).mkString(" ")} s; warm-up ${fmt(w)} s")
    sessionS + Stats.median(ts) + w
  }

  // per-workload results the common report needs
  private var userBytes = 0.0         // raw bytes written or read by measured ops
  private var storedRatio = 0.0       // bytes added under the store ÷ raw bytes written
  private var setupS = 0.0
  private var coveringChunks = 0L     // chunks the DSv2 reads of measured ops cover
  private var blobsDecoded = 0L
  private var blobFiles = 0L
  private var blobPayload = 0L
  private var versionsCommitted = 0L
  private var chunksWritten = 0L
  private var blobBytesAdded = 0L
  private var indexBytesAdded = 0L
  private var blobsWritten = 0L
  private var replayField: Field = _
  private var replayDims: Seq[Long] = Nil
  private var replayManifests: Seq[String] = Nil
  private val extra = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String, Int)]

  def run(): Boolean = {
    val t0 = System.nanoTime()
    a.workload match {
      case "scan" => scan()
      case "timetravel" => timetravel()
    }
    val t1 = System.nanoTime()
    val ok = report()
    System.err.println(s"[perfbench] wall: session ${fmt(sessionS)} s, workload ${fmt((t1 - t0) / 1e9)} s, " +
      s"report ${fmt(nowS(t1))} s")
    ok
  }

  // ---- scan ---------------------------------------------------------------

  private def scan(): Unit = {
    val dims = ScanDims
    val f = field(dims, 0L)
    val ds = "scan"
    var root = ""
    var vid = 0L
    val full = Slice(Seq(0L, 0L, 0L), dims)
    // the chunked path plans one task per chunk, so it reads the eighth of
    // the variable at the origin (150 chunks): a full read would cost it
    // ~8 ms per chunk and swamp the other two paths in the round
    val eighth = Seq(dims(0) / 2, dims(1) / 2, dims(2) / 2)
    val cells = Map("exploded" -> dims.product.toDouble, "dsv2" -> dims.product.toDouble,
      "chunked" -> eighth.product.toDouble)
    lazy val want = expect(f.checksum(Array(0L, 0L, 0L), dims.toArray))
    lazy val wantEighth = expect(f.checksum(Array(0L, 0L, 0L), eighth.toArray))
    lazy val st = store(root) // the last set-up pass's store
    // one round reads the whole variable through the exploded and DSv2
    // paths and its eighth through the chunked path, with no blob-cache
    // help across rounds: stores beyond the cache budget see none
    def round(): Unit = {
      SparkStore.clearBlobCache()
      path("exploded", want) {
        val r = tr("meta.pin") { st.reader(ds).onVersion(vid) }
        runChecksum("spark.exploded")(r.exploded(Var, full).agg(checksumCols.head, checksumCols.tail: _*))
      }
      path("dsv2", want) {
        runChecksum("source.dsv2")(reader(root, ds, vid, chunked = false)
          .agg(checksumCols.head, checksumCols.tail: _*))
      }
      path("chunked", wantEighth) {
        runChecksum("source.chunked")(reader(root, ds, vid, chunked = true)
          .filter(col("x") < eighth(0) && col("y") < eighth(1) && col("z") < eighth(2))
          .groupBy("_chunk_x", "_chunk_y", "_chunk_z").agg(checksumCols.head, checksumCols.tail: _*)
          .agg(sum("c"), sum("s"), sum("w")))
      }
    }
    setupS = setup { k =>
      if (k > 0) deleteTree(root)
      root = s"${a.work}/scan$k"
      vid = writeDataset(store(root), ds, f, dims)
    } {
      round(); round()
    }
    storedRatio = duBytes(root) / (dims.product * 2.0)
    var rounds = 0
    val d0 = blobCounter("blobsDecoded"); val f0 = blobCounter("blobFilesOpened")
    val p0 = blobCounter("blobPayloadBytes")
    measure(minOps = 2) { i =>
      tr.op(i, "bench.scan") { round() }
      rounds += 1
    }
    userBytes = cells.values.sum * 2 * rounds
    // exploded reads of a committed version ride the DSv2 scan too, so all
    // three paths decode through ChunkBlobReader
    coveringChunks = rounds * (2 * chunkCount(dims) + chunkCount(eighth))
    blobsDecoded = blobCounter("blobsDecoded") - d0
    blobFiles = blobCounter("blobFilesOpened") - f0
    blobPayload = blobCounter("blobPayloadBytes") - p0
    for (p <- Seq("exploded", "dsv2", "chunked"))
      extra(s"${p}_mcells_per_s") = (cells(p) * rec.walls(p).size / 1e6 / rec.walls(p).sum, "Mcells/s", rec.walls(p).size)
    replayField = f; replayDims = dims
    replayManifests = Seq(st.metadata(ds, vid).toJson)
  }

  /** One checked read through one path, timed under `name`. */
  private def path(name: String, want: Checksum)(read: => Checksum): Unit =
    try {
      val t0 = System.nanoTime()
      val got = read
      rec.add(name, nowS(t0))
      rec.check(s"$name read: got $got want $want", got == want)
    } catch { case e: Exception => rec.fail(s"$name read", e) }

  // ---- timetravel ---------------------------------------------------------

  private def timetravel(): Unit = {
    val dims = TravelDims
    val ds = "tt"
    var root = ""
    var model: VersionModel = null
    val vids = scala.collection.mutable.ArrayBuffer.empty[Long]
    var written = 0.0
    setupS = setup { k =>
      if (k > 0) deleteTree(root)
      root = s"${a.work}/tt$k"
      model = new VersionModel(field(dims, 0L))
      vids.clear()
      vids += writeDataset(store(root), ds, model.base, dims)
    } {
      // grow the last pass's chain, then one cycle's reads, all checked
      for (j <- 0 until SetupCommits) commit(store(root), ds, dims, model, vids, salt = 100L + j)
      for (j <- 0 until ReadsPerCommit) read(store(root), root, ds, dims, model, vids, viaSlice = j % 2 == 0)
    }
    val st = store(root)
    val before = duBytes(root)
    val chunksBefore = duBytes(st.chunksDir)
    val indexBefore = duBytes(st.indexDir(ds))
    val filesBefore = SparkStore.parquetFilesUnder(st.chunksDir).toSet
    val commitsBefore = vids.size
    val d0 = blobCounter("blobsDecoded"); val f0 = blobCounter("blobFilesOpened")
    val p0 = blobCounter("blobPayloadBytes")
    coveringChunks = 0L
    var readCells = 0.0
    // one op is a cycle: one commit, then ReadsPerCommit reads alternating
    // getSlice and a DSv2 window; at least three, so the median is not a
    // mean of two
    measure(minOps = 3) { i =>
      tr.op(i, "bench.cycle") {
        written += commit(st, ds, dims, model, vids, salt = 1000L + i)
        for (j <- 0 until ReadsPerCommit)
          readCells += read(st, root, ds, dims, model, vids, viaSlice = j % 2 == 0)
      }
    }
    val commits = vids.size - commitsBefore
    versionsCommitted = commits
    chunksWritten = commits * 8L
    userBytes = written + readCells * 2
    storedRatio = (duBytes(root) - before) / written
    blobBytesAdded = duBytes(st.chunksDir) - chunksBefore
    indexBytesAdded = duBytes(st.indexDir(ds)) - indexBefore
    blobsWritten = parquetRows(SparkStore.parquetFilesUnder(st.chunksDir).filterNot(filesBefore).toSeq)
    blobsDecoded = blobCounter("blobsDecoded") - d0
    blobFiles = blobCounter("blobFilesOpened") - f0
    blobPayload = blobCounter("blobPayloadBytes") - p0
    for (k <- Seq("read.slice", "read.window", "commit")) {
      val ms = rec.walls(k).map(_ * 1000)
      extra(s"${k.replace('.', '_')}_p50_ms") = (Stats.median(ms), "ms", ms.size)
      Stats.tail(ms).foreach { case (p, v) =>
        extra(f"${k.replace('.', '_')}_p${p * 100}%.0f_ms") = (v, "ms", ms.size) }
    }
    val requests = rec.walls("read.slice").size + rec.walls("read.window").size + rec.walls("commit").size
    extra("ops_per_s") = (requests / rec.walls("round").sum, "1/s", requests)
    extra("versions_in_chain") = (vids.size.toDouble, "count", 1)
    replayField = model.base; replayDims = dims
    replayManifests = vids.takeRight(8).map(v => st.metadata(ds, v).toJson).toSeq
  }

  /** Commit a small unaligned box as a new version; returns raw bytes written. */
  private def commit(st: SparkStore, ds: String, dims: Seq[Long],
      model: VersionModel, vids: scala.collection.mutable.ArrayBuffer[Long], salt: Long): Double =
    try {
      // a random 2×2 block of ocean chunk columns (a box over land would
      // merge into fill chunks, which store far smaller), a random z chunk;
      // start 1 to 2·Chunk − CommitEdge cells in: the box is unaligned and
      // spans exactly 2 chunks per axis
      val c = oceanBlocks(model.base, dims)
      val (cx, cy) = c(rng.nextInt(c.size))
      val cz = rng.nextInt((dims(2) / Chunk - 1).toInt).toLong
      val lo = Array(cx, cy, cz).map(_ * Chunk + 1 + rng.nextInt((2 * Chunk - CommitEdge).toInt))
      val hi = lo.map(_ + CommitEdge)
      // ocean everywhere: a commit writes new content, never land
      val f = field(dims, salt).copy(landShare = 0.0)
      val bytes = f.bytes(lo, hi)
      val t0 = System.nanoTime()
      val vid = {
        val w = tr("spark.add_version") { st.addVersion(ds, meta(dims)) }
        val rows = Seq((lo, hi, bytes, 0L)).toDF("start", "stop", "bytes", "seq")
        tr("spark.write_rows") { w.writeRows(Var, rows) }
        tr("spark.finish_version") { w.finishVersion() }
      }
      rec.add("commit", nowS(t0))
      vids += vid
      model.add(f, lo, hi)
      rec.check(s"commit $vid is the latest version", st.versions(ds).head._2 == vid)
      bytes.length.toDouble
    } catch { case e: Exception => rec.fail("commit", e); 0.0 }

  /** (cx, cy) of every 2×2 block of whole chunk columns that holds no land. */
  private def oceanBlocks(f: Field, dims: Seq[Long]): IndexedSeq[(Long, Long)] = {
    val blocks = for (cx <- 0L until dims(0) / Chunk - 1; cy <- 0L until dims(1) / Chunk - 1)
      yield (cx, cy)
    val ocean = blocks.filter { case (cx, cy) =>
      Seq((0, 0), (0, 1), (1, 0), (1, 1)).forall { case (i, j) => !f.isLand((cx + i) * Chunk, (cy + j) * Chunk) }
    }
    require(ocean.nonEmpty, "no 2×2 block of ocean chunk columns for commits")
    ocean
  }

  /** Read a random window at a random committed version, through getSlice
    * (`viaSlice`) or through a DSv2 window, and check it against the
    * model. Returns the window's cell count. */
  private def read(st: SparkStore, root: String, ds: String, dims: Seq[Long],
      model: VersionModel, vids: scala.collection.mutable.ArrayBuffer[Long], viaSlice: Boolean): Double =
    try {
      val v = rng.nextInt(vids.size)
      val lo = Array.tabulate(3)(d => rng.nextInt((dims(d) - WindowEdge).toInt + 1).toLong)
      val hi = lo.map(_ + WindowEdge)
      val t0 = System.nanoTime()
      if (viaSlice) {
        val slab = {
          tr("meta.versions") { st.versions(ds) }
          val pr = tr("meta.pin") { st.reader(ds).onVersion(vids(v)) }
          tr("spark.get_slice") { pr.getSlice(Var, Slice(lo.toSeq, hi.toSeq)) }
        }
        rec.add("read.slice", nowS(t0))
        rec.check(s"getSlice at version #$v", java.util.Arrays.equals(slab.bytes, expectBytes(model.expected(v, lo, hi))))
      } else {
        val got = runChecksum("source.window")(reader(root, ds, vids(v), chunked = false)
          .filter(col("x").between(lo(0), hi(0) - 1) && col("y").between(lo(1), hi(1) - 1) &&
            col("z").between(lo(2), hi(2) - 1))
          .agg(checksumCols.head, checksumCols.tail: _*))
        rec.add("read.window", nowS(t0))
        if (rec.on) coveringChunks += (0 until 3).map(d => (hi(d) - 1) / Chunk - lo(d) / Chunk + 1).product
        rec.check(s"DSv2 window at version #$v", got == expect(Checksum.ofBytes(model.expected(v, lo, hi), lo, hi)))
      }
      WindowEdge.toDouble * WindowEdge * WindowEdge
    } catch { case e: Exception => rec.fail("read", e); 0.0 }

  // ---- report -------------------------------------------------------------

  private def parquetRows(files: Seq[String]): Long =
    if (files.isEmpty) 0L else spark.read.parquet(files: _*).count()

  private def deleteTree(dir: String): Unit =
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))

  private def peakRssMiB: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def report(): Boolean = {
    exec.drain()
    val walls = rec.walls("round")
    val measuredS = rec.walls("round").sum
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(walls) * 1000, "ms"),
      "user_mib_per_s" -> (userBytes / Mi / measuredS, "MiB/s"),
      "stored_bytes_per_user_byte" -> (storedRatio, "ratio"),
      "peak_rss_mib" -> (peakRssMiB, "MiB"))
    println(s"perfbench workload=${a.workload} seed=${a.seed} cores=$cores " +
      s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0} ops=${walls.size} measured_s=${fmt(measuredS)}")
    e2e.foreach { case (k, (v, u)) => println(s"e2e $k ${fmt(v)} $u n=${if (k.startsWith("op_")) walls.size else 1}") }
    Stats.tail(walls.map(_ * 1000)).foreach { case (p, v) =>
      println(f"e2e op_p${p * 100}%.0f_ms ${fmt(v)} ms n=${walls.size}")
    }
    if (Stats.tail(walls).isEmpty)
      println(s"e2e op tail: none (n=${walls.size}: no percentile has 10 samples beyond it)")
    extra.foreach { case (k, (v, u, n)) => println(s"metric $k ${fmt(v)} $u n=$n") }
    println(s"metric failed_ratio ${fmt(rec.failed.toDouble / math.max(1L, rec.attempted))} ratio n=${rec.attempted}")
    val metrics = if (a.trace) layers(measuredS) else e2e
    val correct = rec.failed == 0
    val json = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${jnum(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${rec.attempted},"failed":${rec.failed},"metrics":$json}""")
    correct
  }

  /** The per-layer metrics of a traced run, plus the ledger printout. */
  private def layers(measuredS: Double): Seq[(String, (Double, String))] = {
    val spans = tracer.spans
    tracer.writeJsonLines(java.nio.file.Paths.get(a.out, s"spans-${a.workload}-${a.seed}.jsonl"))
    val traced = rec.walls.getOrElse("round.traced", Vector.empty)
    val untraced = rec.walls.getOrElse("round.untraced", Vector.empty)
    val overheadMs =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else (Stats.median(traced) - Stats.median(untraced)) * 1000
    val nOps = rec.walls("round").size.toDouble
    val opSpans = spans.filter(_.op >= 0)
    val tracedS = traced.sum
    val self = Ledger.layerSelfS(opSpans)
    val r = Replay(replayField, replayDims, replayManifests)
    def perVersion(x: Double) = if (versionsCommitted == 0) 0.0 else x / versionsCommitted
    def meanS(n: String) = Ledger.meanMs(opSpans, n) / 1000
    val sourcePlan = opSpans.filter(s => s.name.startsWith("source.") && s.name.endsWith(".plan"))
    val sourceExec = opSpans.filter(s => s.name.startsWith("source.") && s.name.endsWith(".exec"))
    def mean(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / ss.size / 1e9
    val m = Seq(
      "core.shred_mib_s" -> (r.shredMiBs, "MiB/s"),
      "core.sha1_mib_s" -> (r.sha1MiBs, "MiB/s"),
      "core.merge_mib_s" -> (r.mergeMiBs, "MiB/s"),
      "filters.encode_mib_s" -> (r.encodeMiBs, "MiB/s"),
      "filters.decode_mib_s" -> (r.decodeMiBs, "MiB/s"),
      "filters.ratio" -> (r.ratio, "ratio"),
      "functions.cells_decode_mcells_s" -> (r.cellsMcells, "Mcells/s"),
      "meta.parse_us" -> (r.parseUs, "us"),
      "meta.versions_ms" -> (meanS("meta.versions") * 1000, "ms"),
      "meta.pin_ms" -> (meanS("meta.pin") * 1000, "ms"),
      "spark.write_rows_s" -> (meanS("spark.write_rows"), "s"),
      "spark.finish_version_ms" -> (meanS("spark.finish_version") * 1000, "ms"),
      "spark.blobs_per_chunk_written" -> (if (chunksWritten == 0) 0.0 else blobsWritten.toDouble / chunksWritten, "ratio"),
      "spark.blob_bytes_per_version" -> (perVersion(blobBytesAdded.toDouble), "bytes"),
      "spark.index_bytes_per_version" -> (perVersion(indexBytesAdded.toDouble), "bytes"),
      "source.plan_ms" -> (mean(sourcePlan) * 1000, "ms"),
      "source.exec_s" -> (mean(sourceExec), "s"),
      "source.blobs_decoded_per_chunk" -> (if (coveringChunks == 0) 0.0 else blobsDecoded.toDouble / coveringChunks, "ratio"),
      "source.blob_files_opened" -> (blobFiles / nOps, "count"),
      "source.blob_payload_mib" -> (blobPayload / Mi / nOps, "MiB"),
      "exec.jobs" -> (exec.jobs / nOps, "count"),
      "exec.stages" -> (exec.stages / nOps, "count"),
      "exec.tasks" -> (exec.tasks / nOps, "count"),
      "exec.task_run_s" -> (exec.runNs / 1e9 / nOps, "s"),
      "exec.task_cpu_s" -> (exec.cpuNs / 1e9 / nOps, "s"),
      "exec.gc_s" -> (exec.gcNs / 1e9 / nOps, "s"),
      "exec.driver_bound_frac" -> (1 - exec.runNs / 1e9 / (measuredS * cores), "ratio"),
      "exec.shuffle_write_bytes_per_user_byte" -> (exec.shuffleWriteBytes / userBytes, "ratio"),
      "exec.spill_bytes" -> (exec.spillBytes / nOps, "bytes"),
      "trace.overhead_ms" -> (overheadMs, "ms"))
    // the ledger: self time per layer over the traced ops, as a share of
    // their wall; codec layers run inside tasks and are estimated from the
    // replay rates, exec from task time per core
    println(s"ledger traced_ops=${traced.size} traced_wall_s=${fmt(tracedS)} " +
      s"trace_overhead_ms=${fmt(overheadMs)} (traced − untraced op median)")
    for (l <- Seq("bench", "meta", "spark", "spark.source")) {
      val s = self.getOrElse(l, 0.0)
      println(f"ledger layer=$l%-13s self_s=${fmt(s)} share=${fmt(if (tracedS > 0) s / tracedS else 0.0)}")
    }
    val busy = exec.runNs / 1e9 / cores
    println(f"ledger layer=exec          task_run_per_core_s=${fmt(busy)} share_of_measured=${fmt(busy / measuredS)}")
    // single-threaded replay of this workload's own chunks and manifests
    println(s"ledger layer=core          shred=${fmt(r.shredMiBs)} sha1=${fmt(r.sha1MiBs)} " +
      s"merge=${fmt(r.mergeMiBs)} MiB/s (replay)")
    println(s"ledger layer=filters       encode=${fmt(r.encodeMiBs)} decode=${fmt(r.decodeMiBs)} MiB/s " +
      s"ratio=${fmt(r.ratio)} (replay)")
    println(s"ledger layer=functions     cells_decode=${fmt(r.cellsMcells)} Mcells/s (replay)")
    println(s"ledger layer=meta          parse=${fmt(r.parseUs)} us (replay) " +
      s"versions=${fmt(meanS("meta.versions") * 1000)} ms pin=${fmt(meanS("meta.pin") * 1000)} ms")
    if (versionsCommitted == 0)
      println("ledger spark.write_rows_s, spark.finish_version_ms: absent (no commits in this workload)")
    m
  }
}

object Bench {
  val Chunk = 20L
  val Var = "v"
  val Fill: Short = -3
  /** Share of x-y chunk columns that are land (all-fill, dedup to one blob). */
  val LandShare = 0.25
  val SetupPasses = 3
  /** 20 × 30 × 2 = 1,200 chunks: above PointLookupThreshold (1,024), so
    * full reads take the range-planned path. */
  val ScanDims: Seq[Long] = Seq(400L, 600L, 40L)
  val TravelDims: Seq[Long] = Seq(140L, 140L, 140L)
  /** Commits made in set-up, so the first measured read resolves over a
    * chain of 7 versions (a commit takes ~2 s on 4 vCPUs, which bounds how
    * long a chain the run budget can build). */
  val SetupCommits = 6
  /** Edge of a time-travel commit box: unaligned, 2 chunks per axis (8). */
  val CommitEdge = 30L
  /** Edge of a time-travel read window: ≤ 3 chunks per axis, ≤ 27 chunks. */
  val WindowEdge = 40L
  val ReadsPerCommit = 4
  val Mi: Double = 1024.0 * 1024.0

  val Off = new Tracer(false)

  def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
  def chunkCount(dims: Seq[Long]): Long = dims.map(ceilDiv(_, Chunk)).product

  def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.6g", Double.box(v))
  def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Single-threaded replay of a workload's own chunks and manifests through
  * the program's codec and metadata functions: the per-layer rates of the
  * work the workload's tasks do inside executors. */
final case class Replay(f: Field, dims: Seq[Long], manifests: Seq[String]) {
  import Bench._
  private val dt = DType("short")
  // every 7th chunk of the grid's interior, up to 48
  private val boxes: Seq[(Array[Long], Array[Long])] = {
    val g = dims.map(d => d / Chunk)
    val all = for (cx <- 0L until g(0); cy <- 0L until g(1); cz <- 0L until g(2))
      yield (Array(cx * Chunk, cy * Chunk, cz * Chunk), Array((cx + 1) * Chunk, (cy + 1) * Chunk, (cz + 1) * Chunk))
    all.zipWithIndex.collect { case (b, i) if i % 7 == 0 => b }.take(48)
  }
  private val raws = boxes.map { case (lo, hi) => f.bytes(lo, hi) }
  private val rawBytes = raws.map(_.length.toLong).sum.toDouble
  private val encoded = raws.map(FilterChain.encode(FilterChain.DefaultWriteChain, _))

  /** Seconds per call of `body`, repeating it for at least 150 ms. */
  private def secsPer(body: => Unit): Double = {
    body // warm
    var n = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 150000000L || n < 2) { body; n += 1 }
    (System.nanoTime() - t0) / 1e9 / n
  }
  private def rate(bytes: Double)(body: => Unit): Double = bytes / Mi / secsPer(body)

  lazy val sha1MiBs: Double = rate(rawBytes) { raws.foreach(Sha1.hex) }
  lazy val encodeMiBs: Double =
    rate(rawBytes) { raws.foreach(FilterChain.encode(FilterChain.DefaultWriteChain, _)) }
  lazy val decodeMiBs: Double = rate(rawBytes) { encoded.foreach(FilterChain.decode) }
  lazy val ratio: Double = rawBytes / encoded.map(_.length.toLong).sum

  /** Shred one x-plane slab row (the bulk-write row shape) into its chunks. */
  lazy val shredMiBs: Double = {
    val lo = Array(0L, 0L, 0L); val hi = Array(1L, dims(1), dims(2))
    val slab = Slab(dt, Slice(lo.toSeq, hi.toSeq), f.bytes(lo, hi))
    val g = dims.map(d => ceilDiv(d, Chunk))
    val chunks = for (cy <- 0L until g(1); cz <- 0L until g(2))
      yield Slice(Seq(0L, cy * Chunk, cz * Chunk), Seq(Chunk, (cy + 1) * Chunk, (cz + 1) * Chunk))
    rate(slab.bytes.length.toDouble) { chunks.foreach(c => slab.intersectWith(c)) }
  }

  /** Merge an unaligned commit-sized box into each sampled chunk. */
  lazy val mergeMiBs: Double = {
    val srcs = boxes.map { case (lo, _) =>
      val slo = lo.map(_ + 10L); val shi = slo.map(_ + CommitEdge)
      Slab(dt, Slice(slo.toSeq, shi.toSeq), f.bytes(slo, shi))
    }
    val dsts = boxes.zip(raws).map { case ((lo, hi), b) => Slab(dt, Slice(lo.toSeq, hi.toSeq), b.clone()) }
    rate(rawBytes) { dsts.zip(srcs).foreach { case (d, s) => d.mergeFrom(s) } }
  }

  lazy val cellsMcells: Double = {
    val dec = DecodeChunkCells(Literal(null, org.apache.spark.sql.types.BinaryType),
      Literal(Chunk * Chunk * Chunk), Literal("short"), Literal(Fill.toDouble))
    val vol = Chunk * Chunk * Chunk
    rate(rawBytes) { encoded.foreach(dec.decode(_, vol)) } * Mi / 2 / 1e6
  }

  lazy val parseUs: Double =
    if (manifests.isEmpty) 0.0
    else secsPer { manifests.foreach(DatasetMeta.fromJson) } / manifests.size * 1e6
}
