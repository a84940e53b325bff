package graft

import graft.streaming.FileFeed
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-18 FileFeed.sliced rewrite (one partitioned write job
  * instead of a per-slice filter+repartition(1) loop): the closed-form
  * slice index must reproduce the historical per-slice range filters
  * EXACTLY — every row in the same slice file as before, empty slices
  * still producing an (empty) feed file so micro-batch boundaries are
  * unchanged — and the NIO checkpoint manager must be byte-compatible
  * with the default one for the offset/commit log contract the gates
  * depend on (fresh-write wins, second write of the same batch id
  * refused).
  */
class FileFeedSliceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The historical slice assignment: the loop's range boundaries. */
  private def oldSlice(pos: Long, minT: Long, maxT: Long, nBatches: Int): Int = {
    val span = math.max(1L, maxT - minT + 1)
    (0 until nBatches).find { i =>
      val lo = minT + i * span / nBatches
      val hi = if (i == nBatches - 1) maxT + 1 else minT + (i + 1) * span / nBatches
      pos >= lo && pos < hi
    }.getOrElse(sys.error(s"no slice for $pos in [$minT,$maxT] n=$nBatches"))
  }

  /** The closed-form inverse used by the single-job write. */
  private def newSlice(pos: Long, minT: Long, maxT: Long, nBatches: Int): Int = {
    val span = math.max(1L, maxT - minT + 1)
    (((pos - minT + 1) * nBatches - 1) / span).toInt
  }

  test("closed-form slice index equals the historical range filters") {
    val cases = Seq(
      (0L, 9L, 3), (0L, 9L, 4), (0L, 0L, 3), (5L, 5L, 2),
      (100L, 1000L, 3), (100L, 1000L, 7), (-50L, 49L, 4),
      (1700000000L, 1700086400L, 5), (7L, 8L, 3) /* more slices than span */)
    cases.foreach { case (lo, hi, n) =>
      (lo to hi).foreach { p =>
        assert(newSlice(p, lo, hi, n) == oldSlice(p, lo, hi, n),
          s"pos=$p range=[$lo,$hi] n=$n")
      }
    }
  }

  test("sliced writes one file per slice incl. empty ranges; rows partition exactly") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("ff-slice").toString
    // ts values clustered so slice 1 of 3 is EMPTY: range [0, 89] → slices
    // [0,29] [30,59] [60,89]; rows only at 0-9 and 80-89
    val df = ((0L to 9L) ++ (80L to 89L)).toSeq.toDF("ts_s")
      .withColumn("payload", col("ts_s") * 10)
    val stream = FileFeed.sliced(df, "ts_s", nBatches = 3, workDir = work)
    assert(stream.isStreaming)
    val feed = new java.io.File(s"$work/feed").listFiles().map(_.getName).sorted
    assert(feed.toSeq == Seq("slice_000.parquet", "slice_001.parquet", "slice_002.parquet"))
    val s0 = spark.read.parquet(s"$work/feed/slice_000.parquet")
    val s1 = spark.read.parquet(s"$work/feed/slice_001.parquet")
    val s2 = spark.read.parquet(s"$work/feed/slice_002.parquet")
    assert(s0.select("ts_s").as[Long].collect().sorted.toSeq == (0L to 9L))
    assert(s1.count() == 0)
    assert(s2.select("ts_s").as[Long].collect().sorted.toSeq == (80L to 89L))
    // schema preserved by name+type (nullability relaxes through the
    // parquet round-trip exactly as it did under the per-slice writes;
    // the stream side reads with .schema(df.schema) regardless)
    assert(s0.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    // mtimes strictly increasing in slice order
    val mtimes = feed.map(n => new java.io.File(s"$work/feed/$n").lastModified())
    assert(mtimes.sliding(2).forall { case Array(a, b) => a < b })
  }

  test("knownBounds narrower than the data fails loudly instead of dropping rows") {
    import spark.implicits._
    // claimed range [30, 59] over 3 slices of 10: rows at 0-29 map below
    // slice 0, rows at 60-89 past the last slice, and rows at 60-69 onto
    // slice 3 — a sentinel tail's index when the feed has one tail
    val sentinel = Seq(1000L).toDF("ts_s")
    for ((rows, tails) <- Seq(
        (0L to 89L, Nil),
        (0L to 59L, Nil),
        (30L to 69L, Seq(sentinel)))) {
      val work = java.nio.file.Files.createTempDirectory("ff-bounds").toString
      val e = intercept[IllegalArgumentException] {
        FileFeed.sliced(rows.toDF("ts_s"), "ts_s", nBatches = 3, workDir = work,
          tails = tails, knownBounds = Some((30L, 59L)))
      }
      assert(e.getMessage.contains("outside slices [0, 3)"), e.getMessage)
      assert(e.getMessage.contains("(30,59)"), e.getMessage)
    }
  }

  test("NIO checkpoint manager: atomic create honors no-overwrite contract") {
    val dir = java.nio.file.Files.createTempDirectory("ff-nio")
    val mgr = new graft.streaming.LocalNioCheckpointFileManager(
      new org.apache.hadoop.fs.Path(dir.toString),
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/offsets/0")
    val out = mgr.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes); out.close()
    assert(mgr.exists(p))
    // second writer of the same batch file must be refused with the
    // Hadoop exception type the metadata logs catch
    val out2 = mgr.createAtomic(p, overwriteIfPossible = false)
    out2.write("v2".getBytes)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { out2.close() }
    // content still the first writer's
    val in = mgr.open(p)
    val buf = new Array[Byte](2); in.readFully(0, buf); in.close()
    assert(new String(buf) == "v1")
    // overwrite-allowed path replaces; cancel leaves no temp litter
    val out3 = mgr.createAtomic(p, overwriteIfPossible = true)
    out3.write("v3".getBytes); out3.close()
    val in3 = mgr.open(p); in3.readFully(0, buf); in3.close()
    assert(new String(buf) == "v3")
    val out4 = mgr.createAtomic(p, overwriteIfPossible = true)
    out4.write("zz".getBytes); out4.cancel()
    val leftovers = new java.io.File(s"$dir/offsets").listFiles()
      .map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty)
    // list + delete round-trip
    assert(mgr.list(new org.apache.hadoop.fs.Path(s"$dir/offsets"))
      .map(_.getPath.getName).toSeq == Seq("0"))
    mgr.delete(new org.apache.hadoop.fs.Path(s"$dir/offsets"))
    assert(!mgr.exists(new org.apache.hadoop.fs.Path(s"$dir/offsets")))
  }

  test("NIO checkpoint manager: a refused hard link falls back to " +
      "check-then-move and keeps the no-overwrite contract") {
    val refusals = Seq[() => Unit](
      () => throw new java.nio.file.FileSystemException(
        "dst", "src", "Operation not permitted"),
      () => throw new SecurityException("hard links denied"))
    refusals.foreach { refuse =>
      val dir = java.nio.file.Files.createTempDirectory("ff-nio-nolink")
      val mgr = new graft.streaming.LocalNioCheckpointFileManager(
          new org.apache.hadoop.fs.Path(dir.toString),
          spark.sparkContext.hadoopConfiguration) {
        override protected def hardLink(link: java.nio.file.Path,
            existing: java.nio.file.Path): Unit = refuse()
      }
      val p = new org.apache.hadoop.fs.Path(s"$dir/commits/0")
      val out = mgr.createAtomic(p, overwriteIfPossible = false)
      out.write("v1".getBytes); out.close()
      assert(mgr.exists(p))
      val out2 = mgr.createAtomic(p, overwriteIfPossible = false)
      out2.write("v2".getBytes)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { out2.close() }
      val buf = new Array[Byte](2)
      val in = mgr.open(p); in.readFully(0, buf); in.close()
      assert(new String(buf) == "v1")
      val leftovers = new java.io.File(s"$dir/commits").listFiles()
        .map(_.getName).filter(_.endsWith(".tmp"))
      assert(leftovers.isEmpty)
    }
  }
}
