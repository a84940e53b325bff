package graft.spark.source

import graft.SparkTestSession
import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.scalatest.funsuite.AnyFunSuite

/** BASELINE.md engine-side pruning target, pinned on REAL decode work:
  * a chunk-aligned sub-slice read decodes EXACTLY its covering chunks'
  * blobs, never the whole variable (the array analog of partition
  * pruning; reference semantics io/mandoline.clj:250-256).
  *
  * The observable is [[ChunkBlobReader]]'s per-JVM decode counters, not
  * byte-level I/O statistics: parquet's ByteBuffer reads bypass Hadoop's
  * FileSystem.Statistics, and OS page cache makes raw-byte numbers
  * nondeterministic — blob decode counts are exact and deterministic. */
class PruningMetricsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val ChunkBytes = 30L * 30L * 30L * 2L // short cells, 30³ chunks

  /** Fresh performance.json-shaped store: 240×240×60 shorts in 30³
    * chunks → 8×8×2 = 128 chunks, ~6.9 MB raw. `salt` makes each
    * store's content-addressed blobs distinct, so a measurement can't
    * be served by the per-JVM blob cache warmed by an earlier store. */
  private def mkStore(salt: Long): (SparkStore, Long) = {
    val meta = DatasetMeta(
      dimensions = Map("x" -> 240L, "y" -> 240L, "z" -> 60L),
      chunkDimensions = Map("x" -> 30L, "y" -> 30L, "z" -> 30L),
      variables = Map("foo" -> VariableDef("short", Vector("x", "y", "z"), -3.0)))
    val root = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val store = new SparkStore(spark, root)
    store.create("ds")
    val w = store.addVersion("ds", meta)
    import spark.implicits._
    val yz = 240L * 60L
    val slabRows = spark.range(240).map { xo =>
      val x = xo.toLong
      val bytes = new Array[Byte]((yz * 2).toInt)
      var i = 0
      while (i < yz) {
        val m = x * 2654435761L + i * 40503L + salt * 977L
        val v = ((m ^ (m >>> 13)) & 0x7fffL).toShort
        bytes(2 * i) = (v >> 8).toByte; bytes(2 * i + 1) = v.toByte
        i += 1
      }
      (Array(x, 0L, 0L), Array(x + 1L, 240L, 60L), bytes, x)
    }.toDF("start", "stop", "bytes", "seq")
    w.writeRows("foo", slabRows)
    (store, w.finishVersion())
  }

  private def decoded(f: => Unit): (Long, Long) = {
    val n0 = ChunkBlobReader.blobsDecoded.get()
    val b0 = ChunkBlobReader.blobPayloadBytes.get()
    f
    (ChunkBlobReader.blobsDecoded.get() - n0,
      ChunkBlobReader.blobPayloadBytes.get() - b0)
  }

  test("chunk-aligned window read decodes exactly its covering chunks") {
    val all = Slice(Seq(0L, 0L, 0L), Seq(240L, 240L, 60L))
    // chunk-aligned window covering exactly 2×2×2 = 8 of 128 chunks
    val win = Slice(Seq(30L, 30L, 0L), Seq(90L, 90L, 60L))

    // full read decodes every chunk exactly once
    val (sFull, vFull) = mkStore(salt = 1L)
    val (nFull, bFull) = decoded {
      sFull.reader("ds").onVersion(vFull).exploded("foo", all)
        .write.format("noop").mode("overwrite").save()
    }
    assert(nFull == 128L, s"full read decoded $nFull blobs, want 128")
    assert(bFull >= 128L * ChunkBytes, s"full payload $bFull too small")

    // window read decodes EXACTLY the 8 covering chunks (cell-count
    // correctness pinned on a separate store so its decode work doesn't
    // pollute the measured run)
    val (sChk, vChk) = mkStore(salt = 2L)
    assert(sChk.reader("ds").onVersion(vChk).exploded("foo", win).count()
      == 60L * 60L * 60L)
    val (sWin, vWin) = mkStore(salt = 3L)
    val (nWin, bWin) = decoded {
      sWin.reader("ds").onVersion(vWin).exploded("foo", win)
        .write.format("noop").mode("overwrite").save()
    }
    assert(nWin == 8L,
      s"window over 8 chunks decoded $nWin blobs — pruning must touch " +
        "exactly the covering chunks")
    assert(bWin >= 8L * ChunkBytes && bWin < 10L * ChunkBytes,
      s"window payload $bWin outside the 8-chunk envelope")
  }

  test("getSlice and streamChunks decode exactly the window's covering chunks") {
    val (s, v) = mkStore(salt = 6L)
    val r = s.reader("ds").onVersion(v)
    // chunk-aligned window over 2×2×2 = 8 data chunks
    val win = Slice(Seq(90L, 30L, 0L), Seq(150L, 90L, 60L))
    SparkStore.clearBlobCache()
    val (nSlice, _) = decoded { r.getSlice("foo", win) }
    assert(nSlice == 8L, s"getSlice over 8 chunks decoded $nSlice blobs")
    SparkStore.clearBlobCache()
    val (nStream, _) = decoded {
      r.streamChunks("foo", win).write.format("noop").mode("overwrite").save()
    }
    assert(nStream == 8L, s"streamChunks over 8 chunks decoded $nStream blobs")
  }

  test("a pushed aggregate and statsAggregate decode only the window's boundary chunks") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    val (s, v) = mkStore(salt = 7L)
    // x, y ∈ [15, 105) cut chunks 0 and 3 of each axis; z spans both
    // z-chunks whole: 4×4×2 = 32 covering chunks, 2×2×2 = 8 of them interior
    val win = Slice(Seq(15L, 15L, 0L), Seq(105L, 105L, 60L))
    val boundary = 32L - 8L
    SparkStore.clearBlobCache()
    val (nPushed, _) = decoded {
      val row = spark.read.format("graft").option("root", s.root)
        .option("dataset", "ds").option("variable", "foo").load()
        .filter(col("x") >= 15 && col("x") < 105 && col("y") >= 15 && col("y") < 105)
        .agg(min("value"), max("value"), sum("value"), count(lit(1)))
        .collect()(0)
      assert(row.getLong(3) == 90L * 90L * 60L)
    }
    assert(nPushed == boundary,
      s"pushed aggregate decoded $nPushed blobs, want the $boundary boundary chunks")
    SparkStore.clearBlobCache()
    val (nStats, _) = decoded {
      val row = s.reader("ds").onVersion(v).statsAggregate("foo", win).collect()(0)
      assert(row.getLong(3) == 90L * 90L * 60L)
    }
    assert(nStats == boundary,
      s"statsAggregate decoded $nStats blobs, want the $boundary boundary chunks")
  }

  test("unaligned window still decodes only overlapping chunks") {
    val (s, v) = mkStore(salt = 4L)
    // 10×10×10 window straddling a chunk corner: overlaps 2×2×2 chunks
    val win = Slice(Seq(25L, 25L, 25L), Seq(35L, 35L, 35L))
    assert(s.reader("ds").onVersion(v).exploded("foo", win).count() == 1000L)
    val (sM, vM) = mkStore(salt = 5L)
    val (n, _) = decoded {
      sM.reader("ds").onVersion(vM).exploded("foo", win)
        .write.format("noop").mode("overwrite").save()
    }
    assert(n == 8L, s"corner-straddling window decoded $n blobs, want 8")
  }
}
