package graft.tools

import graft.core.{DType, Slab, Slice}
import graft.filters.FilterChain

/** Commit-path scaling probe for the torn-write machinery (dev tool, not
  * a gate). SparkStore.commitVersion now runs repairTornWrites; the
  * claims this turns into measurements, per index size:
  *  - commit_single: a single-generation version skips with ONE
  *    directory listing and zero Spark jobs — the every-bench,
  *    every-DML, every-streaming-micro-batch path must stay flat,
  *  - commit_chained4: four full-variable write() generations (every
  *    chunk holds 4 provenance-chained rows) pay the metadata-only
  *    coverage scan — O(rows) with map-side grouping, no blobs touched,
  *  - commit_torn256: the same plus a forged co-writer generation over
  *    256 chunks — the coverage scan plus a 256-chunk diff-fold repair
  *    (blob reads bounded by torn chunks, never the variable).
  *
  * Usage:
  *   SPARK_GRAFT_TORN_SCALES=65536,262144 \
  *   sbt "runMain graft.tools.TornScaleProbe"
  */
object TornScaleProbe {
  def main(args: Array[String]): Unit = {
    val scales = sys.env.getOrElse("SPARK_GRAFT_TORN_SCALES", "65536,262144")
      .split(",").toSeq.map(_.trim.toLong)
    val spark = graft.GraftSession.local("graft-torn-scale-probe", defaultCpus = 32)
    import spark.implicits._
    val probe = new ProbeRecord("torn-scale", logTag = "torn-probe")
    for (nChunks <- scales) {
      val chunkX = 8L
      val dimX = nChunks * chunkX
      val meta = graft.meta.DatasetMeta(
        dimensions = Map("x" -> dimX),
        chunkDimensions = Map("x" -> chunkX),
        variables = Map("v" ->
          graft.meta.VariableDef("long", Vector("x"), -1.0)))
      val root = java.nio.file.Files.createTempDirectory("graft_torn_probe").toString
      val store = new graft.spark.SparkStore(spark, root)

      def rec(name: String)(f: => Unit): Unit = probe.time(s"${name}_c$nChunks")(f)
      def fullWrite(w: graft.spark.SparkVersionWriter, salt: Long): Unit = {
        val cellsPerSlab = 8192L
        val nSlabs = (dimX + cellsPerSlab - 1) / cellsPerSlab
        val slabRows = spark.range(nSlabs).map { s =>
          val lo = s * cellsPerSlab
          val hi = math.min(lo + cellsPerSlab, dimX)
          val bytes = new Array[Byte](((hi - lo) * 8L).toInt)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          var x = lo
          while (x < hi) { bb.putLong(x + salt); x += 1 }
          (Array(lo), Array(hi), bytes, s)
        }.toDF("start", "stop", "bytes", "seq")
        w.writeRows("v", slabRows)
      }

      // A. single generation: the commit must skip with one listing
      store.create("ds1")
      val w1 = store.addVersion("ds1", meta)
      fullWrite(w1, 0L)
      rec("commit_single") { w1.finishVersion() }

      // B. four chained generations over every chunk: coverage scan,
      //    zero torn, zero blob reads
      store.create("ds2")
      val w2 = store.addVersion("ds2", meta)
      (0 until 4).foreach(g => fullWrite(w2, g.toLong))
      rec("commit_chained4") { w2.finishVersion() }

      // C. one full generation + a forged co-writer generation over 256
      //    chunks with terminal provenance (the verify-TOCTOU outcome):
      //    coverage scan + 256-chunk diff-fold repair
      store.create("ds3")
      val w3 = store.addVersion("ds3", meta)
      val vid3 = w3.meta.versionId.get
      fullWrite(w3, 0L)
      val kTorn = 256
      val forged = (0 until kTorn).map { c =>
        val slice = Slice(Seq(c * chunkX), Seq((c + 1) * chunkX))
        val s = Slab.empty(DType.LONG, slice, (123456 + c).toDouble)
        (s.contentHash, -1L,
          FilterChain.encode(FilterChain.DefaultWriteChain, s.bytes), c.toLong)
      }
      val staging = store.newChunkStagingDir()
      forged.map(f => (f._1, f._2, f._3)).toDF("hash", "ref", "bytes")
        .coalesce(4).write.option("compression", "uncompressed").parquet(staging)
      store.adoptChunkFiles(staging)
      val winSeq = (System.currentTimeMillis() + 3600000L) << 20
      store.appendIndexRows("ds3", forged.map { case (h, _, _, c) =>
        ("v", vid3, winSeq, c.toString, Seq(c), h)
      }.toDF("var", "version", "seq", "coordKey", "coord", "hash"))
      rec("commit_torn256") { w3.finishVersion() }
      // sanity: the torn chunks resolved to the forged winner's fold
      val got = store.reader("ds3").onLastVersion()
        .getSlice("v", Slice(Seq(0L), Seq(chunkX)))
      require(got.valueAt(Seq(0L)) == 123456.0,
        s"repair sanity: expected forged winner fold, got ${got.valueAt(Seq(0L))}")

      graft.spark.SparkStore.clearBlobCache()
      spark.catalog.clearCache()
    }
    println(probe.line())
    spark.stop()
  }
}
