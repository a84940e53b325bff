package graft.spark.source

import graft.SparkTestSession
import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.StoreFs
import graft.spark.SparkStore
import org.scalatest.funsuite.AnyFunSuite

/** Per-partition chunk-file scoping: every InputPartition carries only
  * the chunk part files whose footer hash range overlaps ITS wanted
  * hashes — NOT the full chunks-dir listing. At the 100 TB target the
  * chunks dir is millions of part files; a full listing per task is
  * O(tasks × files) serialized scheduler traffic. */
class FileScopeSpec extends AnyFunSuite with graft.TempRoots {
  private lazy val spark = SparkTestSession.spark

  /** A 1D variable with `nChunks` chunks of 4 cells, written across two
    * versions so the chunks dir holds two ingest generations of
    * hash-range-disjoint part files. */
  private def mk(nChunks: Int): (String, SparkStore) = {
    val root = tempRoot("graft-scope")
    val store = new SparkStore(spark, root)
    store.create("ds")
    val n = nChunks * 4
    val meta = DatasetMeta(
      dimensions = Map("x" -> n.toLong),
      chunkDimensions = Map("x" -> 4L),
      variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)))
    // A pass over more than GraftScan.PointLookupThreshold chunks lands
    // in spark.sql.shuffle.partitions contiguous hash ranges, one
    // hash-range-disjoint part file each; a smaller one lands as one
    // hash-sorted file.
    val w1 = store.addVersion("ds", meta)
    w1.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(0L), Seq(n / 2L)), (0 until n / 2).map(_.toDouble))))
    w1.finishVersion()
    val w2 = store.addVersion("ds", store.metadata("ds", store.versions("ds").head._2))
    w2.write("v", Seq(Slab.fromDoubles(DType.LONG,
      Slice(Seq(n / 2L), Seq(n.toLong)), (n / 2 until n).map(_.toDouble))))
    w2.finishVersion()
    (root, store)
  }

  private def scanOf(root: String): GraftScan = {
    val r = GraftSource.resolve(Map(
      "root" -> root, "dataset" -> "ds", "variable" -> "v"))
    new GraftScanBuilder(r).build().asInstanceOf[GraftScan]
  }

  test("hash-range partitions carry only their bucket's overlapping files") {
    // each half > GraftScan.PointLookupThreshold chunks: both versions
    // land in hash ranges, and the full read takes the range path
    val (root, store) = mk(2100)
    val total = SparkStore.parquetFilesUnder(
      store.chunksDir).length
    assert(total >= 6, s"expected a multi-file store, got $total files")
    val parts = scanOf(root).planInputPartitions()
    val hashParts = parts.collect { case p: GraftDataHashPartition => p }
    assert(hashParts.length >= 4,
      s"expected hash-range partitions on the range path, got ${hashParts.length}")
    // a bucket spans 1/nBuckets of the hash space; each generation's files
    // are range-disjoint, so a bucket overlaps at most a couple per
    // generation — never the full listing
    val maxFiles = hashParts.map(_.chunkFiles.length).max
    assert(maxFiles <= total / 2,
      s"a partition still ships most of the listing ($maxFiles of $total)")
    // fill partitions ship no chunk files at all (only manifests)
    assert(parts.collect { case p: GraftFillRangePartition => p }.nonEmpty)
    // and the scoped read is still correct
    val df = spark.read.format("graft").option("root", root)
      .option("dataset", "ds").option("variable", "v").load()
    val n = 2100L * 4
    assert(df.count() == n)
    assert(df.agg(org.apache.spark.sql.functions.sum("value")).head.getLong(0)
      == n * (n - 1) / 2)
  }

  test("point partitions scope files to their own hashes") {
    // two hash-range-landed generations, as above; the window below is
    // point-planned
    val (root, store) = mk(2100)
    val total = SparkStore.parquetFilesUnder(
      store.chunksDir).length
    assert(total >= 6)
    // a 2-chunk window: its single point partition wants 2 hashes, and a
    // hash lives in exactly one range-disjoint file per generation, so the
    // scoped list is <= 2 hashes x 2 generations = 4 files — deterministic
    val r = GraftSource.resolve(Map(
      "root" -> root, "dataset" -> "ds", "variable" -> "v"))
    val b = new GraftScanBuilder(r)
    b.pushFilters(Array(org.apache.spark.sql.sources.LessThan("x", 8L)))
    val parts = b.build().asInstanceOf[GraftScan].planInputPartitions()
    val pointParts = parts.collect { case p: GraftPointPartition => p }
    assert(pointParts.nonEmpty)
    pointParts.foreach { p =>
      val k = p.hashes.count(_ != null)
      assert(p.files.length <= k * 2,
        s"${p.files.length} files for $k hashes over 2 generations")
      if (k == 0) assert(p.files.isEmpty)
    }
    val df = spark.read.format("graft").option("root", root)
      .option("dataset", "ds").option("variable", "v").load()
    assert(df.count() == 2100L * 4)
  }

  test("ingest writes hash-range sidecars; they agree with the footers " +
      "and pre-seed the cache so planning needs no footer reads") {
    val (root, store) = mk(8)
    val rangesDir = java.nio.file.Paths.get(store.chunksDir).resolve(".ranges")
    assert(java.nio.file.Files.exists(rangesDir), "no sidecar dir after ingest")
    val sidecars = scala.util.Using.resource(
      java.nio.file.Files.list(rangesDir)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".tsv")).toSeq
    }
    assert(sidecars.size == 2, s"one sidecar per ingest generation: $sidecars")
    // every live chunk file is covered, and the recorded range matches
    // the footer exactly
    val entries = sidecars.flatMap(p =>
      java.nio.file.Files.readAllLines(p).toArray.map(_.toString.split('\t')))
      .map(a => a(0) -> (a(1), a(2))).toMap
    val files = SparkStore.parquetFilesUnder(
      store.chunksDir)
    assert(files.nonEmpty &&
      files.forall(f => entries.contains(StoreFs.name(f))))
    files.foreach { f =>
      assert(ChunkBlobReader.fileHashRange(f,
        ChunkBlobReader.sharedConf) == entries(StoreFs.name(f)))
    }
    // seeding pre-empts the footer read entirely: a seeded path that is
    // not even a parquet file resolves from the cache
    ChunkBlobReader.seedRange("/nonexistent/seeded.parquet", "aaa", "bbb")
    assert(ChunkBlobReader.fileHashRange("/nonexistent/seeded.parquet",
      ChunkBlobReader.sharedConf) == (("aaa", "bbb")))
    // vacuum sweeps stale sidecars and records the compacted generation
    store.vacuum(graceMs = 0L)
    val after = scala.util.Using.resource(
      java.nio.file.Files.list(rangesDir)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".tsv")).toSeq
    }
    assert(after.size == 1, s"expected one post-compaction sidecar: $after")
    val afterFiles = SparkStore.parquetFilesUnder(
      store.chunksDir)
    val afterEntries = after.flatMap(p =>
      java.nio.file.Files.readAllLines(p).toArray.map(_.toString.split('\t')))
      .map(a => a(0)).toSet
    assert(afterFiles.forall(f => afterEntries.contains(StoreFs.name(f))))
    // reads still correct after compaction with sidecar-seeded planning
    val df = spark.read.format("graft").option("root", root)
      .option("dataset", "ds").option("variable", "v").load()
    assert(df.count() == 8L * 4)
  }

  test("sidecar compaction bounds driver state: many young generations merge to ONE manifest") {
    // Between blob sweeps, every ingest appends its own sidecar TSV —
    // O(generations) files the first plan must read. Vacuum merges them
    // into one manifest EVEN WHEN no blob is old enough to compact
    // (default grace, seconds-old files), so driver-side listing state
    // stays bounded as generations accumulate.
    val (root, store) = mk(8) // two generations from the fixture
    for (g <- 0 until 4) { // four more single-chunk generations
      val w = store.addVersion("ds",
        store.metadata("ds", store.versions("ds").head._2))
      w.write("v", Seq(Slab.fromDoubles(DType.LONG,
        Slice(Seq(0L), Seq(4L)), Seq(100.0 + g, 1.0, 2.0, 3.0))))
      w.finishVersion()
    }
    val rangesDir = java.nio.file.Paths.get(store.chunksDir).resolve(".ranges")
    def tsvs() = scala.util.Using.resource(
      java.nio.file.Files.list(rangesDir)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".tsv")).toSeq
    }
    assert(tsvs().size == 6, s"one sidecar per generation before vacuum: ${tsvs()}")
    // default grace: every blob is seconds old — nothing is swept, only
    // the sidecars compact
    val filesBefore = SparkStore.parquetFilesUnder(
      store.chunksDir).map(StoreFs.name).toSet
    assert(store.vacuum() == 0L)
    val after = tsvs()
    assert(after.size == 1, s"expected ONE merged manifest: $after")
    assert(SparkStore.parquetFilesUnder(store.chunksDir)
      .map(StoreFs.name).toSet == filesBefore, "vacuum touched young blobs")
    // the manifest still covers every live file
    val entries = java.nio.file.Files.readAllLines(after.head).toArray
      .map(_.toString.split('\t')(0)).toSet
    assert(filesBefore.subsetOf(entries), "merged manifest lost coverage")
    // and reads stay correct (latest generation wins at x=0)
    val df = spark.read.format("graft").option("root", root)
      .option("dataset", "ds").option("variable", "v").load()
    assert(df.count() == 8L * 4)
    assert(df.filter(org.apache.spark.sql.functions.col("x") === 0L)
      .head.getAs[Long]("value") == 103L)
  }

  test("vacuum never sweeps a LIVE ingest's staging dir; silent old ones go") {
    import java.nio.file.{Files => F, Paths => P}
    import java.nio.file.attribute.FileTime
    val (root, store) = mk(8)
    def mkStaging(name: String, ageMs: Long): java.nio.file.Path = {
      val dir = P.get(root).resolve(name)
      F.createDirectories(dir)
      val f = dir.resolve("part-0.parquet")
      F.writeString(f, "x")
      val t = FileTime.fromMillis(System.currentTimeMillis() - ageMs)
      F.setLastModifiedTime(f, t); F.setLastModifiedTime(dir, t)
      dir
    }
    // a LIVE long-running ingest: dir mtime old (job setup), inner file
    // fresh (tasks still writing) — must survive any grace setting
    val live = mkStaging(".chunks_ingest_live", ageMs = 48L * 3600 * 1000)
    F.setLastModifiedTime(live.resolve("part-0.parquet"),
      FileTime.fromMillis(System.currentTimeMillis()))
    // a crashed ingest: silent for far longer than the quiet floor
    val dead = mkStaging(".chunks_ingest_dead", ageMs = 48L * 3600 * 1000)
    // a recent crash: silent but younger than the quiet floor — retained
    val recent = mkStaging(".chunks_ingest_recent", ageMs = 60L * 1000)
    store.vacuum(graceMs = 0L)
    assert(java.nio.file.Files.exists(live), "live ingest staging was swept")
    assert(!java.nio.file.Files.exists(dead), "silent old staging survived")
    assert(java.nio.file.Files.exists(recent), "young staging swept too early")
  }

  test("bucketSpan endpoints match the manifest's hb assignment") {
    val nBuckets = 7
    for (b <- 0L until nBuckets) {
      val (lo, hi) = ChunkFileScope.bucketSpan(b, nBuckets)
      val lo32 = java.lang.Long.parseLong(lo.take(8), 16)
      val hi32 = java.lang.Long.parseLong(hi.take(8), 16)
      // hb(h32) = h32 * n / 2^32 must equal b exactly at both endpoints
      assert(lo32 * nBuckets / 4294967296L == b, s"lo of bucket $b")
      assert(hi32 * nBuckets / 4294967296L == b, s"hi of bucket $b")
      // and the neighbours fall outside
      if (lo32 > 0) assert((lo32 - 1) * nBuckets / 4294967296L == b - 1)
      if (hi32 < 0xFFFFFFFFL) assert((hi32 + 1) * nBuckets / 4294967296L == b + 1)
    }
  }
}
