package graft

import graft.pipeline.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** ANN variants: exact baseline vs LSH and IVF recall. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("IVF and LSH approximate the brute-force baseline with reasonable recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, 5, 10))
    val ivf = pairs(Similarity.ivfTopK(emb, 5, 10))
    val lsh = pairs(Similarity.lshTopK(emb, 5, 10))
    assert(exact.size == 50)
    val ivfRecall = (exact intersect ivf).size.toDouble / exact.size
    assert(ivfRecall >= 0.9, s"IVF recall too low at nProbe=4/16: $ivfRecall")
    // probing every list must recover the exact answer (IVF partitions the
    // corpus; the union of all lists is the corpus)
    val ivfAll = pairs(Similarity.ivfTopK(emb, 5, 10, nProbe = 16))
    val allRecall = (exact intersect ivfAll).size.toDouble / exact.size
    assert(allRecall >= 0.9, s"IVF recall too low at nProbe=16/16: $allRecall")
    assert(ivf.nonEmpty && lsh.nonEmpty)
    // determinism (k-means update is quantized-integer, order-free exact)
    assert(pairs(Similarity.ivfTopK(emb, 5, 10)) == ivf)
  }

  test("bucket cap: a boilerplate-heavy corpus doesn't go quadratic") {
    // 200 identical vectors land in ONE LSH bucket (a boilerplate cluster);
    // 20 distinct vectors spread over the rest. Without the cap the
    // within-bucket self-join emits 200*199/2 = 19900 pairs from that
    // bucket alone; with it, the non-discriminative bucket is dropped.
    import spark.implicits._
    val boiler = (0L until 200L).map(i => (i, Array.fill(16)(1.0f)))
    val distinct = (200L until 220L).map(i =>
      (i, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13).toFloat - 6f)))
    val emb = (boiler ++ distinct).toDF("vec_id", "embedding")
    val capped = Similarity.cosineNearDupPairs(emb, minCos = 0.9).collect()
    val boilerPairs = capped.count(r => r.getLong(0) < 200 && r.getLong(1) < 200)
    assert(boilerPairs == 0, s"giant bucket survived the cap: $boilerPairs pairs")
    assert(capped.length < 1000, s"quadratic blowup: ${capped.length} pairs")
    // uncapped control: the same corpus DOES go quadratic without the guard
    val uncapped =
      Similarity.cosineNearDupPairs(emb, minCos = 0.9, maxBucketSize = 1 << 20)
    assert(uncapped.count() >= 19900L)
    // a query inside a dropped bucket yields no rows rather than a
    // quadratic scan; queries in kept buckets are unaffected
    val topk = Similarity.lshTopK(emb, k = 3, nQueries = 220)
    val qids = topk.collect().map(_.getLong(0)).toSet
    assert(qids.forall(_ >= 200L), "dropped-bucket query leaked through")
  }

  test("semdedup megacluster cap: per-cluster pair work is bounded") {
    // 60 of 200 vectors (30%) are one identical boilerplate direction —
    // they all land in a single semantic cluster. Uncapped, that cluster
    // alone emits 60*59/2 = 1770 pairs; with maxClusterSize = 8 every
    // cluster contributes at most 8*7/2 = 28 pairs (its 8 lowest-id
    // members), so per-task join output is bounded however big the
    // megacluster grows.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, countDistinct}
    val boiler = (0L until 60L).map(i => (i, Array.fill(16)(1.0f)))
    val rest = (60L until 200L).map(i =>
      (i, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13).toFloat - 6f)))
    val emb = (boiler ++ rest).toDF("vec_id", "embedding")
    val capped = Similarity.semanticNearDupPairs(emb, nCentroids = 16,
      tau = 0.99, maxClusterSize = 8)
    // bounded per-cluster membership → bounded pair output
    val perCluster = capped.groupBy("cent_id")
      .agg(countDistinct(col("keep_id")).as("nk"),
        countDistinct(col("dup_id")).as("nd")).collect()
    perCluster.foreach { r =>
      assert(r.getLong(1) <= 8 && r.getLong(2) <= 8,
        s"cluster ${r.getLong(0)} exceeded the member cap: $r")
    }
    assert(capped.count() <= 16L * 28L)
    // the boilerplate dups under the cap ARE still flagged (truncation,
    // not whole-cluster drop): its 8 lowest-id members give 28 pairs
    val boilerPairs = capped.filter(col("keep_id") < 60 && col("dup_id") < 60)
    assert(boilerPairs.count() == 28L)
    // uncapped control goes quadratic in the megacluster
    val uncapped = Similarity.semanticNearDupPairs(emb, nCentroids = 16,
      tau = 0.99, maxClusterSize = 0)
    assert(uncapped.filter(col("keep_id") < 60 && col("dup_id") < 60)
      .count() == 1770L)
  }

  test("persistent IVF index answers bit-identically to the one-shot path") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16, lloydIters = 1)
    // centroids + assignments persisted; querying reads the INDEX, not
    // the corpus (only the query vectors come from emb)
    val fromIndex = Similarity.ivfQuery(emb, path, k = 5, nQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val oneShot = Similarity.ivfTopK(emb, k = 5, nQueries = 20, nCentroids = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(fromIndex == oneShot)
    assert(fromIndex.nonEmpty)
    // a second query batch reuses the same build (different nQueries)
    val second = Similarity.ivfQuery(emb, path, k = 3, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(second == Similarity.ivfTopK(emb, k = 3, nQueries = 5, nCentroids = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq)
  }

  test("persistent IVF index is version-bound: an advanced corpus fails loudly") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-stale").toString
    Similarity.ivfBuild(emb, path)
    // same corpus: verified query answers
    assert(Similarity.ivfQuery(emb, path, k = 3, nQueries = 5).count() > 0)
    // corpus advanced (a vector appended): the index must refuse to serve
    val advanced = emb.unionByName(emb.limit(1)
      .withColumn("vec_id", col("vec_id") + 1000000L))
    val e = intercept[IllegalStateException] {
      Similarity.ivfQuery(advanced, path, k = 3, nQueries = 5).count() }
    assert(e.getMessage.contains("STALE"), e.getMessage)
    // a MUTATED vector (same ids, different content) is also caught
    val mutated = emb.withColumn("embedding",
      transform(col("embedding"), x => x + 1.0f))
    val e2 = intercept[IllegalStateException] {
      Similarity.ivfQuery(mutated, path, k = 3, nQueries = 5).count() }
    assert(e2.getMessage.contains("STALE"), e2.getMessage)
    // explicit opt-out serves unchecked
    assert(Similarity.ivfQuery(advanced, path, k = 3, nQueries = 5,
      verifyCorpus = false).count() > 0)
    // pre-fingerprint index (no meta dir) gets a descriptive error
    val legacy = java.nio.file.Files.createTempDirectory("graft-ivf-legacy")
    java.nio.file.Files.move(java.nio.file.Paths.get(path, "centroids"),
      legacy.resolve("centroids"))
    java.nio.file.Files.move(java.nio.file.Paths.get(path, "assignments"),
      legacy.resolve("assignments"))
    val e3 = intercept[IllegalStateException] {
      Similarity.ivfQuery(emb, legacy.toString, k = 3, nQueries = 5).count() }
    assert(e3.getMessage.contains("no meta"), e3.getMessage)
  }

  test("ivfQueryVectors: arbitrary external query vectors probe the index") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-ext").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    // external queries = copies of corpus vectors under NEW ids: without
    // excludeSelf the rank-1 neighbor must be the identical corpus vector
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 5000L).as("query_id"), col("embedding"))
    val got = Similarity.ivfQueryVectors(queries, path, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (q <- 0L until 5L)
      assert(got(q + 5000L) == q, s"query ${q + 5000L} → ${got(q + 5000L)}")
    // the corpus-self wrapper is the same plan over vec_id < n with self
    // exclusion: results agree with the one-shot path (already pinned by
    // the bit-identity test); here just attest the wrapper still routes
    assert(Similarity.ivfQuery(emb, path, k = 3, nQueries = 5).count() > 0)
  }

  test("ivfAppend: index grows with a new batch, fail-closed, no corpus re-scan") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    // the batch: copies of vectors 0..9 under fresh ids
    val batch = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    // appending onto anything but the index's current corpus fails loudly
    val e = intercept[IllegalStateException] {
      Similarity.ivfAppend(batch, batch, path) }
    assert(e.getMessage.contains("STALE"), e.getMessage)
    Similarity.ivfAppend(emb, batch, path)
    // the grown corpus attests cleanly; the base alone is now stale
    // (fingerprints ride (vec_id, embedding) only — drop the extra label)
    val full = emb.select("vec_id", "embedding").unionByName(batch)
    assert(Similarity.ivfQuery(full, path, k = 1, nQueries = 3).count() > 0)
    intercept[IllegalStateException] {
      Similarity.ivfQuery(emb, path, k = 1, nQueries = 3).count() }
    // the appended generation is actually served: each original vector's
    // rank-2 neighbor (after itself) is its appended copy (cos exactly 1,
    // id tie-break puts the original first)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.ivfQueryVectors(q, path, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    for (i <- 0L until 3L) {
      assert(got((i, 1)) == i, s"rank-1 of $i should be itself")
      assert(got((i, 2)) == i + 900000L, s"rank-2 of $i should be its appended copy")
    }
    // drift accounting: appended fraction = batch / (base + batch)
    val baseN = emb.count()
    val want = 10.0 / (baseN + 10)
    assert(math.abs(Similarity.appendedFraction(spark, path) - want) < 1e-12)
    // orphan-generation vacuum: a dir a crashed append never committed
    // is swept once silent past the grace window; committed gens and
    // young dirs survive
    val orphan = java.nio.file.Paths.get(path, "assignments_orphan_dead")
    java.nio.file.Files.createDirectories(orphan)
    val f = orphan.resolve("part-0.parquet")
    java.nio.file.Files.writeString(f, "x")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    java.nio.file.Files.setLastModifiedTime(f, old)
    java.nio.file.Files.setLastModifiedTime(orphan, old)
    val young = java.nio.file.Paths.get(path, "assignments_orphan_live")
    java.nio.file.Files.createDirectories(young)
    java.nio.file.Files.writeString(young.resolve("part-0.parquet"), "x")
    assert(Similarity.ivfVacuum(path) == 1)
    assert(!java.nio.file.Files.exists(orphan), "dead orphan survived")
    assert(java.nio.file.Files.exists(young), "young dir swept")
    // committed generations untouched: the index still serves everything
    val got2 = Similarity.ivfQueryVectors(q, path, k = 2).collect()
    assert(got2.length == got.size, "vacuum broke the committed index")
    // full rebuild folds the appended generations into fresh centroids:
    // drift resets to 0, the grown corpus still attests, queries answer
    Similarity.ivfRebuild(full, path, nCentroids = 16)
    assert(Similarity.appendedFraction(spark, path) == 0.0)
    assert(Similarity.ivfQuery(full, path, k = 1, nQueries = 3).count() > 0)
    intercept[IllegalStateException] {
      Similarity.ivfQuery(emb, path, k = 1, nQueries = 3).count() }
  }

  test("autoCentroids: K ≈ √N, clamped") {
    for ((n, want) <- Seq(0L -> 16, 100L -> 16, 256L -> 16, 400L -> 20,
        1000000L -> 1000, 1000001L -> 1001, (1L << 40) -> 65536))
      assert(graft.pipeline.Similarity.autoCentroids(n) == want, s"autoCentroids($n)")
  }

  test("native graft_lsh_sig matches the higher-order-function formula bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(hash(col("id"), j).cast("long"), lit(2048L)).cast("double")
          / 1024.0 - 1.0)).as("v"))
    // the HOF reference: same mixer, per-plane aggregate folds
    def plane(h: Int): Column =
      transform(col("v"), (x, j) => {
        val k0 = lit(h * 40503L) + j + lit(1L)
        val x1 = pmod(k0 * lit(2654435761L), lit(4294967296L))
        val x2 = x1.bitwiseXOR(shiftright(x1, 16))
        val x3 = pmod(x2 * lit(49979693L), lit(4294967296L))
        val x4 = x3.bitwiseXOR(shiftright(x3, 16))
        x * (shiftright(x4, 22).cast("double") / 512.0 - 1.0)
      })
    val hof = concat((0 until 10).map(h =>
      when(aggregate(plane(h), lit(0.0), (acc, x) => acc + x) >= 0, lit("1"))
        .otherwise(lit("0"))): _*)
    val native = graft.functions.VectorFunctions.lshSignature(spark, col("v"), 10)
    val diff = emb.select(hof.as("a"), native.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L, s"$diff of 2000 signatures differ")
  }

  test("graft_lsh_sig: mixed-dimension input through one instance is order-independent") {
    // Regression: the cached weight table is laid out with the stride of the
    // widest vector seen; a narrower vector arriving AFTER a wider one must
    // still read the pure mixer(h, j) weights — signatures may not depend on
    // row observation order.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    def vec(dim: Int, seed: Int): GenericArrayData = {
      val r = new scala.util.Random(seed)
      new GenericArrayData(Array.fill(dim)(r.nextDouble() * 2 - 1))
    }
    def freshSig(a: GenericArrayData): String =
      graft.functions.LshSignature(Literal(1), Literal(16), Literal(0))
        .signature(a).toString
    val wideFirst = graft.functions.LshSignature(Literal(1), Literal(16), Literal(0))
    for (seed <- 0 until 20) {
      val wide = vec(96, 1000 + seed)
      val narrow = vec(17, 2000 + seed)
      assert(wideFirst.signature(wide).toString == freshSig(wide))
      // narrow AFTER wide: the grown (stride-96) table must still be right
      assert(wideFirst.signature(narrow).toString == freshSig(narrow),
        s"narrow-after-wide signature diverged (seed $seed)")
    }
  }

  test("autoBits: smallest width keeping expected buckets under the cap") {
    // floor(n / 2^b) <= cap at the returned b, but not at b-1 (above floor)
    for ((n, want) <- Seq(0L -> 8, 1000L -> 8, 16384L -> 8, 16640L -> 9,
        50000L -> 10, 1000000L -> 14, (1L << 40) -> 24))
      assert(Similarity.autoBits(n, 64) == want, s"autoBits($n)")
    assert(Similarity.autoBits(1L << 62, 64) == 24) // hard cap: 16M buckets
  }

  test("auto signature width keeps a 50k-vector corpus answering") {
    // 50k pseudo-random vectors: at the OLD fixed 8 bits the expected
    // bucket population is 50000/256 ≈ 195 > cap=64, so every bucket is
    // dropped and the query silently returns nothing; the count-derived
    // width (10 bits → ≈49/bucket) keeps buckets under the cap.
    import org.apache.spark.sql.functions._
    val emb = spark.range(50000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), j =>
        (pmod(hash(col("id"), j).cast("long"), lit(2048L)).cast("double")
          / 1024.0 - 1.0).cast("float")).as("embedding"))
    val auto = Similarity.lshTopK(emb, k = 3, nQueries = 20)
    val got = auto.collect()
    assert(got.nonEmpty, "auto-width LSH returned nothing on a 50k corpus")
    assert(got.groupBy(_.getLong(0)).forall(_._2.length <= 3))
    // ~60% of rows survive the cap at the derived width on this corpus
    // (10-12 planes in 64 dims retain some mutual correlation), so most
    // queries answer; at the old fixed 8 bits expected population is ≈195
    // > cap and nearly everything drops
    val autoQ = got.map(_.getLong(0)).distinct.length
    assert(autoQ >= 8, s"auto width answered only $autoQ of 20 queries")
    val fixedQ = Similarity.lshTopK(emb, k = 3, nQueries = 20, nBits = 8)
      .collect().map(_.getLong(0)).distinct.length
    assert(fixedQ <= 5, s"fixed 8-bit width unexpectedly answered $fixedQ of 20")
    assert(autoQ > fixedQ)
    val dups = Similarity.cosineNearDupPairs(emb, minCos = 0.99)
    assert(dups.count() >= 0L) // bounded pairwise step completes
  }

  test("multi-table LSH recall strictly beats a single table on a 50k corpus") {
    // 50k random background vectors + 5 planted near-duplicates (cos ≈
    // 0.95) for each of 20 queries. One auto-width table gives a 0.95-cos
    // pair ONE (1−θ/π)^nBits shot at sharing a bucket; r tables give r
    // independent shots (OR-amplification). Ground truth = brute force:
    // the planted copies dominate every query's top-5 (background cosines
    // are near 0), so recall measures exactly how many planted pairs the
    // bucketing caught. Data and hyperplanes are deterministic — the
    // recalls are pinned reproducible numbers, not flaky samples.
    import org.apache.spark.sql.functions._
    val base = spark.range(50000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), j =>
        (pmod(hash(col("id"), j).cast("long"), lit(2048L)).cast("double")
          / 1024.0 - 1.0).cast("float")).as("embedding"))
    // planted near-dups of queries 0..19: copy q = id/5, add hash noise
    // at ~1/3 the component scale → cos ≈ 0.95
    val planted = spark.range(100).select(
      (col("id") + 100000L).as("vec_id"),
      transform(sequence(lit(0), lit(15)), j =>
        // copy of query id/5 (INTEGER division — hash input must be the
        // same long the base row hashed) + ~1/3-scale hash noise
        ((pmod(hash(floor(col("id") / 5).cast("long"), j).cast("long"),
          lit(2048L)).cast("double") / 1024.0 - 1.0)
          + (pmod(hash(col("id"), j, lit(7)).cast("long"), lit(2048L)).cast("double")
            / 1024.0 - 1.0) * 0.33).cast("float")).as("embedding"))
    val emb = base.unionByName(planted)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, k = 5, nQueries = 20))
    assert(truth.size == 100)
    // every query's top-5 should be its planted copies (cos 0.95 vs ~0)
    assert(truth.count(_._2 >= 100000L) >= 95, "planted dups not dominant")
    def recall(nTables: Int): Double =
      (truth intersect pairs(
        Similarity.lshTopK(emb, k = 5, nQueries = 20, nTables = nTables)))
        .size.toDouble / truth.size
    val r1 = recall(1)
    val r2 = recall(2)
    val r4 = recall(4)
    assert(r1 > 0.05, s"single-table recall degenerate: $r1")
    assert(r2 > r1, s"2 tables must strictly beat 1: $r2 vs $r1")
    assert(r4 > r2, s"4 tables must strictly beat 2: $r4 vs $r2")
  }

  test("derived width past the 8-bit floor: 1M vectors, bounded buckets, non-empty answers") {
    // sf0.1's 5k-vector corpus floors autoBits at 8; here the derived
    // width's interesting branch actually runs: 1M vectors → 14 bits
    // (expected population 1e6/2^14 ≈ 61 ≤ cap=64). Asserts the
    // population tracks that expectation (bounded buckets, most of the
    // corpus surviving the cap) and the end-to-end query still answers.
    import org.apache.spark.sql.functions._
    val n = 1000000L
    val bits = Similarity.autoBits(n, 64)
    assert(bits == 14 && bits > 8, s"derived width $bits")
    val emb = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), j =>
        (pmod(hash(col("id"), j).cast("long"), lit(2048L)).cast("double")
          / 1024.0 - 1.0).cast("float")).as("embedding"))
    val v = emb.select(transform(col("embedding"), _.cast("double")).as("v"))
    val sizes = v.select(graft.functions.VectorFunctions
        .lshSignature(spark, col("v"), bits).as("bucket"))
      .groupBy("bucket").count()
    val row = sizes.agg(
      max("count").as("max_sz"),
      count(lit(1)).as("n_buckets"),
      sum(when(col("count") <= 64, col("count")).otherwise(lit(0))).as("survivors"))
      .head
    val (maxSz, nBuckets, survivors) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    // populated buckets ≈ min(2^14, distinct signatures); population is
    // Poisson-ish around 61 — a degenerate width would concentrate the
    // corpus in a few giant buckets
    assert(nBuckets > 4000, s"only $nBuckets buckets at $bits bits")
    assert(maxSz < 50000, s"giant bucket at derived width: $maxSz")
    assert(survivors > n / 10,
      s"cap drops almost everything at the derived width: $survivors of $n")
    // end-to-end at the derived width (both tables ride the same kernel)
    val got = Similarity.lshTopK(emb, k = 3, nQueries = 10).collect()
    assert(got.nonEmpty, "derived-width LSH returned nothing on 1M vectors")
  }

  test("version-pinned index: O(1) attestation without touching the corpus") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Similarity.CorpusId
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-pin").toString
    val uri = "graft://unit/embeddings"
    Similarity.ivfBuild(emb, path, nCentroids = 16,
      corpus = Some(CorpusId(uri, 1L)))
    Similarity.attestVersion(spark, path, CorpusId(uri, 1L)) // matches
    // a different version or dataset fails loudly
    assert(intercept[IllegalStateException] {
      Similarity.attestVersion(spark, path, CorpusId(uri, 2L))
    }.getMessage.contains("STALE"))
    assert(intercept[IllegalStateException] {
      Similarity.attestVersion(spark, path, CorpusId("graft://other/e", 1L))
    }.getMessage.contains("STALE"))
    // provably corpus-scan-free: a dir holding ONLY the props sidecar —
    // no parquet, no centroids, nothing a Spark job could read — attests
    val bare = java.nio.file.Files.createTempDirectory("graft-pin-bare")
    java.nio.file.Files.copy(java.nio.file.Paths.get(path, "meta.props"),
      bare.resolve("meta.props"))
    Similarity.attestVersion(spark, bare.toString, CorpusId(uri, 1L))
    // belt-and-braces: a job counter observes ZERO Spark jobs during it
    val jobs = SparkTestSession.jobsDuring(
      Similarity.attestVersion(spark, path, CorpusId(uri, 1L)))
    assert(jobs == 0, s"attestVersion launched $jobs Spark job(s)")
    // the pinned serving path answers
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(Similarity.ivfQueryPinned(q, path, CorpusId(uri, 1L), k = 1)
      .count() > 0)
    // pinned append advances the pin; the old pin is now stale
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    Similarity.ivfAppendPinned(batch, path, CorpusId(uri, 1L), CorpusId(uri, 2L))
    Similarity.attestVersion(spark, path, CorpusId(uri, 2L))
    assert(intercept[IllegalStateException] {
      Similarity.attestVersion(spark, path, CorpusId(uri, 1L))
    }.getMessage.contains("STALE"))
    // an UNPINNED append clears the pin (its version no longer describes
    // the grown corpus) — attestation by version now refuses
    val full = emb.select("vec_id", "embedding").unionByName(batch)
    val batch2 = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 600000L).as("vec_id"), col("embedding"))
    Similarity.ivfAppend(full, batch2, path)
    assert(intercept[IllegalStateException] {
      Similarity.attestVersion(spark, path, CorpusId(uri, 2L))
    }.getMessage.contains("no corpus pin"))
  }

  test("ivfRebuild: zero-downtime pointer flip; queries never fail; watermark carried") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-flip").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    val batch = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    assert(Similarity.ivfAppendBatch(batch, path, batchId = 7L))
    val full = emb.select("vec_id", "embedding").unionByName(batch)
    // hammer the index from another thread across the rebuild window —
    // the atomic CURRENT flip means no query ever sees a half-state
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get) {
        try { if (Similarity.ivfQueryVectors(q, path, k = 1).count() == 0) () }
        catch { case t: Throwable => err.set(t); stop.set(true) }
      }
    })
    reader.start()
    try Similarity.ivfRebuild(full, path, nCentroids = 16)
    finally { Thread.sleep(200); stop.set(true); reader.join(30000) }
    assert(err.get == null, s"query failed during rebuild: ${err.get}")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "CURRENT")))
    // the rebuild folded the append: drift reset, grown corpus attests
    assert(Similarity.appendedFraction(spark, path) == 0.0)
    assert(Similarity.ivfQuery(full, path, k = 1, nQueries = 3).count() > 0)
    // the exactly-once watermark survived: a re-delivered already-folded
    // batch is STILL skipped after the rebuild…
    assert(!Similarity.ivfAppendBatch(batch, path, batchId = 7L),
      "re-delivered batch was re-appended after rebuild")
    // …while a genuinely new batch lands
    val batch2 = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 910000L).as("vec_id"), col("embedding"))
    assert(Similarity.ivfAppendBatch(batch2, path, batchId = 8L))
    // ivfBuild refuses to write a generation nobody would resolve
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfBuild(full, path)
    }.getMessage.contains("ivfRebuild"))
    // vacuum past the grace window sweeps the superseded root-layout
    // dirs; the pointer generation keeps serving everything
    assert(Similarity.ivfVacuum(path, graceMs = -5000) >= 3)
    val got = Similarity.ivfQueryVectors(q, path, k = 2)
    assert(got.count() > 0, "vacuum broke the serving generation")
  }

  test("IVF lifecycle on an explicit file:/// Hadoop path (FS-API sidecars)") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Similarity.CorpusId
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the scheme forces every sidecar operation (CURRENT pointer,
    // meta.props commit, write lock, vacuum listings) through the Hadoop
    // FileSystem API — the code path an HDFS/object-store index runs
    val path = "file://" +
      java.nio.file.Files.createTempDirectory("graft-ivf-hfs").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16,
      corpus = Some(CorpusId("graft://hfs/e", 1L)))
    Similarity.attestVersion(spark, path, CorpusId("graft://hfs/e", 1L))
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    Similarity.ivfAppendPinned(batch, path,
      CorpusId("graft://hfs/e", 1L), CorpusId("graft://hfs/e", 2L))
    Similarity.attestVersion(spark, path, CorpusId("graft://hfs/e", 2L))
    val full = emb.select("vec_id", "embedding").unionByName(batch)
    Similarity.ivfRebuild(full, path, nCentroids = 16,
      corpus = Some(CorpusId("graft://hfs/e", 2L)))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(Similarity.ivfQueryPinned(q, path,
      CorpusId("graft://hfs/e", 2L), k = 1).count() > 0)
    // vacuum sweeps the superseded root layout through the FS API too
    assert(Similarity.ivfVacuum(path, graceMs = -5000) >= 1)
    assert(Similarity.ivfQueryVectors(q, path, k = 1).count() > 0)
  }

  test("corpusIdOf: the ANN pin derives from a graft pinned reader; O(1) attest") {
    import org.apache.spark.sql.functions._
    import graft.core._
    import graft.meta.{DatasetMeta, VariableDef}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = new graft.spark.SparkStore(spark,
      java.nio.file.Files.createTempDirectory("graft-cid").toString)
    store.create("corpus")
    val m = DatasetMeta(
      dimensions = Map("x" -> 4L),
      chunkDimensions = Map("x" -> 4L),
      variables = Map("v" -> VariableDef("double", Vector("x"), -1.0)))
    val w = store.addVersion("corpus", m)
    w.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L), Seq(4L)), 1.0)))
    w.finishVersion()
    val reader = store.reader("corpus").onLastVersion()
    val path = java.nio.file.Files.createTempDirectory("graft-cid-ivf").toString
    Similarity.ivfBuildPinned(emb, path, reader, nCentroids = 16)
    // attest via the derived identity, with zero Spark jobs
    val jobs = SparkTestSession.jobsDuring(
      Similarity.attestVersion(spark, path, Similarity.corpusIdOf(reader)))
    assert(jobs == 0, s"attest via reader identity ran $jobs job(s)")
    // a reader pinned to a DIFFERENT version attests stale
    val w2 = store.addVersion("corpus", reader.meta)
    w2.write("v", Seq(Slab.empty(DType.DOUBLE, Slice(Seq(0L), Seq(1L)), 2.0)))
    w2.finishVersion()
    val reader2 = store.reader("corpus").onLastVersion()
    assert(intercept[IllegalStateException] {
      Similarity.attestVersion(spark, path, Similarity.corpusIdOf(reader2))
    }.getMessage.contains("STALE"))
  }

  test("IVF-PQ persistent lifecycle: serve ≡ one-shot; appends carry codes; non-PQ index refuses ADC") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16, pqM = 8, pqKsub = 16)
    // the serving path answers bit-identically to the one-shot compose
    val serve = Similarity.ivfPqQuery(emb, path, k = 3, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val oneshot = Similarity.ivfPqTopK(emb, k = 3, nQueries = 5, nCentroids = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(serve == oneshot, s"serve/one-shot diverged:\n$serve\n$oneshot")
    // an appended batch is encoded against the frozen codebook and served
    val batch = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    Similarity.ivfAppend(emb.select("vec_id", "embedding"), batch, path)
    val q0 = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.ivfPqQueryVectors(q0, path, k = 5, excludeSelf = true)
      .collect().map(_.getLong(1)).toSeq
    assert(got.contains(900000L),
      s"appended exact duplicate missing from ADC top-k: $got")
    // a PQ query against a non-PQ index fails loudly, not approximately
    val plain = java.nio.file.Files.createTempDirectory("graft-plain").toString
    Similarity.ivfBuild(emb, plain, nCentroids = 16)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqQuery(emb, plain, k = 3, nQueries = 2)
    }
    assert(e.getMessage.contains("no PQ codebook"), e.getMessage)
  }

  test("index write lock: a held lock refuses writers; a stale lock is stolen") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-lock").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    val lock = java.nio.file.Paths.get(path, ".write.lock")
    java.nio.file.Files.createFile(lock)
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"))
    assert(intercept[IllegalStateException] {
      Similarity.ivfAppend(emb, batch, path)
    }.getMessage.contains("single-writer"))
    // a lock older than the stale window belongs to a crashed writer:
    // the next append steals it and commits
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 3600 * 1000))
    Similarity.ivfAppend(emb, batch, path)
    val full = emb.select("vec_id", "embedding").unionByName(batch)
    assert(Similarity.ivfQuery(full, path, k = 1, nQueries = 2).count() > 0)
    assert(!java.nio.file.Files.exists(lock), "lock not released after append")
  }

  test("atomic-scheme lease path: ownership decided by createExclusive " +
      "alone (no election dir), held marker refuses, stale marker stolen") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val local = java.nio.file.Files.createTempDirectory("graft-ivf-atomic")
    val path = "file://" + local.toString
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 720000L).as("vec_id"), col("embedding"))
    // route file:// through the atomic path for this test only (its
    // single-JVM create is race-free enough to exercise the code path;
    // production default is hdfs-only because RawLocal's no-overwrite
    // create is exists-then-truncate)
    sys.props("graft.lease.atomic.schemes") = "file"
    try {
      val lock = local.resolve(".write.lock")
      java.nio.file.Files.createFile(lock)
      assert(intercept[IllegalStateException] {
        Similarity.ivfAppend(emb, batch, path)
      }.getMessage.contains("single-writer"))
      // stale marker: stolen, createExclusive wins, append commits
      java.nio.file.Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2L * 3600 * 1000))
      Similarity.ivfAppend(emb, batch, path)
      assert(!java.nio.file.Files.exists(lock), "lock not released")
      // the atomic path never stands election proposals
      val elec = local.resolve(".write.lock.d")
      assert(!java.nio.file.Files.exists(elec) ||
        java.nio.file.Files.list(elec).count() == 0L)
      val full = emb.select("vec_id", "embedding").unionByName(batch)
      assert(Similarity.ivfQuery(full, path, k = 1, nQueries = 2).count() > 0)
    } finally sys.props.remove("graft.lease.atomic.schemes")
  }

  test("orphaned-aside sweep keys on the NAME-embedded steal instant, " +
      "not mtime: a co-stealer's just-renamed aside (rename preserves " +
      "the stale lock's ancient mtime) survives; a genuinely orphaned " +
      "aside is swept") {
    import org.apache.spark.sql.functions._
    import java.nio.file.attribute.FileTime
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-aside").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    val now = System.currentTimeMillis()
    val old = now - 2L * 3600 * 1000
    // a crashed writer's stale lock: the append below steals it, which
    // runs the orphaned-aside sweep
    val lock = java.nio.file.Paths.get(path, ".write.lock")
    java.nio.file.Files.write(lock, "deadtok".getBytes)
    java.nio.file.Files.setLastModifiedTime(lock, FileTime.fromMillis(old))
    // a co-stealer mid-verify: its aside NAME stamps a fresh steal
    // instant, but the rename preserved the stale lock's old mtime —
    // the pre-fix mtime sweep would eat it, making the co-stealer read
    // an empty token and stand down despite having won
    val fresh = java.nio.file.Paths.get(path, s".write.lock.stale.$now.corival")
    java.nio.file.Files.write(fresh, "rivaltok".getBytes)
    java.nio.file.Files.setLastModifiedTime(fresh, FileTime.fromMillis(old))
    // a crashed stealer's aside: the steal instant itself is a full
    // stale window old — truly orphaned
    val orphan = java.nio.file.Paths.get(path, s".write.lock.stale.$old.crashed")
    java.nio.file.Files.write(orphan, "crashtok".getBytes)
    java.nio.file.Files.setLastModifiedTime(orphan, FileTime.fromMillis(old))
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 730000L).as("vec_id"), col("embedding"))
    Similarity.ivfAppend(emb, batch, path)
    assert(java.nio.file.Files.exists(fresh),
      "sweep must not eat a co-stealer's just-renamed fresh-named aside")
    assert(!java.nio.file.Files.exists(orphan),
      "a genuinely orphaned aside must be swept")
    assert(!java.nio.file.Files.exists(lock), "lock not released")
    java.nio.file.Files.delete(fresh)
  }

  test("lease election is tie-safe and steals stale proposals: a live " +
      "rival proposal (older OR same mtime) refuses acquisition; a stale " +
      "one is swept") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-elec").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 710000L).as("vec_id"), col("embedding"))
    val elec = java.nio.file.Paths.get(path, ".write.lock.d")
    java.nio.file.Files.createDirectories(elec)
    // a FRESH rival proposal stands (no .write.lock marker — the rival
    // is mid-election): our proposal cannot be strictly oldest, and an
    // mtime TIE must also refuse (the check-then-act interleave where
    // both contenders listed each other). Plant the rival a beat in the
    // future so our own proposal's mtime is <= the rival's only if the
    // clock raced — i.e. force the tie/older branch deterministically.
    val rival = elec.resolve("00000000-rival")
    java.nio.file.Files.createFile(rival)
    java.nio.file.Files.setLastModifiedTime(rival,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 5000L)) // older than any new proposal
    assert(intercept[IllegalStateException] {
      Similarity.ivfAppend(emb, batch, path)
    }.getMessage.contains("single-writer"))
    // the loser must have withdrawn its own proposal (no garbage buildup)
    assert(java.nio.file.Files.list(elec).count() == 1L,
      "a refused contender must withdraw its proposal")
    // a STALE rival (crashed mid-election beyond the steal window) is
    // swept at the next acquisition, which then proceeds
    java.nio.file.Files.setLastModifiedTime(rival,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 3600 * 1000))
    Similarity.ivfAppend(emb, batch, path)
    val full = emb.select("vec_id", "embedding").unionByName(batch)
    assert(Similarity.ivfQuery(full, path, k = 1, nQueries = 2).count() > 0)
    assert(java.nio.file.Files.list(elec).count() == 0L,
      "winner must release its proposal and the stale rival must be swept")
  }

  test("concurrent ivfAppendBatch racers: exactly one generation commits " +
      "per batchId; the fingerprint stays exact") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-race").toString
    Similarity.ivfBuild(emb, path, nCentroids = 16)
    def meta(): java.util.Properties = {
      val cur = java.nio.file.Paths.get(path, "CURRENT")
      val sd = if (java.nio.file.Files.exists(cur))
        java.nio.file.Paths.get(path,
          new String(java.nio.file.Files.readAllBytes(cur)).trim)
      else java.nio.file.Paths.get(path)
      val p = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(sd.resolve("meta.props"))
      try p.load(in) finally in.close()
      p
    }
    val gens0 = meta().getProperty("gens").split(',').length
    val batch = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    // two racers deliver the SAME batchId (one plays the streaming sink's
    // re-delivery, one a manual batch append). The lock is fail-loud, so
    // a racer that collides retries — modelling foreachBatch's retry.
    def racer(): Either[Throwable, Boolean] = {
      var attempts = 0
      while (true) {
        try return Right(Similarity.ivfAppendBatch(batch, path, batchId = 1L))
        catch {
          case e: IllegalStateException
            if e.getMessage.contains("write.lock") && attempts < 240 =>
            attempts += 1; Thread.sleep(500)
          case e: Throwable => return Left(e)
        }
      }
      sys.error("unreachable")
    }
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => racer())
      val fb = pool.submit(() => racer())
      val (ra, rb) = (fa.get(300, TimeUnit.SECONDS), fb.get(300, TimeUnit.SECONDS))
      val results = Seq(ra, rb).map {
        case Right(committed) => committed
        case Left(e) => fail(s"racer failed non-lock: $e")
      }
      // exactly one commit; the other observed the recorded batchId and
      // skipped (idempotent re-delivery)
      assert(results.count(identity) == 1, s"commits: $results")
    } finally pool.shutdownNow()
    val m1 = meta()
    assert(m1.getProperty("gens").split(',').length == gens0 + 1,
      "exactly one assignment generation must land for batchId 1")
    assert(m1.getProperty("last_batch").toLong == 1L)
    // fingerprint is exact: the full corpus attests cleanly, the stale
    // base alone refuses
    val full = emb.select("vec_id", "embedding").unionByName(batch)
    assert(Similarity.ivfQuery(full, path, k = 1, nQueries = 3).count() > 0)
    intercept[IllegalStateException] {
      Similarity.ivfQuery(emb, path, k = 1, nQueries = 3).count() }
    // a later batchId from either role commits exactly once more
    val batch2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    assert(Similarity.ivfAppendBatch(batch2, path, batchId = 2L))
    assert(!Similarity.ivfAppendBatch(batch2, path, batchId = 2L)) // re-delivery
    val m2 = meta()
    assert(m2.getProperty("gens").split(',').length == gens0 + 2)
    assert(m2.getProperty("last_batch").toLong == 2L)
  }
}
