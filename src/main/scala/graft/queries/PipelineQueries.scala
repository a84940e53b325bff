package graft.queries

import graft.pipeline._
import graft.spark.StoreFs
import graft.streaming.Feed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the documents/embeddings tables,
  * each cross-checked against a DuckDB oracle computing the identical
  * deterministic function (md5-string minhashing, integer Jaccard,
  * pure-arithmetic quality scores).
  *
  * == Gate convention: SCALAR COLUMNS ONLY ==
  * Every `queries` entry must emit scalar (non-array, non-struct)
  * columns. The driver's comparator hashes DuckDB and Spark cell values
  * after a column-name sort, and array cells do not hash identically
  * across the two engines (element order inside a DuckDB LIST aggregate
  * is nondeterministic, and the textual renderings differ) — an
  * array-valued gate can flap from red to green run-to-run. Operators
  * whose PUBLIC API returns arrays (per-label centroids, posting lists,
  * token vectors, ...) keep the array shape in the pipeline API and
  * reshape for the gate only: `posexplode` the array into
  * (ord, value) rows, mirrored by `unnest`/`generate_subscripts` on the
  * oracle side. This convention is what took round 6 to 67/67 — future
  * array-valued operators must follow it.
  */
object PipelineQueries {

  // Both corpora fan out at the read (guide §2.5): at gate scale each is
  // ONE parquet split, which serializes every CPU-bound derivation
  // (tokenize, shingle, md5, vector math) on a single core of the
  // 32-core session — measured 50-70% of the heavy batch gates' wall.
  // FanOut no-ops when the table is already multi-split (production
  // layout) or when an operator repartitions on its own.
  private def docs(s: SparkSession, dir: String) =
    graft.operators.FanOut.byKey(
      s.read.parquet(s"$dir/documents.parquet"), col("doc_id"))
  // embeddings deliberately NOT fanned out (round-18 A/B): the
  // similarity/ANN operators make several short passes over the vectors
  // (Lloyd assignment, codebook training, centroid-sized collects), and
  // the per-pass fan-out exchange cost exceeded the parallel-decode win
  // (q_pipe_knn_ivfpq 2.8 -> 6.3 s fanned, back under 3 s unfanned;
  // q_pipe_gram likewise flat-to-worse). Their CPU stages are already
  // dominated by post-shuffle (wide) aggregates.
  private def emb(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Fixed query set for the BM25 retrieval gate (mirrored verbatim in
    * the oracle SQL's VALUES list). */
  private val Bm25Queries = Seq(
    1 -> "hash join merge",
    2 -> "slow scan filter row",
    3 -> "customer order line value",
    4 -> "vector batch stream window")

  /** Persistent IVF index for `dir`'s embedding corpus, built at most
    * once per JVM (K pinned to 16 to share the q_pipe_knn_ivf oracle).
    * The memo IS the serving story: build once, answer every subsequent
    * query from the index — bench reps 2..n measure pure serving cost. */
  /** Hive-style partitionBy(lang) copy of documents, written at most once
    * per (JVM, sfDir) — the q_pipe_partitioned fixture. */
  private val partitionedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def partitionedDocsDir(s: SparkSession, dir: String): String =
    partitionedDirs.computeIfAbsent(dir, { d =>
      val out = StoreFs.tempDirAtExit("graft_part_docs")
      docs(s, d).write.mode("overwrite").partitionBy("lang").parquet(out)
      out
    })

  private val ivfIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfIndexFor(s: SparkSession, dir: String): String =
    ivfIndexes.computeIfAbsent(dir, { d =>
      val path = StoreFs.tempDirAtExit("graft-ivf")
      Similarity.ivfBuild(emb(s, d), path, nCentroids = 16)
      path
    })

  /** Persistent dedup index over the q_pipe_dedup_incr corpus slice
    * (doc_id % 5 != 0), built once per sfDir. */
  private val dedupIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dedupIndexFor(s: SparkSession, dir: String): String =
    dedupIndexes.computeIfAbsent(dir, { d =>
      val path = StoreFs.tempDirAtExit("graft-dedup-idx")
      Dedup.dedupIndexBuild(docs(s, d).filter(col("doc_id") % 5 =!= 0), path)
      path
    })

  /** PQ-enabled twin of [[ivfIndexFor]] (separate layout: codebook +
    * codes-carrying assignments; parameters pinned to the
    * q_pipe_knn_ivfpq oracle). */
  private val ivfPqIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfPqIndexFor(s: SparkSession, dir: String): String =
    ivfPqIndexes.computeIfAbsent(dir, { d =>
      val path = StoreFs.tempDirAtExit("graft-ivfpq")
      Similarity.ivfBuild(emb(s, d), path, nCentroids = 16, pqM = 8, pqKsub = 16)
      path
    })

  /** Persistent BM25 index over the documents corpus, built once per
    * sfDir — serve gates answer from term-pruned postings only. */
  private val bm25Indexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bm25IndexFor(s: SparkSession, dir: String): String =
    bm25Indexes.computeIfAbsent(dir, { d =>
      val path = StoreFs.tempDirAtExit("graft-bm25")
      TextOps.bm25BuildIndex(docs(s, d), path)
      path
    })

  /** Incremental BM25 index: built from the doc_id % 5 != 0 slice, then
    * the % 5 == 0 batch APPENDED — serving must equal a full-corpus
    * build (shared one-shot oracle). */
  private val bm25IncrIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bm25IncrIndexFor(s: SparkSession, dir: String): String =
    bm25IncrIndexes.computeIfAbsent(dir, { d =>
      val path = StoreFs.tempDirAtExit("graft-bm25i")
      TextOps.bm25BuildIndex(docs(s, d).filter(col("doc_id") % 5 =!= 0), path)
      TextOps.bm25AppendBatch(docs(s, d).filter(col("doc_id") % 5 === 0), path)
      path
    })

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** Shared BPE oracle CTE chain: token frequencies → char symbols (s0)
    * → three unrolled merge iterations (s1..s3, best1..best3). Each
    * iteration: weighted adjacent-pair counts, best pair by (cnt DESC,
    * lexicographic), greedy left-to-right non-overlapping merge via
    * gaps-and-islands over the match positions. */
  private lazy val bpeCtes: String = {
    def iter(i: Int): String = {
      val prev = s"s${i - 1}"
      s"""p$i AS (
         | SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, syms[j] AS a, syms[j+1] AS b
         |  FROM $prev, unnest(range(1, len(syms))) t(j))
         | GROUP BY a, b),
         |best$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |m$i AS (
         | SELECT word, freq, j, syms[j] AS sym, syms[j+1] AS symnext,
         |  (j < len(syms) AND syms[j] = (SELECT a FROM best$i)
         |    AND syms[j+1] = (SELECT b FROM best$i)) AS mtch
         | FROM $prev, unnest(range(1, len(syms)+1)) t(j)),
         |mm$i AS (SELECT word, j, row_number() OVER (PARTITION BY word ORDER BY j) AS rn
         |         FROM m$i WHERE mtch),
         |keep$i AS (SELECT word, j FROM (
         |  SELECT word, j, row_number() OVER (PARTITION BY word, j - rn ORDER BY j) AS rin
         |  FROM mm$i) t WHERE rin % 2 = 1),
         |s$i AS (
         | SELECT m.word AS word, any_value(m.freq) AS freq,
         |  list(CASE WHEN kj.j IS NOT NULL THEN m.sym || m.symnext ELSE m.sym END ORDER BY m.j) AS syms
         | FROM m$i m
         | LEFT JOIN keep$i kj ON kj.word = m.word AND kj.j = m.j
         | LEFT JOIN keep$i kp ON kp.word = m.word AND kp.j = m.j - 1
         | WHERE kp.j IS NULL
         | GROUP BY m.word)""".stripMargin
    }
    """WITH toks AS (
      | SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
      | FROM documents),
      |vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY word),
      |s0 AS (SELECT word, freq,
      |  list_transform(range(1, length(word)+1), i -> substr(word, CAST(i AS INT), 1)) AS syms
      | FROM vocab),
      |""".stripMargin + (1 to 3).map(iter).mkString(",\n")
  }

  /** Shared LSH bucket CTEs for the two LSH oracles (knn_lsh,
    * dedup_cosine): the same two-round multiplicative-xorshift hyperplane
    * weights as `Similarity.lshSignature` (j 0-based; DuckDB lambda index
    * i is 1-based, and the mixer's +1 folds in: h·40503 + (i−1) + 1 =
    * h·40503 + i), the same sequential mul-then-add dot products as
    * graft_dot, and the same COUNT-DERIVED signature width as
    * `Similarity.autoBits`: the full 24-bit signature trimmed to nbits =
    * min(24, max(8, bitLength(n / (cap+1)))) — bitLength computed as the
    * bin() string length, pure integer arithmetic, so Spark and DuckDB
    * agree at every corpus size including exact powers of two (float log2
    * would not). */
  private def lshBucketCtes(nTables: Int): String = {
    // plane p of table t is mixer row 24·t + h (same plane spacing as
    // LshSignature's planeOffset = 24·t — tables never share a plane at
    // any trim width ≤ 24)
    def planeW(p: Int): String = {
      val t1 = s"(((${p * 40503L} + i) * 2654435761) % 4294967296)"
      val t2 = s"xor($t1, $t1 >> 16)"
      val t3 = s"(($t2 * 49979693) % 4294967296)"
      val t4 = s"xor($t3, $t3 >> 16)"
      // weight LIST only (x unused — the lambda rides v for its indices);
      // list_dot_product(v, weights) does the multiply
      s"list_transform(v, (x, i) -> CAST(($t4 >> 22) AS DOUBLE) / 512.0 - 1.0)"
    }
    def bits24(tbl: Int): String = (0 until 24).map(h =>
      s"CASE WHEN list_dot_product(v, ${planeW(24 * tbl + h)}) >= 0 THEN '1' ELSE '0' END")
        .mkString("concat(", ",\n      ", ")")
    val perTable = (0 until nTables).map(t =>
      s"""SELECT vec_id, v, nrm, $t AS tbl,
         |  substr(${bits24(t)}, 1, (SELECT nbits FROM nb)) AS bucket FROM n""".stripMargin)
      .mkString("\n UNION ALL\n")
    s"""nb AS (SELECT LEAST(24, GREATEST(8,
      |  length(ltrim(bin(CAST(count(*) // 65 AS BIGINT)), '0')))) AS nbits FROM n),
      |s0 AS (
      |$perTable),""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipe_dedup_exact" -> ((s, dir) => Dedup.exactStats(docs(s, dir))),
    "q_pipe_minhash" -> ((s, dir) => Dedup.minHashCandidatePairs(docs(s, dir), k = 8)),
    // candidate pairs → dedup groups (connected components, min-label)
    "q_pipe_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(Dedup.minHashCandidatePairsUnordered(docs(s, dir), k = 8))),
    // the cleaned corpus those clusters imply: one representative per
    // near-dup cluster survives, everything unclustered survives
    "q_pipe_dedup_apply" -> ((s, dir) => Dedup.dedupApply(docs(s, dir))),
    "q_pipe_simhash" -> ((s, dir) => Dedup.simHash16(docs(s, dir).filter(col("doc_id") < 50))),
    "q_pipe_jaccard" -> ((s, dir) => Dedup.successorJaccard(docs(s, dir), "en")),
    "q_pipe_knn" -> ((s, dir) => Similarity.bruteForceTopK(emb(s, dir), k = 5, nQueries = 10)),
    // the vector functions through the SQL FRONT DOOR: `graft_dot` (the
    // codegen'd Catalyst expression) resolved by the analyzer from SQL
    // text — the same route a `spark.sql.extensions=graft.spark
    // .GraftExtensions` deployment gives JDBC/spark-sql users. Top-4
    // cosine neighbors for 8 queries, ranked inside the SQL itself
    "q_pipe_vector_sql" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      emb(s, dir).createOrReplaceTempView("graft_emb_sql")
      s.sql("""
        WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
                   FROM graft_emb_sql),
        n AS (SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM e),
        p AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                graft_dot(q.v, t.v) / (q.nrm * t.nrm) AS sim
              FROM n q JOIN n t ON t.vec_id <> q.vec_id
              WHERE q.vec_id < 8),
        r AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id) AS rank
              FROM p)
        SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 4
        ORDER BY query_id, rank""")
    }),
    // approximate variants — deterministic by construction (fixed arithmetic
    // hyperplanes; quantized-integer Lloyd update), so both are under the
    // full DuckDB oracle gate
    // hard-negative mining for contrastive training: the most-similar
    // DIFFERENT-label candidates per query (the label-mismatch predicate
    // fuses into the broadcast join — per-query, so not a pre-filter)
    "q_pipe_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(emb(s, dir), k = 3, nQueries = 10)),

    // metadata-constrained retrieval: top-k among label=1 candidates
    // only, with the predicate applied BEFORE ranking (pre-filtering) —
    // post-filtering a plain top-k can return < k or miss closer
    // in-filter candidates
    "q_pipe_knn_filtered" -> ((s, dir) =>
      Similarity.filteredTopK(emb(s, dir), k = 5, nQueries = 10,
        candFilter = col("label") === 1)),
    "q_pipe_knn_lsh" -> ((s, dir) => Similarity.lshTopK(emb(s, dir), k = 5, nQueries = 20)),
    // K pinned to 16: the oracle mirrors the centroid arithmetic, so the
    // auto-K default (√N) must not drift the tested configuration
    "q_pipe_knn_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), k = 5, nQueries = 20, nCentroids = 16)),
    // the persistent-index SERVING path: built once per corpus (memoized
    // across bench reps — exactly the build-once/query-many shape it
    // exists for), fingerprint-verified, bit-identical to q_pipe_knn_ivf
    // so it shares that oracle
    "q_pipe_knn_ivf_serve" -> ((s, dir) =>
      Similarity.ivfQuery(emb(s, dir), ivfIndexFor(s, dir), k = 5, nQueries = 20)),
    // product-quantization ADC ranking (m=8 × ksub=16 codebooks, one
    // quantized-integer Lloyd pass — deterministic, oracle-mirrored)
    "q_pipe_knn_pq" -> ((s, dir) =>
      Similarity.pqTopK(emb(s, dir), k = 5, nQueries = 10)),
    // IVF-PQ: probed lists shrink the candidate set, PQ codes shrink
    // each candidate — the composed serving shape; coarse stage
    // bit-identical to knn_ivf, PQ stage to knn_pq
    "q_pipe_knn_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopK(emb(s, dir), k = 5, nQueries = 10, nCentroids = 16)),
    // the PERSISTENT PQ serving path: codebook + stored codes, ADC only
    // — bit-identical to the one-shot, shares its oracle
    "q_pipe_knn_ivfpq_serve" -> ((s, dir) =>
      Similarity.ivfPqQuery(emb(s, dir), ivfPqIndexFor(s, dir), k = 5,
        nQueries = 10)),
    // embedding-cosine near-dup: LSH-bucketed candidates, exact cosine cut
    "q_pipe_dedup_cosine" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(emb(s, dir), minCos = 0.25)),
    // SemDeDup-style near-dup: candidates by CLUSTER membership (same
    // quantized-Lloyd centroids as IVF, K pinned to 16) instead of LSH
    // buckets; exact cosine cut within each cluster
    "q_pipe_semdedup" -> ((s, dir) =>
      Similarity.semanticNearDupPairs(emb(s, dir), nCentroids = 16,
        tau = 0.25)),
    // non-parquet source/sink surface: JSONL + CSV + ORC write→read round
    // trip with explicit schemas; per-format stats must equal parquet truth
    "q_pipe_formats" -> ((s, dir) =>
      graft.sources.TextFormats.roundTripStats(s, dir)),
    // binary-file corpus ingest: one PPM file per doc written by the
    // executors, read back via the binaryFile source, header-decoded
    "q_pipe_binfiles" -> ((s, dir) =>
      graft.sources.BinaryFiles.ingestStats(s, dir)),
    "q_pipe_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.langIdExpr(col("text")).as("pred_lang"))
        .orderBy("doc_id")),
    "q_pipe_quality" -> ((s, dir) =>
      docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id") +: TextOps.qualityColumns(col("text")): _*)
        .orderBy("doc_id")),
    "q_pipe_tokens" -> ((s, dir) =>
      docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id") +: TextOps.tokenCountColumns(col("text")): _*)
        .orderBy("doc_id")),
    // token-budget selection: greedy quality-descending keep while the
    // running token total fits 10k — computed via the bucket-threshold
    // two-phase (histogram + filter + one single-bucket prefix window),
    // NEVER the global quality sort the definition implies
    "q_pipe_budget" -> ((s, dir) =>
      Curation.tokenBudgetSelect(docs(s, dir), 10000L)),
    // DSIR importance resampling (Xie et al. 2023): rank the corpus by a
    // hashed-bigram likelihood ratio against the English slice as the
    // target distribution — both hashed models are ONE bounded
    // aggregation (≤ 1024 rows) broadcast back onto the gram stream;
    // integer-scaled ratios instead of logs keep ranks engine-exact
    "q_pipe_dsir" -> ((s, dir) =>
      Curation.dsirTopDocs(docs(s, dir), col("lang") === "en")),
    "q_pipe_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    // REAL decode path: deterministic PPM (P6) payloads are constructed
    // from each doc's n_chars (header + exact-length raster) and the
    // HeaderDecoder genuinely parses them — dimensions come out of the
    // header bytes, validated against the raster length, not out of a
    // length-derived fake. The oracle rebuilds the same header string to
    // compute n_bytes.
    "q_pipe_multimodal" -> ((s, dir) => {
      val w = col("n_chars") % 64 + 1
      val h = (col("n_chars") * 7) % 48 + 1
      val header = concat(lit("P6\n"), w.cast("string"), lit(" "),
        h.cast("string"), lit("\n255\n"))
      val media = docs(s, dir).select(col("doc_id"),
        concat(header.cast("binary"),
          repeat(lit("x"), (w * h * 3).cast("int")).cast("binary")).as("payload"))
      Multimodal.resizePlan(Multimodal.extractMetaBinary(media)).orderBy("doc_id")
    }),
    // REAL codec roundtrip: genuine PNG payloads (JDK ImageIO encoder,
    // deterministic dims from doc_id) decoded back through the JDK
    // ImageIO reader — the oracle recomputes the dims arithmetically.
    // n_bytes (encoder-dependent) deliberately excluded from the gate.
    "q_pipe_multimodal_img" -> ((s, dir) =>
      Multimodal.extractMetaBinary(Multimodal.syntheticPngs(docs(s, dir)))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"))
        .orderBy("doc_id")),
    // REAL container parse: minimal-box MP4s (ftyp + moov/trak/tkhd +
    // stts, built in partition batches) walked back through the
    // ISO-BMFF box parser — dims from tkhd 16.16 fixed point, frame
    // count summed over stts entries. Oracle recomputes arithmetically.
    "q_pipe_multimodal_video" -> ((s, dir) =>
      Multimodal.extractMetaBinary(Multimodal.syntheticMp4s(docs(s, dir)))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"))
        .orderBy("doc_id")),
    // audio leg of the multimodal family: synthetic PCM16 WAVs parsed by
    // a REAL RIFF chunk walk (LIST junk chunk skipped, sizes validated),
    // samples decoded as LE int16 and reduced row-locally to integer
    // features — only one feature row per clip ever shuffles
    "q_pipe_multimodal_audio" -> ((s, dir) =>
      Multimodal.audioStats(Multimodal.syntheticWavs(docs(s, dir)))
        .toDF().orderBy("doc_id")),
    // curation: decontamination, deterministic sampling, packing, vocab
    "q_pipe_decontam" -> ((s, dir) => Curation.decontaminate(docs(s, dir))),
    "q_pipe_sample" -> ((s, dir) => Curation.stratifiedSample(docs(s, dir))),
    // deterministic salted-hash train/val/test split, summarized per
    // (lang, split) with an id-sum pin so assignment (not just counts)
    // is hash-checked
    "q_pipe_split" -> ((s, dir) =>
      Curation.trainValTestSplit(docs(s, dir))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("lang", "split")),
    // intra-document repetition signals (the Gopher-rule filter family)
    "q_pipe_repetition" -> ((s, dir) => TextOps.repetitionStats(docs(s, dir))),
    // deterministic corpus mixing: per-language up/down-sampling
    "q_pipe_mix" -> ((s, dir) => Curation.mixCorpus(docs(s, dir))),
    // one-pass histogram quantiles (the sketch answer to exactQuantiles'
    // single-giant-group caveat)
    "q_pipe_hist_quantiles" -> ((s, dir) =>
      Sketch.histogramQuantiles(s.read.parquet(s"$dir/lineitem.parquet"),
        "l_extendedprice", "l_returnflag", binWidth = 100.0)),
    // incremental dedup: the doc_id % 5 == 0 slice arrives as a new
    // batch, deduped against the already-ingested remainder
    "q_pipe_dedup_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.dedupeNewBatch(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0))
    }),
    // the PERSISTENT-index serving path: corpus fingerprints + band
    // buckets built once (memoized), the batch probes the index and the
    // corpus is never re-read — bit-identical, shares the oracle
    "q_pipe_dedup_incr_serve" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.dedupeNewBatchServe(
        d.filter(col("doc_id") % 5 === 0), dedupIndexFor(s, dir))
    }),
    // deterministic corpus shuffle: global training order by md5 rank,
    // two-pass bucket prefix — no single-partition sort
    "q_pipe_shuffle" -> ((s, dir) =>
      Curation.deterministicShuffle(docs(s, dir))),
    // sub-document (token-window) exact dedup with the keep-first rule
    "q_pipe_window_dedup" -> ((s, dir) => Dedup.windowDedup(docs(s, dir))),
    // the cleaned corpus that dedup implies: dup windows removed,
    // survivors reassembled (fingerprinted) per doc
    "q_pipe_window_clean" -> ((s, dir) => Dedup.windowCleanedDocs(docs(s, dir))),
    // duplicated-substring spans: content-sampled char k-grams occurring
    // more than once corpus-wide (the suffix-array-dedup approximation)
    "q_pipe_dup_spans" -> ((s, dir) => Dedup.substringDupStats(docs(s, dir))),
    // mislabel candidates: bottom-k cosine to own label centroid
    "q_pipe_label_outliers" -> ((s, dir) => Similarity.labelOutliers(emb(s, dir))),
    // PII scrubbing: the corpus text carries no PII, so deterministic
    // email/phone/IP payloads are appended per doc (same construction in
    // the oracle) and the scrub redacts + counts them
    "q_pipe_pii" -> ((s, dir) => {
      val withPii = docs(s, dir).select(col("doc_id"), concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit(".1")).as("text"))
      TextOps.scrubPii(withPii).orderBy("doc_id")
    }),
    // int8-quantized ANN (the 4x-memory serving format), integer-exact
    "q_pipe_knn_q8" -> ((s, dir) =>
      Similarity.quantizedTopK(emb(s, dir), k = 5, nQueries = 10)),
    // k-NN majority-vote label classification over the embeddings
    "q_pipe_knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(emb(s, dir), k = 5, nQueries = 20)),
    // per-label mean embeddings (order-free quantized-integer sums).
    // Gate contract: scalar columns only — the driver's pandas checker
    // cannot sort array columns, so the array-shaped operator output is
    // exploded to (label, j, value, n_vectors) rows here; the public
    // API (Similarity.labelCentroids) keeps the centroid arrays.
    "q_pipe_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(emb(s, dir))
        .select(col("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("j", "value")))
        .orderBy("label", "j")),
    // inverted-index posting lists: top-50 terms by df, first 8
    // postings — exploded to (term, df, pos, doc_id) rows for the
    // scalar-only gate contract (the list-shaped operator is the API).
    "q_pipe_postings" -> ((s, dir) =>
      TextOps.postingLists(docs(s, dir))
        .select(col("term"), col("df"),
          posexplode(col("postings")).as(Seq("pos", "doc_id")))
        .orderBy(col("df").desc, col("term"), col("pos"))),
    // fixed-count deterministic per-group sample (hash reservoir)
    "q_pipe_reservoir" -> ((s, dir) => Curation.reservoirPerGroup(docs(s, dir))),
    // skew-safe twin of the per-stratum reservoir (shares its oracle)
    "q_pipe_reservoir_salted" -> ((s, dir) =>
      graft.operators.Skew.saltedReservoirPerGroup(docs(s, dir))),
    "q_pipe_packing" -> ((s, dir) => Curation.packSequences(docs(s, dir))),
    // the full curation chain composed end-to-end (gate → dedup →
    // sample → pack), one oracle over the whole composition
    "q_pipe_e2e" -> ((s, dir) => Curation.curatePipeline(docs(s, dir))),
    "q_pipe_vocab" -> ((s, dir) => Curation.topKTokens(docs(s, dir))),
    "q_pipe_distinct_est" -> ((s, dir) => Sketch.kmvDistinctDocs(docs(s, dir))),

    // deterministic HyperLogLog (pinned md5 register layout, integer-exact
    // denominator): the associatively-mergeable billion-row distinct shape
    "q_pipe_hll" -> ((s, dir) => Sketch.hllDistinctDocs(docs(s, dir))),

    // bigram-LM predictability scoring (CCNet-style quality pass):
    // add-one-smoothed model trained on the full corpus, docs ranked by
    // integer-exact mean scaled inverse probability
    "q_pipe_lm_score" -> ((s, dir) => LangModel.bigramScore(docs(s, dir))),

    // hive-style partitioned layout: the corpus written partitionBy(lang)
    // once per (JVM, sfDir), read back through a partition-pruned scan —
    // the bread-and-butter 100 TB layout where a per-language query
    // touches only its directory
    "q_pipe_partitioned" -> ((s, dir) => {
      val out = partitionedDocsDir(s, dir)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // edit-distance (Levenshtein) successor scan: the fuzzy-match metric
    // over per-language consecutive doc pairs (first 120 chars — the
    // O(len²) DP cost is capped by construction); candidate GENERATION at
    // scale is the LSH family gated above, this pins the metric itself
    "q_pipe_editdist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
      docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 120).as("t"))
        .withColumn("next_id", lead(col("doc_id"), 1).over(w))
        .withColumn("nt", lead(col("t"), 1).over(w))
        .filter(col("nt").isNotNull)
        .select(col("lang"), col("doc_id"), col("next_id"),
          levenshtein(col("t"), col("nt")).cast("long").as("dist"))
        .orderBy("lang", "doc_id")
    }),

    // heavy hitters without a vocabulary shuffle: per-partition
    // Misra–Gries candidates + one exact broadcast-semi recount; equals
    // the full groupBy whenever the k-th frequency clears tokens/capacity
    // (the exact oracle asserts precisely that)
    "q_pipe_heavy" -> ((s, dir) => TextOps.heavyHitters(docs(s, dir))),

    // one-scan column profiling of the orders table (types chosen for
    // portable string forms; see pipeline.Profile)
    "q_pipe_profile" -> ((s, dir) => {
      Profile.profile(s.read.parquet(s"$dir/orders.parquet"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
          "o_orderpriority"))
    }),

    // per-group deterministic HLL: distinct users per event type with
    // exact counts alongside for error inspection
    "q_pipe_hll_group" -> ((s, dir) => {
      val ev = EventTime.readEvents(s, dir).select("event_type", "user_id")
      Sketch.hllDistinctPerGroup(ev, "user_id", "event_type")
        .join(ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact")), "event_type")
        .orderBy("event_type")
    }),

    // integer-exact JL random projection (pipeline.Projection): 64-dim
    // embeddings → 16-dim Rademacher sketch, row-local, no shuffle.
    // posexploded to (vec_id, d, p) scalar rows for the gate — the
    // driver's pandas oracle cannot hash array-typed columns
    "q_pipe_rproj" -> ((s, dir) => {
      // posexplode_OUTER: the non-outer form triggers
      // InferFiltersFromGenerate, whose size(proj)>0 filter pushes through
      // the projection by substitution and re-evaluates the whole
      // sign-matrix fold in the filter; proj always has outDim elements,
      // so outer is row-identical and skips the inference.
      Projection.projectQ8(emb(s, dir))
        .filter(col("vec_id") < 40)
        .select(col("vec_id"), posexplode_outer(col("proj")).as(Seq("d", "p")))
        .orderBy("vec_id", "d")
    }),
    // integer-exact Gram accumulator over the q8 corpus (the one-pass
    // statistic PCA/whitening starts from): every vector emits its
    // pair products row-locally, the groupBy is map-side combinable —
    // shuffle ≤ partitions × 136 partial rows whatever the corpus size
    "q_pipe_gram" -> ((s, dir) =>
      Projection.gramQ8(emb(s, dir), dim = 16)),

    // integer-exact PageRank (operators.Graph) over the symmetrized
    // user↔item interaction graph from events (item nodes offset by 1e6);
    // 3 rounds from a uniform start, top-30 nodes
    // skip-gram training-pair generation (word2vec-style): (center,
    // context) pairs within a ±2 window, generated ROW-LOCALLY from the
    // materialized token array (no positions self-join — at corpus scale
    // the only shuffle is the final pair count), top-50 by count
    "q_pipe_pairs" -> ((s, dir) => {
      // Both generates are the OUTER form + a cheap null filter on the
      // GENERATED attribute: the non-outer form triggers
      // InferFiltersFromGenerate, whose size(..)>0 ∧ isnotnull(..)
      // conjuncts push through the projection by substitution and
      // re-evaluate the tokenize chain once per conjunct (3 tokenize
      // passes total; filter conjuncts don't share subexpressions in
      // codegen). Row-identical: an empty/short array emits one all-null
      // row under outer, which the explicit filter drops.
      val toks = docs(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      toks.select(col("ts"), posexplode_outer(col("ts")).as(Seq("i", "center")))
        .select(col("center"), explode_outer(expr(
          "filter(transform(sequence(-2, 2), o -> " +
            "CASE WHEN o != 0 AND i + o >= 0 AND i + o < size(ts) " +
            "THEN ts[CAST(i + o AS INT)] END), x -> x IS NOT NULL)"))
          .as("context"))
        .filter(col("context").isNotNull)
        .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("center"), col("context"))
        .limit(50)
    }),

    // exact triangle count by degree-ordered orientation over the
    // co-order part graph (parts appearing in the same high-quantity
    // order are connected) — the clustering-structure probe next to
    // PageRank (influence) and duplicateClusters (components)
    "q_pipe_triangles" -> ((s, dir) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = l.as("a")
        .join(l.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
      graft.operators.Graph.triangleStats(e)
    }),

    "q_pipe_pagerank" -> ((s, dir) => {
      // NO fan-out before the JSON parse (round-19 same-window A/B,
      // 5 alternating warm reps: fanned med 2.90 s vs unfanned 2.88 s —
      // a wash; the round-18 fan-out was flagged perf-weak by both driver
      // windows and buys nothing here because the distinct's exchange
      // already runs the parse once via stage reuse, while the extra
      // exchange cost lands in every loop re-derivation)
      val pairs = EventTime.readEvents(s, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k").isNotNull)
        .distinct()
      val fwd = pairs.select(col("user_id").as("src"),
        (col("k") + 1000000L).as("dst"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.pageRank(edges, iters = 3)
        .select(col("id"),
          when(col("id") >= 1000000L, lit("item"))
            .otherwise(lit("user")).as("kind"),
          col("r"))
        .orderBy(col("r").desc, col("id")).limit(30)
    }),

    // ordered conversion funnel view → click → purchase: each stage's
    // earliest qualifying timestamp must be at-or-after the previous
    // stage's (three user_id-partitioned aggregation passes — at scale
    // all three shuffles land on the same user_id hash partitioning and
    // the per-user state is three longs); per-mille conversion is
    // integer-exact
    "q_pipe_funnel" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_s"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_s").as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_s") >= col("v_ts"))
        .groupBy("user_id").agg(min("ts_s").as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_s") >= col("c_ts"))
        .groupBy("user_id").agg(min("ts_s").as("p_ts"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          expr("n_click * 1000 div n_view").as("click_pm"),
          expr("n_purchase * 1000 div n_click").as("purchase_pm"))
    }),

    // the funnel live: per-user mapGroupsWithState state machine replayed
    // in event-time micro-batches — shares q_pipe_funnel's oracle
    "q_pipe_funnel_stream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
      graft.streaming.FunnelStream.funnelGate(ev, feed = Feed.Memory)
    }),

    // cohort retention: users grouped by first-activity week, distinct
    // active users per (cohort week, weeks since) — two aggregations over
    // the same user_id partitioning plus one small re-origin broadcast
    "q_pipe_cohort" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), expr("ts_s div 604800").as("w"))
      val w0 = ev.agg(min("w").as("w0"))
      val cohort = ev.groupBy("user_id").agg(min("w").as("cw"))
      val active = ev.distinct()
      active.join(cohort, "user_id").crossJoin(broadcast(w0))
        .groupBy((col("cw") - col("w0")).as("cohort_week"),
          (col("w") - col("cw")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),
    // Zipf diagnostic: count-of-counts over the term frequencies
    "q_pipe_freq_spectrum" -> ((s, dir) => Sketch.termFrequencySpectrum(docs(s, dir))),

    // count–min sketch: 4×1024 integer cell table over the token stream,
    // estimates read back for a deterministic query-term set with exact
    // counts alongside (est >= exact always; the oracle recomputes the
    // identical md5-derived bucket math)
    "q_pipe_cms" -> ((s, dir) => Sketch.countMinEstimates(docs(s, dir))),

    // cross-document boilerplate (CCNet line-dedup analog): 3-token
    // non-overlapping segments with document frequency >= 20 are
    // boilerplate; per doc, how many segments would be stripped
    "q_pipe_boilerplate" -> ((s, dir) => TextOps.boilerplateStats(docs(s, dir))),
    // TF-IDF term ranking (1/df idf — exactly-rounded division, no libm)
    "q_pipe_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopTerms(docs(s, dir).filter(col("doc_id") < 100))),
    // BM25 ranked retrieval (TextOps.bm25Retrieve): top-10 docs for four
    // fixed queries under Lucene-variant BM25 — query vocab broadcast and
    // filtered BEFORE the (doc, term) shuffle, per-term contributions
    // integer-quantized so the score sum is order-free, two-phase salted
    // top-k so no partition holds a query's full candidate list
    "q_pipe_bm25" -> ((s, dir) =>
      TextOps.bm25Retrieve(docs(s, dir), Bm25Queries)),
    // hybrid lexical+semantic retrieval: BM25 top-10 and exact-cosine
    // top-10 fused by reciprocal-rank fusion (integer ⌊10⁶/(60+rank)⌋
    // contributions — rank-only fusion, never cross-scale score mixing);
    // each query id names both its text query and its encoded vec_id
    "q_pipe_hybrid" -> ((s, dir) =>
      TextOps.hybridRrf(docs(s, dir), emb(s, dir), Bm25Queries)),
    // incremental-index twin: index built on 4/5 of the corpus, the
    // last fifth APPENDED (postings/doclens append; df + stats merge,
    // fingerprints XOR) — serving equals a full-corpus build
    "q_pipe_bm25_incr" -> ((s, dir) =>
      TextOps.bm25QueryIndex(s, bm25IncrIndexFor(s, dir), Bm25Queries,
        verifyCorpus = Some(docs(s, dir)))),
    // the persistent-index twin: same queries answered from the
    // build-once BM25 artifact (term-sorted postings pruned to the query
    // vocabulary by parquet row-group stats, fingerprint-attested) —
    // bit-identical ranking, shares the one-shot's oracle
    "q_pipe_bm25_serve" -> ((s, dir) =>
      TextOps.bm25QueryIndex(s, bm25IndexFor(s, dir), Bm25Queries,
        verifyCorpus = Some(docs(s, dir)))),
    // n-gram LM counts: corpus-wide top bigrams
    "q_pipe_bigrams" -> ((s, dir) => TextOps.topKBigrams(docs(s, dir))),
    // best-of-group curation: top docs per (lang, source) by length
    "q_pipe_topdocs" -> ((s, dir) => Curation.topDocsPerGroup(docs(s, dir))),
    // skew-safe twin: two-stage salted window ranking, row-identical to
    // the direct window (shares its oracle) — hot groups never put all
    // their rows through one window partition
    "q_pipe_topdocs_salted" -> ((s, dir) =>
      graft.operators.Skew.saltedTopDocsPerGroup(docs(s, dir))),
    // exact per-language length quantiles by rank selection
    "q_pipe_quantiles" -> ((s, dir) => Curation.exactQuantiles(docs(s, dir))),
    // skewed-key aggregation via two-stage salting (hot keys spread over
    // salt sub-groups; the merge sees `salts` rows per key, not the corpus)
    "q_pipe_salted" -> ((s, dir) =>
      graft.operators.Skew.saltedDocStats(docs(s, dir))),
    // skew-safe equi-join: left key salted, right replicated salts× —
    // row-identical to the plain inner join (one hot user's events no
    // longer land on a single reducer)
    "q_pipe_salted_join" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .filter(col("user_id") < 100)
        .select("user_id", "event_id", "event_type")
      val profile = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n_purchases"))
      graft.operators.Skew
        .saltedJoin(ev, profile, Seq("user_id"), saltOn = col("event_id"))
        .select("user_id", "event_id", "n_purchases")
        .orderBy("event_id")
    }),
    // BPE tokenizer training: the first 3 merge rules learned from the
    // corpus (one distributed frequency pass + vocab-level greedy merges)
    "q_pipe_bpe" -> ((s, dir) => TextOps.bpeMerges(docs(s, dir), nMerges = 3)),
    // the trained vocab APPLIED to the corpus: broadcast merge table,
    // per-lang compression stats
    "q_pipe_bpe_apply" -> ((s, dir) =>
      TextOps.bpeEncodeStats(docs(s, dir), nMerges = 3)),
    // first-occurrence shingle novelty per doc (dedup-adjacent curation
    // signal: low novelty = assembled from earlier-seen text)
    "q_pipe_novelty" -> ((s, dir) => TextOps.noveltyStats(docs(s, dir))),
    // rolling event-time RANGE-frame aggregates: per event, count + exact
    // decimal sum over the same user's trailing hour
    "q_pipe_rolling" -> ((s, dir) =>
      graft.operators.TimeSeries.rollingStats(
        EventTime.eventsWithSeconds(s, dir)
          .filter(col("user_id") < 40)
          .select("user_id", "event_id", "ts_s", "value"),
        windowSeconds = 3600L)),
    // hourly resample + forward gap-fill: a row for EVERY hour in each
    // user's active span, silent hours carrying the last sum forward
    "q_pipe_gapfill" -> ((s, dir) =>
      graft.operators.TimeSeries.resampleHourlyForwardFill(
        EventTime.eventsWithSeconds(s, dir)
          .filter(col("user_id") < 20)
          .select("user_id", "ts_s", "value"))),
    // gap-based sessionization (batch twin of the flatMapGroupsWithState op)
    "q_pipe_sessions" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_s"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize.sessionsBatch(ev, gapSeconds = 1800L)
    }),
    // Spark's NATIVE session_window aggregation — same session definition
    // as the relational twin (gapDuration 1801 s: session_window merges on
    // strictly-less-than-end, the twin splits on gap > 1800), so it shares
    // the q_pipe_sessions oracle
    "q_pipe_session_window" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("event_type"),
          timestamp_seconds(col("ts_s")).as("ts"), col("ts_s"))
      val byStart = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("session_window.start"))
      ev.groupBy(col("user_id"), session_window(col("ts"), "1801 seconds"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          (max(col("ts_s")) - min(col("ts_s"))).as("duration_s"))
        .withColumn("session_no", row_number().over(byStart).cast("long"))
        .select("user_id", "session_no", "n_events", "n_types", "duration_s")
        .orderBy("user_id", "session_no")
    }),
    // the STREAMING sessionizer replayed over deterministic micro-batches
    // (state carries across batches; sentinel flush closes open sessions)
    // — gated against the SAME oracle as the relational twin above
    "q_pipe_sessions_stream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize
        .sessionsGate(ev, gapSeconds = 1800L, nBatches = 3, Feed.Memory)
    }),
    // the SAME streaming sessionizer on its production path: a real
    // file-source stream (readStream.parquet over a chunked feed dir,
    // one file per micro-batch) with a parquet sink — no event row
    // crosses the driver; gated against the same oracle
    "q_pipe_sessions_fstream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize
        .sessionsGate(ev, gapSeconds = 1800L, nBatches = 3, Feed.Files())
    }),
    // the EventTimeTimeout sessionizer (unbounded-user production
    // variant: dormant sessions auto-close at the watermark, state is
    // bounded by watermark-active users) on the same file-source path
    "q_pipe_sessions_tmo" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize.timeoutGate(ev, gapSeconds = 1800L,
        nBatches = 3)(graft.streaming.Sessionize.sessionsWithTimeout)
    }),
    // the watermarked window aggregate replayed over deterministic
    // micro-batches: per-(hour, event_type) counts/bytes, append-mode
    // emission flushed by sentinel watermark advancement
    "q_pipe_window_stats_stream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .filter(col("user_id") < 50)
        .select(col("ts_s"), col("event_type").as("lang"),
          col("props").as("text"))
      graft.streaming.WindowedStats.perWindowGate(ev, windowSeconds = 3600L,
        horizonSeconds = 600L, feed = Feed.Memory)
    }),
    // UPDATE-mode streaming aggregation replayed: unwatermarked per-key
    // counts re-emitted as they refresh; the update log reduces to its
    // final row per key (max of the monotone count)
    "q_pipe_hourly_stream" -> ((s, dir) =>
      graft.streaming.UpdateModeStats.hourlyCountsGate(
        EventTime.eventsWithSeconds(s, dir)
          .filter(col("user_id") < 50)
          .select("user_id", "event_id", "event_type", "ts_s"),
        feed = Feed.Memory)),
    // UPDATE-mode streaming heavy hitters replayed: per-term counts over
    // the document stream, update log reduced to final counts, exact
    // top-50 — shares the batch q_pipe_heavy oracle
    "q_pipe_heavy_stream" -> ((s, dir) =>
      graft.streaming.UpdateModeStats.heavyHittersGate(docs(s, dir),
        feed = Feed.Memory)),
    // STREAM-STATIC broadcast enrichment replayed: events joined to a
    // static per-user profile frame (stateless; static side re-planned
    // per micro-batch) ≡ the batch left join
    "q_pipe_enrich_stream" -> ((s, dir) =>
      graft.streaming.StreamJoin.enrichGate(
        EventTime.eventsWithSeconds(s, dir)
          .filter(col("user_id") < 100)
          .select("user_id", "event_id", "event_type", "ts_s"),
        feed = Feed.Memory)),
    // watermarked STREAM-STREAM interval join replayed: click→purchase
    // attribution, inner join with event-time range condition — matches
    // emit when the pair completes, join state is watermark-bounded
    "q_pipe_join_stream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .filter(col("user_id") < 200 &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_s"))
      graft.streaming.StreamJoin.clickAttributionGate(ev,
        lookbackSeconds = 7200L, nBatches = 3, Feed.Memory)
    }),
    // LEFT OUTER stream-stream join replayed: unmatched purchases emit a
    // null click only after the watermark closes their window (sentinel
    // advance) — collected output ≡ the batch left join
    "q_pipe_outer_join_stream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .filter(col("user_id") < 200 &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_s"))
      graft.streaming.StreamJoin.clickAttributionOuterGate(ev,
        lookbackSeconds = 7200L, nBatches = 3, Feed.Memory)
    }),
    // streaming exact dedup replayed: horizon covers the corpus spread so
    // within-watermark dedup must equal global dedup — one row per
    // distinct fingerprint
    "q_pipe_dedup_stream" -> ((s, dir) =>
      graft.streaming.StreamingDedup.byFingerprintGate(
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          col("text")), feed = Feed.Memory)),
    // the same within-watermark dedup on its production path: file-source
    // stream in, parquet sink out, no document row on the driver — and
    // since round 15 a NON-time-ordered feed (bounded disorder, ±120 s
    // displacement) consumed under the corpus-wide watermark horizon
    "q_pipe_dedup_fstream" -> ((s, dir) =>
      graft.streaming.StreamingDedup.byFingerprintGate(
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          col("text")), feed = Feed.Files(oooSkewSeconds = 120L))),
    // the SAME production dedup stream under the RocksDB state-store
    // provider — the backend a 100 TB deployment actually runs (state on
    // local SSD + block cache, not executor heap, so the dedup horizon is
    // bounded by disk, not memory). Shares the heap-provider oracle:
    // state-backend choice must be invisible to results.
    "q_pipe_dedup_rocks" -> ((s, dir) =>
      graft.streaming.StreamingDedup.byFingerprintGate(
        docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          col("text")), feed = Feed.Files(oooSkewSeconds = 120L),
        rocksDb = true)),
    // the EventTimeTimeout sessionizer under RocksDB: timers +
    // flatMapGroupsWithState state live in the disk-backed store; the
    // trailing no-data batch must still fire every armed timeout
    "q_pipe_sessions_tmo_rocks" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize.timeoutGate(ev, gapSeconds = 1800L,
        nBatches = 3, rocksDb = true)(
        graft.streaming.Sessionize.sessionsWithTimeout)
    }),
    // the gap sessionizer on Spark 4's transformWithState — the
    // successor stateful API (typed state handles + explicit event-time
    // timers, RocksDB-only state). Shares the q_pipe_sessions oracle:
    // the ENGINE choice (flatMapGroupsWithState vs transformWithState)
    // must be invisible to results, like the state backend above.
    "q_pipe_sessions_tws" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize.timeoutGate(ev, gapSeconds = 1800L,
        nBatches = 3, rocksDb = true)(
        graft.streaming.Sessionize.sessionsTws)
    }),
    // the OUT-OF-ORDER sessionizer on a genuinely disordered feed:
    // fragment-merge sessions (order-independent) under a real watermark
    // delay (600 s > 2×240 s displacement bound), auto-closing at the
    // watermark — shares the batch sessionizer's oracle
    "q_pipe_sessions_ooo" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize.outOfOrderGate(ev, gapSeconds = 1800L,
        skewSeconds = 240L, delaySeconds = 600L, nBatches = 4)(
        graft.streaming.Sessionize.sessionsOutOfOrder)
    }),
    // batch→stream MIGRATION: the feed cut at its event-time midpoint,
    // pre-cut sessions computed as a batch backfill whose per-user open
    // tail SEEDS the stream's state (StatefulProcessorWithInitialState);
    // the union must equal full-feed sessionization — the cut must be
    // invisible, sessions spanning it continue rather than restart
    "q_pipe_sessions_warm" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize.warmGate(ev, gapSeconds = 1800L,
        nBatches = 3)
    }),
    // the MapState engine: scalar session core in a ValueState,
    // per-event-type counts in a MapState (point updates instead of
    // whole-blob rewrites) — completes the typed-state triad on the
    // same oracle
    "q_pipe_sessions_tws_map" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize.timeoutGate(ev, gapSeconds = 1800L,
        nBatches = 3, rocksDb = true)(
        graft.streaming.Sessionize.sessionsTwsMap)
    }),
    // the same disordered feed through the transformWithState fragment
    // sessionizer (ListState + explicit timers) — both modern-API legs
    // and both fmgws legs hash-match one oracle
    "q_pipe_sessions_ooo_tws" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .select(col("user_id"), col("ts_s"), col("event_type"))
        .filter(col("user_id") < 50)
      graft.streaming.Sessionize.outOfOrderGate(ev, gapSeconds = 1800L,
        skewSeconds = 240L, delaySeconds = 600L, nBatches = 4,
        rocksDb = true)(graft.streaming.Sessionize.sessionsOutOfOrderTws)
    }),
    // LEFT OUTER stream-stream join on its production path: real file
    // source, parquet sink, watermark-driven unmatched-row flush via two
    // far-future sentinel FILES — shares the replay gate's oracle
    "q_pipe_outer_join_fstream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .filter(col("user_id") < 200 &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_s"))
      graft.streaming.StreamJoin.clickAttributionOuterGate(ev,
        lookbackSeconds = 7200L, nBatches = 3, Feed.Files())
    }),
    // watermarked window aggregate on its production path: append-mode
    // windows close on real micro-batch watermark advancement
    "q_pipe_window_stats_fstream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .filter(col("user_id") < 50)
        .select(col("ts_s"), col("event_type").as("lang"),
          col("props").as("text"))
      graft.streaming.WindowedStats.perWindowGate(ev, windowSeconds = 3600L,
        horizonSeconds = 600L, nBatches = 3, Feed.Files())
    }),
    // TTL-bounded MapState profile accumulator on the production path:
    // per-user event-type counts in transformWithState MapState created
    // with a generous processing-time TTL — retention bounding must be
    // invisible to in-horizon answers, so the gate hashes against the
    // plain batch groupBy oracle
    "q_pipe_profile_ttl" -> ((s, dir) =>
      graft.streaming.ProfileState.profilesGate(
        EventTime.eventsWithSeconds(s, dir)
          .filter(col("user_id") < 50)
          .select("user_id", "event_type", "ts_s"),
        ttlMs = 3600000L, nBatches = 3)),
    // UPDATE-mode hourly counts on the production path: file source in,
    // foreachBatch parquet update log out, reduced to final rows
    "q_pipe_hourly_fstream" -> ((s, dir) =>
      graft.streaming.UpdateModeStats.hourlyCountsGate(
        EventTime.eventsWithSeconds(s, dir)
          .filter(col("user_id") < 50)
          .select("user_id", "event_id", "event_type", "ts_s"),
        nBatches = 3, Feed.Files())),
    // the live funnel state machine on the production path: file source
    // in, foreachBatch update log out, final stage per user reduced
    "q_pipe_funnel_fstream" -> ((s, dir) =>
      graft.streaming.FunnelStream.funnelGate(
        EventTime.eventsWithSeconds(s, dir)
          .select(col("user_id"), col("ts_s"), col("event_type")),
        nBatches = 3, Feed.Files())),
    // INNER stream-stream interval join on the production path, over a
    // DISORDERED feed (±300 s « the join's own watermark delays): real
    // file source in, parquet sink out — shares the replay gate's oracle
    "q_pipe_join_fstream" -> ((s, dir) => {
      val ev = EventTime.eventsWithSeconds(s, dir)
        .filter(col("user_id") < 200 &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_s"))
      graft.streaming.StreamJoin.clickAttributionGate(ev,
        lookbackSeconds = 7200L, nBatches = 3, Feed.Files(oooSkewSeconds = 300L))
    }),
    // UPDATE-mode heavy hitters on the production path: file source in,
    // foreachBatch parquet update log out, exact top-50 — shares the
    // batch q_pipe_heavy oracle
    "q_pipe_heavy_fstream" -> ((s, dir) =>
      graft.streaming.UpdateModeStats.heavyHittersGate(
        docs(s, dir), k = 50, nBatches = 3, Feed.Files())),
    // stream-static broadcast enrichment on the production path: the
    // profile is re-broadcast per REAL micro-batch, enriched rows land
    // through a parquet sink
    "q_pipe_enrich_fstream" -> ((s, dir) =>
      graft.streaming.StreamJoin.enrichGate(
        EventTime.eventsWithSeconds(s, dir)
          .filter(col("user_id") < 100)
          .select("user_id", "event_id", "event_type", "ts_s"),
        nBatches = 3, Feed.Files())))

  /** Shared word-set CTE for the oracle side. */
  private val wordsCte =
    """WITH words AS (
      | SELECT DISTINCT doc_id, w AS word
      | FROM documents, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) t(w)
      |)""".stripMargin

  /** MinHash banded-LSH candidate pairs, up to and including a `pairs`
    * CTE — shared by the q_pipe_minhash oracle (pair listing) and the
    * q_pipe_dup_clusters oracle (connected components over the pairs).
    * The caller prepends `WITH ` or `WITH RECURSIVE `. */
  private val minhashPairsBody = """words AS (
      | SELECT DISTINCT doc_id, w AS word
      | FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents),
      |      unnest(list_transform(range(1, greatest(length(norm)-4, 1)+1),
      |                            i -> substr(norm, CAST(i AS INT), 5))) t(w)
      |),
      |sigs AS (
      | SELECT doc_id,
      |  min(substr(md5(word), 1, 8)) AS s0, min(substr(md5(word), 9, 8)) AS s1,
      |  min(substr(md5(word), 17, 8)) AS s2, min(substr(md5(word), 25, 8)) AS s3,
      |  min(substr(md5('x' || word), 1, 8)) AS s4, min(substr(md5('x' || word), 9, 8)) AS s5,
      |  min(substr(md5('x' || word), 17, 8)) AS s6, min(substr(md5('x' || word), 25, 8)) AS s7
      | FROM words GROUP BY doc_id),
      |buckets AS (
      | SELECT doc_id, 0 AS band, s0 || s1 AS key FROM sigs
      | UNION ALL SELECT doc_id, 1, s2 || s3 FROM sigs
      | UNION ALL SELECT doc_id, 2, s4 || s5 FROM sigs
      | UNION ALL SELECT doc_id, 3, s6 || s7 FROM sigs),
      |small AS (
      | SELECT band, key FROM buckets GROUP BY band, key
      | HAVING count(*) <= 32 AND count(*) > 1),
      |kept AS (SELECT b.* FROM buckets b JOIN small s ON b.band = s.band AND b.key = s.key),
      |pairs AS (
      | SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      | FROM kept l JOIN kept r ON l.band = r.band AND l.key = r.key
      | WHERE l.doc_id < r.doc_id)
      |""".stripMargin

  /** Shared by the replay and file-source streaming dedup gates: both
    * must surface exactly the corpus's distinct fingerprint set. */
  private val dedupFingerprintSetSql =
    """SELECT DISTINCT
      | md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY fp""".stripMargin

  /** The persistent-index serving paths (q_pipe_knn_ivf_serve,
    * q_pipe_knn_ivfpq_serve) answer bit-identically to their one-shot
    * twins — same centroids/codebooks, same probe/rank arithmetic, the
    * codes merely read from parquet instead of recomputed — so each is
    * hash-checked against the SAME oracle SQL as its one-shot. */
  lazy val oracleSql: Map[String, String] =
    oracleSqlBase +
      ("q_pipe_knn_ivf_serve" -> oracleSqlBase("q_pipe_knn_ivf")) +
      ("q_pipe_knn_ivfpq_serve" -> oracleSqlBase("q_pipe_knn_ivfpq")) +
      // streaming replay answers identically to the relational twin —
      // same gap definition, same grouping — so it shares the oracle
      ("q_pipe_sessions_stream" -> oracleSqlBase("q_pipe_sessions")) +
      // the file-source production path computes the same sessions
      ("q_pipe_sessions_fstream" -> oracleSqlBase("q_pipe_sessions")) +
      // watermark-timeout auto-close implements the same gap rule
      ("q_pipe_sessions_tmo" -> oracleSqlBase("q_pipe_sessions")) +
      // state-backend choice (RocksDB vs heap) must be invisible to
      // results — the RocksDB twins share their heap gates' oracles
      ("q_pipe_sessions_tmo_rocks" -> oracleSqlBase("q_pipe_sessions")) +
      // the transformWithState engine implements the same gap rule —
      // one oracle gates fmgws, tws, both state backends, and the batch
      // twin alike
      ("q_pipe_sessions_tws" -> oracleSqlBase("q_pipe_sessions")) +
      ("q_pipe_dedup_rocks" -> dedupFingerprintSetSql) +
      // fragment-merge sessionization is order-independent: the same
      // sessions from a disordered feed under a real watermark delay
      ("q_pipe_sessions_ooo" -> oracleSqlBase("q_pipe_sessions")) +
      ("q_pipe_sessions_ooo_tws" -> oracleSqlBase("q_pipe_sessions")) +
      ("q_pipe_sessions_tws_map" -> oracleSqlBase("q_pipe_sessions")) +
      // warm-start migration: batch backfill + seeded stream must union
      // to exactly the full-feed sessions
      ("q_pipe_sessions_warm" -> oracleSqlBase("q_pipe_sessions")) +
      // the production file-source twins compute exactly what their
      // replay-fed gates compute — one oracle each
      ("q_pipe_funnel_fstream" -> oracleSqlBase("q_pipe_funnel")) +
      // the state-machine funnel answers identically to the three-pass
      // batch funnel (same >= stage constraints) — shared oracle
      ("q_pipe_funnel_stream" -> oracleSqlBase("q_pipe_funnel")) +
      // the update-mode streaming heavy hitters reduce to the exact batch
      // top-k — shared oracle
      ("q_pipe_heavy_stream" -> oracleSqlBase("q_pipe_heavy")) +
      // the persistent-index BM25 serve ranks bit-identically to the
      // one-shot — shared oracle
      ("q_pipe_bm25_serve" -> oracleSqlBase("q_pipe_bm25")) +
      // appended index serves identically to a full-corpus build
      ("q_pipe_bm25_incr" -> oracleSqlBase("q_pipe_bm25")) +
      // native session_window shares the relational twin's oracle (same
      // gap rule after the 1801-second strict-less adjustment)
      ("q_pipe_session_window" -> oracleSqlBase("q_pipe_sessions")) +
      ("q_pipe_window_stats_stream" -> sharedStreamOracle("q_pipe_window_stats_stream")) +
      ("q_pipe_salted_join" ->
        """WITH e AS (
          | SELECT user_id, event_id, event_type FROM events
          | WHERE user_id < 100),
          |p AS (SELECT user_id, count(*) AS n_purchases FROM e
          |      WHERE event_type = 'purchase' GROUP BY user_id)
          |SELECT e.user_id, e.event_id, p.n_purchases
          |FROM e JOIN p ON e.user_id = p.user_id
          |ORDER BY event_id""".stripMargin) +
      ("q_pipe_enrich_stream" -> sharedStreamOracle("q_pipe_enrich_stream")) +
      ("q_pipe_hourly_stream" -> sharedStreamOracle("q_pipe_hourly_stream")) +
      ("q_pipe_outer_join_stream" -> sharedStreamOracle("q_pipe_outer_join_stream")) +
      ("q_pipe_join_stream" -> sharedStreamOracle("q_pipe_join_stream")) +
      ("q_pipe_dedup_stream" -> dedupFingerprintSetSql) +
      // file-source production path computes the same fingerprint set
      ("q_pipe_dedup_fstream" -> dedupFingerprintSetSql) +
      // the salted two-stage rankings are row-identical to the direct
      // windows, so they share their twins' oracles
      ("q_pipe_topdocs_salted" -> oracleSqlBase("q_pipe_topdocs")) +
      ("q_pipe_reservoir_salted" -> oracleSqlBase("q_pipe_reservoir")) +
      // index-served incremental dedup is bit-identical to the one-shot
      ("q_pipe_dedup_incr_serve" -> oracleSqlBase("q_pipe_dedup_incr")) +
      ("q_pipe_shuffle" ->
        """SELECT doc_id,
          | row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          |   - 1 AS pos
          |FROM documents ORDER BY doc_id""".stripMargin) +
      // file-source production twins of the replay-fed streaming gates:
      // same operator, same reduction, one oracle each (keyed off the
      // replay entries registered above)
      ("q_pipe_outer_join_fstream" -> sharedStreamOracle("q_pipe_outer_join_stream")) +
      ("q_pipe_window_stats_fstream" -> sharedStreamOracle("q_pipe_window_stats_stream")) +
      ("q_pipe_hourly_fstream" -> sharedStreamOracle("q_pipe_hourly_stream")) +
      ("q_pipe_enrich_fstream" -> sharedStreamOracle("q_pipe_enrich_stream")) +
      ("q_pipe_join_fstream" -> sharedStreamOracle("q_pipe_join_stream")) +
      ("q_pipe_heavy_fstream" -> oracleSqlBase("q_pipe_heavy")) +
      // the TTL'd MapState profile stream must equal the batch per-user
      // counts exactly: state retention is a resource bound, not a
      // semantic (the TTL horizon generously covers the gate feed)
      ("q_pipe_profile_ttl" ->
        """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
          |FROM events WHERE user_id < 50
          |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)

  /** Streaming-gate oracles shared between a replay gate and its
    * file-source production twin — one SQL text, two query entries, so
    * the two routes are pinned to EXACTLY the same answer. */
  private def sharedStreamOracle(key: String): String = replayOracles(key)

  private val replayOracles: Map[String, String] = Map(
    "q_pipe_window_stats_stream" ->
      """WITH e AS (
        | SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_s,
        |        event_type, props
        | FROM events WHERE user_id < 50)
        |SELECT (ts_s // 3600) * 3600 AS window_start_s,
        |       (ts_s // 3600) * 3600 + 3600 AS window_end_s,
        |       event_type AS lang, count(*) AS n_docs,
        |       CAST(sum(length(props)) AS BIGINT) AS n_chars
        |FROM e GROUP BY 1, 2, 3
        |ORDER BY window_start_s, lang""".stripMargin,
    "q_pipe_enrich_stream" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type FROM events
        | WHERE user_id < 100),
        |p AS (SELECT user_id, count(*) AS n_purchases FROM e
        |      WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT e.user_id, e.event_id, e.event_type,
        |       coalesce(p.n_purchases, 0) AS n_purchases
        |FROM e LEFT JOIN p ON e.user_id = p.user_id
        |ORDER BY event_id""".stripMargin,
    "q_pipe_hourly_stream" ->
      """WITH e AS (
        | SELECT event_type,
        |        CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_s
        | FROM events WHERE user_id < 50)
        |SELECT (ts_s // 3600) * 3600 AS hour_s, event_type, count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY hour_s, event_type""".stripMargin,
    "q_pipe_outer_join_stream" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |        CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_s
        | FROM events
        | WHERE user_id < 200 AND event_type IN ('click', 'purchase')),
        |p AS (SELECT user_id, event_id AS purchase_id, ts_s FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts_s AS c_ts FROM e
        |      WHERE event_type = 'click')
        |SELECT p.user_id, p.purchase_id, c.click_id,
        |       p.ts_s - c.c_ts AS gap_s
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        | AND c.c_ts >= p.ts_s - 7200 AND c.c_ts <= p.ts_s
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q_pipe_join_stream" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |        CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_s
        | FROM events
        | WHERE user_id < 200 AND event_type IN ('click', 'purchase'))
        |SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |       p.ts_s - c.ts_s AS gap_s
        |FROM e p JOIN e c ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts_s >= p.ts_s - 7200 AND c.ts_s <= p.ts_s
        |ORDER BY purchase_id, click_id""".stripMargin)

  private val oracleSqlBase: Map[String, String] = Map(
    "q_pipe_dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_unique,
        | count(*) - count(DISTINCT text) AS n_dups FROM documents""".stripMargin,

    "q_pipe_minhash" ->
      ("WITH " + minhashPairsBody + "SELECT a, b FROM pairs ORDER BY a, b"),

    // connected components by transitive closure + min label — small at
    // oracle scale; the Spark side uses min-label propagation instead
    "q_pipe_dup_clusters" ->
      ("WITH RECURSIVE " + minhashPairsBody + """,
      |e AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM e),
      |reach(id, r) AS (
      | SELECT id, id FROM nodes
      | UNION
      | SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r)
      |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // same component machinery, inverted: emit the SURVIVORS
    "q_pipe_dedup_apply" ->
      ("WITH RECURSIVE " + minhashPairsBody + """,
      |e AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM e),
      |reach(id, r) AS (
      | SELECT id, id FROM nodes
      | UNION
      | SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
      |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id != cluster_id)
      |ORDER BY doc_id""".stripMargin),

    "q_pipe_simhash" -> (wordsCte.replace("FROM documents,", "FROM documents,")
      + """
      |SELECT doc_id,
      |""".stripMargin
      + (1 to 16).map(k =>
        s" CASE WHEN sum(CASE WHEN substr(md5(word), $k, 1) >= '8' THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END")
        .mkString("concat(\n", ",\n", ") AS simhash16")
      + """
      |FROM words WHERE doc_id < 50 GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "q_pipe_jaccard" -> (wordsCte + """,
      |en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
      |pairs AS (
      | SELECT doc_id AS a, lead(doc_id) OVER (ORDER BY doc_id) AS b FROM en),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id),
      |inter AS (
      | SELECT p.a, p.b, count(*) AS inter
      | FROM pairs p JOIN words wa ON wa.doc_id = p.a
      |              JOIN words wb ON wb.doc_id = p.b AND wb.word = wa.word
      | GROUP BY p.a, p.b)
      |SELECT p.b AS b, p.a AS a, COALESCE(i.inter, 0) AS inter,
      |       sa.sz + sb.sz - COALESCE(i.inter, 0) AS uni
      |FROM pairs p
      |LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
      |JOIN sizes sa ON sa.doc_id = p.a
      |JOIN sizes sb ON sb.doc_id = p.b
      |WHERE p.b IS NOT NULL
      |  AND COALESCE(i.inter, 0) * 10 >= sa.sz + sb.sz - COALESCE(i.inter, 0)
      |ORDER BY a, b""".stripMargin),

    "q_pipe_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |        list_dot_product(q.v, t.v) / (q.nrm * t.nrm) AS sim
        |      FROM n q, n t WHERE q.vec_id < 10 AND t.vec_id <> q.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_pipe_vector_sql" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |        list_dot_product(q.v, t.v) / (q.nrm * t.nrm) AS sim
        |      FROM n q, n t WHERE q.vec_id < 8 AND t.vec_id <> q.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 4
        |ORDER BY query_id, rank""".stripMargin,

    "q_pipe_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT q.vec_id AS query_id, q.label AS query_label,
        |        t.vec_id AS neighbor_id, t.label AS neighbor_label,
        |        list_dot_product(q.v, t.v) / (q.nrm * t.nrm) AS sim
        |      FROM n q, n t
        |      WHERE q.vec_id < 10 AND t.vec_id <> q.vec_id
        |        AND t.label <> q.label),
        |r AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT query_id, query_label, neighbor_id, neighbor_label, rank
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_pipe_knn_filtered" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |        list_dot_product(q.v, t.v) / (q.nrm * t.nrm) AS sim
        |      FROM n q, n t
        |      WHERE q.vec_id < 10 AND t.vec_id <> q.vec_id AND t.label = 1),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // product quantization: same seeds (sub-vectors of the 16 lowest
    // vec_ids), same quantized-integer Lloyd update, same fixed-
    // association sub-space L2 ((a·a − 2·a·b) + b·b of sequential dots),
    // same left-fold ADC sum (list_reduce with a prepended 0.0 mirrors
    // Spark's aggregate(…, 0.0, +))
    "q_pipe_knn_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sub AS (SELECT vec_id, s, v[s*8+1 : s*8+8] AS sv
        |        FROM e, unnest(range(0, 8)) t(s)),
        |seed AS (SELECT s, CAST(vec_id AS INT) AS cent_id, sv AS cv
        |         FROM sub WHERE vec_id < 16),
        |a0 AS (SELECT sub.vec_id, sub.s, seed.cent_id,
        |        (list_dot_product(sv, sv) - 2.0*list_dot_product(sv, cv))
        |          + list_dot_product(cv, cv) AS d2
        |       FROM sub JOIN seed ON sub.s = seed.s),
        |a1 AS (SELECT vec_id, s, cent_id,
        |        row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cent_id) AS rk
        |       FROM a0),
        |asg AS (SELECT vec_id, s, cent_id FROM a1 WHERE rk = 1),
        |ux AS (SELECT asg.s, asg.cent_id, unnest(sub.sv) AS x,
        |        generate_subscripts(sub.sv, 1) AS j
        |       FROM asg JOIN sub ON asg.vec_id = sub.vec_id AND asg.s = sub.s),
        |u AS (SELECT s, cent_id, j, sum(CAST(round(x*1024) AS BIGINT)) AS ssum,
        |       count(*) AS cnt
        |      FROM ux GROUP BY 1, 2, 3),
        |cb AS (SELECT s, cent_id, list(ssum/(1024.0*cnt) ORDER BY j) AS cv
        |       FROM u GROUP BY 1, 2),
        |e0 AS (SELECT sub.vec_id, sub.s, cb.cent_id,
        |        (list_dot_product(sv, sv) - 2.0*list_dot_product(sv, cv))
        |          + list_dot_product(cv, cv) AS d2
        |       FROM sub JOIN cb ON sub.s = cb.s),
        |e1 AS (SELECT vec_id, s, cent_id,
        |        row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cent_id) AS rk
        |       FROM e0),
        |codes AS (SELECT vec_id, list(cent_id ORDER BY s) AS codes
        |          FROM e1 WHERE rk = 1 GROUP BY vec_id),
        |qt AS (SELECT vec_id AS query_id, list(d2 ORDER BY s, cent_id) AS tbl
        |       FROM e0 WHERE vec_id < 10 GROUP BY vec_id),
        |adc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(range(0, 8), s -> tbl[s*16 + codes[s+1] + 1])),
        |           (acc, x) -> acc + x) AS dist
        |        FROM qt q, codes c WHERE c.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // IVF-PQ: the knn_ivf CTEs (coarse centroids, assignment, probes)
    // composed with the knn_pq CTEs (codebooks, codes, ADC tables) —
    // candidates come from the probed lists, ranks from the left-fold
    // ADC sum over their codes
    "q_pipe_knn_ivfpq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |a1 AS (
        | SELECT vec_id, v, cent_id FROM (
        |  SELECT n.vec_id, n.v, c.cent_id,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS crk
        |  FROM n, c0 c) WHERE crk = 1),
        |s1 AS (
        | SELECT cent_id, j, sum(CAST(round(x * 1024) AS BIGINT)) AS s, count(*) AS cnt
        | FROM (SELECT cent_id, unnest(v) AS x, generate_subscripts(v, 1) AS j FROM a1)
        | GROUP BY cent_id, j),
        |c1 AS (SELECT cent_id, list(s / (1024.0 * cnt) ORDER BY j) AS cv FROM s1 GROUP BY cent_id),
        |c1n AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c1),
        |a2 AS (
        | SELECT vec_id AS neighbor_id, cent_id FROM (
        |  SELECT n.vec_id, c.cent_id,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS crk
        |  FROM n, c1n c) WHERE crk = 1),
        |p AS (
        | SELECT query_id, cent_id FROM (
        |  SELECT n.vec_id AS query_id, c.cent_id,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS prk
        |  FROM n, c1n c WHERE n.vec_id < 10) WHERE prk <= 4),
        |sub AS (SELECT vec_id, s, v[s*8+1 : s*8+8] AS sv
        |        FROM e, unnest(range(0, 8)) t(s)),
        |seed AS (SELECT s, CAST(vec_id AS INT) AS cent_id, sv AS cv
        |         FROM sub WHERE vec_id < 16),
        |pa0 AS (SELECT sub.vec_id, sub.s, seed.cent_id,
        |        (list_dot_product(sv, sv) - 2.0*list_dot_product(sv, cv))
        |          + list_dot_product(cv, cv) AS d2
        |       FROM sub JOIN seed ON sub.s = seed.s),
        |pa1 AS (SELECT vec_id, s, cent_id,
        |        row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cent_id) AS rk
        |       FROM pa0),
        |pasg AS (SELECT vec_id, s, cent_id FROM pa1 WHERE rk = 1),
        |pux AS (SELECT pasg.s, pasg.cent_id, unnest(sub.sv) AS x,
        |        generate_subscripts(sub.sv, 1) AS j
        |       FROM pasg JOIN sub ON pasg.vec_id = sub.vec_id AND pasg.s = sub.s),
        |pu AS (SELECT s, cent_id, j, sum(CAST(round(x*1024) AS BIGINT)) AS ssum,
        |       count(*) AS cnt
        |      FROM pux GROUP BY 1, 2, 3),
        |pcb AS (SELECT s, cent_id, list(ssum/(1024.0*cnt) ORDER BY j) AS cv
        |       FROM pu GROUP BY 1, 2),
        |pe0 AS (SELECT sub.vec_id, sub.s, pcb.cent_id,
        |        (list_dot_product(sv, sv) - 2.0*list_dot_product(sv, cv))
        |          + list_dot_product(cv, cv) AS d2
        |       FROM sub JOIN pcb ON sub.s = pcb.s),
        |pe1 AS (SELECT vec_id, s, cent_id,
        |        row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cent_id) AS rk
        |       FROM pe0),
        |pcodes AS (SELECT vec_id, list(cent_id ORDER BY s) AS codes
        |          FROM pe1 WHERE rk = 1 GROUP BY vec_id),
        |pqt AS (SELECT vec_id AS query_id, list(d2 ORDER BY s, cent_id) AS tbl
        |       FROM pe0 WHERE vec_id < 10 GROUP BY vec_id),
        |adc AS (SELECT p.query_id, a.neighbor_id,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(range(0, 8), s -> tbl[s*16 + codes[s+1] + 1])),
        |           (acc, x) -> acc + x) AS dist
        |        FROM p JOIN a2 a ON a.cent_id = p.cent_id
        |          AND a.neighbor_id <> p.query_id
        |        JOIN pqt ON pqt.query_id = p.query_id
        |        JOIN pcodes c ON c.vec_id = a.neighbor_id),
        |r AS (SELECT query_id, neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // LSH: same fixed hyperplanes (two-round xorshift mixer of the plane/
    // dim index, j 0-based; DuckDB lambda index i is 1-based → i−1), same
    // sequential mul-then-add dot products as graft_dot; TWO reseeded
    // tables (OR-amplification), candidates deduped before the exact sim.
    "q_pipe_knn_lsh" -> {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |${lshBucketCtes(2)}
        |bs AS (SELECT tbl, bucket FROM s0 GROUP BY tbl, bucket HAVING count(*) <= 64),
        |s AS (SELECT s0.* FROM s0 JOIN bs USING (tbl, bucket)),
        |q AS (SELECT vec_id AS query_id, tbl, bucket FROM s WHERE vec_id < 20),
        |cand AS (
        | SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        | FROM q JOIN s c ON c.tbl = q.tbl AND c.bucket = q.bucket
        |  AND c.vec_id <> q.query_id),
        |r AS (
        | SELECT cand.query_id, cand.neighbor_id,
        |   row_number() OVER (PARTITION BY cand.query_id
        |     ORDER BY list_dot_product(qv.v, cv.v) / (qv.nrm * cv.nrm) DESC,
        |       cand.neighbor_id) AS rank
        | FROM cand JOIN n qv ON qv.vec_id = cand.query_id
        |           JOIN n cv ON cv.vec_id = cand.neighbor_id)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
    },

    // embedding-cosine near-dup: identical bucket construction to knn_lsh
    // (two reseeded tables, per-table caps), candidates deduped, exact
    // cosine ≥ 0.25 per distinct pair
    // (the synthetic embeddings are near-orthogonal; 0.25 is the near-dup tail)
    "q_pipe_dedup_cosine" -> {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |${lshBucketCtes(2)}
        |bs AS (SELECT tbl, bucket FROM s0 GROUP BY tbl, bucket HAVING count(*) <= 64),
        |s AS (SELECT s0.* FROM s0 JOIN bs USING (tbl, bucket)),
        |cand AS (
        | SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
        | FROM s l JOIN s r ON l.tbl = r.tbl AND l.bucket = r.bucket
        |  AND l.vec_id < r.vec_id)
        |SELECT a, b FROM cand
        |JOIN n la ON la.vec_id = cand.a
        |JOIN n lb ON lb.vec_id = cand.b
        |WHERE list_dot_product(la.v, lb.v) / (la.nrm * lb.nrm) >= 0.25
        |ORDER BY a, b""".stripMargin
    },

    // IVF: seeding = 16 lowest-id vectors; ONE Lloyd pass with the
    // quantized-integer centroid update (Σ round(x·1024) is order-free
    // exact, ÷(1024·count) once) — bit-identical to Similarity.ivfTopK.
    "q_pipe_knn_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |a1 AS (
        | SELECT vec_id, v, cent_id FROM (
        |  SELECT n.vec_id, n.v, c.cent_id,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS crk
        |  FROM n, c0 c) WHERE crk = 1),
        |s1 AS (
        | SELECT cent_id, j, sum(CAST(round(x * 1024) AS BIGINT)) AS s, count(*) AS cnt
        | FROM (SELECT cent_id, unnest(v) AS x, generate_subscripts(v, 1) AS j FROM a1)
        | GROUP BY cent_id, j),
        |c1 AS (SELECT cent_id, list(s / (1024.0 * cnt) ORDER BY j) AS cv FROM s1 GROUP BY cent_id),
        |c1n AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c1),
        |a2 AS (
        | SELECT vec_id AS neighbor_id, v, nrm, cent_id FROM (
        |  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS crk
        |  FROM n, c1n c) WHERE crk = 1),
        |p AS (
        | SELECT query_id, qv, qn, cent_id FROM (
        |  SELECT n.vec_id AS query_id, n.v AS qv, n.nrm AS qn, c.cent_id,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS prk
        |  FROM n, c1n c WHERE n.vec_id < 20) WHERE prk <= 4),
        |r AS (
        | SELECT p.query_id, a.neighbor_id,
        |   row_number() OVER (PARTITION BY p.query_id
        |     ORDER BY list_dot_product(p.qv, a.v) / (p.qn * a.nrm) DESC, a.neighbor_id) AS rank
        | FROM p JOIN a2 a ON a.cent_id = p.cent_id AND a.neighbor_id <> p.query_id)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // same centroid pipeline as q_pipe_knn_ivf through the refined
    // assignment (a2), then within-cluster pairwise cosine >= tau
    "q_pipe_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |a1 AS (
        | SELECT vec_id, v, cent_id FROM (
        |  SELECT n.vec_id, n.v, c.cent_id,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS crk
        |  FROM n, c0 c) WHERE crk = 1),
        |s1 AS (
        | SELECT cent_id, j, sum(CAST(round(x * 1024) AS BIGINT)) AS s, count(*) AS cnt
        | FROM (SELECT cent_id, unnest(v) AS x, generate_subscripts(v, 1) AS j FROM a1)
        | GROUP BY cent_id, j),
        |c1 AS (SELECT cent_id, list(s / (1024.0 * cnt) ORDER BY j) AS cv FROM s1 GROUP BY cent_id),
        |c1n AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c1),
        |a2 AS (
        | SELECT vec_id, v, nrm, cent_id FROM (
        |  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS crk
        |  FROM n, c1n c) WHERE crk = 1),
        |p AS (
        | SELECT a.cent_id, a.vec_id AS keep_id, b.vec_id AS dup_id,
        |   list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        | FROM a2 a JOIN a2 b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
        |SELECT cent_id, keep_id, dup_id, round(cos, 4) AS cos_r
        |FROM p WHERE cos >= 0.25 ORDER BY keep_id, dup_id""".stripMargin,

    // BPE oracle: unrolled per-merge blocks — weighted pair counts, best
    // pair by (cnt DESC, a, b), then the greedy left-to-right merge as
    // gaps-and-islands (consecutive match positions form runs; odd
    // positions within a run merge, the symbol after a kept merge drops)
    "q_pipe_bpe" -> (bpeCtes +
      """
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS step, a AS lhs, b AS rhs, a || b AS merged, cnt AS pair_count FROM best1
        | UNION ALL SELECT 2, a, b, a || b, cnt FROM best2
        | UNION ALL SELECT 3, a, b, a || b, cnt FROM best3) t ORDER BY step""".stripMargin),

    // applying the learned vocab: corpus tokens joined to each word's
    // post-merge symbol count (the s3 table), per-lang compression stats
    "q_pipe_bpe_apply" -> (bpeCtes +
      """,
        |tk AS (
        | SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
        | FROM documents)
        |SELECT tk.lang, count(*) AS n_tokens,
        | CAST(sum(len(s3.syms)) AS BIGINT) AS n_symbols,
        | CAST(sum(length(tk.word)) AS BIGINT) AS n_chars
        |FROM tk JOIN s3 ON tk.word = s3.word
        |GROUP BY tk.lang ORDER BY tk.lang""".stripMargin),

    "q_pipe_novelty" ->
      """WITH g AS (
        | SELECT DISTINCT doc_id, w AS gram
        | FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents),
        |      unnest(list_transform(range(1, greatest(length(norm)-4, 1)+1),
        |                            i -> substr(norm, CAST(i AS INT), 5))) t(w)),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*) AS n_grams,
        | CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT) AS n_novel,
        | (100 * count(*) FILTER (WHERE f.first_doc = g.doc_id)) // count(*) AS novelty_pct
        |FROM g JOIN f ON g.gram = f.gram
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "q_pipe_rolling" ->
      """WITH e AS (
        | SELECT user_id, event_id,
        |        CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_s, value
        | FROM events WHERE user_id < 40)
        |SELECT user_id, event_id, ts_s,
        | count(*) OVER w AS n_win,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_value_win
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_pipe_gapfill" ->
      """WITH e AS (
        | SELECT user_id,
        |        CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_s, value
        | FROM events WHERE user_id < 20),
        |hourly AS (
        | SELECT user_id, (ts_s // 3600) * 3600 AS hour_s,
        |        count(*) AS n_events,
        |        sum(CAST(value AS DECIMAL(18,2))) AS sum_value
        | FROM e GROUP BY 1, 2),
        |grid AS (
        | SELECT user_id, unnest(range(h0, h1 + 1, 3600)) AS hour_s
        | FROM (SELECT user_id, min(hour_s) AS h0, max(hour_s) AS h1
        |       FROM hourly GROUP BY user_id)),
        |j AS (
        | SELECT g.user_id, g.hour_s,
        |        coalesce(h.n_events, 0) AS n_events, h.sum_value
        | FROM grid g LEFT JOIN hourly h
        |   ON g.user_id = h.user_id AND g.hour_s = h.hour_s)
        |SELECT user_id, hour_s, CAST(n_events AS BIGINT) AS n_events,
        | CAST(last_value(sum_value IGNORE NULLS) OVER
        |   (PARTITION BY user_id ORDER BY hour_s ROWS UNBOUNDED PRECEDING)
        |   AS DOUBLE) AS filled_sum
        |FROM j ORDER BY user_id, hour_s""".stripMargin,

    "q_pipe_binfiles" ->
      """WITH m AS (SELECT doc_id,
        | CAST(n_chars % 64 + 1 AS BIGINT) AS width,
        | CAST((n_chars * 7) % 48 + 1 AS BIGINT) AS height
        |FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        | CAST(length(concat('P6', chr(10), CAST(width AS VARCHAR), ' ',
        |   CAST(height AS VARCHAR), chr(10), '255', chr(10)))
        |   + width * height * 3 AS BIGINT) AS n_bytes,
        | width, height
        |FROM m ORDER BY doc_id""".stripMargin,

    // both format rows must equal the parquet-derived truth
    "q_pipe_formats" ->
      """WITH t AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_text_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        | FROM documents)
        |SELECT 'csv' AS fmt, * FROM t
        |UNION ALL SELECT 'jsonl' AS fmt, * FROM t
        |UNION ALL SELECT 'orc' AS fmt, * FROM t
        |ORDER BY fmt""".stripMargin,

    "q_pipe_langid" -> {
      def hits(words: Seq[String]) =
        s"len(list_filter(toks, x -> x IN (${sqlList(words)})))"
      s"""WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        | FROM documents),
        |h AS (SELECT doc_id,
        |  ${hits(TextOps.StopEn)} AS en, ${hits(TextOps.StopDe)} AS de,
        |  ${hits(TextOps.StopEs)} AS es, ${hits(TextOps.StopFr)} AS fr
        | FROM t)
        |SELECT doc_id,
        | CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
        |      WHEN en >= greatest(de, es, fr) THEN 'en'
        |      WHEN de >= greatest(es, fr) THEN 'de'
        |      WHEN es >= fr THEN 'es'
        |      ELSE 'fr' END AS pred_lang
        |FROM h ORDER BY doc_id""".stripMargin
    },

    "q_pipe_quality" ->
      s"""WITH t AS (
        | SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct
        | FROM documents WHERE doc_id < 100),
        |u AS (SELECT doc_id, n_chars, CAST(len(toks) AS BIGINT) AS n_tokens, punct,
        |  CAST(len(list_filter(toks, x -> x IN (${sqlList(TextOps.StopEn)}))) AS BIGINT) AS stops
        | FROM t)
        |SELECT doc_id, n_chars, n_tokens,
        | round(CAST(punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
        | round(CAST(stops AS DOUBLE) / greatest(n_tokens, 1), 4) AS stop_ratio,
        | round(CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 0.5
        |   + CAST(stops AS DOUBLE) / greatest(n_tokens, 1) * 0.3
        |   + (1.0 - CAST(punct AS DOUBLE) / n_chars) * 0.2, 4) AS quality
        |FROM u ORDER BY doc_id""".stripMargin,

    // the oracle IS the global greedy sort the Spark side avoids
    "q_pipe_budget" ->
      s"""WITH t AS (
        | SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct
        | FROM documents),
        |u AS (SELECT doc_id, n_chars, CAST(len(toks) AS BIGINT) AS n_tokens, punct,
        |  CAST(len(list_filter(toks, x -> x IN (${sqlList(TextOps.StopEn)}))) AS BIGINT) AS stops
        | FROM t),
        |d AS (SELECT doc_id,
        |  CAST(round(round(CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 0.5
        |    + CAST(stops AS DOUBLE) / greatest(n_tokens, 1) * 0.3
        |    + (1.0 - CAST(punct AS DOUBLE) / n_chars) * 0.2, 4) * 10000) AS BIGINT) AS q_milli,
        |  n_tokens AS tok FROM u),
        |c AS (SELECT *, sum(tok) OVER (ORDER BY q_milli DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT doc_id, q_milli, CAST(tok AS BIGINT) AS tok
        |FROM c WHERE cum <= 10000 ORDER BY doc_id""".stripMargin,

    // same hashed-bigram model + integer likelihood ratios, replayed in SQL
    "q_pipe_dsir" ->
      """WITH toks AS (
        | SELECT doc_id, lang = 'en' AS is_target,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        | FROM documents WHERE text IS NOT NULL),
        |bk AS (
        | SELECT doc_id, is_target,
        |  CAST(concat('0x', substr(md5(ts[i+1] || ' ' || ts[i+2]), 1, 8))
        |    AS BIGINT) % 1024 AS b
        | FROM toks, unnest(range(len(ts) - 1)) r(i)
        | WHERE len(ts) >= 2),
        |model AS (
        | SELECT b, sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
        |        count(*) AS cr
        | FROM bk GROUP BY 1),
        |sc AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(((ct + 1) * 1000000) // (cr + 1)) AS BIGINT) AS w_sum
        | FROM bk JOIN model USING (b) GROUP BY 1)
        |SELECT doc_id, n_grams, (w_sum // n_grams) AS dsir_w
        |FROM sc ORDER BY dsir_w DESC, doc_id LIMIT 40""".stripMargin,

    "q_pipe_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS alnum_tokens,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(floor((octet_length(encode(text)) + 3) / 4.0) AS BIGINT) AS approx_bpe_tokens
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "q_pipe_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // decontamination: discriminative word 5-gram overlap between the eval
    // split (doc_id % 10 = 0) and the train split — same grams, same
    // eval-df ≤ 16 boilerplate cap as Curation.decontaminate
    "q_pipe_decontam" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        | FROM documents),
        |g AS (
        | SELECT DISTINCT doc_id, g
        | FROM toks, unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
        |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) u(g)),
        |ev0 AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % 10 = 0),
        |rare AS (SELECT g FROM ev0 GROUP BY g HAVING count(*) <= 16),
        |ev AS (SELECT ev0.* FROM ev0 JOIN rare USING (g)),
        |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 10 <> 0)
        |SELECT tr.doc_id,
        |       CAST(count(DISTINCT tr.g) AS BIGINT) AS n_hit_grams,
        |       CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
        |FROM tr JOIN ev ON ev.g = tr.g
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin,

    // deterministic stratified sample: 32-bit md5-prefix hash predicate
    // (overflow-free at any id), per-language rates in 1/1000ths
    // (Curation.SampleRates)
    "q_pipe_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 <
        |  CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250
        |            WHEN 'es' THEN 125 WHEN 'fr' THEN 62 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,

    "q_pipe_split" ->
      """WITH s AS (
        | SELECT doc_id, lang,
        |  CASE WHEN b < 100 THEN 'val' WHEN b < 200 THEN 'test'
        |       ELSE 'train' END AS split
        | FROM (SELECT doc_id, lang,
        |        CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) % 1000 AS b
        |       FROM documents))
        |SELECT lang, split, count(*) AS n_docs,
        | CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    // intra-document repetition: same tokenizer as langid/quality; the
    // 3-grams index into the token list (1-based in DuckDB)
    "q_pipe_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        | FROM documents),
        |u AS (SELECT doc_id, toks,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tri
        | FROM t),
        |v AS (SELECT doc_id, n_tokens, n_distinct,
        |  CAST(greatest(n_tokens - 2, 0) AS BIGINT) AS n_tri,
        |  CAST(len(list_distinct(tri)) AS BIGINT) AS n_tri_distinct
        | FROM u),
        |top AS (SELECT doc_id, max(cnt) AS top_cnt FROM (
        |  SELECT doc_id, term, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2)
        | GROUP BY doc_id)
        |SELECT v.doc_id, n_tokens,
        | round(CAST(n_tokens - n_distinct AS DOUBLE) / greatest(n_tokens, 1), 4) AS dup_token_frac,
        | round(CAST(n_tri - n_tri_distinct AS DOUBLE) / greatest(n_tri, 1), 4) AS dup_3gram_frac,
        | round(CAST(coalesce(top_cnt, 0) AS DOUBLE) / greatest(n_tokens, 1), 4) AS top_token_frac
        |FROM v LEFT JOIN top ON v.doc_id = top.doc_id
        |ORDER BY v.doc_id""".stripMargin,

    // corpus mixing: same md5-prefix hash as q_pipe_sample; copies =
    // floor(w/1000) + (hash < w mod 1000)
    "q_pipe_mix" ->
      """WITH d AS (SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN 700 WHEN 'de' THEN 1000 WHEN 'es' THEN 1500
        |            WHEN 'fr' THEN 2300 WHEN 'zh' THEN 2000 ELSE 500 END AS w,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS h
        | FROM documents),
        |c AS (SELECT doc_id, lang,
        |  w // 1000 + CASE WHEN h < w % 1000 THEN 1 ELSE 0 END AS n_copies
        | FROM d)
        |SELECT doc_id, lang, CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy
        |FROM c WHERE n_copies > 0
        |ORDER BY doc_id, copy""".stripMargin,

    // histogram quantiles: estimate = lower bound of the first bin whose
    // cumulative count reaches ceil(q . n / 1000), integer arithmetic
    "q_pipe_hist_quantiles" ->
      """WITH b AS (SELECT l_returnflag AS grp,
        |  CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bin, count(*) AS cnt
        | FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT grp, bin, cnt,
        |  sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
        |  sum(cnt) OVER (PARTITION BY grp) AS n FROM b),
        |q AS (SELECT unnest([500, 900, 990]) AS q_permille),
        |h AS (SELECT grp, q_permille, min(bin) AS bin, max(n) AS n
        | FROM c, q WHERE cum >= (q_permille * n + 999) // 1000
        | GROUP BY 1, 2)
        |SELECT grp AS l_returnflag, CAST(q_permille AS INT) AS q_permille,
        | CAST(bin AS DOUBLE) * 100.0 AS est, CAST(n AS BIGINT) AS n
        |FROM h ORDER BY l_returnflag, q_permille""".stripMargin,

    // incremental dedup: batch = doc_id % 5 = 0, corpus = the rest; same
    // shingle/signature/band machinery as q_pipe_minhash, but the
    // pairwise step only probes batch bands against capped corpus bands
    "q_pipe_dedup_incr" ->
      """WITH norm AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents),
        |words AS (SELECT DISTINCT doc_id, w AS word FROM norm,
        |  unnest(list_transform(range(1, greatest(length(norm)-4, 1)+1),
        |                        i -> substr(norm, CAST(i AS INT), 5))) t(w)),
        |sigs AS (SELECT doc_id,
        |  min(substr(md5(word), 1, 8)) AS s0, min(substr(md5(word), 9, 8)) AS s1,
        |  min(substr(md5(word), 17, 8)) AS s2, min(substr(md5(word), 25, 8)) AS s3,
        |  min(substr(md5('x' || word), 1, 8)) AS s4, min(substr(md5('x' || word), 9, 8)) AS s5,
        |  min(substr(md5('x' || word), 17, 8)) AS s6, min(substr(md5('x' || word), 25, 8)) AS s7
        | FROM words GROUP BY doc_id),
        |buckets AS (
        | SELECT doc_id, 0 AS band, s0 || s1 AS key FROM sigs
        | UNION ALL SELECT doc_id, 1, s2 || s3 FROM sigs
        | UNION ALL SELECT doc_id, 2, s4 || s5 FROM sigs
        | UNION ALL SELECT doc_id, 3, s6 || s7 FROM sigs),
        |cbk AS (SELECT * FROM buckets WHERE doc_id % 5 <> 0),
        |cap AS (SELECT band, key FROM cbk GROUP BY band, key HAVING count(*) <= 32),
        |ckept AS (SELECT cbk.* FROM cbk JOIN cap USING (band, key)),
        |bbk AS (SELECT * FROM buckets WHERE doc_id % 5 = 0),
        |near AS (SELECT bbk.doc_id, count(DISTINCT ckept.doc_id) AS n_near_corpus
        | FROM bbk JOIN ckept ON bbk.band = ckept.band AND bbk.key = ckept.key
        | GROUP BY bbk.doc_id),
        |fp AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp FROM documents),
        |cfp AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0),
        |ex AS (SELECT f.doc_id,
        |  CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END AS is_exact_dup
        | FROM fp f LEFT JOIN cfp c USING (fp) WHERE f.doc_id % 5 = 0)
        |SELECT ex.doc_id, CAST(is_exact_dup AS BIGINT) AS is_exact_dup,
        | CAST(coalesce(n_near_corpus, 0) AS BIGINT) AS n_near_corpus
        |FROM ex LEFT JOIN near ON ex.doc_id = near.doc_id
        |ORDER BY ex.doc_id""".stripMargin,

    // token-window dedup: same tokenizer, 20-token non-overlapping
    // windows (partial tail kept), keep-first by encoded (doc, window)
    // order — DuckDB list slice is 1-based inclusive [a:b]
    "q_pipe_window_dedup" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        | FROM documents),
        |w AS (
        | SELECT doc_id, i - 1 AS w_idx,
        |   array_to_string(toks[(i-1)*20+1 : (i-1)*20+20], ' ') AS w_text
        | FROM t, unnest(range(1,
        |   greatest(CAST(ceil(len(toks)/20.0) AS BIGINT), 1) + 1)) u(i)),
        |wf AS (SELECT doc_id, w_idx, doc_id * 1048576 + w_idx AS ord,
        |  md5(w_text) AS whash FROM w WHERE w_text <> ''),
        |f AS (SELECT whash, min(ord) AS first_ord FROM wf GROUP BY whash)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        | CAST(sum(CASE WHEN ord > first_ord THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
        |FROM wf JOIN f USING (whash)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // cleaned corpus: same windows/keep-first rule; survivors re-joined
    // in window order and fingerprinted
    "q_pipe_window_clean" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        | FROM documents),
        |w AS (
        | SELECT doc_id, i - 1 AS w_idx,
        |   array_to_string(toks[(i-1)*20+1 : (i-1)*20+20], ' ') AS w_text
        | FROM t, unnest(range(1,
        |   greatest(CAST(ceil(len(toks)/20.0) AS BIGINT), 1) + 1)) u(i)),
        |wf AS (SELECT doc_id, w_idx, w_text, doc_id * 1048576 + w_idx AS ord,
        |  md5(w_text) AS whash FROM w WHERE w_text <> ''),
        |f AS (SELECT whash, min(ord) AS first_ord FROM wf GROUP BY whash),
        |kept AS (SELECT wf.* FROM wf JOIN f USING (whash) WHERE ord = first_ord)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_windows,
        | CAST(sum(len(string_split(w_text, ' '))) AS BIGINT) AS n_kept_tokens,
        | md5(string_agg(w_text, ' ' ORDER BY w_idx)) AS cleaned_fp
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // duplicated substrings: every char 40-gram, kept iff md5's last hex
    // digit ∈ {0,1} (the identical 1/8 content sample as the Spark
    // side), counted corpus-wide; a doc's dup_grams are its sampled
    // grams seen more than once anywhere
    "q_pipe_dup_spans" ->
      """WITH g AS (
        | SELECT doc_id, substr(text, CAST(i AS INT), 40) AS gram
        | FROM documents, unnest(range(1, length(text) - 39 + 1)) u(i)
        | WHERE length(text) >= 40),
        |gs AS (SELECT doc_id, gram FROM g
        |       WHERE substr(md5(gram), 32, 1) IN ('0', '1')),
        |pg AS (SELECT gram, doc_id, count(*) AS cnt FROM gs GROUP BY 1, 2),
        |tg AS (SELECT gram, sum(cnt) AS tot FROM pg GROUP BY 1),
        |s AS (SELECT doc_id, sum(cnt) AS n_grams,
        |       sum(CASE WHEN tot > 1 THEN cnt ELSE 0 END) AS dup_grams
        |      FROM pg JOIN tg USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
        | CAST(coalesce(s.dup_grams, 0) AS BIGINT) AS dup_grams,
        | round(CAST(coalesce(s.dup_grams, 0) AS DOUBLE)
        |       / greatest(coalesce(s.n_grams, 0), 1), 4) AS dup_frac
        |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,

    // label outliers: same quantized-integer centroids as
    // q_pipe_label_centroids, bottom-k cosine per label
    "q_pipe_label_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s1 AS (SELECT label, j, sum(CAST(round(x * 1024) AS BIGINT)) AS s, count(*) AS cnt
        |       FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS j FROM e)
        |       GROUP BY 1, 2),
        |c AS (SELECT label, list(s / (1024.0 * cnt) ORDER BY j) AS centroid
        |      FROM s1 GROUP BY label),
        |x AS (SELECT e.vec_id, e.label,
        |   list_dot_product(e.v, c.centroid)
        |     / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
        | FROM e JOIN c USING (label)),
        |r AS (SELECT label, vec_id, cos,
        |   row_number() OVER (PARTITION BY label ORDER BY cos, vec_id) AS rk FROM x)
        |SELECT label, vec_id, cos, rk FROM r WHERE rk <= 3
        |ORDER BY label, rk""".stripMargin,

    // PII scrub: same constructed payloads, same three regexes (valid in
    // both Java regex and RE2), same redaction order; counts on the
    // original text
    "q_pipe_pii" -> {
      val (em, ph, ip) = (TextOps.EmailRe, TextOps.PhoneRe, TextOps.Ipv4Re)
      s"""WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |   || '@example.com or call +1-555-'
        |   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |   || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
        | FROM documents),
        |s AS (SELECT doc_id, t,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '$em', '<EMAIL>', 'g'),
        |    '$ph', '<PHONE>', 'g'),
        |    '$ip', '<IP>', 'g') AS scr
        | FROM p)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_phones,
        | CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips,
        | CAST(length(scr) AS BIGINT) AS scrubbed_len,
        | md5(scr) AS scrubbed_fp
        |FROM s ORDER BY doc_id""".stripMargin
    },

    // int8 quantization: one rounded division (127/max|x|), one rounded
    // multiply, round() — every scalar op IEEE-exact; integer dot
    // products exact in doubles (<= 127^2 * dim << 2^53)
    "q_pipe_knn_q8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |z AS (SELECT vec_id, list_transform(v,
        |  x -> CASE WHEN ma = 0 THEN 0.0 ELSE round(x * (127.0 / ma)) END) AS qv FROM q),
        |n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS qn FROM z),
        |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |   CASE WHEN a.qn * b.qn = 0 THEN -2.0
        |        ELSE list_dot_product(a.qv, b.qv) / (a.qn * b.qn) END AS sim
        | FROM n a, n b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        | FROM p)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // k-NN classification: exact top-5 neighbors (same plan as
    // q_pipe_knn at nQueries=20), majority vote with smallest-label
    // tie-break
    "q_pipe_knn_classify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |        list_dot_product(q.v, t.v) / (q.nrm * t.nrm) AS sim
        |      FROM n q, n t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p),
        |nb AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
        |v AS (SELECT nb.query_id, emb.label, CAST(count(*) AS BIGINT) AS votes
        |      FROM nb JOIN embeddings emb ON emb.vec_id = nb.neighbor_id
        |      GROUP BY 1, 2),
        |w AS (SELECT query_id, label, votes,
        |        row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rk
        |      FROM v)
        |SELECT query_id, label AS pred_label, votes FROM w WHERE rk = 1
        |ORDER BY query_id""".stripMargin,

    // per-label centroids: identical quantized-integer mean as the IVF
    // Lloyd update (order-free exact); scalar rows (label, j, value,
    // n_vectors) — j 0-based to match Spark's posexplode
    "q_pipe_label_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s1 AS (SELECT label, j, sum(CAST(round(x * 1024) AS BIGINT)) AS s, count(*) AS cnt
        |       FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS j FROM e)
        |       GROUP BY 1, 2)
        |SELECT label, j - 1 AS j, s / (1024.0 * cnt) AS value,
        |       CAST(cnt AS BIGINT) AS n_vectors
        |FROM s1 ORDER BY label, j""".stripMargin,

    // posting lists: top-50 terms by (df DESC, term), first 8 doc_ids;
    // scalar rows (term, df, pos, doc_id) — pos 0-based
    "q_pipe_postings" ->
      """WITH words AS (SELECT DISTINCT doc_id, w AS term FROM documents,
        | unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) t(w)),
        |top AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |   list_slice(list(doc_id ORDER BY doc_id), 1, 8) AS postings
        | FROM words GROUP BY term ORDER BY df DESC, term LIMIT 50)
        |SELECT term, df, generate_subscripts(postings, 1) - 1 AS pos,
        |       unnest(postings) AS doc_id
        |FROM top ORDER BY df DESC, term, pos""".stripMargin,

    // hash reservoir: k smallest md5(doc_id) per lang
    "q_pipe_reservoir" ->
      """WITH r AS (SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents)
        |SELECT lang, doc_id, rk FROM r WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    // contiguous sequence packing at 2048 tokens: window = prefix-sum div
    // (the Spark side computes the prefix sum as a distributed two-pass
    // scan; values are identical)
    "q_pipe_packing" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> x <> '')) AS BIGINT) AS toks
        | FROM documents),
        |c AS (
        | SELECT doc_id, toks,
        |  CAST(SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - toks
        |       AS BIGINT) AS brk
        | FROM t),
        |s AS (SELECT doc_id, toks, CAST(brk // 2048 AS BIGINT) AS seq_id FROM c)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS n_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM s GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    // the composed pipeline: quality gate (same formula as
    // q_pipe_quality) → keep-first fingerprint dedup → stratified-sample
    // predicate (same rates as q_pipe_sample) → 2048-token packing (same
    // prefix sum as q_pipe_packing), chained as CTEs
    "q_pipe_e2e" ->
      s"""WITH u0 AS (SELECT doc_id, lang, text,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct
        | FROM documents),
        |u AS (SELECT doc_id, lang, text, n_chars, punct,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> x IN (${sqlList(TextOps.StopEn)}))) AS BIGINT) AS stops
        | FROM u0),
        |qg AS (SELECT doc_id, lang, text FROM u
        | WHERE n_tokens >= 20 AND
        |  round(CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 0.5
        |    + CAST(stops AS DOUBLE) / greatest(n_tokens, 1) * 0.3
        |    + (1.0 - CAST(punct AS DOUBLE) / n_chars) * 0.2, 4) >= 0.3),
        |fpc AS (SELECT doc_id, lang, text,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp FROM qg),
        |dd AS (SELECT f.* FROM fpc f
        | JOIN (SELECT fp, min(doc_id) AS doc_id FROM fpc GROUP BY fp) k
        |   ON f.fp = k.fp AND f.doc_id = k.doc_id),
        |sm AS (SELECT doc_id, text FROM dd
        | WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 <
        |  CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250
        |            WHEN 'es' THEN 125 WHEN 'fr' THEN 62 ELSE 100 END),
        |t AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS toks FROM sm),
        |c AS (SELECT doc_id, toks,
        |  CAST(SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - toks
        |       AS BIGINT) AS brk FROM t),
        |s AS (SELECT doc_id, toks, CAST(brk // 2048 AS BIGINT) AS seq_id FROM c)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS n_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM s GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    // KMV distinct-count sketch over document texts: k smallest distinct
    // 32-bit md5 prefixes; integer-exact estimate — bit-identical sketch
    // in both engines (k = 64, matching Sketch.kmvDistinctDocs)
    "q_pipe_distinct_est" ->
      """WITH h AS (
        | SELECT DISTINCT CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS hv
        | FROM documents WHERE text IS NOT NULL),
        |topk AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
        |sk AS (SELECT CAST(count(*) AS BIGINT) AS k_actual, max(hv) AS kth_hv FROM topk),
        |ex AS (SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact FROM documents)
        |SELECT k_actual, kth_hv,
        | CASE WHEN k_actual < 64 THEN k_actual
        |      ELSE (k_actual - 1) * 4294967296 // kth_hv END AS est_distinct,
        | n_exact
        |FROM sk, ex""".stripMargin,

    // the same register/rank/denominator integer math as hllDistinctDocs;
    // the single float op is division by the shared α·m²·2^25 literal
    "q_pipe_hll" ->
      """WITH r AS (
        | SELECT CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS reg,
        |        CAST(concat('0x', substr(md5(text), 3, 6)) AS BIGINT) AS w
        | FROM documents WHERE text IS NOT NULL),
        |rr AS (
        | SELECT reg,
        |        max(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS maxrank
        | FROM r GROUP BY reg),
        |s AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_occ,
        |        CAST(sum(CAST(1 AS BIGINT) << CAST(25 - maxrank AS INT)) AS BIGINT) AS s_occ
        | FROM rr),
        |ex AS (SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact FROM documents)
        |SELECT CAST(256 AS BIGINT) AS m, n_occ,
        | s_occ + (256 - n_occ) * 33554432 AS s_scaled,
        | CAST(floor(1579498136381.3938 /
        |   CAST(s_occ + (256 - n_occ) * 33554432 AS DOUBLE)) AS BIGINT) AS est_hll,
        | CASE WHEN n_occ < 256 AND
        |   CAST(floor(1579498136381.3938 /
        |     CAST(s_occ + (256 - n_occ) * 33554432 AS DOUBLE)) AS BIGINT) < 640
        |  THEN 'linear_counting' ELSE 'raw' END AS regime,
        | n_exact
        |FROM s, ex""".stripMargin,

    // same tokenization as vocab/bigrams; integer-exact scaled inverse
    // probability, trained on the full corpus, scored on doc_id < 200
    "q_pipe_lm_score" ->
      """WITH base AS (
        | SELECT doc_id, lang,
        |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        | FROM documents WHERE text IS NOT NULL),
        |uni AS (
        | SELECT w, count(*) AS c1 FROM base, unnest(l) t(w) GROUP BY w),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bgs AS (
        | SELECT doc_id, lang, bg FROM base,
        |  unnest(list_transform(l[1:len(l)-1], (x, i) -> x || ' ' || l[i+1])) t(bg)),
        |bi AS (SELECT bg, count(*) AS c2 FROM bgs GROUP BY bg),
        |sc AS (
        | SELECT b.doc_id, b.lang,
        |        ((u.c1 + v.v) * 1000000) // (bi.c2 + 1) AS inv
        | FROM bgs b
        | JOIN bi USING (bg)
        | JOIN uni u ON u.w = string_split(b.bg, ' ')[1]
        | CROSS JOIN v
        | WHERE b.doc_id < 200)
        |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
        | CAST(sum(inv) // count(*) AS BIGINT) AS ppl_proxy
        |FROM sc GROUP BY doc_id, lang
        |ORDER BY ppl_proxy ASC, doc_id LIMIT 25""".stripMargin,

    // a partition-pruned read of the partitionBy(lang) layout must equal
    // a plain filtered scan of the source table
    "q_pipe_partitioned" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,

    // both engines implement plain (unit-cost) Levenshtein edit distance
    "q_pipe_editdist" ->
      """WITH d AS (
        | SELECT doc_id, lang, substr(text, 1, 120) AS t
        | FROM documents WHERE doc_id < 300),
        |w AS (
        | SELECT lang, doc_id,
        |        lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS next_id,
        |        t, lead(t) OVER (PARTITION BY lang ORDER BY doc_id) AS nt
        | FROM d)
        |SELECT lang, doc_id, next_id, CAST(levenshtein(t, nt) AS BIGINT) AS dist
        |FROM w WHERE nt IS NOT NULL
        |ORDER BY lang, doc_id""".stripMargin,

    // the two-phase heavy hitter result must equal the exact top-k
    "q_pipe_heavy" ->
      """SELECT w AS term, CAST(count(*) AS BIGINT) AS cnt
        |FROM documents,
        | unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) t(w)
        |GROUP BY w ORDER BY cnt DESC, term LIMIT 50""".stripMargin,

    "q_pipe_profile" ->
      """WITH p AS (
        | SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |  count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_s, CAST(max(o_orderkey) AS VARCHAR) AS max_s
        | FROM orders
        | UNION ALL
        | SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
        | UNION ALL
        | SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM orders
        | UNION ALL
        | SELECT 'o_orderdate', count(*), count(o_orderdate), count(DISTINCT o_orderdate),
        |  CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM orders
        | UNION ALL
        | SELECT 'o_orderpriority', count(*), count(o_orderpriority), count(DISTINCT o_orderpriority),
        |  CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM orders)
        |SELECT column_name, CAST(n_rows AS BIGINT) AS n_rows,
        | CAST(n_nonnull AS BIGINT) AS n_nonnull,
        | CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s
        |FROM p ORDER BY column_name""".stripMargin,

    // same pinned register math as q_pipe_hll, grouped
    "q_pipe_hll_group" ->
      """WITH r AS (
        | SELECT event_type,
        |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS reg,
        |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 3, 6)) AS BIGINT) AS w
        | FROM events WHERE user_id IS NOT NULL),
        |rr AS (
        | SELECT event_type, reg,
        |        max(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS maxrank
        | FROM r GROUP BY 1, 2),
        |s AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_occ,
        |        CAST(sum(CAST(1 AS BIGINT) << CAST(25 - maxrank AS INT)) AS BIGINT) AS s_occ
        | FROM rr GROUP BY 1),
        |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |       FROM events GROUP BY 1)
        |SELECT s.event_type,
        | s_occ + (256 - n_occ) * 33554432 AS s_scaled,
        | CAST(floor(1579498136381.3938 /
        |   CAST(s_occ + (256 - n_occ) * 33554432 AS DOUBLE)) AS BIGINT) AS est_distinct,
        | ex.n_exact
        |FROM s JOIN ex ON s.event_type = ex.event_type
        |ORDER BY s.event_type""".stripMargin,

    // q8 quantization exactly as q_pipe_knn_q8, then the md5-Rademacher
    // matrix applied with integer sums (exact in doubles at any order)
    "q_pipe_rproj" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |z AS (SELECT vec_id, list_transform(v,
        |  x -> CASE WHEN ma = 0 THEN 0.0 ELSE round(x * (127.0 / ma)) END) AS qv FROM q
        |  WHERE vec_id < 40),
        |sgn AS (SELECT d, j,
        |  CASE WHEN CAST(concat('0x',
        |    substr(md5(concat(CAST(j AS VARCHAR), '_', CAST(d AS VARCHAR))), 1, 1)) AS INT) < 8
        |   THEN 1 ELSE -1 END AS s
        | FROM range(16) t1(d), range(64) t2(j)),
        |ux AS (SELECT vec_id, CAST(u.e.x AS BIGINT) AS x, u.e.j AS j
        |  FROM (SELECT vec_id,
        |     unnest(list_transform(qv, (x, i) -> {'x': x, 'j': i - 1})) AS e
        |   FROM z) u),
        |pr AS (SELECT vec_id, sgn.d, CAST(sum(x * sgn.s) AS BIGINT) AS p
        |  FROM ux JOIN sgn ON sgn.j = ux.j GROUP BY 1, 2)
        |SELECT vec_id, CAST(d AS INT) AS d, p
        |FROM pr ORDER BY vec_id, d""".stripMargin,

    // the same q8 quantization, then every (i ≤ j) pair product summed
    "q_pipe_gram" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |z AS (SELECT vec_id, list_transform(v,
        |  x -> CASE WHEN ma = 0 THEN 0.0 ELSE round(x * (127.0 / ma)) END) AS qv FROM q),
        |pairs AS (SELECT a.i AS i, b.j AS j
        |  FROM range(16) a(i), range(16) b(j) WHERE b.j >= a.i),
        |t AS (SELECT p.i, p.j,
        |   CAST(qv[p.i + 1] * qv[p.j + 1] AS BIGINT) AS pr,
        |   CAST(qv[p.i + 1] AS BIGINT) AS qi,
        |   CAST(qv[p.j + 1] AS BIGINT) AS qj
        |  FROM z, pairs p)
        |SELECT i, j, CAST(sum(pr) AS BIGINT) AS g,
        | CAST(sum(qi) AS BIGINT) AS s_i, CAST(sum(qj) AS BIGINT) AS s_j,
        | count(*) AS n_vecs
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // 3 unrolled integer-exact PageRank rounds; floor divisions and
    // integer sums make each round engine-identical
    // positions self-join in the oracle (DuckDB can afford it); the
    // Spark side generates pairs row-locally from the token array
    "q_pipe_pairs" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        | FROM documents),
        |pos AS (
        | SELECT doc_id, ts[CAST(i + 1 AS BIGINT)] AS w, i
        | FROM toks, unnest(range(len(ts))) r(i)),
        |p AS (
        | SELECT a.w AS center, b.w AS context
        | FROM pos a JOIN pos b
        |  ON a.doc_id = b.doc_id AND abs(a.i - b.i) BETWEEN 1 AND 2)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2
        |ORDER BY cnt DESC, center, context LIMIT 50""".stripMargin,

    // id-ordered 3-way join — counts each triangle once at its lowest id,
    // which equals the degree-oriented count (both count unordered
    // triangles exactly once)
    "q_pipe_triangles" ->
      """WITH l AS (
        | SELECT l_orderkey o, l_partkey p FROM lineitem WHERE l_quantity >= 45),
        |e AS (
        | SELECT DISTINCT a.p u, b.p v FROM l a JOIN l b ON a.o = b.o AND a.p < b.p),
        |n AS (
        | SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_nodes
        | FROM (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)),
        |t AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_triangles
        | FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT (SELECT n_nodes FROM n) AS n_nodes,
        |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |       (SELECT n_triangles FROM t) AS n_triangles""".stripMargin,

    "q_pipe_pagerank" ->
      """WITH b AS (
        | SELECT DISTINCT user_id AS u,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) + 1000000 AS i
        | FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |ed AS (SELECT u AS src, i AS dst FROM b UNION ALL SELECT i, u FROM b),
        |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS id FROM ed),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT ed.dst AS id, sum(r0.r // dg.deg) AS cs
        |       FROM ed JOIN r0 ON r0.id = ed.src JOIN dg ON dg.src = ed.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.id, 150000 + (85 * COALESCE(c1.cs, 0)) // 100 AS r
        |       FROM nodes n LEFT JOIN c1 ON c1.id = n.id),
        |c2 AS (SELECT ed.dst AS id, sum(r1.r // dg.deg) AS cs
        |       FROM ed JOIN r1 ON r1.id = ed.src JOIN dg ON dg.src = ed.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.id, 150000 + (85 * COALESCE(c2.cs, 0)) // 100 AS r
        |       FROM nodes n LEFT JOIN c2 ON c2.id = n.id),
        |c3 AS (SELECT ed.dst AS id, sum(r2.r // dg.deg) AS cs
        |       FROM ed JOIN r2 ON r2.id = ed.src JOIN dg ON dg.src = ed.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.id, 150000 + (85 * COALESCE(c3.cs, 0)) // 100 AS r
        |       FROM nodes n LEFT JOIN c3 ON c3.id = n.id)
        |SELECT id, CASE WHEN id >= 1000000 THEN 'item' ELSE 'user' END AS kind,
        | CAST(r AS BIGINT) AS r
        |FROM r3 ORDER BY r DESC, id LIMIT 30""".stripMargin,

    "q_pipe_funnel" ->
      """WITH e AS (
        | SELECT user_id, event_type,
        |        CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_s
        | FROM events),
        |v AS (SELECT user_id, min(ts_s) AS v_ts FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts_s) AS c_ts
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts_s >= v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts_s) AS p_ts
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts_s >= c.c_ts GROUP BY 1)
        |SELECT nv AS n_view, nc AS n_click, np AS n_purchase,
        | nc * 1000 // nv AS click_pm, np * 1000 // nc AS purchase_pm
        |FROM (SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS nv,
        |             (SELECT CAST(count(*) AS BIGINT) FROM c) AS nc,
        |             (SELECT CAST(count(*) AS BIGINT) FROM p) AS np) t""".stripMargin,

    "q_pipe_cohort" ->
      """WITH e AS (
        | SELECT user_id,
        |        CAST(epoch_ns(ts) // 1000000000 AS BIGINT) // 604800 AS w
        | FROM events),
        |w0 AS (SELECT min(w) AS w0 FROM e),
        |cu AS (SELECT user_id, min(w) AS cw FROM e GROUP BY 1),
        |aw AS (SELECT DISTINCT user_id, w FROM e)
        |SELECT cu.cw - (SELECT w0 FROM w0) AS cohort_week,
        |       aw.w - cu.cw AS week_offset,
        |       CAST(count(DISTINCT aw.user_id) AS BIGINT) AS n_users
        |FROM aw JOIN cu ON aw.user_id = cu.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // count-of-counts over term frequencies, ascending cnt
    "q_pipe_freq_spectrum" ->
      """WITH tc AS (
        | SELECT w AS term, count(*) AS cnt
        | FROM documents,
        |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) t(w)
        | GROUP BY w)
        |SELECT cnt, CAST(count(*) AS BIGINT) AS n_terms
        |FROM tc GROUP BY cnt ORDER BY cnt LIMIT 50""".stripMargin,

    // count–min sketch replicated cell-for-cell: same md5 bucket hash,
    // same 4×1024 table, min over depths per query term
    "q_pipe_cms" ->
      """WITH toks AS (
        | SELECT w FROM documents,
        |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) t(w)),
        |ds AS (SELECT unnest(range(4)) AS j),
        |sk AS (
        | SELECT j, CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', w)), 1, 8)) AS BIGINT) % 1024 AS bucket,
        |        count(*) AS cnt
        | FROM toks, ds GROUP BY 1, 2),
        |qt AS (SELECT DISTINCT w FROM toks WHERE length(w) >= 5 ORDER BY w LIMIT 20),
        |qb AS (
        | SELECT q.w AS term, ds.j AS j,
        |  CAST(concat('0x', substr(md5(concat(CAST(ds.j AS VARCHAR), ':', q.w)), 1, 8)) AS BIGINT) % 1024 AS bucket
        | FROM qt q CROSS JOIN ds),
        |est AS (
        | SELECT qb.term, min(COALESCE(sk.cnt, 0)) AS est
        | FROM qb LEFT JOIN sk ON sk.j = qb.j AND sk.bucket = qb.bucket
        | GROUP BY 1),
        |ex AS (SELECT w AS term, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY 1)
        |SELECT e.term, e.est, x.exact_cnt
        |FROM est e JOIN ex x USING (term) ORDER BY term""".stripMargin,

    // boilerplate segments: 3-token non-overlapping units, df >= 20
    "q_pipe_boilerplate" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        | FROM documents),
        |segs AS (
        | SELECT doc_id, array_to_string(ts[(i*3 + 1):(i*3 + 3)], ' ') AS seg
        | FROM toks, unnest(range(CAST(floor(len(ts)/3) AS BIGINT))) r(i)),
        |boiler AS (
        | SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM segs)
        | GROUP BY seg HAVING count(*) >= 20),
        |pd AS (
        | SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_boiler
        | FROM segs s JOIN boiler b USING (seg) GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(floor(len(ts)/3) AS BIGINT) AS n_seg,
        |  COALESCE(pd.n_boiler, 0) AS n_boiler,
        |  len(ts) - 3 * COALESCE(pd.n_boiler, 0) AS n_tokens_clean
        |FROM toks t LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,

    // top-100 vocabulary by raw token frequency, tie-break by word
    "q_pipe_vocab" ->
      """SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
        |FROM documents,
        | unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) t(w)
        |GROUP BY w ORDER BY cnt DESC, word LIMIT 100""".stripMargin,

    // same tokenization as vocab; idf as a single exactly-rounded division
    // BM25 mirror: same exact-constant tf part (11·tf / (5·tf + 1.5 +
    // 4.5·dl/avgdl)), same ln(1 + (N−df+0.5)/(df+0.5)) idf, same
    // round(·10⁶) per-term integer quantization before the order-free sum
    "q_pipe_bm25" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  (1, 'hash join merge'), (2, 'slow scan filter row'),
        |  (3, 'customer order line value'), (4, 'vector batch stream window')),
        |qt AS (SELECT DISTINCT query_id, w AS term FROM q,
        |  unnest(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'),
        |    x -> x <> '')) t(w)),
        |toks AS (SELECT doc_id, w AS term FROM documents,
        |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) t(w)),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |             (SELECT sum(dl) FROM dl) AS total_len),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        | SELECT qt.query_id, tf.doc_id,
        |  CAST(sum(CAST(round(
        |    ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0)) *
        |    ((tf * 11) / (tf * 5 + 1.5e0 + 4.5e0 * dl / (CAST(total_len AS DOUBLE) / n_docs)))
        |    * 1e6) AS BIGINT)) AS BIGINT) AS score_q,
        |  count(*) AS n_hit
        | FROM tf JOIN dfq USING (term) JOIN qt USING (term)
        |  JOIN dl USING (doc_id), c
        | GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, score_q, n_hit FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY score_q DESC, doc_id) AS rank FROM sc) r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // lexical branch ≡ the q_pipe_bm25 oracle as a CTE; semantic branch
    // ≡ the knn pattern over vec_id IN (1,2,3,4); fusion = integer RRF
    "q_pipe_hybrid" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  (1, 'hash join merge'), (2, 'slow scan filter row'),
        |  (3, 'customer order line value'), (4, 'vector batch stream window')),
        |qt AS (SELECT DISTINCT query_id, w AS term FROM q,
        |  unnest(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'),
        |    x -> x <> '')) t(w)),
        |dtoks AS (SELECT doc_id, w AS term FROM documents,
        |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) t(w)),
        |dl AS (SELECT doc_id, count(*) AS dl FROM dtoks GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |             (SELECT sum(dl) FROM dl) AS total_len),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM dtoks
        |       WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        | SELECT qt.query_id, tf.doc_id,
        |  CAST(sum(CAST(round(
        |    ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0)) *
        |    ((tf * 11) / (tf * 5 + 1.5e0 + 4.5e0 * dl / (CAST(total_len AS DOUBLE) / n_docs)))
        |    * 1e6) AS BIGINT)) AS BIGINT) AS score_q
        | FROM tf JOIN dfq USING (term) JOIN qt USING (term)
        |  JOIN dl USING (doc_id), c
        | GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id, rank AS lex_rank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_q DESC, doc_id) AS rank FROM sc) z WHERE rank <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT q2.vec_id AS query_id, t.vec_id AS doc_id,
        |        list_dot_product(q2.v, t.v) / (q2.nrm * t.nrm) AS sim
        |      FROM n q2, n t
        |      WHERE q2.vec_id IN (1, 2, 3, 4) AND t.vec_id <> q2.vec_id),
        |sem AS (SELECT query_id, doc_id, rank AS sem_rank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, doc_id) AS rank FROM p) z WHERE rank <= 10),
        |f AS (SELECT query_id, doc_id,
        |        coalesce(1000000 // (60 + lex_rank), 0) +
        |        coalesce(1000000 // (60 + sem_rank), 0) AS rrf_q,
        |        coalesce(lex_rank, 0) AS lex_rank,
        |        coalesce(sem_rank, 0) AS sem_rank
        |      FROM lex FULL OUTER JOIN sem USING (query_id, doc_id))
        |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
        | CAST(rrf_q AS BIGINT) AS rrf_q,
        | CAST(lex_rank AS BIGINT) AS lex_rank,
        | CAST(sem_rank AS BIGINT) AS sem_rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY rrf_q DESC, doc_id) AS rank FROM f) z
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_pipe_tfidf" ->
      """WITH toks AS (
        | SELECT doc_id, w AS term
        | FROM documents,
        |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) t(w)
        | WHERE doc_id < 100),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |s AS (
        | SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC, tf.term) AS rank
        | FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, score, rank FROM s WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // bigrams: DuckDB 1-based list lambda index pairs l[i] with l[i+1]
    "q_pipe_bigrams" ->
      """WITH toks AS (
        | SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        | FROM documents)
        |SELECT bg AS bigram, CAST(count(*) AS BIGINT) AS cnt
        |FROM toks,
        | unnest(list_transform(l[1:len(l)-1], (x, i) -> x || ' ' || l[i+1])) t(bg)
        |GROUP BY bg ORDER BY cnt DESC, bigram LIMIT 50""".stripMargin,

    "q_pipe_topdocs" ->
      """WITH r AS (
        | SELECT lang, source, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY lang, source
        |          ORDER BY n_chars DESC, doc_id) AS rank
        | FROM documents)
        |SELECT lang, source, doc_id, n_chars, rank FROM r WHERE rank <= 3
        |ORDER BY lang, source, rank""".stripMargin,

    // the salted two-stage aggregation must equal the direct GROUP BY
    "q_pipe_salted" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(min(n_chars) AS BIGINT) AS min_chars,
        | CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // type-1 (discrete) quantile: the element at row ceil(p*n) of the
    // per-group sort — integer-exact, no interpolation float math
    "q_pipe_quantiles" ->
      """WITH r AS (
        | SELECT lang, n_chars,
        |        row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rnk,
        |        count(*) OVER (PARTITION BY lang) AS n
        | FROM documents)
        |SELECT lang, CAST(p AS DOUBLE) AS p, n_chars AS q
        |FROM r, unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) t(p)
        |WHERE rnk = CAST(ceil(p * n) AS BIGINT)
        |ORDER BY lang, p""".stripMargin,

    "q_pipe_sessions" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |        CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_s
        | FROM events WHERE user_id < 50),
        |g AS (
        | SELECT *,
        |  CASE WHEN lag(ts_s) OVER w IS NULL
        |         OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |s AS (
        | SELECT *, CAST(SUM(new_session) OVER
        |   (PARTITION BY user_id ORDER BY ts_s, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        | FROM g)
        |SELECT user_id, session_no, count(*) AS n_events,
        |       count(DISTINCT event_type) AS n_types,
        |       max(ts_s) - min(ts_s) AS duration_s
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    // mirrors the PPM construction: width/height from n_chars, n_bytes =
    // header length (digit counts vary!) + 3-byte raster
    "q_pipe_multimodal" ->
      """WITH m AS (SELECT doc_id,
        | CAST(n_chars % 64 + 1 AS BIGINT) AS width,
        | CAST((n_chars * 7) % 48 + 1 AS BIGINT) AS height,
        | CAST(1 AS BIGINT) AS n_frames
        |FROM documents),
        |b AS (SELECT *,
        | CAST(length(concat('P6', chr(10), CAST(width AS VARCHAR), ' ',
        |   CAST(height AS VARCHAR), chr(10), '255', chr(10)))
        |   + width * height * 3 AS BIGINT) AS n_bytes
        |FROM m)
        |SELECT doc_id, n_bytes, width, height, n_frames,
        | (width * 224) // greatest(greatest(width, height), 1) AS out_w,
        | (height * 224) // greatest(greatest(width, height), 1) AS out_h,
        | (n_frames + 2) // 3 AS n_sampled
        |FROM b ORDER BY doc_id""".stripMargin,

    // PNG encode→decode roundtrip: the Spark side runs real ImageIO
    // codecs; the oracle recomputes the deterministic dimensions
    "q_pipe_multimodal_img" ->
      """SELECT doc_id,
        | CAST(doc_id % 64 + 1 AS BIGINT) AS width,
        | CAST(doc_id % 48 + 1 AS BIGINT) AS height,
        | CAST(1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // MP4 box-walk roundtrip: the Spark side parses real ISO-BMFF boxes;
    // the oracle recomputes the deterministic builder arithmetic
    "q_pipe_multimodal_video" ->
      """SELECT doc_id,
        | CAST(doc_id % 128 + 16 AS BIGINT) AS width,
        | CAST((doc_id * 3) % 96 + 16 AS BIGINT) AS height,
        | CAST(doc_id % 24 + 1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the synthetic generator's closed form, replayed over range(n)
    "q_pipe_multimodal_audio" ->
      """WITH d AS (
        | SELECT doc_id, n_chars,
        |  8000 * (1 + doc_id % 3) AS rate,
        |  n_chars % 300 + 50 AS n
        | FROM documents),
        |s AS (
        | SELECT doc_id, abs(((n_chars * 131 + i * 17) % 4096) - 2048) AS a
        | FROM d, unnest(range(n)) r(i)),
        |f AS (SELECT doc_id, CAST(sum(a) AS BIGINT) AS energy,
        |       CAST(max(a) AS BIGINT) AS peak
        |      FROM s GROUP BY 1)
        |SELECT d.doc_id, CAST(rate AS BIGINT) AS sample_rate,
        | CAST(1 AS BIGINT) AS n_channels, CAST(n AS BIGINT) AS n_samples,
        | CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
        | f.energy, f.peak
        |FROM d JOIN f USING (doc_id) ORDER BY doc_id""".stripMargin)
}
