package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: every step is shuffle-bounded by (doc, token) or by LSH
  * bucket — never all-pairs. Candidate generation is banded LSH
  * (shingle → minhash → band → bucket equi-join), so the quadratic step
  * only runs inside buckets. Hashing uses md5 hex strings compared
  * lexicographically — deterministic and engine-portable (the DuckDB
  * oracle computes the identical signatures).
  */
object Dedup {

  /** (doc_id, word) pairs, distinct — the word-set representation.
    * Fan-out first: tokenization is CPU-bound row-local work whose
    * parallelism is otherwise capped by the corpus file count
    * (guide §2.5; FanOut is a no-op when the scan is already wide). */
  def wordSets(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.operators.FanOut.byKey(docs, col(idCol))
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("word")).distinct()

  /** (doc_id, shingle) pairs: character n-gram shingles over the
    * whitespace-normalized lowercase text — far more discriminative than
    * word sets when the vocabulary is small. NOT deduplicated: min-based
    * signatures are insensitive to duplicates, and skipping the distinct
    * removes a full shuffle (the min aggregate combines map-side). */
  def shingleSets(docs: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // materialize the normalized text in its own projection: inlined into
    // the transform lambda it would re-run the regex PER SHINGLE (O(len)
    // regex × len shingles per doc — measured 15 s of the novelty gate's
    // 18 s at sf0.1; one regex per row after this split)
    // Fan-out first: shingling is CPU-bound and the gate corpus arrives
    // as ONE parquet split, serializing the whole explode on one core
    // (q_pipe_novelty: 4.4 s in two sequential single-task stages).
    graft.operators.FanOut.byKey(docs, col(idCol))
      .select(col(idCol),
        trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " ")).as("_norm"))
      .select(col(idCol), explode(transform(
        sequence(lit(1), greatest(length(col("_norm")) - (n - 1), lit(1))),
        i => col("_norm").substr(i, lit(n)))).as("word"))
  }

  /** Exact-dup statistics over the raw text. */
  def exactStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col(textCol)).as("n_unique"),
      (count(lit(1)) - countDistinct(col(textCol))).as("n_dups"))

  /** k-component MinHash signature per document. Components are
    * lexicographic mins of 8-hex-char (32-bit) slices of md5 digests —
    * ceil(k/4) md5 evaluations per shingle instead of k (md5 dominates
    * signature cost at scale; 32-bit slices keep collision rates low for
    * realistic shingle-set sizes). */
  def minHashSignatures(words: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map { i =>
      val digest =
        if (i < 4) md5(col("word"))
        else md5(concat(lit("x" * (i / 4)), col("word")))
      min(substring(digest, (i % 4) * 8 + 1, 8)).as(s"sig$i")
    }
    words.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Same signatures as minHashSignatures(shingleSets(docs), 8), computed
    * in one mapPartitions pass: per-doc shingling + hashing in a tight
    * loop with a reused MessageDigest, emitting ONE row per document.
    * Measured ~10× over the explode→md5-expression→groupBy plan (which
    * shuffles one row per shingle and re-instantiates the digest per
    * call) — this is the deliberate mapPartitions exception for genuinely
    * per-partition imperative logic. */
  def minHashSignaturesFast(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // fan-out before the signature loop: the md5 walk is pure CPU and a
    // single-file corpus otherwise hashes on one core (guide §2.5)
    graft.operators.FanOut.byKey(docs, col("doc_id"))
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // 8-hex-char digest slices compare lexicographically exactly like
        // their 4 big-endian bytes compare UNSIGNED — so the loop tracks
        // unsigned-int minima (zero allocation per shingle: the digest runs
        // over a slice of the ascii norm buffer, no substring/hex/getBytes)
        // and formats hex once per document. Identical output to the
        // string formulation, same md5 math as the DuckDB oracle.
        def be32(d: Array[Byte], o: Int): Int =
          ((d(o) & 0xff) << 24) | ((d(o + 1) & 0xff) << 16) |
            ((d(o + 2) & 0xff) << 8) | (d(o + 3) & 0xff)
        it.map { case (id, text) =>
          // identical normalization to shingleSets: [^a-z0-9]+ → ' ', trim
          val norm = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
          val nb = norm.getBytes("UTF-8") // pure ascii post-normalization
          val mins = Array.fill(8)(-1) // 0xFFFFFFFF = unsigned max sentinel
          val len = nb.length
          val nPos = math.max(len - 4, 1)
          var i = 0
          while (i < nPos) {
            val sl = math.min(5, len - i)
            md.reset(); md.update(nb, i, sl)
            val d1 = md.digest()
            md.reset(); md.update('x'.toByte); md.update(nb, i, sl)
            val d2 = md.digest()
            var s = 0
            while (s < 4) {
              val v1 = be32(d1, 4 * s)
              if (java.lang.Integer.compareUnsigned(v1, mins(s)) < 0) mins(s) = v1
              val v2 = be32(d2, 4 * s)
              if (java.lang.Integer.compareUnsigned(v2, mins(4 + s)) < 0) mins(4 + s) = v2
              s += 1
            }
            i += 1
          }
          def hex8(v: Int): String = f"${v & 0xffffffffL}%08x"
          (id, hex8(mins(0)), hex8(mins(1)), hex8(mins(2)), hex8(mins(3)),
            hex8(mins(4)), hex8(mins(5)), hex8(mins(6)), hex8(mins(7)))
        }
      }
      .toDF("doc_id", "sig0", "sig1", "sig2", "sig3", "sig4", "sig5", "sig6", "sig7")
  }

  /** LSH candidate pairs: signatures banded (2 components per band);
    * documents sharing any band bucket become a candidate pair (a < b).
    * Shingle-based (char 5-grams) — see shingleSets.
    *
    * Buckets larger than `maxBucketSize` are dropped before the self-join:
    * an oversized bucket is non-discriminative (its key hashes boilerplate
    * shared by a large fraction of the corpus) and is exactly what turns
    * banded LSH quadratic at scale. The cap bounds join output to
    * O(buckets · maxBucketSize²). */
  def minHashCandidatePairs(docs: DataFrame, k: Int = 8,
      maxBucketSize: Int = 32): DataFrame =
    minHashCandidatePairsUnordered(docs, k, maxBucketSize).orderBy("a", "b")

  /** minHashCandidatePairs without the final global sort — for consumers
    * that immediately reshuffle (e.g. duplicateClusters), where the sort
    * is pure waste. */
  def minHashCandidatePairsUnordered(docs: DataFrame, k: Int = 8,
      maxBucketSize: Int = 32): DataFrame = {
    require(k == 8, "the fast signature path is fixed at k=8")
    val buckets = bandBuckets(docs)
    // bucket-size cap as a COUNT OVER WINDOW on (band, key): the size
    // filter then rides the SAME shuffle that clusters the self-join, so
    // the signature pass — the expensive part — runs once. (The previous
    // groupBy-then-join shape shuffled the bucket stream twice and
    // re-fingerprinted the corpus under each exchange.)
    val wBsz = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
    val kept = buckets
      .withColumn("bsz", count(lit(1)).over(wBsz))
      .filter(col("bsz") <= maxBucketSize && col("bsz") > 1)
      .select("band", "key", "doc_id")
    val l = kept.select(col("band"), col("key"), col("doc_id").as("a"))
    val r = kept.select(col("band"), col("key"), col("doc_id").as("b"))
    l.join(r, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** (doc_id, band, key) LSH band buckets: the 8-component fast MinHash
    * signature split into 4 bands of 2 components each. Shared by the
    * batch self-join (minHashCandidatePairs) and the incremental probe
    * (dedupeNewBatch). */
  private def bandBuckets(docs: DataFrame): DataFrame = {
    val sigs = minHashSignaturesFast(docs)
    val bands = (0 until 4).map(b =>
      struct(lit(b).as("band"), concat(col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")).as("key")))
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** Incremental dedup: flag documents of a NEW batch that duplicate an
    * EXISTING corpus — the per-crawl ingestion shape. A naive approach
    * re-deduplicates corpus ∪ batch from scratch (corpus × corpus work
    * on every increment); here the corpus is only FINGERPRINTED and
    * BUCKETED, and all pairwise work is batch-sided:
    *
    *  - exact: the batch's normalization fingerprints left-join the
    *    corpus's distinct fingerprint set (at scale: a join against the
    *    persisted fingerprint index, built once per corpus);
    *  - near: the batch's LSH band buckets probe the corpus's buckets —
    *    batch × corpus only, never corpus × corpus — with the corpus
    *    side capped at `maxBucketSize` per bucket (an oversized corpus
    *    bucket is boilerplate, and the cap bounds probe output to
    *    O(batch bands · maxBucketSize)).
    *
    * Returns one row per batch document: (doc_id, is_exact_dup ∈ {0,1},
    * n_near_corpus = distinct corpus docs sharing ≥ 1 band bucket). */
  def dedupeNewBatch(corpus: DataFrame, batch: DataFrame,
      maxBucketSize: Int = 32): DataFrame = {
    // coalesce on the CORPUS side only: as the right side of the left
    // join it gets an inferred IsNotNull(fp) that substitution turns into
    // a second regexp+md5 pass over the whole corpus. Join-identical: ""
    // never equals an md5 hex or a null batch fp, so null-text corpus
    // rows still match nothing (md5("") is a 32-char hex, not "").
    val corpusFp = corpus
      .select(coalesce(TextOps.fingerprint(col("text")), lit("")).as("fp"))
      .distinct()
      .withColumn("hit", lit(1L))
    val exact = batch
      .select(col("doc_id").cast("long").as("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
      .join(corpusFp, Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("is_exact_dup"))
    // same single-shuffle cap as minHashCandidatePairsUnordered: the
    // corpus is fingerprinted once, not once per consumer
    val wBsz = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
    val corpusKept = bandBuckets(corpus)
      .withColumn("bsz", count(lit(1)).over(wBsz))
      .filter(col("bsz") <= maxBucketSize)
      .select(col("band"), col("key"), col("doc_id").as("corpus_id"))
    val near = bandBuckets(batch)
      .join(corpusKept, Seq("band", "key"))
      .groupBy("doc_id")
      .agg(countDistinct(col("corpus_id")).as("n_near_corpus"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("n_near_corpus"), lit(0L)).as("n_near_corpus"))
      .orderBy("doc_id")
  }

  /** Materialize the near-dup-CLEANED corpus: candidate pairs → connected
    * components → keep exactly one representative (the min doc_id, i.e.
    * the cluster label) per cluster plus every unclustered doc. The
    * sibling of `duplicateClusters` that answers "which docs survive"
    * instead of "who groups with whom" — the last step a dedup pipeline
    * actually ships.
    *
    * Scale shape: inherits the pair/cluster costs; the apply step itself
    * is one anti-join on doc_id against the O(#duplicate-docs) loser
    * frame — no text moves. */
  def dedupApply(docs: DataFrame, maxBucketSize: Int = 32): DataFrame = {
    val clusters = duplicateClusters(
      minHashCandidatePairsUnordered(docs, k = 8, maxBucketSize))
    val losers = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(losers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Persist the corpus side of [[dedupeNewBatch]] once, so continuous
    * ingest probes an INDEX instead of re-fingerprinting and re-bucketing
    * the whole corpus every batch (the IVF build/serve split, for dedup):
    *   `fps/`      distinct normalization fingerprints
    *   `buckets/`  (band, key, corpus_id, bsz) — bsz precomputed per
    *               bucket so serve-time capping is a filter, not a
    *               corpus-wide re-count.
    * At 100 TB the index is a fraction of corpus bytes (two narrow
    * columns + 4 band rows per doc) and is written corpus-parallel. */
  def dedupIndexBuild(corpus: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    corpus.select(TextOps.fingerprint(col("text")).as("fp")).distinct()
      .write.mode("overwrite").parquet(s"$path/fps")
    bandBuckets(corpus)
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("band", "key")))
      .select(col("band"), col("key"), col("doc_id").as("corpus_id"),
        col("bsz"))
      .write.mode("overwrite").parquet(s"$path/buckets")
  }

  /** [[dedupeNewBatch]] served from a [[dedupIndexBuild]] index —
    * bit-identical output (same fingerprints, same band buckets, same
    * cap rule), the corpus is never touched. */
  def dedupeNewBatchServe(batch: DataFrame, indexPath: String,
      maxBucketSize: Int = 32): DataFrame = {
    val spark = batch.sparkSession
    val corpusFp = spark.read.parquet(s"$indexPath/fps")
      .withColumn("hit", lit(1L))
    val exact = batch
      .select(col("doc_id").cast("long").as("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
      .join(corpusFp, Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("is_exact_dup"))
    val corpusKept = spark.read.parquet(s"$indexPath/buckets")
      .filter(col("bsz") <= maxBucketSize)
      .select("band", "key", "corpus_id")
    val near = bandBuckets(batch)
      .join(corpusKept, Seq("band", "key"))
      .groupBy("doc_id")
      .agg(countDistinct(col("corpus_id")).as("n_near_corpus"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("n_near_corpus"), lit(0L)).as("n_near_corpus"))
      .orderBy("doc_id")
  }

  /** Sub-document (chunk-level) exact dedup: each document is segmented
    * into fixed `windowTokens`-token windows (non-overlapping, partial
    * tail kept — the standard chunking when the corpus has no natural
    * paragraph breaks), every window is md5-fingerprinted, and a window
    * is a duplicate iff the same fingerprint occurred EARLIER in corpus
    * order (an earlier doc, or earlier in the same doc) — the keep-first
    * rule of paragraph-dedup pipelines (C4/RefinedWeb shape). Returns
    * per-doc (n_windows, n_dup_windows) for downstream filtering or
    * window dropping.
    *
    * Scale shape: windows shuffle ONCE on their fingerprint with
    * map-side-combinable min; the first-occurrence key is an encoded
    * long (doc_id · 2^20 + window index), so no struct comparisons and
    * the oracle mirrors it with plain integer arithmetic. Everything
    * else is row-local array math. */
  def windowDedup(docs: DataFrame, windowTokens: Int = 20): DataFrame = {
    val wins = tokenWindows(docs, windowTokens)
      .select(col("doc_id"), col("w_idx"), col("ord"), col("whash"))
    // first-occurrence via a window MIN over the fingerprint — one
    // shuffle on whash and one corpus scan, where a groupBy + self-join
    // formulation scans the windows twice and shuffles three times
    // (plan-audited). Partition sizes = duplicates per fingerprint:
    // bounded by the dup multiplicity, never by the corpus.
    val firstW = org.apache.spark.sql.expressions.Window.partitionBy("whash")
    wins
      .withColumn("first_ord", min(col("ord")).over(firstW))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("ord") > col("first_ord"), 1L).otherwise(0L))
          .as("n_dup_windows"))
      .orderBy("doc_id")
  }

  /** (doc_id, w_idx, w_text, ord, whash) token windows shared by
    * windowDedup and windowCleanedDocs: non-overlapping
    * `windowTokens`-token segments (partial tail kept), md5 fingerprint,
    * corpus order encoded as doc_id · 2^20 + w_idx.
    *
    * The packed-long encoding silently corrupts keep-first semantics
    * when a document exceeds 2^20 windows (~21M tokens at the default
    * width) or |doc_id| ≥ 2^43 (Long overflow in the multiply), so both
    * bounds are enforced ROW-LOCALLY with `raise_error` — a violation
    * fails the job loudly instead of deduping against a wrapped
    * ordering. The encoding (vs a struct min) is kept because the
    * oracle mirrors it with plain integer arithmetic. */
  private def tokenWindows(docs: DataFrame, windowTokens: Int): DataFrame = {
    require(windowTokens > 0)
    val w = windowTokens
    val ord = when(col("w_idx") >= OrdWindowCap ||
        abs(col("doc_id")) >= OrdDocIdCap,
      raise_error(concat(
        lit("graft: windowDedup ord encoding out of range (needs "),
        lit(s"w_idx < $OrdWindowCap and |doc_id| < $OrdDocIdCap): doc_id="),
        col("doc_id").cast("string"), lit(" w_idx="),
        col("w_idx").cast("string"))).cast("long"))
      .otherwise(col("doc_id") * OrdWindowCap + col("w_idx"))
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), greatest(ceil(size(col("t")).cast("double") / w)
            .cast("int") - 1, lit(0))),
          i => array_join(slice(col("t"), i * w + 1, lit(w)), " ")))
          .as(Seq("w_idx", "w_text")))
      .filter(col("w_text") =!= "") // empty doc → one empty window: drop
      .select(col("doc_id"), col("w_idx"), col("w_text"),
        ord.as("ord"), md5(col("w_text")).as("whash"))
  }

  /** ord = doc_id · 2^20 + w_idx field widths (see tokenWindows). */
  private val OrdWindowCap = 1L << 20
  private val OrdDocIdCap = 1L << 43

  /** The CLEANED corpus windowDedup implies: duplicate windows removed
    * (keep-first rule), survivors reassembled in document order. A doc
    * whose every window was seen before disappears entirely — the
    * cleaned corpus drops fully-duplicate documents. Returned as
    * (doc_id, n_kept_windows, n_kept_tokens, cleaned_fp) with the
    * reassembled text fingerprinted rather than materialized — at
    * corpus scale the cleaned text is a written artifact, and the md5
    * keeps the reassembly hash-checkable. Same single fingerprint
    * shuffle as windowDedup plus the per-doc regroup. */
  def windowCleanedDocs(docs: DataFrame, windowTokens: Int = 20): DataFrame = {
    val firstW = org.apache.spark.sql.expressions.Window.partitionBy("whash")
    tokenWindows(docs, windowTokens)
      .withColumn("first_ord", min(col("ord")).over(firstW))
      .filter(col("ord") === col("first_ord"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept_windows"),
        sum(size(split(col("w_text"), " "))).cast("long").as("n_kept_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("w_idx"), col("w_text")))),
          _.getField("w_text")), " ")).as("cleaned_fp"))
      .orderBy("doc_id")
  }

  /** Duplicated-substring statistics: per document, how many of its
    * sampled character k-grams occur elsewhere in the corpus (another
    * doc, or another offset of the same doc) — the scalable stand-in for
    * suffix-array exact-substring dedup (the "repeated ≥50-char span"
    * criterion of substring-level corpus dedup), which token-window
    * dedup ([[windowDedup]]) cannot see because its non-overlapping
    * windows miss duplicates at arbitrary offsets.
    *
    * Sampling is CONTENT-keyed, not offset-strided: every char offset
    * yields a k-gram, and a k-gram is kept iff the last hex digit of
    * its md5 falls below 16/p — identical copies of a substring are
    * therefore sampled identically at ANY offsets (an offset-stride
    * grid only matches copies aligned mod stride). A shared span of
    * length L ≥ k contains L−k+1 k-grams of which ~1/p are sampled, so
    * detection probability ≈ 1−(1−1/p)^(L−k+1) — near-certain for the
    * ≥2k spans substring dedup targets at the default p.
    *
    * Scale shape: the explode streams O(chars) candidate k-grams
    * through codegen but SHUFFLES only the 1/p sample, grouped
    * map-side-combinably on (gram, doc); corpus-wide counts ride one
    * window over the gram partition (partition size = a gram's dup
    * multiplicity, never the corpus). md5 as the sampler/fingerprint
    * keeps the op engine-portable (the oracle computes the identical
    * sample); a production variant would swap in xxhash64 for cheaper
    * hashing with the same shape.
    *
    * `p` must divide 16 (the sampler keeps 16/p of the hex alphabet);
    * p=1 disables sampling (every k-gram counted — exact, for tests and
    * small corpora). */
  def substringDupStats(docs: DataFrame, k: Int = 40, p: Int = 8): DataFrame = {
    require(k > 0, "k-gram length must be positive")
    require(p > 0 && 16 % p == 0, s"p must divide 16 (got $p)")
    val keepDigits = "0123456789abcdef".take(16 / p).map(_.toString)
    val ids = docs.select(col("doc_id").cast("long").as("doc_id"))
    // fan-out: k-gram explode + md5 sampling is CPU-bound row-local work
    // (q_pipe_dup_spans: 2.3 s single-task gram stage on one corpus file)
    val grams = graft.operators.FanOut.byKey(docs, col("doc_id"))
      .filter(length(col("text")) >= k)
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(transform(sequence(lit(1), length(col("text")) - (k - 1)),
          i => col("text").substr(i, lit(k)))).as("gram"))
      .filter(substring(md5(col("gram")), 32, 1).isin(keepDigits: _*))
    val perGramDoc = grams.groupBy("gram", "doc_id")
      .agg(count(lit(1)).as("cnt"))
    val corpusW = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    val stats = perGramDoc
      .withColumn("tot", sum(col("cnt")).over(corpusW))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("tot") > 1, col("cnt")).otherwise(0L)).as("dup_grams"))
    ids.join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_frac", round(col("dup_grams").cast("double") /
        greatest(col("n_grams"), lit(1L)).cast("double"), 4))
      .orderBy("doc_id")
  }

  /** 16-bit SimHash from the word set: bit k is set when the majority of
    * words have the high bit of hex digit k of md5(word) set
    * (hex digit ≥ '8'). Returned as a 16-char '0'/'1' string. */
  def simHash16(docs: DataFrame): DataFrame = {
    val words = wordSets(docs)
    val bitCols = (1 to 16).map { k =>
      when(sum(when(substring(md5(col("word")), k, 1) >= "8", 1).otherwise(-1)) >= 0,
        lit("1")).otherwise(lit("0"))
    }
    words.groupBy("doc_id")
      .agg(concat(bitCols: _*).as("simhash16"))
      .orderBy("doc_id")
  }

  /** (a, b) successor pairs by ascending id — the scale-safe equivalent of
    * `lead(id) OVER (ORDER BY id)`. A global ORDER BY window sorts the whole
    * id set in ONE task; instead the ids are range-bucketed by value,
    * `lead` runs per bucket (parallel, partition-local sort), and each
    * bucket's last id is stitched to the next non-empty bucket's min via a
    * broadcast join on the tiny (≤ nBuckets rows) per-bucket-min table.
    * The only unpartitioned window left runs over those ≤ nBuckets rows —
    * bounded by a constant, not by the data. */
  def successorPairs(ids: DataFrame, idCol: String = "doc_id",
      nBuckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = ids.sparkSession
    val a = ids.select(col(idCol).cast("long").as("a"))
    val stats = a.agg(min(col("a")).as("lo"), max(col("a")).as("hi")).head()
    if (stats.isNullAt(0))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.LongType))))
    val lo = stats.getLong(0); val hi = stats.getLong(1)
    val span = math.max(hi - lo + 1, 1L)
    val width = math.max(1L, (span + nBuckets - 1) / nBuckets)
    // integer-exact bucketing: `div`, never `/` (long `/` promotes to double)
    val bucketed = a.withColumn("bucket", expr(s"(a - ${lo}L) div ${width}L"))
    val within = bucketed
      .withColumn("b", lead(col("a"), 1).over(Window.partitionBy("bucket").orderBy("a")))
    // stitch map: bucket → min id of the next non-empty bucket. Range
    // bucketing makes per-bucket mins monotone in bucket, so "next
    // non-empty bucket's min" = min(bmin) over all greater buckets — a
    // windowless ≤ nBuckets × nBuckets self-join, no global sort anywhere.
    val bmins = bucketed.groupBy("bucket").agg(min(col("a")).as("bmin"))
    val nextMins = bmins.as("x")
      .join(bmins.as("y"), col("y.bucket") > col("x.bucket"))
      .groupBy(col("x.bucket").as("bucket"))
      .agg(min(col("y.bmin")).as("next_min"))
    within
      .join(broadcast(nextMins), Seq("bucket"), "left")
      .withColumn("b", coalesce(col("b"), col("next_min")))
      .filter(col("b").isNotNull)
      .select("a", "b")
  }

  /** Word-set Jaccard between each document and its successor (by id)
    * within a language — integer intersection/union counts, thresholded
    * with exact cross-multiplication (inter*10 ≥ union ⇔ J ≥ 0.1). */
  def successorJaccard(docs: DataFrame, lang: String): DataFrame = {
    val sel = docs.filter(col("lang") === lang).select("doc_id")
    val pairs = successorPairs(sel)
    // ONE tokenize + ONE aggregation (round-19 rewrite): per-doc DISTINCT
    // word sets as arrays — collect_set dedupes, so the former separate
    // (doc_id, word) distinct shuffle is gone, and the word-level
    // (b, word) equi-join (which shuffled an exploded pairs×words frame
    // and re-derived the tokenize subtree for each of its three
    // consumers: 20 scans / 4 tokenize Generates in the r18 plan) becomes
    // two doc-keyed joins of one-row-per-doc set frames (guide §2.3/§2.4:
    // shuffle keys+sets once, never the exploded expansion). Counts are
    // identical: |A∩B| via array_intersect over distinct sets ≡ the
    // word-match count; a doc with no tokens is absent from `sets` and
    // its pairs drop in the inner join, exactly as the former inner join
    // on `sizes` dropped them.
    val sets = graft.operators.FanOut
      .byKey(docs.filter(col("lang") === lang), col("doc_id"))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("doc_id").agg(collect_set(col("word")).as("ws"))
    pairs
      .join(sets.select(col("doc_id").as("a"), col("ws").as("wsa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("ws").as("wsb")), "b")
      .withColumn("inter",
        size(array_intersect(col("wsa"), col("wsb"))).cast("long"))
      .withColumn("uni",
        (size(col("wsa")) + size(col("wsb"))).cast("long") - col("inter"))
      .filter(col("inter") * 10 >= col("uni"))
      .select(col("a"), col("b"), col("inter"), col("uni"))
      .orderBy("a", "b")
  }

  /** Near-dup CLUSTERING: connected components over a candidate-pair list
    * — the step that turns pairwise dup candidates into dedup groups
    * (keep `cluster_id`, drop the rest). Iterative min-label propagation:
    * every round each vertex adopts the smallest label among itself and
    * its neighbors; converges in graph-diameter rounds, and near-dup
    * graphs are short-diameter (a dup cluster is near-clique by
    * construction — its members share LSH buckets). Returns
    * (doc_id, cluster_id = min doc_id of the component) for every vertex
    * incident to a pair, deterministic by construction.
    *
    * Scale: each round shuffles only the LABEL frame, O(|V|) (the edge
    * frame is persisted pre-partitioned by src; the min aggregate combines
    * map-side) — no all-pairs step, no driver-side graph. Each round's
    * label frame is localCheckpoint-ed (lazily — the convergence scan right
    * after is the materializing action): without lineage truncation
    * the plan tree grows per round (re-planning cost and recursive
    * recomputation on failure), and checkpoint blocks are reclaimed by the
    * context cleaner as rounds are dropped. Convergence is decided by the
    * monotone sum(lbl) of the freshly checkpointed frame — one cheap
    * O(|V|) scan, no comparison join. A pathological input (diameter >
    * maxIter, not a dup-pair shape) fails loudly rather than looping. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    duplicateClustersWithRounds(pairs, maxIter)._1

  /** As `duplicateClusters`, additionally returning the number of
    * propagation rounds run — observable convergence for skew probes
    * (a giant component must cost O(log diameter)-ish rounds, each
    * shuffling only the O(|V|) label frame, never a ballooning one). */
  def duplicateClustersWithRounds(pairs: DataFrame,
      maxIter: Int = 50): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel
    // Both edge orientations PLUS a self-loop per vertex come from ONE pass
    // over `pairs` (explode of a four-struct array) — a self-union would
    // evaluate the upstream candidate-pair plan twice, doubling the most
    // expensive stage of the whole pipeline for a minhash input. The
    // self-loops make each round a bare join+groupBy(min): min over
    // in-neighbors ∪ self IS the propagation step, no join-back to the
    // previous labels needed. Pre-partitioned by src so only the (small)
    // label frame shuffles each round.
    val a = col("a").cast("long")
    val b = col("b").cast("long")
    val undAll = pairs
      .select(explode(array(
        struct(a.as("src"), b.as("dst")), struct(b.as("src"), a.as("dst")),
        struct(a.as("src"), a.as("dst")), struct(b.as("src"), b.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Size-aware round parallelism: each propagation round shuffles the
    // label frame, and on a small graph 32-partition rounds are pure
    // scheduling overhead (the rounds are inherently sequential, so the
    // per-round constant multiplies). ~100k edges per partition, capped
    // at the session shuffle parallelism for genuinely large graphs.
    val sess = pairs.sparkSession
    val shufParts = sess.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val parts = math.max(1, math.min(shufParts, (undAll.count() / 100000L).toInt + 1))
    val und = undAll.repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round 1 FUSED into initialization (round-18): with identity labels
    // the first propagation is algebraically just min(src) per dst (the
    // self-loops make it total), so the identity-label frame, its
    // checkpoint, and the first labels⋈edges join are all dead work —
    // one whole round of (join + groupBy + checkpoint + sum) dropped
    // from every clustering call. Same fixpoint, `rounds` now counts
    // from the fused round (still within DedupClusterSpec's bounds).
    def jump(prop: DataFrame): DataFrame = prop.as("x")
      .join(prop.as("y"), col("x.lbl") === col("y.id"), "left")
      .select(col("x.id").as("id"),
        coalesce(col("y.lbl"), col("x.lbl")).as("lbl"))
    val prop0 = und.groupBy(col("dst").as("id")).agg(min("src").as("lbl"))
    // LAZY localCheckpoint: the convergence sum right below is the first
    // action, so ONE job materializes the checkpoint AND computes the
    // sum — the former eager checkpoint spent a dedicated job per round
    // (profiled: the CC gates are driver/job-count bound, ~55 jobs at
    // ~20 ms of scheduling gap each)
    var labels = jump(prop0).localCheckpoint(false)
    // Labels only ever decrease, so sum(lbl) is strictly monotone until the
    // fixpoint — an O(|V|) scan of the freshly checkpointed frame decides
    // convergence with no second comparison join.
    def lblSum(df: DataFrame): BigDecimal =
      BigDecimal(df.agg(sum(col("lbl").cast("decimal(38,0)"))).first().getDecimal(0))
    var prevSum = lblSum(labels)
    // that sum materialized the lazy checkpoint and `und` from undAll's
    // cached blocks; the pre-repartition copy is now dead weight —
    // release it before the (memory-hungry) rounds
    undAll.unpersist()
    var converged = false
    var it = 1 // the fused initialization IS round 1
    while (!converged) {
      require(it < maxIter,
        s"duplicateClusters: no convergence after $maxIter rounds — " +
          "input does not look like a near-dup pair list")
      val prop = und
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("lbl").as("lbl"))
      // Pointer jumping (path halving): follow my label's label. One more
      // O(|V|) self-join per round turns chain-shaped components from
      // O(diameter) rounds into O(log diameter) — a corpus of sliding-
      // window near-dups (adjacent shards sharing shingles) builds long
      // paths, which plain propagation cannot afford at 100 TB. Every
      // lbl is a component-member vertex id and every vertex appears in
      // `prop` (self-loops), so the join is total; left+coalesce guards
      // the invariant anyway. Labels still only decrease → the monotone
      // sum convergence test is unchanged.
      val next = prop.as("x")
        .join(prop.as("y"), col("x.lbl") === col("y.id"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("y.lbl"), col("x.lbl")).as("lbl"))
        .localCheckpoint(false) // lazy: lblSum is the materializing action
      val s = lblSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      it += 1
    }
    val out = labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy("doc_id")
    und.unpersist()
    (out, it)
  }
}
