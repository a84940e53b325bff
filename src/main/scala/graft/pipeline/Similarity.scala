package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Approximate-nearest-neighbor operators over an embedding column
  * (`Array[Float]`).
  *
  * - `bruteForceTopK` is the exact baseline: query-side broadcast cross
  *   join + codegen'd higher-order-function dot products (no UDFs).
  * - `lshTopK` is the scale path: random-hyperplane LSH buckets the
  *   vectors so the pairwise step runs per-bucket, not all-pairs —
  *   at 100 TB the cross join is the difference between feasible and not.
  */
object Similarity {

  /** The previous uncapped semanticNearDupPairs assignment cache —
    * bounded-live-entries handle (see the persist site): repeated
    * uncapped calls in one session must not accumulate MEMORY_AND_DISK
    * entries without limit. */
  private val lastUncappedAssignment =
    new java.util.concurrent.atomic.AtomicReference[DataFrame]()

  /** Sequential-fold dot product — graft's native codegen expression
    * (graft.functions.DotProduct); left-to-right summation matches the
    * oracle's evaluation order bit-for-bit. */
  private def dot(emb: DataFrame)(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(emb.sparkSession, a, b)

  private def withNorm(emb: DataFrame): DataFrame = {
    val d = dot(emb) _
    // deliberately NOT persisted: the normed table is referenced from
    // several plan branches, but an internal persist has no unpersist
    // handle and accumulates one cache entry per distinct source for the
    // session's lifetime (and measured no win at bench scale). Callers
    // who reuse one embedding table across many ANN queries should cache
    // it themselves.
    // coalesce marks nrm PROVABLY NON-NULL: downstream `cos >= τ` filters
    // propagate IsNotNull through this projection by SUBSTITUTION, so a
    // nullable nrm re-evaluates the whole transform+dot+sqrt chain inside
    // the pushed filter, doubling the per-row norm cost. The fallback
    // never changes results: a null embedding nulls the dot-product
    // NUMERATOR, so cos is null (row dropped) regardless of what the
    // denominator does — the 0.0 stands in only for that already-null
    // case (Spark double division by zero yields NaN/Infinity, not null;
    // it is the null numerator that drops the row, never the division).
    emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", coalesce(sqrt(d(col("v"), col("v"))), lit(0.0)))
  }

  /** Exact top-k cosine neighbors for an explicit query-id set — same
    * plan as [[bruteForceTopK]] (broadcast queries, candidate stream
    * never shuffled), differing only in the query predicate. */
  def bruteForceTopKIds(emb: DataFrame, k: Int, queryIds: Seq[Long]): DataFrame =
    bruteTopK(emb, k, col("vec_id").isin(queryIds: _*))

  /** Exact top-k cosine neighbors for the `nQueries` lowest vec_ids.
    * Output: (query_id, neighbor_id, rank). */
  def bruteForceTopK(emb: DataFrame, k: Int, nQueries: Int): DataFrame =
    bruteTopK(emb, k, col("vec_id") < nQueries)

  private def bruteTopK(emb: DataFrame, k: Int,
      queryPred: org.apache.spark.sql.Column): DataFrame = {
    val n = withNorm(emb)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = n.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    broadcast(q).join(cand, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(emb)(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Attribute-FILTERED nearest neighbors: top-k restricted to candidates
    * satisfying `candFilter` (metadata-constrained retrieval — "nearest
    * documents in this language / with this label"). The filter applies
    * BEFORE ranking (pre-filtering), so exactly k true neighbors of the
    * filtered subset come back — post-filtering a plain top-k can return
    * fewer than k or miss closer in-filter candidates entirely. At scale
    * the same pre-filter discipline carries to the IVF/PQ variants: the
    * predicate prunes candidate lists ahead of the distance arithmetic,
    * so cost scales with the SELECTED fraction, not the corpus. */
  def filteredTopK(emb: DataFrame, k: Int, nQueries: Int,
      candFilter: Column): DataFrame = {
    val n = withNorm(emb)
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = n.filter(candFilter)
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    broadcast(q).join(cand, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(emb)(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** HARD-NEGATIVE mining for contrastive training: for each query, the
    * `k` most-similar candidates whose label DIFFERS from the query's —
    * the pairs that teach a metric model the most (easy negatives are
    * already far; hard ones sit just across the boundary). Same broadcast
    * plan as bruteForceTopK with the label-mismatch predicate fused into
    * the join; the per-query filter means no candidate subset can be
    * precomputed once, which is exactly why it is a JOIN predicate and
    * not a pre-filter. Output: (query_id, query_label, neighbor_id,
    * neighbor_label, rank). */
  def hardNegatives(emb: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val n = withNorm(emb) // drops label — join it back by vec_id
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val cand = n.select(col("vec_id").as("neighbor_id"),
      col("label").as("neighbor_label"), col("v"), col("nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    broadcast(q).join(cand,
        col("query_id") =!= col("neighbor_id") &&
          col("query_label") =!= col("neighbor_label"))
      .withColumn("sim", dot(emb)(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label", "rank")
      .orderBy("query_id", "rank")
  }

  /** k-NN label classification: each query vector's label is the
    * majority vote among its k nearest labeled neighbors (self excluded),
    * tie-break by smallest label — the classic embedding-space
    * classifier used to audit label quality and propagate labels onto
    * unlabeled data. Rides bruteForceTopK's broadcast plan; the vote is
    * one small groupBy over nQueries·k rows. Output: (query_id,
    * pred_label, votes). */
  def knnClassify(emb: DataFrame, k: Int = 5, nQueries: Int): DataFrame = {
    val nb = bruteForceTopK(emb, k, nQueries)
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("label").asc)
    nb.join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
      .orderBy("query_id")
  }

  /** Per-label mean embedding (class centroids) with the same order-free
    * quantized-integer summation as the Lloyd update: Σ round(x·1024)
    * per (label, dim) is exact in ANY aggregation order, one division at
    * the end — bit-reproducible across engines and partitionings, where
    * a float mean is neither. The map-side partial aggregation bounds
    * the shuffle at O(labels · dim) regardless of corpus size. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        posexplode(transform(col("embedding"), _.cast("double"))).as(Seq("j", "x")))
      .groupBy("label", "j")
      .agg(sum(round(col("x") * 1024).cast("long")).as("s"), count(lit(1)).as("cnt"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("j"),
          (col("s") / (lit(1024.0) * col("cnt"))).as("value")))),
        _.getField("value")).as("centroid"),
        max(col("cnt")).as("n_vectors"))
      .orderBy("label")

  /** Label-outlier detection (mislabel candidates): per label, the k
    * vectors with the LOWEST cosine to their own label centroid — the
    * standard embedding-space audit that surfaces mislabeled or
    * out-of-distribution rows before training. Centroids come from
    * [[labelCentroids]] (order-free quantized-integer means, so the
    * whole result is bit-reproducible) and are BROADCAST
    * (O(labels · dim)); the cosine is row-local; the only shuffle is
    * the per-label bottom-k window. */
  def labelOutliers(emb: DataFrame, k: Int = 3): DataFrame = {
    val d = dot(emb) _
    val cents = broadcast(labelCentroids(emb).select(col("label"), col("centroid")))
    val w = Window.partitionBy("label").orderBy(col("cos").asc, col("vec_id"))
    emb.select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .join(cents, Seq("label"))
      .withColumn("cos", d(col("v"), col("centroid"))
        / (sqrt(d(col("v"), col("v"))) * sqrt(d(col("centroid"), col("centroid")))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("label", "vec_id", "cos", "rk")
      .orderBy("label", "rk")
  }

  /** Int8-quantized brute-force top-k: each vector is quantized to
    * integer components round(x · 127/max|x|) ∈ [−127, 127] — the
    * standard 4×-memory-reduction serving format (int8 vs float32) —
    * and similarity runs on the quantized vectors. At 100 TB the
    * quantized corpus fits 4× more vectors per executor and the integer
    * dot products stay exact (|Σ qᵢ·qᵢ'| ≤ 127²·dim ≪ 2^53, so the
    * double-typed arithmetic below is integer-exact in ANY engine —
    * which also makes the ranking hash-checkable against DuckDB,
    * unlike float32 cosine re-rank). A degenerate all-zero vector gets
    * sim −2 (below any cosine) instead of NaN, deterministically last.
    * Output: (query_id, neighbor_id, rank) like bruteForceTopK; ranks
    * differ from the float path only where quantization reorders
    * near-ties — that gap IS the quantization error being measured. */
  def quantizedTopK(emb: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val d = dot(emb) _
    val q8 = emb
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qv", transform(col("v"),
        x => when(col("ma") === 0.0, 0.0).otherwise(round(x * (lit(127.0) / col("ma"))))))
      .withColumn("qn", sqrt(d(col("qv"), col("qv"))))
      .select("vec_id", "qv", "qn")
    val q = q8.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("a"), col("qn").as("an"))
    val cand = q8.select(col("vec_id").as("neighbor_id"), col("qv"), col("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    broadcast(q).join(cand, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", when(col("an") * col("qn") === 0.0, lit(-2.0))
        .otherwise(d(col("a"), col("qv")) / (col("an") * col("qn"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Product-quantization (PQ) ANN: every vector is compressed to `m`
    * sub-space codes (one of `ksub` centroids per sub-space — 4 bits at
    * the default ksub=16), and queries rank candidates by ADC
    * (asymmetric distance computation): the query precomputes an
    * m × ksub table of exact sub-space L2 distances, and a candidate's
    * approximate distance is m table lookups — no decompression. This
    * is the memory side of the 100 TB ANN story that int8 quantization
    * ([[quantizedTopK]]) only starts: at m=8/ksub=16 a 64-dim float32
    * corpus compresses 64× (4 bits/subvector vs 32 bytes), so a
    * 10⁹-vector corpus's codes fit in executor memory where the raw
    * vectors never would; composes with IVF probing (the candidate set
    * shrinks to the probed lists, the codes shrink each candidate).
    *
    * Deterministic and engine-portable by the same constructions as
    * [[ivfTopK]]: codebooks seed from the `ksub` lowest vec_ids and
    * refine with the quantized-integer Lloyd update (order-free exact);
    * sub-space L2 is composed from three sequential-fold dot products
    * in fixed association ((a·a − 2·a·b) + b·b); the ADC sum folds the
    * m lookups left-to-right — so the DuckDB oracle reproduces every
    * rank bit-for-bit. Output: (query_id, neighbor_id, rank). */
  def pqTopK(emb: DataFrame, k: Int, nQueries: Int, m: Int = 8,
      ksub: Int = 16, lloydIters: Int = 1): DataFrame = {
    val (sub, _) = pqSubvectors(emb, m)
    val cb = pqCodebook(emb, sub, ksub, lloydIters)
    val codes = pqEncode(emb, sub, cb)
    val qtab = pqQueryTable(emb, sub, cb, nQueries)
    pqAdcRank(broadcast(qtab).join(
        codes.withColumnRenamed("vec_id", "neighbor_id"),
        col("query_id") =!= col("neighbor_id")), k, m, ksub)
  }

  /** (vec_id, s, sv) sub-vector frame + dsub. */
  private def pqSubvectors(emb: DataFrame, m: Int): (DataFrame, Int) = {
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val sub = emb
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .select(col("vec_id"), posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("v"), s * dsub + 1, lit(dsub)))).as(Seq("s", "sv")))
    (sub, dsub)
  }

  /** Sub-space L2 in fixed association — (a·a − 2·a·b) + b·b of
    * sequential-fold dots, mirrored verbatim by the oracle. */
  private def pqL2(emb: DataFrame)(a: Column, b: Column): Column = {
    val d = dot(emb) _
    d(a, a) - lit(2.0) * d(a, b) + d(b, b)
  }

  /** Codebooks (s, cent_id, cv), broadcast: seeded from the ksub lowest
    * vec_ids' sub-vectors, refined by quantized-integer Lloyd passes;
    * collected per pass (m · ksub · dsub doubles — driver-trivial). */
  private def pqCodebook(emb: DataFrame, sub: DataFrame, ksub: Int,
      lloydIters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    var cb: DataFrame = broadcast(sub.filter(col("vec_id") < ksub)
      .select(col("s"), col("vec_id").cast("int").as("cent_id"), col("sv").as("cv")))
    for (_ <- 0 until lloydIters) {
      // argmin as min_by (same winner as the former rank-1 window; hash
      // aggregate with map-side partials instead of a sorted window —
      // see ivfAssign/pqEncode)
      val refined = sub.join(cb, Seq("s"))
        .withColumn("d2", pqL2(emb)(col("sv"), col("cv")))
        .groupBy(col("vec_id"), col("s"))
        .agg(min_by(struct(col("cent_id"), col("sv")),
          struct(col("d2"), col("cent_id"))).as("m"))
        .select(col("s"), col("m.cent_id").as("cent_id"),
          posexplode(col("m.sv")).as(Seq("j", "x")))
        .groupBy("s", "cent_id", "j")
        .agg(sum(round(col("x") * 1024).cast("long")).as("ssum"),
          count(lit(1)).as("cnt"))
        .groupBy("s", "cent_id")
        .agg(transform(array_sort(collect_list(struct(col("j"),
            (col("ssum") / (lit(1024.0) * col("cnt"))).as("value")))),
          _.getField("value")).as("cv"))
        .as[(Int, Int, Array[Double])].collect().sortBy(t => (t._1, t._2))
      // fail-closed on an emptied cluster: the ADC table flattening
      // (tbl[s·ksub + code + 1]) needs a constant per-sub-space stride,
      // and silently dropping a centroid would shift every later
      // sub-space's lookups
      val perS = refined.groupBy(_._1).view.mapValues(_.size).toMap
      require(perS.values.forall(_ == ksub),
        s"graft: a PQ Lloyd pass emptied a cluster (per-sub-space centroid " +
          s"counts $perS, expected $ksub) — use a larger corpus, smaller " +
          "ksub, or lloydIters = 0")
      cb = broadcast(refined.toIndexedSeq.toDF("s", "cent_id", "cv"))
    }
    cb
  }

  /** (vec_id, codes): each vector's nearest codebook centroid per
    * sub-space, in sub-space order. Argmin as a min_by hash aggregate
    * (identical winner to the former rank-1 window — d2 asc, cent_id asc
    * — but partial aggregation collapses the ksub candidates per
    * (vec_id, s) inside the task, so the exchange carries one row per
    * sub-vector instead of ksub and nothing is sorted; guide §2.3). */
  private def pqEncode(emb: DataFrame, sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(cb, Seq("s"))
      .withColumn("d2", pqL2(emb)(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("cent_id"), struct(col("d2"), col("cent_id"))).as("cent_id"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("cent_id")))),
        _.getField("cent_id")).as("codes"))

  /** (query_id, tbl): per-query ADC table — sub-space L2 to EVERY
    * centroid, flattened in (s, cent_id) order so a lookup is
    * tbl[s·ksub + code + 1]. */
  private def pqQueryTable(emb: DataFrame, sub: DataFrame, cb: DataFrame,
      nQueries: Int): DataFrame =
    pqQueryTableOf(emb, sub.filter(col("vec_id") < nQueries), cb)

  /** [[pqQueryTable]] over an arbitrary (vec_id, s, sv) sub-vector
    * frame (external serving queries included). */
  private def pqQueryTableOf(emb: DataFrame, sub: DataFrame,
      cb: DataFrame): DataFrame =
    sub.join(cb, Seq("s"))
      .withColumn("d2", pqL2(emb)(col("sv"), col("cv")))
      .groupBy(col("vec_id").as("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("cent_id"),
          col("d2").as("value")))), _.getField("value")).as("tbl"))

  /** Rank candidate pairs carrying (query_id, tbl, neighbor_id, codes)
    * by the left-fold ADC sum; emit (query_id, neighbor_id, rank). */
  private def pqAdcRank(pairs: DataFrame, k: Int, m: Int, ksub: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    pairs
      .withColumn("adc", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, s) => acc + element_at(col("tbl"),
          (s * ksub + element_at(col("codes"), s + 1) + 1).cast("int"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ: the composed serving shape for corpora where even the
    * probed lists are too large to rank with raw vectors — IVF's coarse
    * quantizer shrinks the CANDIDATE SET to the `nProbe` probed lists
    * (N·nProbe/K candidates instead of N), PQ shrinks each CANDIDATE to
    * m 4-bit codes ranked by ADC table lookups. At 10⁹ vectors ×
    * 64 dims, raw float32 probing touches ~250 GB of vectors per full
    * sweep; IVF-PQ serves the same traffic from ~4 GB of codes. The
    * coarse assignment/probing is bit-identical to [[ivfTopK]] and the
    * codebooks/codes/ADC bit-identical to [[pqTopK]], so the composed
    * oracle reproduces every rank. Output: (query_id, neighbor_id,
    * rank) — ranks are PQ-approximate within the probed lists. */
  def ivfPqTopK(emb: DataFrame, k: Int, nQueries: Int, nCentroids: Int = 0,
      nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
      lloydIters: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val d = dot(emb) _
    // The coarse-quantizer chain and the PQ-model chain are INDEPENDENT
    // sequences of driver collects (Lloyd refine passes, codebook
    // passes), each a string of small stages — run them CONCURRENTLY
    // (guide §2.6: overlap independent jobs) so one chain's stage tails
    // backfill the other's idle cores. Results are unchanged: the chains
    // share nothing but the read-only emb frame, and each collect is the
    // same deterministic computation it was sequentially.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val (centsLocal, sub, cb) = try {
      val centsF = scala.concurrent.Future {
        val kC = if (nCentroids > 0) nCentroids else autoCentroids(emb.count())
        val n0 = withNorm(emb)
        var cl = n0.filter(col("vec_id") < kC)
          .select(col("vec_id").as("cent_id"), col("v"))
          .as[(Long, Array[Double])].collect().sortBy(_._1)
        for (_ <- 0 until lloydIters)
          cl = ivfRefine(n0, ivfCentsDF(emb, cl))
        cl
      }(ec)
      val pqF = scala.concurrent.Future {
        val (s0, _) = pqSubvectors(emb, m)
        (s0, pqCodebook(emb, s0, ksub, lloydIters))
      }(ec)
      import scala.concurrent.duration.Duration
      (scala.concurrent.Await.result(centsF, Duration.Inf),
        scala.concurrent.Await.result(pqF, Duration.Inf)._1,
        scala.concurrent.Await.result(pqF, Duration.Inf)._2)
    } finally pool.shutdown()
    val n = withNorm(emb)
    val cents = ivfCentsDF(emb, centsLocal)
    val assigned = ivfAssign(n, cents, d)
      .select(col("vec_id").as("neighbor_id"), col("cent_id"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cent_id").asc)
    val probes = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", d(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("cent_id"))
    // PQ model — identical construction to pqTopK
    val codes = pqEncode(emb, sub, cb)
    val qtab = pqQueryTable(emb, sub, cb, nQueries)
    // candidates = probed lists only; rank by ADC over their codes
    val pairs = probes
      .join(assigned, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(qtab), Seq("query_id"))
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
    pqAdcRank(pairs, k, m, ksub)
  }

  /** IVF (inverted-file) ANN: vectors are assigned to their nearest of K
    * coarse centroids; queries probe only the `nProbe` nearest centroid
    * lists. Seeding is the K lowest-id vectors, refined by `lloydIters`
    * k-means passes. At scale the assignment is a broadcast join against
    * K ≈ √N centroids and the search touches N·nProbe/K candidates
    * instead of N.
    *
    * `nCentroids <= 0` (the default) derives K ≈ √N from the corpus count
    * (`autoCentroids`) — the list-scan cost balance N·nProbe/K vs the
    * broadcast of K centroids is minimized near √N, and a FIXED K cannot
    * survive corpus growth (at N = 10⁹ with K = 16, every probe scans
    * ~60M vectors). Pass an explicit K only to pin a tested configuration
    * (the oracle queries pin 16).
    *
    * The Lloyd update is DETERMINISTIC and engine-portable: centroid
    * components are Σ round(x·1024) (integer sums — exact in ANY
    * aggregation order, unlike float sums) divided once by 1024·count.
    * That makes the whole query bit-reproducible and lets the DuckDB
    * oracle compute the identical centroids (see PipelineQueries). The
    * quantization (≈2⁻¹⁰ grid) is far below any realistic inter-centroid
    * distance, so it costs nothing in recall. */
  def ivfTopK(emb: DataFrame, k: Int, nQueries: Int,
      nCentroids: Int = 0, nProbe: Int = 4, lloydIters: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val kC = if (nCentroids > 0) nCentroids else autoCentroids(emb.count())
    val n = withNorm(emb)
    val d = dot(emb) _
    var centsLocal = n.filter(col("vec_id") < kC)
      .select(col("vec_id").as("cent_id"), col("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    for (_ <- 0 until lloydIters)
      centsLocal = ivfRefine(n, ivfCentsDF(emb, centsLocal))
    val cents = ivfCentsDF(emb, centsLocal)
    val assigned = ivfAssign(n, cents, d)
    // queries probe their nProbe nearest centroids
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cent_id").asc)
    val probes = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", d(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cent_id"))
    // search only within the probed lists
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", d(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** SemDeDup-style semantic near-dup pairs: cluster the corpus with the
    * same deterministic quantized-Lloyd centroids as IVF, then compare
    * vectors ONLY within their cluster — candidate generation by cluster
    * membership instead of LSH buckets (the two trade recall/cost
    * differently: clusters catch "same topic, different wording",
    * LSH catches near-identical vectors regardless of cluster edges).
    *
    * Scale shape: the pairwise stage is an equi-join on cent_id, so work
    * is partitioned by cluster and total cost is Σ|cluster|² — with
    * K ≈ √N clusters (`nCentroids = 0` → `autoCentroids`, the default)
    * that is O(N^1.5) worst-case and embarrassingly parallel. A
    * pathological giant cluster (one boilerplate topic swallowing a
    * corpus fraction) is additionally CAPPED at `maxClusterSize`
    * members — the same defense as `capBuckets`/Dedup's
    * `maxBucketSize`: past the cap a cluster is non-discriminative, so
    * comparing only its `maxClusterSize` lowest-id members bounds
    * per-task pair counts at O(K · maxClusterSize²) while keeping the
    * within-cap pairs (truncation, not whole-cluster drop: unlike an
    * LSH boilerplate bucket, a semantic megacluster still holds real
    * near-dups worth flagging). `maxClusterSize = 0` disables the cap
    * AND switches to the streaming join-based pair plan (the in-task
    * pair loop's memory bound is the cap; uncapped it would hold an
    * entire cluster in one task).
    */
  def semanticNearDupPairs(emb: DataFrame, nCentroids: Int = 0,
      tau: Double = 0.2, lloydIters: Int = 1,
      maxClusterSize: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = withNorm(emb)
    val d = dot(emb) _
    val kC = if (nCentroids > 0) nCentroids else autoCentroids(emb.count())
    var centsLocal = n.filter(col("vec_id") < kC)
      .select(col("vec_id").as("cent_id"), col("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    for (_ <- 0 until lloydIters)
      centsLocal = ivfRefine(n, ivfCentsDF(emb, centsLocal))
    val assignedAll = ivfAssign(n, ivfCentsDF(emb, centsLocal), d)
    // Pair generation as ONE cogroup-style pass: the former
    // window-cap + self-join shape shuffled the assignment frame twice
    // (row_number partition + join exchange) and, because the two join
    // sides canonicalize differently, re-ran the whole assignment scan
    // (embedding read + broadcast argmin) for each side. Grouping by
    // centroid once and emitting intra-cluster pairs in the task keeps a
    // single shuffle of (id, vector) rows and a single assignment pass.
    // Arithmetic is bit-identical to the SQL form: the in-task dot is the
    // same ascending-index sequential fold as the codegen DotProduct, the
    // denominator keeps the (nrm_left * nrm_right) order, and rounding is
    // java BigDecimal.valueOf + HALF_UP — exactly Spark's round(col, 4) —
    // so the DuckDB oracle still hash-matches.
    val tauV = tau
    val capV = maxClusterSize
    if (capV <= 0) {
      // Uncapped path: the flatMapGroups plan below materializes one
      // whole cluster's (id, vector, norm) rows in a single task — with
      // no cap a semantic megacluster is an executor-OOM risk and its
      // O(|cluster|²) loop runs single-threaded. Fall back to the
      // join-based plan: streams both sides and distributes the pair
      // loop across tasks. Same arithmetic (codegen sequential-fold dot,
      // (nrm·nrm) denominator order, round(_, 4)), so oracle-stable.
      // persist: the assignment (embedding scan + broadcast argmin)
      // feeds BOTH join sides — unmaterialized, the two sides
      // canonicalize differently and the whole assignment subplan runs
      // twice (the exact double-scan the capped cogroup rewrite
      // removed). persist (not localCheckpoint) keeps the lineage
      // recomputable on executor loss. Live entries are bounded to ONE:
      // each uncapped call unpersists the previous call's assignment
      // (its consumers just recompute from lineage if still running), so
      // a long-lived session holds at most one cache entry here — that
      // last entry lives until the next call, clearCache, or session end.
      val assigned = assignedAll
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Option(Similarity.lastUncappedAssignment.getAndSet(assigned))
        .foreach(prev =>
          try prev.unpersist(blocking = false)
          catch { case _: Throwable => () })
      return assigned
        .select(col("cent_id"), col("vec_id").as("keep_id"),
          col("v").as("va"), col("nrm").as("na"))
        .join(assigned.select(col("cent_id"), col("vec_id").as("dup_id"),
          col("v").as("vb"), col("nrm").as("nb")), Seq("cent_id"))
        .filter(col("keep_id") < col("dup_id"))
        .withColumn("cos", d(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= tauV)
        .select(col("cent_id"), col("keep_id"), col("dup_id"),
          round(col("cos"), 4).as("cos_r"))
        .orderBy("keep_id", "dup_id")
    }
    assignedAll.select(col("cent_id"), col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (cid: Long, it: Iterator[(Long, Long, Array[Double], Double)]) =>
        // cap = the maxClusterSize SMALLEST vec_ids (the former
        // row_number-over-vec_id cap), held in a bounded max-heap so a
        // semantic megacluster costs O(cap) memory, not O(cluster)
        val members: Array[(Long, Array[Double], Double)] = {
          val heap = scala.collection.mutable.PriorityQueue
            .empty[(Long, Array[Double], Double)](Ordering.by(_._1))
          it.foreach { r =>
            heap.enqueue((r._2, r._3, r._4))
            if (heap.size > capV) heap.dequeue()
          }
          heap.dequeueAll.toArray.sortBy(_._1)
        }
        val out = Array.newBuilder[(Long, Long, Long, Double)]
        var i = 0
        while (i < members.length) {
          val (idA, vA, nA) = members(i)
          var j = i + 1
          while (j < members.length) {
            val (idB, vB, nB) = members(j)
            val len = math.min(vA.length, vB.length)
            var acc = 0.0
            var k = 0
            while (k < len) { acc += vA(k) * vB(k); k += 1 }
            val cos = acc / (nA * nB)
            if (cos >= tauV) {
              val cosR = java.math.BigDecimal.valueOf(cos)
                .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
              out += ((cid, idA, idB, cosR))
            }
            j += 1
          }
          i += 1
        }
        out.result().iterator
      }
      .toDF("cent_id", "keep_id", "dup_id", "cos_r")
      .orderBy("keep_id", "dup_id")
  }

  /** Centroids as a broadcast frame. Centroids are COLLECTED per Lloyd
    * iteration (K ≈ √N rows of dim doubles — driver-trivial at any
    * scale, the standard k-means shape): a lazy centroid subplan would
    * be re-evaluated by every downstream crossJoin, multiplying full
    * scans of the embedding table per iteration. Values are
    * bit-identical either way (the quantized update is order-free
    * exact), so the DuckDB oracle is unaffected. `cn` is recomputed with
    * the same codegen dot — identical op order. */
  private def ivfCentsDF(emb: DataFrame,
      local: Array[(Long, Array[Double])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val d = dot(emb) _
    broadcast(local.toIndexedSeq.toDF("cent_id", "cv")
      .withColumn("cn", sqrt(d(col("cv"), col("cv")))))
  }

  /** Assign every vector to its nearest centroid.
    *
    * Argmin as `min_by` over struct(−csim, cent_id) — the identical
    * winner to the former rank-1 window (−x ascending ≡ x descending for
    * doubles, ties broken by cent_id ascending), but a HASH AGGREGATE
    * with map-side partials instead of a window: the window shuffled and
    * sorted the N×K crossJoin expansion (every vector duplicated per
    * centroid, payload included) while the partial aggregate collapses
    * the K candidates of each vector inside the scan task, so only N
    * rows cross the exchange (guide §2.3 "aggregate before you shuffle";
    * at K = √N this removes a ×K shuffle inflation). min_by/struct are
    * codegen-friendly DeclarativeAggregates (guide step 4).
    *
    * The winner differs from the window's in one case: a zero norm makes
    * `csim` NaN, which Spark orders above every double. The window
    * (csim descending) ranked a NaN candidate FIRST; `min_by` over
    * −csim (still NaN) ranks it LAST. So a zero-norm centroid no longer
    * wins every vector; a zero-norm vector, whose candidates are all NaN,
    * still goes to the lowest cent_id under both. */
  private def ivfAssign(n: DataFrame, cents: DataFrame,
      d: (Column, Column) => Column): DataFrame =
    n.crossJoin(cents)
      .withColumn("csim", d(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cent_id"), col("v"), col("nrm")),
        struct((-col("csim")).as("nc"), col("cent_id"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.nrm").as("nrm"),
        col("m.cent_id").as("cent_id"))

  /** Lloyd update: order-free exact integer sums per (centroid, dim),
    * one double division at the end — bit-identical on any engine. */
  private def ivfRefine(n: DataFrame, cents: DataFrame): Array[(Long, Array[Double])] = {
    val spark = n.sparkSession
    import spark.implicits._
    ivfAssign(n, cents, dot(n) _)
      .select(col("cent_id"), posexplode(col("v")).as(Seq("j", "x")))
      .groupBy("cent_id", "j")
      .agg(sum(round(col("x") * 1024).cast("long")).as("s"), count(lit(1)).as("cnt"))
      .groupBy("cent_id")
      .agg(transform(
        array_sort(collect_list(struct(col("j"),
          (col("s") / (lit(1024.0) * col("cnt"))).as("value")))),
        _.getField("value")).as("cv"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
  }

  /** K for a corpus of `n` vectors: ⌈√n⌉ clamped to [16, 65536]. √N
    * balances the probe scan (N·nProbe/K candidates) against the
    * centroid broadcast (K rows) — the textbook IVF sizing. The ceiling
    * keeps the centroid table broadcast-small even at N = 4×10⁹
    * (65536 × dim doubles ≈ 32 MB at dim 64). Java's `Math.sqrt` is
    * IEEE exactly-rounded, so the derived K is engine-independent. */
  def autoCentroids(n: Long): Int =
    math.min(65536L, math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Corpus fingerprint for index staleness binding: (row count,
    * order-free XOR of per-row xxhash64(vec_id, embedding)). One pruned
    * scan with map-side partial aggregation — no shuffle — and sensitive
    * to added, removed, AND mutated vectors. */
  private def corpusFingerprint(emb: DataFrame): (Long, Long) = {
    val r = emb.agg(count(lit(1)),
      expr("bit_xor(xxhash64(vec_id, embedding))")).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Caller-supplied identity of a VERSIONED corpus: the (dataset URI,
    * version id) pair the embeddings were read from — e.g. a graft
    * dataset version. An index built or appended with a pin attests in
    * O(1) ([[attestVersion]]: two equality checks against the meta
    * sidecar, no Spark job, no corpus scan), where the fingerprint path
    * re-hashes the whole corpus per attested batch. The ANN analog of
    * the reference's version-pinned reads
    * (src/io/mandoline/impl.clj:53-75). An UNPINNED write clears the
    * pin, so a recorded version can never outlive the corpus state it
    * named. */
  final case class CorpusId(uri: String, versionId: Long)

  /** The [[CorpusId]] of a graft version-pinned reader — the reader
    * already knows both its dataset URI and its pinned versionId, so a
    * version-pinned ANN index over a versioned corpus never needs a
    * hand-assembled identity. */
  def corpusIdOf(reader: graft.spark.SparkPinnedReader): CorpusId = {
    val (uri, v) = reader.pinnedIdentity
    CorpusId(uri, v)
  }

  /** [[ivfBuild]] pinned to the graft dataset version `reader` is on:
    * subsequent [[attestVersion]]/[[ivfQueryPinned]]/[[ivfAppendPinned]]
    * calls attest in O(1) against this pin (zero Spark jobs). */
  def ivfBuildPinned(emb: DataFrame, path: String,
      reader: graft.spark.SparkPinnedReader, nCentroids: Int = 0,
      lloydIters: Int = 1): Unit =
    ivfBuild(emb, path, nCentroids, lloydIters, Some(corpusIdOf(reader)))

  /** The committed index meta. Persisted twice with identical content:
    * a one-row parquet table at `<gen>/meta` (spark-inspectable, the
    * pre-round-6 read path) and a `<gen>/meta.props` java-properties
    * sidecar whose atomic-rename replace is both the commit point for
    * appends and the zero-Spark-job read path for O(1) attestation. */
  private final case class IvfMeta(
      corpusCount: Long, corpusHash: Long, nCentroids: Int, lloydIters: Int,
      gens: Seq[String], lastBatch: Long, baseCount: Long,
      corpusUri: Option[String], corpusVersion: Long)

  /** Resolve the serving generation of the index at `path`: the
    * `CURRENT` pointer file names the live generation dir (flipped
    * atomically by [[ivfRebuild]]); no pointer = the root IS the
    * generation (the original single-dir layout, still what [[ivfBuild]]
    * produces). Resolve ONCE per operation so centroids, lists, and
    * meta always come from the same generation. */
  private def servingDir(path: String): String = {
    val cur = s"$path/CURRENT"
    if (IndexFs.exists(cur)) s"$path/${IndexFs.readString(cur).trim}"
    else path
  }

  /** Read the committed meta of generation dir `dir`, distinguishing
    * the three states the old catch-all conflated: (a) committed meta
    * present → Some (the props sidecar preferred — no Spark job; the
    * parquet mirror for pre-sidecar indexes); (b) genuinely absent
    * (legacy pre-meta index, or a dir that never committed) → None;
    * (c) transiently absent mid-meta-swap → bounded retry, then a loud
    * failure. IO errors and corrupt meta PROPAGATE — a transient read
    * failure must never silently demote the index to its base
    * generation (that is exactly the staleness the fingerprint binding
    * exists to prevent). */
  private def readMeta(spark: SparkSession, dir: String): Option[IvfMeta] = {
    var tries = 0
    while (tries <= 100) {
      val props = s"$dir/meta.props"
      if (IndexFs.exists(props)) {
        val p = new java.util.Properties()
        p.load(new java.io.ByteArrayInputStream(IndexFs.readBytes(props)))
        return Some(IvfMeta(
          p.getProperty("corpus_count").toLong,
          p.getProperty("corpus_hash").toLong,
          p.getProperty("n_centroids").toInt,
          p.getProperty("lloyd_iters").toInt,
          p.getProperty("gens").split(',').toSeq.filter(_.nonEmpty),
          p.getProperty("last_batch").toLong,
          p.getProperty("base_count").toLong,
          Option(p.getProperty("corpus_uri")),
          p.getProperty("corpus_version", "-1").toLong))
      }
      val metaDir = s"$dir/meta"
      if (IndexFs.exists(metaDir)) {
        try return Some(parseMetaRow(spark.read.parquet(metaDir).head))
        catch { case _: org.apache.spark.sql.AnalysisException
            if !IndexFs.exists(metaDir) => () } // raced a swap: retry below
      } else if (!IndexFs.exists(s"$dir/.meta_old") &&
          !IndexFs.exists(s"$dir/.meta_new"))
        return None // genuinely meta-less: legacy index or fresh dir
      tries += 1
      Thread.sleep(20)
    }
    throw new IllegalStateException(
      s"graft: IVF index at $dir stuck mid-meta-swap (meta absent with " +
        ".meta_old/.meta_new present for >2 s) — a writer crashed between " +
        "renames; restore meta from .meta_old or rebuild with ivfBuild")
  }

  private def parseMetaRow(row: org.apache.spark.sql.Row): IvfMeta = {
    val f = row.schema.fieldNames.toSet
    val cnt = row.getAs[Long]("corpus_count")
    IvfMeta(cnt, row.getAs[Long]("corpus_hash"),
      row.getAs[Int]("n_centroids"), row.getAs[Int]("lloyd_iters"),
      if (f("gens")) row.getAs[scala.collection.Seq[String]]("gens").toSeq
      else Seq("assignments"),
      if (f("last_batch")) row.getAs[Long]("last_batch") else -1L,
      if (f("base_count")) row.getAs[Long]("base_count") else cnt,
      if (f("corpus_uri")) Option(row.getAs[String]("corpus_uri")) else None,
      if (f("corpus_version")) row.getAs[Long]("corpus_version") else -1L)
  }

  private def metaDF(spark: SparkSession, m: IvfMeta): DataFrame = {
    import spark.implicits._
    Seq((m.corpusCount, m.corpusHash, m.nCentroids, m.lloydIters,
      m.gens, m.lastBatch, m.baseCount, m.corpusUri.orNull, m.corpusVersion))
      .toDF("corpus_count", "corpus_hash", "n_centroids", "lloyd_iters",
        "gens", "last_batch", "base_count", "corpus_uri", "corpus_version")
  }

  /** Atomic-replace of the props sidecar — the reader-visible commit. */
  private def writeProps(m: IvfMeta, dir: String): Unit = {
    val p = new java.util.Properties()
    p.setProperty("corpus_count", m.corpusCount.toString)
    p.setProperty("corpus_hash", m.corpusHash.toString)
    p.setProperty("n_centroids", m.nCentroids.toString)
    p.setProperty("lloyd_iters", m.lloydIters.toString)
    p.setProperty("gens", m.gens.mkString(","))
    p.setProperty("last_batch", m.lastBatch.toString)
    p.setProperty("base_count", m.baseCount.toString)
    p.setProperty("corpus_version", m.corpusVersion.toString)
    m.corpusUri.foreach(p.setProperty("corpus_uri", _))
    val bos = new java.io.ByteArrayOutputStream()
    p.store(bos, null)
    IndexFs.replace(s"$dir/meta.props", bos.toByteArray)
  }

  /** Fresh-dir meta write (no readers yet: plain writes suffice). */
  private def writeMeta(spark: SparkSession, m: IvfMeta, dir: String): Unit = {
    metaDF(spark, m).coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    writeProps(m, dir)
  }

  /** Commit an updated meta into a LIVE generation dir: the parquet
    * mirror goes through the `.meta_new`/`.meta_old` rename dance (a
    * crash at any prefix leaves the previous committed parquet
    * readable), then the props sidecar's atomic replace publishes the
    * new state to readers ([[readMeta]] prefers the sidecar). */
  private def commitMeta(spark: SparkSession, m: IvfMeta, dir: String): Unit = {
    val tmp = s"$dir/.meta_new"
    metaDF(spark, m).coalesce(1).write.mode("overwrite").parquet(tmp)
    val metaDir = s"$dir/meta"
    val bak = s"$dir/.meta_old"
    IndexFs.deleteTree(bak)
    if (IndexFs.exists(metaDir)) IndexFs.rename(metaDir, bak)
    IndexFs.rename(tmp, metaDir)
    IndexFs.deleteTree(bak)
    writeProps(m, dir)
  }

  /** Serialize index writes (appends, rebuilds): two concurrent
    * read-modify-write meta updates would lose one writer's generation
    * and XOR contribution (lost update), and an append racing a rebuild
    * would commit into the generation the flip is about to supersede.
    * A crashed writer's hold is stolen after `staleMs` — which
    * therefore is a HARD upper bound on how long one append/rebuild may
    * run; raise it for huge rebuilds.
    *
    * Mutual exclusion must hold on stores WITHOUT an atomic
    * create-no-overwrite: legacy S3 `create(overwrite=false)` (and
    * RawLocalFileSystem, which mockfs inherits) is an exists-check THEN
    * a truncating create, so a bare lock-file lease admits two
    * same-moment writers (A creates+verifies; B's create truncates
    * after A's read-back; both "own" it). The lease here is therefore a
    * PROPOSAL ELECTION that needs only per-object-atomic PUTs of
    * UNIQUELY NAMED objects plus strongly-consistent listing (true of
    * HDFS, posix, and modern object stores):
    *
    *  1. put `.write.lock.d/<uuid>` — unique name, can never clobber a
    *     rival's proposal however create is implemented;
    *  2. list the dir; proceed iff every OTHER live proposal is
    *     STRICTLY NEWER (server-assigned mtime) than ours. A rival that
    *     listed before our proposal became visible necessarily has an
    *     older-or-equal mtime WHEN stamps and visibility share a clock
    *     (local FS, HDFS), so at most one contender can ever see itself
    *     as strict minimum; mtime TIES back everyone who sees them off
    *     (safety over liveness — callers retry). On remote schemes,
    *     where a multi-frontend store may stamp a later-visible PUT
    *     with an earlier time, the election CONFIRMS after a settle
    *     window (GRAFT_LEASE_SETTLE_MS, default 250 ms — longer than
    *     typical PUT-visibility lag): once both proposals are mutually
    *     visible the strict-minimum rule admits at most one winner.
    *  3. the winner keeps its proposal for the whole body (so later
    *     arrivals lose their election against it) and additionally
    *     writes the legacy `.write.lock` marker file (cheap refusal for
    *     later arrivals + external visibility of the holder's token).
    *
    * Stale proposals and a stale marker (mtime beyond `staleMs`) are
    * swept at acquisition — the crashed-writer steal.
    *
    * Scheme dispatch (round-15): on stores whose create-no-overwrite IS
    * atomic, the election is unnecessary indirection AND weaker — it
    * leans on listing-stamp/visibility clock agreement that a
    * multi-frontend store only approximates (the settle window) — so
    * those schemes take the ATOMIC path: one `createExclusive` of the
    * marker decides ownership outright. Default atomic set: `hdfs`
    * (namenode-arbitrated); extend via GRAFT_LEASE_ATOMIC_SCHEMES /
    * -Dgraft.lease.atomic.schemes for stores known to implement
    * conditional PUT (modern object stores behind an up-to-date
    * connector). Everything else — `file` (RawLocal's exists-then-
    * truncate), legacy object stores, mockfs — uses the election.
    *
    * Liveness under ties: stores with COARSE (second-granularity)
    * LastModified stamps tie same-second contenders, and the election
    * refuses both (safety first). Instead of pushing that retry loop
    * onto every caller, RACED refusals (election ties / rival-not-
    * strictly-newer / swept-self) retry internally with jittered backoff
    * long enough to cross a second boundary; a refusal against a LIVE
    * MARKER (a real holder mid-commit) still surfaces immediately. */
  private final class LeaseRaced(msg: String) extends IllegalStateException(msg)

  private def withWriteLock[A](path: String, staleMs: Long = 3600000L)(
      body: => A): A = {
    IndexFs.mkdirs(path)
    val retries = sys.props.get("graft.lease.retries")
      .orElse(sys.env.get("GRAFT_LEASE_RETRIES")).map(_.toInt).getOrElse(3)
    var attempt = 0
    while (true) {
      try return lockOnce(path, staleMs)(body)
      catch {
        case r: LeaseRaced =>
          if (attempt >= retries) throw r
          attempt += 1
          Thread.sleep(100L +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(600L))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def lockOnce[A](path: String, staleMs: Long)(body: => A): A = {
    val lock = s"$path/.write.lock"
    val elecDir = s"$path/.write.lock.d"
    val token = java.util.UUID.randomUUID.toString
    def refuse(): Nothing = throw new IllegalStateException(
      s"graft: another ivfAppend/ivfRebuild holds $path/.write.lock — " +
        "index writes are single-writer (lost-update protection); retry " +
        "after it commits (a crashed writer's lock is stolen after " +
        s"${staleMs / 1000} s)")
    def raced(): Nothing = throw new LeaseRaced(
      s"graft: another ivfAppend/ivfRebuild holds $path/.write.lock — " +
        "index writes are single-writer (lost-update protection); retry " +
        "after it commits (a crashed writer's lock is stolen after " +
        s"${staleMs / 1000} s)")
    val now = System.currentTimeMillis()
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    try {
      if (IndexFs.exists(lock)) {
        if (IndexFs.mtime(lock) < now - staleMs) {
          // IDENTITY-VERIFIED rename-aside steal. A plain delete (or a
          // blind rename) races a co-stealer: one descheduled between
          // its staleness read and its move could displace the FRESH
          // lock the faster stealer just created. So: remember the
          // stale holder's token, re-check staleness immediately before
          // the move, move the object aside, and confirm the aside
          // carries THAT token — if a fresh lock got moved instead,
          // restore it and stand down.
          val oldTok = new String(IndexFs.readBytes(lock), utf8)
          if (IndexFs.mtime(lock) >= now - staleMs) refuse()
          // the steal INSTANT rides in the aside's NAME: rename
          // preserves the stale lock's old mtime, so the orphan sweep
          // below cannot use mtime without eating a co-stealer's
          // just-renamed aside mid-verify (it would then read an empty
          // token, fail the restore rename, and stand down despite
          // having legitimately won the steal)
          val aside = s"$lock.stale.$now.$token"
          if (IndexFs.rename(lock, aside)) {
            val moved =
              try new String(IndexFs.readBytes(aside), utf8)
              catch { case _: java.io.IOException => "" }
            if (moved == oldTok) IndexFs.delete(aside)
            else {
              // we displaced a rival's fresh lock: put it back (or, if
              // yet another contender re-created the path meanwhile,
              // drop the aside — its owner's token-verified release
              // will surface the theft loudly) and stand down
              if (!IndexFs.rename(aside, lock)) IndexFs.delete(aside)
              raced()
            }
          }
          // lost the rename ⇒ a rival stole it first; the arbiter below
          // decides. Sweep asides orphaned by crashed stealers — the
          // index vacuum's name filters never match them.
          try IndexFs.list(path).foreach { case (n, m) =>
            // sweep by the NAME-embedded steal instant, never mtime
            // (see the aside comment above): only asides whose steal
            // is itself a full stale window old are truly orphaned.
            // The instant must parse as a PLAUSIBLE epoch-ms (13-17
            // digits) — a shorter digit run is a name that merely
            // starts with digits (e.g. a legacy un-timestamped token),
            // which must not be swept via a garbage timestamp.
            if (n.startsWith(".write.lock.stale.")) {
              val ts = n.stripPrefix(".write.lock.stale.")
                .takeWhile(_.isDigit)
              if (ts.length >= 13 && ts.length <= 17) {
                if (ts.toLong < now - staleMs)
                  IndexFs.delete(s"$path/$n")
              } else if (m < now - 2 * staleMs) {
                // no embedded instant (legacy/foreign name): fall back
                // to DOUBLE the stale window on mtime — rename preserves
                // the old lock's mtime (≥ staleMs at steal time), so 2×
                // still grants a live co-stealer a full window to finish
                // its ms-scale verify before its aside becomes sweepable
                IndexFs.delete(s"$path/$n")
              }
            }
          } catch { case _: java.io.IOException => () }
        } else refuse()
      }
    } catch { case _: java.io.IOException => () }
    // Token-verified release, shared by both paths: delete the lock only
    // when it is still OURS. A holder whose body outlived the stale
    // window must not delete a stealer's fresh lock, and the violated
    // single-writer contract must surface loudly (only when the body
    // succeeded — a body failure is the primary error, not masked).
    def releaseOrThrow(bodyOk: Boolean): Unit = {
      val mine =
        try IndexFs.exists(lock) &&
          new String(IndexFs.readBytes(lock), utf8) == token
        catch { case _: java.io.IOException => false }
      if (mine) {
        try IndexFs.delete(lock) catch { case _: java.io.IOException => () }
      } else if (bodyOk) throw new IllegalStateException(
        s"graft: $lock was stolen while this writer held it (the body " +
          s"outlived the ${staleMs / 1000} s stale window) — a rival may " +
          "have written concurrently; verify or rebuild the index")
    }
    // ---- atomic-create fast path ----
    val scheme = Option(new org.apache.hadoop.fs.Path(path).toUri.getScheme)
    val atomicSchemes = sys.props.get("graft.lease.atomic.schemes")
      .orElse(sys.env.get("GRAFT_LEASE_ATOMIC_SCHEMES")).getOrElse("hdfs")
      .split(',').map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).toSet
    if (scheme.exists(atomicSchemes)) {
      // the create itself arbitrates: exactly one contender's
      // no-overwrite create succeeds, however close the race
      if (!IndexFs.createExclusive(lock, token.getBytes(utf8)))
        raced() // lost the create race; retry re-checks holder staleness
      var bodyOk = false
      try { val r = body; bodyOk = true; return r }
      finally releaseOrThrow(bodyOk)
    }
    // ---- proposal-election fallback ----
    IndexFs.mkdirs(elecDir)
    // sweep crashed contenders' proposals before standing our own
    try IndexFs.list(elecDir).foreach { case (n, m) =>
      if (m < now - staleMs) IndexFs.delete(s"$elecDir/$n")
    } catch { case _: java.io.IOException => () }
    def cleanup(): Unit = {
      try IndexFs.delete(s"$elecDir/$token")
      catch { case _: java.io.IOException => () }
    }
    // From the proposal PUT until the body's own try/finally, ANY throw
    // must withdraw the proposal — an orphaned fresh proposal would
    // refuse every writer for staleMs with no holder to ever commit
    // (the PUT itself can throw AFTER creating the object: write/close
    // failure on an already-created file).
    try {
      IndexFs.writeBytes(s"$elecDir/$token", Array.emptyByteArray)
      def assertElected(): Unit = {
        val live = IndexFs.list(elecDir).filter(_._2 >= now - staleMs)
        val selfMtime = live.collectFirst { case (n, m) if n == token => m }
          .getOrElse(raced()) // swept by a skewed-clock racer
        if (live.exists { case (n, m) => n != token && m <= selfMtime })
          raced() // rival proposal not strictly newer: stand down
      }
      assertElected()
      // The single-list election is sound when PUT visibility and the
      // listing's LastModified stamps come from one clock (local FS,
      // HDFS). A multi-frontend object store can stamp a LATER-visible
      // PUT with an EARLIER time, letting two contenders each see the
      // other as "strictly newer" — so on remote schemes, confirm after
      // a settle window longer than typical PUT-visibility lag: by then
      // both proposals are mutually visible and the strict-minimum rule
      // picks at most one winner (ties refuse both).
      // file and HDFS stamp mtimes with the same clock that orders PUT
      // visibility (the analysis above), so the single list suffices;
      // only multi-frontend object-store schemes pay the settle
      if (!scheme.forall(s => s == "file" || s == "hdfs")) {
        Thread.sleep(
          sys.env.getOrElse("GRAFT_LEASE_SETTLE_MS", "250").toLong)
        assertElected()
      }
      // elected: the marker create-overwrite is safe, the election
      // authorized exactly one writer to reach this line
      IndexFs.writeBytes(lock, token.getBytes(utf8))
    } catch { case t: Throwable => cleanup(); throw t }
    var bodyOk = false
    try { val r = body; bodyOk = true; r }
    finally {
      try releaseOrThrow(bodyOk)
      finally cleanup()
    }
  }

  /** Persistent IVF index: `build` runs the Lloyd refinement ONCE and
    * writes centroids + per-vector assignment lists as parquet; `query`
    * probes a built index without touching the raw corpus again. At
    * corpus scale the index build is the expensive pass (assignment =
    * broadcast join against K ≈ √N centroids over all N vectors) and
    * queries are the hot path — recomputing the index per query batch,
    * as a one-shot `ivfTopK` does, would re-scan the corpus every time.
    * The arithmetic is identical to `ivfTopK` (quantized-integer Lloyd,
    * codegen dot products), so a built index answers bit-identically.
    *
    * The index records WHICH corpus it was built from — a `meta` table
    * carrying the corpus fingerprint — and `ivfQuery` re-checks it by
    * default, failing loudly when the corpus has advanced. In a
    * versioned store every read is version-pinned (reference:
    * src/io/mandoline/impl.clj:53-75); an unpinned ANN index silently
    * answering for a corpus n versions ahead would be the one unpinned
    * read in the system. `nCentroids <= 0` derives K ≈ √N
    * (`autoCentroids`). */
  def ivfBuild(emb: DataFrame, path: String, nCentroids: Int = 0,
      lloydIters: Int = 1, corpus: Option[CorpusId] = None,
      pqM: Int = 0, pqKsub: Int = 16): Unit = {
    require(!IndexFs.exists(s"$path/CURRENT"),
      s"graft: $path is a pointer-layout index (rebuilt at least once); " +
        "ivfBuild would write a generation no reader resolves — use ivfRebuild")
    buildAt(emb, path, nCentroids, lloydIters, corpus, lastBatch = -1L,
      pqM = pqM, pqKsub = pqKsub)
  }

  private def buildAt(emb: DataFrame, dir: String, nCentroids: Int,
      lloydIters: Int, corpus: Option[CorpusId], lastBatch: Long,
      pqM: Int = 0, pqKsub: Int = 16): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val kC = if (nCentroids > 0) nCentroids else autoCentroids(emb.count())
    val n = withNorm(emb)
    var centsLocal = n.filter(col("vec_id") < kC)
      .select(col("vec_id").as("cent_id"), col("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    for (_ <- 0 until lloydIters)
      centsLocal = ivfRefine(n, ivfCentsDF(emb, centsLocal))
    val cents = ivfCentsDF(emb, centsLocal)
    cents.select("cent_id", "cv").write.parquet(s"$dir/centroids")
    val assignedRaw = ivfAssign(n, cents, dot(emb) _)
    // pqM > 0: PQ-enabled layout — the codebook persists next to the
    // centroids and every assignment row carries the vector's codes, so
    // the ADC serving path needs no extra join and appends can encode
    // against the frozen codebook
    val assigned =
      if (pqM <= 0) assignedRaw
      else {
        val (sub, _) = pqSubvectors(emb, pqM)
        val cb = pqCodebook(emb, sub, pqKsub, lloydIters)
        cb.select("s", "cent_id", "cv").write.parquet(s"$dir/codebook")
        assignedRaw.join(pqEncode(emb, sub, cb), Seq("vec_id"))
      }
    assigned.write.parquet(s"$dir/assignments")
    val (cnt, h) = corpusFingerprint(emb)
    writeMeta(spark, IvfMeta(cnt, h, kC, lloydIters, Seq("assignments"),
      lastBatch, cnt, corpus.map(_.uri),
      corpus.map(_.versionId).getOrElse(-1L)), dir)
  }

  /** Zero-downtime full rebuild: train fresh centroids on the CURRENT
    * corpus (folding every appended generation back into the quantizer —
    * appendedFraction resets to 0) in a NEW generation directory, then
    * flip the `CURRENT` pointer file to it with ONE atomic rename. A
    * racing reader resolves either the old generation or the new one,
    * never a half-moved directory; superseded generations are left in
    * place for [[ivfVacuum]]'s grace-guarded sweep, so a reader mid-scan
    * of the old generation finishes cleanly.
    *
    * Holds the index write lock for its whole duration, so an append
    * cannot commit into the about-to-be-superseded generation and be
    * silently discarded by the flip; the streaming exactly-once
    * watermark (`last_batch`) is carried forward into the rebuilt meta,
    * so a Structured Streaming re-delivery of an already-folded batch
    * is still skipped after the rebuild. */
  def ivfRebuild(emb: DataFrame, path: String, nCentroids: Int = 0,
      lloydIters: Int = 1, corpus: Option[CorpusId] = None,
      pqM: Int = 0, pqKsub: Int = 16): Unit =
    withWriteLock(path) {
      val spark = emb.sparkSession
      val prevLastBatch =
        readMeta(spark, servingDir(path)).map(_.lastBatch).getOrElse(-1L)
      val gen = s"gen_${java.util.UUID.randomUUID}"
      buildAt(emb, s"$path/$gen", nCentroids, lloydIters, corpus, prevLastBatch,
        pqM = pqM, pqKsub = pqKsub)
      IndexFs.replace(s"$path/CURRENT",
        gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Fraction of the index's corpus appended SINCE the centroids were
    * trained (0 right after ivfBuild). Appends keep the coarse quantizer
    * frozen, so recall decays as this grows — poll it to schedule the
    * periodic rebuild (a common policy rebuilds past ~0.3–0.5). */
  def appendedFraction(spark: SparkSession, path: String): Double = {
    val m = readMeta(spark, servingDir(path)).getOrElse(
      throw new IllegalStateException(
        s"graft: IVF index at $path has no meta — nothing to poll"))
    if (m.corpusCount == 0) 0.0
    else (m.corpusCount - m.baseCount).toDouble / m.corpusCount
  }

  /** Top-k cosine neighbors from a BUILT index for the `nQueries`
    * lowest vec_ids of `emb` (the query vectors themselves are the only
    * thing read from `emb`; candidates come from the index).
    *
    * `verifyCorpus` (default ON) re-fingerprints `emb` and fails loudly
    * when it differs from the corpus the index was built on — serving
    * stale neighbors for an advanced corpus is a correctness bug, not a
    * recall tradeoff. The check is one no-shuffle scan of
    * (vec_id, embedding); a serving deployment that pins its corpus can
    * verify once per batch and pass `verifyCorpus = false` on the rest. */
  def ivfQuery(emb: DataFrame, path: String, k: Int, nQueries: Int,
      nProbe: Int = 4, verifyCorpus: Boolean = true): DataFrame = {
    if (verifyCorpus) attestCorpus(emb, path)
    ivfQueryVectors(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      path, k, nProbe, excludeSelf = true)
  }

  /** Top-k cosine neighbors from a BUILT index for ARBITRARY query
    * vectors — the real serving signature: `queries` is
    * (query_id, embedding), entirely external to the indexed corpus
    * (an online query batch, another table, a user request). With
    * `excludeSelf` a neighbor whose id equals the query id is dropped
    * (used by the corpus-self-query wrapper above). No staleness check
    * here: external queries carry no corpus to attest — pin the corpus
    * via [[ivfQuery]] or call [[attestCorpus]] explicitly. */
  def ivfQueryVectors(queries: DataFrame, path: String, k: Int,
      nProbe: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val sd = servingDir(path) // one resolve: centroids + lists + meta cohere
    val d = dot(queries) _
    val cents = broadcast(spark.read.parquet(s"$sd/centroids")
      .withColumn("cn", sqrt(d(col("cv"), col("cv")))))
    val assigned = spark.read.parquet(assignmentDirs(spark, sd): _*)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cent_id").asc)
    val probes = queries
      .select(col("query_id"),
        transform(col("embedding"), _.cast("double")).as("qv"))
      .withColumn("qn", sqrt(d(col("qv"), col("qv"))))
      .crossJoin(cents)
      .withColumn("csim", d(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cent_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("cent_id"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("sim", d(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** [[ivfQuery]]'s ADC twin for a PQ-enabled index: attest, then rank
    * the corpus's own `nQueries` lowest vec_ids by PQ codes. Serving a
    * pinned deployment passes `verifyCorpus = false` after its
    * once-per-batch attest, like [[ivfQuery]]. */
  def ivfPqQuery(emb: DataFrame, path: String, k: Int, nQueries: Int,
      nProbe: Int = 4, verifyCorpus: Boolean = true): DataFrame = {
    if (verifyCorpus) attestCorpus(emb, path)
    ivfPqQueryVectors(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      path, k, nProbe, excludeSelf = true)
  }

  /** ADC serving from a PQ-enabled BUILT index ([[ivfBuild]] with
    * `pqM > 0`): candidates come from the probed inverted lists and are
    * ranked by their STORED codes against the query's ADC table — the
    * raw corpus vectors are never read, which is the point: the probed
    * lists of a 10⁹-vector corpus are served from the 4-bit codes
    * (~64× smaller than float32) while recall follows the codebook
    * resolution. Bit-identical to [[ivfPqTopK]] on the same corpus and
    * parameters (the oracle identity q_pipe_knn_ivfpq_serve pins).
    * Fails loudly on an index built without PQ. */
  def ivfPqQueryVectors(queries: DataFrame, path: String, k: Int,
      nProbe: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val sd = servingDir(path) // one resolve: centroids/codebook/lists cohere
    require(IndexFs.exists(s"$sd/codebook"),
      s"graft: index at $path has no PQ codebook — build it with " +
        "ivfBuild(..., pqM > 0) (or rebuild), or serve exactly with ivfQueryVectors")
    val d = dot(queries) _
    val cents = broadcast(spark.read.parquet(s"$sd/centroids")
      .withColumn("cn", sqrt(d(col("cv"), col("cv")))))
    val cb = broadcast(spark.read.parquet(s"$sd/codebook"))
    val (m, ksub) = {
      val r = cb.agg(max(col("s")), count(lit(1))).head
      val mm = r.getInt(0) + 1
      require(r.getLong(1) % mm == 0,
        s"graft: PQ codebook at $sd is ragged (${r.getLong(1)} rows over $mm sub-spaces)")
      (mm, (r.getLong(1) / mm).toInt)
    }
    val assigned = spark.read.parquet(assignmentDirs(spark, sd): _*)
    require(assigned.columns.contains("codes"),
      s"graft: an assignment generation at $sd has no codes column — the " +
        "index mixes PQ and non-PQ generations; rebuild with pqM > 0")
    val qn = queries
      .select(col("query_id"), transform(col("embedding"), _.cast("double")).as("qv"))
      .withColumn("qnrm", sqrt(d(col("qv"), col("qv"))))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cent_id").asc)
    val probes = qn.crossJoin(cents)
      .withColumn("csim", d(col("qv"), col("cv")) / (col("qnrm") * col("cn")))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("cent_id"))
    // per-query ADC tables from the STORED codebook
    val (qsub, _) = pqSubvectors(
      queries.select(col("query_id").as("vec_id"), col("embedding")), m)
    val qtab = pqQueryTableOf(queries, qsub, cb)
    val pairs = probes
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("cent_id"),
        col("codes")), Seq("cent_id"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .join(broadcast(qtab), Seq("query_id"))
    pqAdcRank(pairs, k, m, ksub)
  }

  /** Incremental index growth: assign a NEW batch of vectors to the
    * EXISTING centroids and append them to the index's inverted lists,
    * updating the corpus fingerprint so `ivfQuery(corpus ∪ batch)`
    * attests cleanly. This is the standard IVF append tradeoff: the
    * coarse quantizer (centroids) stays frozen — cheap (one broadcast
    * assignment pass over the batch only, no corpus re-scan, no Lloyd) —
    * and recall decays only as the corpus DRIFTS away from the centroid
    * distribution; rebuild with `ivfBuild` when the appended fraction
    * gets large. The fingerprint update is exact, not approximate: the
    * corpus hash is an order-free XOR of per-row hashes, so
    * fp(corpus ∪ batch) = (count + batchCount, hash ⊻ batchHash) without
    * touching the base corpus.
    *
    * `base` must be the corpus the index currently covers (attested
    * against the stored fingerprint — appending onto the wrong index
    * version is exactly the silent-staleness bug the binding exists to
    * stop); `batch` must carry NEW vec_ids. */
  def ivfAppend(base: DataFrame, batch: DataFrame, path: String): Unit = {
    appendUnattested(batch, path, batchId = None, newCorpus = None,
      attest = _ => attestCorpus(base, path)); ()
  }

  /** [[ivfAppend]] for a version-pinned index: attest the current pin
    * in O(1) against `from` (no corpus scan — see [[attestVersion]]),
    * append the batch, and advance the pin to `to`, the identity of the
    * corpus WITH the batch applied. The whole call touches only the
    * batch and the meta sidecar. */
  def ivfAppendPinned(batch: DataFrame, path: String,
      from: CorpusId, to: CorpusId): Unit = {
    appendUnattested(batch, path, batchId = None, newCorpus = Some(to),
      attest = s => attestVersion(s, path, from)); ()
  }

  /** Streaming variant of [[ivfAppend]] with exactly-once semantics: the
    * committed `batchId` is recorded in the meta swap, so a Structured
    * Streaming foreachBatch RE-DELIVERY of an already-committed batch is
    * skipped (returns false). No base-corpus attestation — in the
    * streaming scenario the index is maintained by a single pipeline and
    * the meta fingerprint is its incrementally-true corpus identity;
    * external readers still attest the full corpus via [[ivfQuery]].
    * See [[graft.streaming.StreamingAnn]] for the sink wrapper. */
  def ivfAppendBatch(batch: DataFrame, path: String, batchId: Long): Boolean =
    appendUnattested(batch, path, Some(batchId), newCorpus = None)

  /** Shared append core: the batch's inverted-list rows land in a FRESH
    * generation dir that only becomes visible when the meta commit
    * publishes it — a crash at any earlier point leaves an orphan dir
    * readers never consult and an unchanged fingerprint (fail-closed,
    * retry-safe: no duplicate assignment rows, ever). Runs under the
    * index write lock: the meta read-modify-write would otherwise lose
    * one of two concurrent appends' generations (and its XOR
    * contribution), and an append racing [[ivfRebuild]] would commit
    * into the superseded generation. An UNPINNED append clears any
    * recorded corpus pin — the pin's version no longer describes the
    * grown corpus.
    *
    * `attest` runs INSIDE the write lock, before the meta read — an
    * attestation taken before lock acquisition could be invalidated by
    * a concurrent writer advancing the pin or growing the corpus
    * between attest and commit (TOCTOU), and the append would then
    * stamp `to` over a base that no longer matches `from`. */
  private def appendUnattested(batch: DataFrame, path: String,
      batchId: Option[Long], newCorpus: Option[CorpusId],
      attest: SparkSession => Unit = _ => ()): Boolean =
    withWriteLock(path) {
      val spark = batch.sparkSession
      attest(spark)
      val sd = servingDir(path)
      val meta = readMeta(spark, sd).getOrElse(throw new IllegalStateException(
        s"graft: IVF index at $path has no meta — append needs an " +
          "ivfBuild-built index"))
      if (batchId.exists(_ <= meta.lastBatch)) false // re-delivery: skip
      else {
        val d = dot(batch) _
        val cents = broadcast(spark.read.parquet(s"$sd/centroids")
          .withColumn("cn", sqrt(d(col("cv"), col("cv")))))
        val gen = s"assignments_${java.util.UUID.randomUUID}"
        val rows = ivfAssign(withNorm(batch), cents, d)
        // PQ-enabled index: encode the batch against the FROZEN codebook
        // (same tradeoff as the frozen coarse centroids — no retrain, one
        // broadcast argmin pass; drift is the rebuild trigger), so every
        // assignment generation keeps the codes column the ADC serving
        // path requires
        val out =
          if (!IndexFs.exists(s"$sd/codebook")) rows
          else {
            val cb = broadcast(spark.read.parquet(s"$sd/codebook"))
            val m = cb.agg(max(col("s"))).head.getInt(0) + 1
            val (sub, _) = pqSubvectors(batch, m)
            rows.join(pqEncode(batch, sub, cb), Seq("vec_id"))
          }
        out.write.parquet(s"$sd/$gen")
        val (bCnt, bH) = corpusFingerprint(batch)
        commitMeta(spark, meta.copy(
          corpusCount = meta.corpusCount + bCnt,
          corpusHash = meta.corpusHash ^ bH,
          gens = meta.gens :+ gen,
          lastBatch = batchId.getOrElse(meta.lastBatch),
          corpusUri = newCorpus.map(_.uri),
          corpusVersion = newCorpus.map(_.versionId).getOrElse(-1L)), sd)
        true
      }
    }

  /** Remove assignment generations a crashed append left ORPHANED —
    * dirs whose write finished (or died) but whose meta swap never
    * committed them into `gens`. Concurrency-safe the same way the
    * store's staging sweep is: a dir is deleted only when it is absent
    * from the committed meta AND its newest tree mtime is older than
    * `graceMs` (an in-flight append keeps writing; a dead one goes
    * silent). Returns the number of dirs removed. */
  def ivfVacuum(path: String, graceMs: Long = 3600000L): Int = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (!IndexFs.exists(path)) return 0
    val sd = servingDir(path)
    // IO errors / corrupt meta PROPAGATE (a transient failure must abort
    // the sweep, not masquerade as "no meta"); only a genuinely
    // never-committed index returns None → touch nothing.
    val meta = readMeta(spark, sd) match {
      case Some(m) => m
      case None => return 0
    }
    val live = meta.gens.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def silentSince(p: String): Boolean = IndexFs.newestMtime(p) <= cutoff
    // 1) orphan assignment generations inside the serving dir — writes
    //    that finished (or died) but whose meta commit never landed
    val orphans = IndexFs.list(sd)
      .collect { case (n, _) if n.startsWith("assignments_") && !live(n) =>
        s"$sd/$n" }
      .filter(silentSince)
    // 2) superseded index generations at the root (pointer layout):
    //    gen_ dirs the CURRENT pointer no longer names, plus the legacy
    //    root-layout leftovers (centroids/meta/assignments*) once a
    //    pointer exists — grace-guarded like the orphans, so a reader
    //    that resolved the old generation finishes its scan
    val superseded =
      if (sd == path) Seq.empty
      else {
        val curName = sd.substring(sd.lastIndexOf('/') + 1)
        IndexFs.list(path)
          .collect { case (n, _)
              if (n.startsWith("gen_") && n != curName) ||
                n == "centroids" || n == "meta" || n == "meta.props" ||
                n.startsWith("assignments") =>
            s"$path/$n" }
          .filter(silentSince)
      }
    (orphans ++ superseded).foreach(IndexFs.deleteTree)
    orphans.size + superseded.size
  }

  /** The committed assignment dirs of an already-resolved serving dir.
    * None-meta (legacy pre-meta index) falls back to the single
    * "assignments" dir; transient failures propagate (see readMeta) —
    * silently demoting a grown index to its base generation is the
    * staleness bug the binding exists to prevent. */
  private def assignmentDirs(spark: SparkSession, sd: String): Seq[String] =
    readMeta(spark, sd).map(_.gens).getOrElse(Seq("assignments"))
      .map(g => s"$sd/$g")

  /** Fail loudly when `emb` is not the corpus the index at `path` was
    * built from (see ivfBuild's staleness rationale). */
  def attestCorpus(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    val meta = readMeta(spark, servingDir(path)).getOrElse(
      throw new IllegalStateException(
        s"graft: IVF index at $path has no meta table — built by a " +
          "pre-fingerprint version? Rebuild with ivfBuild, or pass " +
          "verifyCorpus = false to serve it unchecked"))
    val (cnt, h) = corpusFingerprint(emb)
    if (cnt != meta.corpusCount || h != meta.corpusHash)
      throw new IllegalStateException(
        s"graft: IVF index at $path is STALE — built from a corpus with " +
          s"(count, hash) = (${meta.corpusCount}, ${meta.corpusHash}), " +
          s"queried with ($cnt, $h). Rebuild with ivfBuild (or pass " +
          "verifyCorpus = false to knowingly serve stale neighbors)")
  }

  /** O(1) attestation for a version-pinned index: two equality checks
    * against the pin recorded at build/append time — no Spark job, no
    * corpus scan. Throws when the index carries no pin (built/last
    * appended without a [[CorpusId]]) or when the pin names a different
    * corpus state than `corpus`. */
  def attestVersion(spark: SparkSession, path: String, corpus: CorpusId): Unit = {
    val meta = readMeta(spark, servingDir(path)).getOrElse(
      throw new IllegalStateException(
        s"graft: IVF index at $path has no meta — nothing to attest"))
    meta.corpusUri match {
      case None => throw new IllegalStateException(
        s"graft: IVF index at $path carries no corpus pin — built or last " +
          "appended without a CorpusId; attest with attestCorpus (fingerprint " +
          "scan), or rebuild/append with the pin to enable O(1) attestation")
      case Some(uri) if uri != corpus.uri ||
          meta.corpusVersion != corpus.versionId =>
        throw new IllegalStateException(
          s"graft: IVF index at $path is STALE — pinned to ($uri, " +
            s"v${meta.corpusVersion}), attested with (${corpus.uri}, " +
            s"v${corpus.versionId}); rebuild or append to advance the pin")
      case _ => ()
    }
  }

  /** [[ivfQueryVectors]] plus O(1) staleness attestation for a
    * version-pinned index — the serving signature for versioned corpora
    * (the unpinned path pays a corpus re-scan per attested batch). */
  def ivfQueryPinned(queries: DataFrame, path: String, corpus: CorpusId,
      k: Int, nProbe: Int = 4): DataFrame = {
    attestVersion(queries.sparkSession, path, corpus)
    ivfQueryVectors(queries, path, k, nProbe)
  }

  /** Drops LSH buckets holding more than `maxBucketSize` vectors before
    * any within-bucket pairwise step. A fixed-width signature gives an
    * expected bucket population of N/2^nBits — linear in corpus size — so
    * without a cap the per-bucket self-join is still O(N²) at scale. An
    * oversized bucket is also non-discriminative (its signature captures
    * boilerplate shared across the corpus), so dropping it costs little
    * recall while bounding join output to O(buckets · maxBucketSize²).
    * Same design as Dedup.minHashCandidatePairs. The kept-buckets list is
    * ≤ nTables · 2^nBits rows — broadcast. Caps apply per (table, bucket):
    * one table's boilerplate bucket overflowing must not drop another
    * table's discriminative one. */
  private def capBuckets(sig: DataFrame, maxBucketSize: Int): DataFrame = {
    val small = sig.groupBy("tbl", "bucket")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select("tbl", "bucket")
    sig.join(broadcast(small), Seq("tbl", "bucket"))
  }

  /** (vec_id, v, nrm, tbl, bucket) for `nTables` independent LSH tables
    * in ONE pass over the corpus: the per-table signatures ride a
    * posexplode'd array column (table t = plane offset 24·t, so tables
    * never share a hyperplane), then per-(table, bucket) capping. This is
    * OR-amplification: a 0.9-cos pair missed by one table's bucketing
    * gets nTables independent shots, at nTables× the bucket-join cost —
    * the standard recall/throughput dial for production near-dup runs. */
  private def tableSignatures(n: DataFrame, bits: Int, nTables: Int,
      maxBucketSize: Int): DataFrame = {
    val sigs = array((0 until nTables).map(t => lshSignature(bits, 24 * t)): _*)
    // ids + buckets only — vectors rejoin AFTER candidate dedup, so the
    // bucket shuffle moves ~30 bytes/row, not dim doubles. The frame
    // feeds both sides of the candidate self-join: localCheckpoint
    // (lazy) materializes the signature pass ONCE instead of re-scanning
    // and re-hashing the corpus per consumer (plan-audited: 6 → 3
    // corpus scans for lshTopK).
    capBuckets(
      n.select(col("vec_id"), posexplode(sigs).as(Seq("tbl", "bucket"))),
      maxBucketSize).localCheckpoint(false)
  }

  /** Signature width for a corpus of `n` vectors: the smallest b ≥ 8 with
    * expected bucket population `floor(n / 2^b) ≤ maxBucketSize`, i.e.
    * bitLength(n / (maxBucketSize+1)); capped at 24 (16M buckets). A FIXED
    * width cannot survive corpus growth: expected population is N/2^bits —
    * linear in N — so once N ≳ bucketCap·2^bits EVERY bucket overflows the
    * cap and is dropped, silently returning near-empty results. Derived
    * from a cheap count instead, and mirrored bit-exactly in the DuckDB
    * oracles (integer arithmetic only — `bin()` string length, no
    * float-log edge cases at powers of two). */
  def autoBits(n: Long, maxBucketSize: Int): Int = {
    val q = n / (maxBucketSize + 1L)
    math.min(24, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(q)))
  }

  /** Embedding-cosine near-duplicate pairs: vectors sharing a random-
    * hyperplane LSH bucket whose exact cosine ≥ `minCos` become (a, b)
    * dup candidates. Bucketing keeps the pairwise step per-bucket (never
    * all-pairs — at 100 TB that's the difference between feasible and
    * not); the same fixed hyperplanes AND the bucket-size cap are
    * replicated in the DuckDB oracle so the result is hash-checked,
    * honestly including LSH recall.
    *
    * `nBits <= 0` (the default) derives the signature width from the
    * corpus count (`autoBits`) so buckets stay ≈ `maxBucketSize` at any
    * scale; pass an explicit width only to pin a tested configuration.
    *
    * `nTables` independent hyperplane tables (OR-amplification) give a
    * near-dup pair `nTables` independent shots at sharing a bucket — a
    * single table gives a 0.9-cos pair one roll of the (1−θ/π)^nBits
    * dice. Candidates are unioned and deduped before the exact-cosine
    * cut, per-table caps still apply. */
  def cosineNearDupPairs(emb: DataFrame, minCos: Double = 0.9,
      nBits: Int = 0, maxBucketSize: Int = 64, nTables: Int = 2): DataFrame = {
    val bits = if (nBits > 0) nBits else autoBits(emb.count(), maxBucketSize)
    val n = withNorm(emb)
    val sig = tableSignatures(n, bits, nTables, maxBucketSize)
    // candidate id-pairs first, distinct over tables, THEN one exact
    // cosine per pair — a pair surfacing in several tables costs one dot
    // product, not nTables
    val cand = sig.select(col("tbl"), col("bucket"), col("vec_id").as("a"))
      .join(sig.select(col("tbl"), col("bucket"), col("vec_id").as("b")),
        Seq("tbl", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    cand
      .join(n.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na")), Seq("a"))
      .join(n.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb")), Seq("b"))
      .withColumn("cos", dot(emb)(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("a"), col("b"))
      .orderBy("a", "b")
  }

  /** The fixed-hyperplane `nBits`-bit signature column (shared by lshTopK
    * and cosineNearDupPairs; replicated exactly in the DuckDB oracles).
    *
    * Weights come from a two-round multiplicative-xorshift mixer of the
    * (plane, dim) index — the planes must look mutually independent: a
    * plain linear-congruential weight pattern makes every plane a cyclic
    * translate of the same sawtooth (measured pairwise plane |cos| up to
    * 0.82), which correlates the signature bits and collapses most of the
    * corpus onto a few giant buckets that the size cap then drops. With
    * the mixer, max plane |cos| ≈ 0.3 on 64 dims and bucket sizes track
    * the Poisson expectation. Every step is exact in 64-bit signed ints
    * (k0 < 2^21 → k0·2654435761 < 2^53; x2 < 2^32 → x2·49979693 < 2^58)
    * so DuckDB's BIGINT arithmetic reproduces it bit-for-bit.
    *
    * Computed by the native `graft_lsh_sig` expression: the HOF
    * formulation (`concat` of nBits × `aggregate(transform(…))`)
    * materialized nBits intermediate arrays per row and interpreted the
    * weight mixer per element; the native kernel runs all planes in one
    * pass over the ArrayData with a cached weight table, inside
    * whole-stage codegen, with identical left-to-right float adds. */
  private def lshSignature(nBits: Int, planeOffset: Int = 0): Column =
    graft.functions.VectorFunctions.lshSignature(
      org.apache.spark.sql.SparkSession.active, col("v"), nBits, planeOffset)

  /** Random-hyperplane LSH: `nBits`-bit signature from fixed pseudo-random
    * hyperplanes (deterministic, seeded by dimension index — no RNG at
    * runtime). Vectors sharing a signature land in one bucket; top-k then
    * runs inside buckets only. Returns (query_id, neighbor_id, rank) for
    * neighbors found in the query's bucket — a recall/throughput tradeoff
    * tuned by nBits. Buckets over `maxBucketSize` are dropped (capBuckets)
    * so the within-bucket join stays bounded at corpus scale.
    *
    * `nBits <= 0` (the default) derives the signature width from the
    * corpus count (`autoBits`), keeping expected bucket population under
    * the cap at any scale — a fixed width would drop EVERY bucket once
    * N ≳ cap·2^bits. Pass an explicit width only to pin a configuration.
    * `nTables` reseeded hyperplane tables union their candidates
    * (OR-amplification — see cosineNearDupPairs) before the top-k. */
  def lshTopK(emb: DataFrame, k: Int, nQueries: Int, nBits: Int = 0,
      maxBucketSize: Int = 64, nTables: Int = 2): DataFrame = {
    val bits = if (nBits > 0) nBits else autoBits(emb.count(), maxBucketSize)
    val n = withNorm(emb)
    val sig = tableSignatures(n, bits, nTables, maxBucketSize)
    val q = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
    val cand = sig.select(col("vec_id").as("neighbor_id"), col("tbl"), col("bucket"))
    // distinct candidate ids over tables, then one exact sim per
    // candidate. The pair set is nQueries-bounded (≤ nQueries · nTables
    // · cap rows) — BROADCAST it so the corpus-side vector joins below
    // probe a hash map instead of shuffling all N vectors on vec_id.
    val pairs = broadcast(q.join(cand, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct())
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    pairs
      .join(n.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")),
        Seq("query_id"))
      .join(n.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        Seq("neighbor_id"))
      .withColumn("sim", dot(emb)(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }
}
