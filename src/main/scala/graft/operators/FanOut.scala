package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive scan fan-out for CPU-bound per-row derivations
  * (shingling, MD5 minhash signatures, tokenization, image decode).
  *
  * Guide §2.5 ("input skew: one huge unsplittable file — repartition
  * immediately after the read"): a corpus that arrives as FEW parquet
  * files caps the parallelism of everything row-local computed from it —
  * parquet splits by byte range but a small file is one split, so at
  * gate scale the 5,000-document corpus shingles/hashes on ONE task of a
  * 32-core session (measured: q_pipe_novelty spent 4.4 of its 4.4
  * compute-seconds in two sequential single-task stages). At 100 TB the
  * corpus is tens of thousands of splits and the condition below is
  * false, so the repartition — a full shuffle of the payload, which the
  * guide rightly bans as a default — never fires on a well-laid-out
  * production table. It fires exactly when the scan's own parallelism is
  * structurally deficient for the cluster.
  *
  * The partitioner is HASH on a caller-named deterministic key column
  * (never round-robin on random values — retry-safety, guide §2.5), so
  * a retried task reproduces the same row placement.
  */
object FanOut {

  /** `df` repartitioned to the session's core parallelism iff its file
    * scan yields materially fewer splits; identity otherwise (including
    * for non-file-backed frames, whose parallelism already tracks the
    * cluster). */
  def byKey(df: DataFrame, key: Column): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // Width default = quarter of core parallelism (min 2), derived from
    // the session, never a constant: measured A/B at cores=32 (widths 8
    // vs 32), the sub-second tokenize entries are task-overhead/GC-bound
    // and run ~2× faster at quarter width (langid 0.89→0.40 s, shuffle
    // 0.67→0.45 s) while the CPU-heavy entries lose little (novelty,
    // dup_spans within noise) — local-mode tasks share one JVM heap, so
    // full-width allocation-heavy stages trade CPU for GC.
    val target = math.max(2, sc.defaultParallelism / 4)
    // idempotent: a frame whose plan already repartitions (this helper
    // upstream, or an operator's own salting/partitioning) has its
    // parallelism established — a second exchange would be pure cost
    val repartitioned = df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.nonEmpty
    // Deficiency is judged on SCAN SPLITS, not file count (round-18
    // advice): parquet splits large files by byte range, so a production
    // table of few LARGE files (30 × 4 GB on 256 cores ≈ 1000 splits) is
    // already wide and must never trigger a full-payload shuffle. The
    // estimate mirrors FilePartition's packing — maxSplitBytes =
    // min(maxPartitionBytes, max(openCostInBytes, paddedBytes/cores)),
    // splits ≈ ceil(paddedBytes / maxSplitBytes) — so a single file
    // bigger than maxPartitionBytes counts as its many byte-range splits.
    // The size lookup only runs when the FILE count is already deficient
    // (cheap few-HEAD probe; a many-file table short-circuits above it).
    val splits: Long = try {
      val files = df.inputFiles
      if (files.isEmpty) Long.MaxValue // non-file-backed frame
      else if (files.length.toLong * 2 > sc.defaultParallelism) Long.MaxValue
      else {
        import org.apache.spark.network.util.JavaUtils.byteStringAsBytes
        val maxPB = byteStringAsBytes(
          df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
        val openCost = byteStringAsBytes(
          df.sparkSession.conf.get("spark.sql.files.openCostInBytes", "4MB"))
        val hconf = sc.hadoopConfiguration
        val sizes = files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(hconf).getFileStatus(p).getLen
        }
        // maxSplitBytes exactly as Spark computes it (FilePartition):
        // open-cost-padded total spread over the default parallelism
        val padded = sizes.map(_ + openCost).sum
        val bytesPerCore = padded / math.max(1, sc.defaultParallelism)
        val maxSplit = math.max(1L, math.min(maxPB, math.max(openCost, bytesPerCore)))
        // per-file byte-range split count (≥ 1 per file); bin packing can
        // only MERGE small splits, so this upper-bounds nothing we need —
        // a large file contributes its many splits, a tiny file one
        sizes.map(s => math.max(1L, (s + maxSplit - 1) / maxSplit)).sum
      }
    } catch { case _: Throwable => Long.MaxValue }
    // fire on deficiency vs CORE count (2× headroom: a scan already
    // within a factor of two of the cores gains less from a fan-out
    // shuffle than the shuffle costs), but fan to the narrower target
    if (!repartitioned && splits > 0 && splits != Long.MaxValue &&
        splits * 2 <= sc.defaultParallelism && splits < target)
      df.repartition(target, key)
    else df
  }
}
