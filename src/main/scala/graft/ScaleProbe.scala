package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe for the LLM-pipeline operators (dev tool, not a gate):
  * replicates the sf documents/embeddings tables N× with remapped ids
  * (so dedup does NOT collapse the copies into one cluster — every copy
  * gets fresh ids and a salt char appended to text so fingerprints
  * differ across replicas while staying realistic), then times the
  * candidate-generation / clustering / index-build paths at each scale.
  *
  * Purpose: the LSH caps and pointer-jumping rounds are scale-safe BY
  * CONSTRUCTION (per-bucket pair caps, O(log n) label rounds); this
  * probe turns that argument into measured scaling ratios. A healthy
  * entry grows ~linearly in input size; superlinear growth flags a cap
  * that isn't binding or a shuffle that grew quadratically.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_PROBE_SCALES=1,4 sbt "runMain graft.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALES", "1,4")
      .split(",").toSeq.map(_.trim.toInt)
    val spark = GraftSession.local("graft-scale-probe", defaultCpus = 32)
    val probe = new graft.tools.ProbeRecord("pipeline-scale")
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // replica id stride = max(id)+1, NOT count(): sparse or non-zero-based
    // ids under a count() stride would collide across replicas, letting
    // dedup collapse replicas and understate scaling
    val docStride = docs0.agg(max("doc_id")).head.getLong(0) + 1L
    val vecStride = emb0.agg(max("vec_id")).head.getLong(0) + 1L

    for (sc <- scales) {
      // replicate with fresh ids + per-replica text salt (prepended: the
      // shingle stream shifts so MinHash fingerprints differ per replica;
      // embeddings get a tiny per-replica rotation on one coordinate)
      val docs = (0 until sc).map { r =>
        docs0.withColumn("doc_id", col("doc_id") + lit(r.toLong * docStride))
          .withColumn("text",
            when(col("text").isNotNull, concat(lit(s"r$r "), col("text"))))
      }.reduce(_ unionAll _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val emb = (0 until sc).map { r =>
        emb0.withColumn("vec_id", col("vec_id") + lit(r.toLong * vecStride))
          .withColumn("embedding",
            transform(col("embedding"), (x, i) =>
              when(i === 0, x + lit(r * 0.001f)).otherwise(x)))
      }.reduce(_ unionAll _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      noop(docs); noop(emb) // materialize the replicas outside the timers

      def rec(name: String)(f: => Unit): Unit = probe.time(s"${name}_x$sc")(f)
      rec("minhash") {
        noop(graft.pipeline.Dedup.minHashCandidatePairs(docs, k = 8)) }
      rec("dup_clusters") {
        noop(graft.pipeline.Dedup.duplicateClusters(
          graft.pipeline.Dedup.minHashCandidatePairsUnordered(docs, k = 8))) }
      rec("dedup_apply") {
        noop(graft.pipeline.Dedup.dedupApply(docs)) }
      rec("ivf_build") {
        val idx = java.nio.file.Files.createTempDirectory("graft-probe-ivf").toString
        graft.pipeline.Similarity.ivfBuild(emb, idx, nCentroids = 16) }
      rec("dsir") {
        noop(graft.pipeline.Curation.dsirTopDocs(docs, col("lang") === "en")) }
      docs.unpersist(); emb.unpersist()
    }
    println(probe.line("sf" -> sfDir))
    spark.stop()
  }
}
