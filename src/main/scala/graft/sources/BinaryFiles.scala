package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary-file multimodal ingest: deterministic PPM payloads exported as
  * ONE FILE PER DOCUMENT (executor-parallel writes), read back through
  * Spark's `binaryFile` source, and header-decoded — the actual ingest
  * shape of a real image corpus (a directory of media files), proving
  * the (path → content → decode) plumbing end-to-end. At cluster scale
  * the per-row write is an object-store put from the executor; the
  * pattern (no driver involvement, no collect) is identical here.
  */
object BinaryFiles {

  private val written =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Export each doc's payload (same header + raster construction as the
    * q_pipe_multimodal gate) as `<doc_id>.ppm`, once per (sfDir, JVM). */
  private def exportDir(spark: SparkSession, sfDir: String): String =
    written.computeIfAbsent(sfDir, { d =>
      val base = graft.spark.StoreFs.tempDirAtExit("graft-binfiles")
      val w = col("n_chars") % 64 + 1
      val h = (col("n_chars") * 7) % 48 + 1
      val header = concat(lit("P6\n"), w.cast("string"), lit(" "),
        h.cast("string"), lit("\n255\n"))
      spark.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") < 200)
        .select(col("doc_id").cast("long").as("doc_id"),
          concat(header.cast("binary"),
            repeat(lit("x"), (w * h * 3).cast("int")).cast("binary"))
            .as("payload"))
        .foreachPartition {
          (rows: Iterator[org.apache.spark.sql.Row]) =>
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(base, f"${r.getLong(0)}%06d.ppm"),
                r.getAs[Array[Byte]](1))
            }
        }
      base
    })

  /** Read the exported corpus back via the `binaryFile` source and decode
    * each payload's header: (doc_id from the file name, byte length,
    * parsed dimensions). Any export/read asymmetry — truncated content,
    * path mangling, a header the decoder rejects — breaks the hash. */
  def ingestStats(spark: SparkSession, sfDir: String): DataFrame = {
    val base = exportDir(spark, sfDir)
    val bin = spark.read.format("binaryFile").load(s"$base/*.ppm")
      .select(
        regexp_extract(col("path"), "(\\d+)\\.ppm$", 1).cast("long")
          .as("doc_id"),
        col("content").as("payload"))
    graft.pipeline.Multimodal.extractMetaBinary(bin).toDF()
      .select("doc_id", "n_bytes", "width", "height")
      .orderBy("doc_id")
  }
}
