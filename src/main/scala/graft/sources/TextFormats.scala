package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-format source/sink surface: the documents corpus written out as
  * JSONL, CSV, and ORC and read back with an EXPLICIT schema (schema inference
  * is a full extra pass over the data — never pay it at 100 TB), proving
  * the non-parquet ingest paths preserve content byte-for-byte.
  *
  * The round-trip materialization happens at most once per (sfDir, JVM);
  * the gate then aggregates per format, so a corrupted char, a dropped
  * row, or a mis-typed column all flip the hash.
  */
object TextFormats {

  private val written =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write docs as JSONL + CSV under a temp dir (once per sfDir). */
  private def roundTripDir(spark: SparkSession, sfDir: String): String =
    written.computeIfAbsent(sfDir, { d =>
      val base = graft.spark.StoreFs.tempDirAtExit("graft-fmt")
      val docs = spark.read.parquet(s"$d/documents.parquet")
      docs.write.mode("overwrite").json(s"$base/jsonl")
      docs.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      docs.write.mode("overwrite").orc(s"$base/orc")
      base
    })

  private val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** Per-format corpus stats after a full write→read round trip. Both
    * rows must equal the parquet-derived truth — any asymmetry between
    * the JSON and CSV codecs (quoting, escaping, type coercion, header
    * handling) shows up as a per-format hash break. */
  def roundTripStats(spark: SparkSession, sfDir: String): DataFrame = {
    val base = roundTripDir(spark, sfDir)
    val jsonl = spark.read.schema(docSchema).json(s"$base/jsonl")
    val csv = spark.read.schema(docSchema).option("header", "true")
      .csv(s"$base/csv")
    val orc = spark.read.schema(docSchema).orc(s"$base/orc")
    def stats(df: DataFrame, fmt: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_text_chars"),
        sum(col("n_chars")).as("sum_n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("doc_id")).as("sum_doc_id"))
        .withColumn("fmt", lit(fmt))
    stats(csv, "csv").unionByName(stats(jsonl, "jsonl"))
      .unionByName(stats(orc, "orc"))
      .select("fmt", "n_docs", "n_text_chars", "sum_n_chars", "n_langs",
        "sum_doc_id")
      .orderBy("fmt")
  }
}
