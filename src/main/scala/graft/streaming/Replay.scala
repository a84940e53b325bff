package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Deterministic micro-batch replay — the [[Feed.Memory]] feed of the gate
  * runner ([[Gate]]), and the harness for tests that hand-order arrivals:
  * a bounded, pre-sorted row list goes through a real Structured Streaming
  * query (MemoryStream → the operator under test → memory sink) in
  * contiguous slices, and the sink contents come back as a frozen batch
  * DataFrame.
  *
  * State carries across batches and watermarks advance exactly as they
  * would live (batch N's emissions use the watermark from batch N−1).
  * Driver-side data is inherent to MemoryStream and the caller caps the
  * input; [[Feed.Files]] is the same operator over a real file source.
  */
private[graft] object Replay {

  /** Run `build` over `rows` split into `nBatches` contiguous slices,
    * followed by one extra batch per element of `tailBatches` (sentinels
    * that advance the watermark / flush state; feed each as its own
    * micro-batch — append-mode emission lags the watermark by one batch).
    * Returns the memory-sink table, materialized and detached. */
  def run[T: Encoder](spark: SparkSession, rows: Seq[T], nBatches: Int,
      tailBatches: Seq[Seq[T]] = Seq.empty, outputMode: String = "append")(
      build: Dataset[T] => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    require(rows.nonEmpty, "Replay.run: empty input")
    val input = MemoryStream[T]
    val name = "replay_" + java.util.UUID.randomUUID.toString.replace("-", "")
    // a memory sink checkpoints to a Spark-managed local temp dir
    Gate.bounded(spark, System.getProperty("java.io.tmpdir")) {
      val q = build(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(outputMode).start()
      try {
        val per = math.max(1, (rows.length + nBatches - 1) / nBatches)
        (rows.grouped(per) ++ tailBatches).foreach { b =>
          input.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
    }
    val out = spark.table(name)
    val frozen = spark.createDataFrame(
      spark.sparkContext.parallelize(out.collect().toIndexedSeq), out.schema)
    spark.catalog.dropTempView(name)
    frozen
  }
}
