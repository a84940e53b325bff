package graft.streaming

import graft.spark.StoreFs
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** How a streaming gate's bounded input reaches its operator. */
sealed trait Feed

object Feed {

  /** The rows collected on the driver, sorted, and cut by row count into
    * MemoryStream micro-batches; the operator writes to a memory sink
    * ([[Replay.run]]). Batch membership is exact, so this feed pins
    * per-batch behaviour. */
  case object Memory extends Feed

  /** Event-time slices written as one parquet file each and read back by
    * `readStream.parquet` ([[FileFeed.sliced]]); the operator writes to a
    * parquet sink, or in update mode to a `foreachBatch` update log. No
    * event row crosses the driver. `oooSkewSeconds > 0` displaces rows
    * across slices by up to ±skew (bounded disorder). The gate makes its
    * work dir under the temp dir, deletes the feed and the checkpoint
    * when the query stops, and the sink at JVM exit. */
  final case class Files(oooSkewSeconds: Long = 0L) extends Feed
}

/** A gate's bounded input, prepared for its feed. `frame` is what tail
  * sentinels are built from: on the memory feed the collected rows as a
  * local relation (projecting it runs no job), on the file feed the input
  * itself. `minT`/`maxT` bound the slicing column (the first of `order`);
  * on the file feed they cost one aggregate job, run only when read. */
final class Span private[streaming] (val feed: Feed,
    private[streaming] val input: DataFrame, val order: Seq[String],
    bounds: => (Long, Long), private[streaming] val rows: IndexedSeq[Row]) {
  private lazy val minMax = bounds
  def minT: Long = minMax._1
  def maxT: Long = minMax._2
  lazy val frame: DataFrame = feed match {
    case Feed.Memory => input.sparkSession.createDataFrame(rows.asJava, input.schema)
    case _: Feed.Files => input
  }
}

/** The one runner every streaming gate goes through: input → feed →
  * operator → sink → the sunk rows as a batch frame. */
object Gate {

  /** Shuffle partitions of every gate stream. The stream's state-store
    * instance count is one per shuffle partition per stateful operator
    * per micro-batch; a bounded gate input needs few. */
  private val Width = 4

  /** Prepare `input` for `feed`. The memory feed collects it and sorts it
    * by `order` (lexicographic, every column integral); both feeds take
    * the slicing column's bounds from `bounds` when the caller knows
    * them, else from the rows (memory) or from one aggregate (files). */
  def span(input: DataFrame, order: Seq[String], feed: Feed,
      bounds: Option[(Long, Long)] = None): Span = {
    require(order.nonEmpty, "Gate.span: no ordering column")
    feed match {
      case Feed.Memory =>
        val idx = order.map(input.schema.fieldIndex).toArray
        def at(r: Row, k: Int) = r.get(idx(k)).asInstanceOf[Number].longValue
        val byOrder: Ordering[Row] = (a, b) => {
          var k = 0; var c = 0
          while (c == 0 && k < idx.length) {
            c = java.lang.Long.compare(at(a, k), at(b, k)); k += 1
          }
          c
        }
        val rows = input.collect().sorted(byOrder).toIndexedSeq
        require(rows.nonEmpty, "Gate.span: empty input")
        new Span(feed, input, order, bounds.getOrElse(
          (at(rows.head, 0), at(rows.last, 0))), rows)
      case _: Feed.Files =>
        new Span(feed, input, order, bounds.getOrElse {
          val mm = input.agg(min(col(order.head)), max(col(order.head))).head()
          require(!mm.isNullAt(0), "Gate.span: empty input")
          (mm.getLong(0), mm.getLong(1))
        }, IndexedSeq.empty)
    }
  }

  /** Run `build` over the span fed in `nBatches` slices, then one more
    * micro-batch per frame of `tails` (sentinels that advance the
    * watermark or flush state; append-mode emission lags the watermark by
    * one batch); each tail goes as it is on both feeds. `outputMode` is
    * "append" or "update"; `rocksDb` switches the state store to RocksDB
    * with changelog checkpointing. Returns the sunk rows (the update log
    * in update mode) as a batch frame. */
  def run(span: Span, nBatches: Int, tails: Seq[DataFrame] = Nil,
      outputMode: String = "append", rocksDb: Boolean = false)(
      build: DataFrame => DataFrame): DataFrame = {
    val spark = span.input.sparkSession
    val schema = span.input.schema
    def aligned(t: DataFrame) =
      t.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
    span.feed match {
      case Feed.Memory =>
        FileFeed.withStateProvider(spark, rocksDb, changelog = rocksDb) {
          Replay.run(spark, span.rows, nBatches,
            tails.map(aligned(_).collect().toIndexedSeq), outputMode)(
            (ds: Dataset[Row]) => build(ds.toDF()))(Encoders.row(schema))
        }
      case Feed.Files(skew) =>
        val work = StoreFs.tempDirAtExit("graft-gate")
        try {
          val stream = FileFeed.sliced(span.input, span.order.head, nBatches,
            work, tails.map(aligned), skew,
            // a perturbed feed slices on ts + δ, not on the bounds' column
            knownBounds = if (skew <= 0) Some((span.minT, span.maxT)) else None)
          toParquet(build(stream), work, outputMode, rocksDb)
        } finally {
          StoreFs.deleteTree(s"$work/feed")
          StoreFs.deleteTree(s"$work/ckpt")
        }
    }
  }

  /** Run a streaming frame to completion (AvailableNow) into parquet at
    * `work`/out — the sink itself in append mode, a `foreachBatch` update
    * log in update mode (parquet has no update sink; readers reduce the
    * log, e.g. max per key of a monotone aggregate). Rows go executor →
    * parquet; the driver never sees them. */
  private def toParquet(out: DataFrame, work: String, outputMode: String,
      rocksDb: Boolean): DataFrame = {
    val spark = out.sparkSession
    val path = s"$work/out"
    bounded(spark, s"$work/ckpt") {
      FileFeed.withStateProvider(spark, rocksDb, changelog = rocksDb) {
        val w = out.writeStream.outputMode(outputMode)
          .option("checkpointLocation", s"$work/ckpt")
          .trigger(Trigger.AvailableNow())
        val q =
          if (outputMode == "update")
            w.foreachBatch { (batch: Dataset[Row], _: Long) =>
              batch.write.mode("append").parquet(path); ()
            }.start()
          else w.format("parquet").option("path", path).start()
        q.awaitTermination()
      }
    }
    spark.read.parquet(path)
  }

  /** The span of one bounded gate stream, from `start()` to stop: [[Width]]
    * shuffle partitions (captured into the query at start), the NIO
    * checkpoint manager on a local checkpoint root
    * ([[FileFeed.withLocalCheckpoints]]), and afterwards the stopped
    * query's state stores unloaded — a stopped query's providers
    * otherwise linger until the periodic maintenance unloads them
    * (minutes), and a run of bounded gates in one JVM piles up their heap. */
  private[streaming] def bounded[A](spark: SparkSession, ckptDir: String)(
      body: => A): A =
    try FileFeed.withConf(spark, "spark.sql.shuffle.partitions", Width.toString) {
      FileFeed.withLocalCheckpoints(spark, ckptDir)(body)
    } finally
      try org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
      catch { case _: Throwable => () }
}
