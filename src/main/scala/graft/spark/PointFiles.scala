package graft.spark

import graft.spark.source.ChunkBlobReader
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils,
  ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** The chunks a point resolve keeps, and how many there are: the count is
  * what the placement rule (`GraftScan.onDriver`) weighs. */
private[spark] sealed trait PointKeys extends Serializable {
  def size: Long
  def keeps(coordKey: String): Boolean
}

private[spark] object PointKeys {
  /** Chunks whose coordinate lies in the inclusive box [lo, hi]. */
  final case class Box(lo: Seq[Long], hi: Seq[Long]) extends PointKeys {
    private val los = lo.toArray
    private val his = hi.toArray
    val size: Long = los.indices.foldLeft(1L) { (acc, i) =>
      val d = math.max(0L, his(i) - los(i) + 1)
      if (acc != 0L && d > Long.MaxValue / acc) Long.MaxValue else acc * d
    }
    def keeps(coordKey: String): Boolean = {
      var from = 0
      var i = 0
      var in = true
      while (in && i < los.length) {
        val comma = coordKey.indexOf(',', from)
        val to = if (comma < 0) coordKey.length else comma
        val c = java.lang.Long.parseLong(coordKey, from, to, 10)
        in = c >= los(i) && c <= his(i)
        from = to + 1
        i += 1
      }
      in
    }
  }

  /** Exactly the chunks named by `keys`. */
  final case class Exactly(keys: Set[String]) extends PointKeys {
    def size: Long = keys.size.toLong
    def keeps(coordKey: String): Boolean = keys.contains(coordKey)
  }
}

/** The point resolve's kernel: per-coordKey winners among the index rows
  * of a variable's admitted `var=…/version=…` part files, read with
  * parquet-mr (as `ChunkBlobReader` reads blobs). The same function runs
  * in-process on the driver or inside tasks (`SparkStore.resolvedPoints`
  * picks the placement). */
private[spark] object PointIndexReader {
  private val Columns = Seq("seq", "coordKey", "hash", "stats")

  /** The winning (coordKey, version, seq, hash, stats) row of each coordKey
    * `keys` keeps, among the rows of `files` — (path, version) pairs — by
    * `SparkStore.keepWinners`' order. A column a file lacks reads as null,
    * as it does through `SparkStore.indexSchema`. */
  def winners(files: Iterator[(String, Long)], keys: PointKeys): Iterator[Row] =
    SparkStore.keepWinners(files.flatMap { case (f, v) => rows(f, v, keys) })

  private def rows(file: String, version: Long, keys: PointKeys): Iterator[Row] = {
    val out = Array.newBuilder[Row]
    val reader = ChunkBlobReader.groupReader(
      new ChunkBlobReader.ColumnsReadSupport(Columns), file, ChunkBlobReader.sharedConf).build()
    try {
      var g = reader.read()
      while (g != null) {
        val k = string(g, "coordKey")
        if (k != null && keys.keeps(k))
          out += Row(k, version, g.getLong("seq", 0), string(g, "hash"), stats(g))
        g = reader.read()
      }
    } finally reader.close()
    out.result().iterator
  }

  private def present(g: Group, field: String): Boolean =
    g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0

  private def string(g: Group, field: String): String =
    if (present(g, field)) g.getString(field, 0) else null

  /** The stats struct as `SparkStore.statsSchema`'s row, or null. */
  private def stats(g: Group): Row =
    if (!present(g, "stats")) null
    else {
      val s = g.getGroup("stats", 0)
      def long(f: String): Any = if (present(s, f)) s.getLong(f, 0) else null
      def double(f: String): Any = if (present(s, f)) s.getDouble(f, 0) else null
      Row(long("cnt"), long("lmin"), long("lmax"), long("lsum"),
        double("dmin"), double("dmax"), long("nan"))
    }
}

/** One kind of parquet part file, written in-process — on the driver or
  * inside a task — through Spark's own parquet write support
  * (`ParquetWriteSupport`, configured by `ParquetUtils.prepareWrite`), so
  * each file carries the footer a Spark write of the same schema and
  * options gives: the schema metadata, the codec and per-column min/max
  * statistics. A scheme-less path is written through java.nio, as
  * `StoreFs` does: the Hadoop local filesystem would fork a `chmod` per
  * file. Files are named like one Spark job's part files,
  * `part-<part>-<gen>`: the files a write pass lands share its generation
  * id, so `SparkStore.repairTornWrites` counts the pass as one ingest
  * generation. */
private[spark] final class PartFileWriter private (conf: SerializableHadoopConf,
    codec: CompressionCodecName, suffix: String) extends Serializable {

  /** A new part file `part-<part>-<gen>` in `dir`; rows go in through
    * `write`, and `close` finishes the footer. */
  def open(dir: String, part: Int, gen: String): ParquetWriter[InternalRow] = {
    val path = StoreFs.child(dir, f"part-$part%05d-$gen$suffix")
    val out = StoreFs.localPath(path) match {
      case null => HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf.value)
      case local =>
        java.nio.file.Files.createDirectories(local.getParent)
        new LocalOutputFile(local)
    }
    new PartFileWriter.RowWriterBuilder(out).withConf(conf.value)
      .withCompressionCodec(codec).build()
  }
}

private[spark] object PartFileWriter {
  /** Writer of `schema` files with Spark's parquet `options`; `sep` is the
    * separator before the file counter: "-" as a plain write names its
    * files, "." as a partitioned write does. */
  def apply(spark: SparkSession, schema: StructType,
      options: Map[String, String], sep: String): PartFileWriter = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(new Configuration(StoreFs.conf))
    val sqlConf = spark.sessionState.conf
    ParquetUtils.prepareWrite(sqlConf, job, schema, new ParquetOptions(options, sqlConf))
    val conf = job.getConfiguration
    val codec = CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION))
    new PartFileWriter(new SerializableHadoopConf(conf), codec,
      s"${sep}c000${codec.getExtension}.parquet")
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** A writer that opens its file on the first row, so a file with no row
    * is never created. */
  final class Lazy(files: PartFileWriter, dir: String, part: Int, gen: String)
      extends AutoCloseable {
    private var out: ParquetWriter[InternalRow] = null
    def opened: Boolean = out != null
    def write(row: InternalRow): Unit = {
      if (out == null) out = files.open(dir, part, gen)
      out.write(row)
    }
    override def close(): Unit = if (out != null) out.close()
  }
}
