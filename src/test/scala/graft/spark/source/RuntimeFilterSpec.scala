package graft.spark.source

import graft.SparkTestSession
import graft.SparkTestSession.jobsDuring
import graft.core._
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.scalatest.funsuite.AnyFunSuite

/** SupportsRuntimeFiltering: runtime In/EqualTo filters (e.g. dynamic
  * pruning from a dim-table join) narrow the planned chunk set. */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkStore(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-rtf").toString
    val store = new SparkStore(spark, root)
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 64L), chunkDimensions = Map("x" -> 8L),
      variables = Map("v" -> VariableDef("long", Vector("x"), -1.0)))
    val w = store.addVersion("ds", meta)
    w.write("v", Seq(Slab.empty(DType.LONG, Slice(Seq(0L), Seq(64L)), 5.0)))
    w.finishVersion()
    root
  }

  private def mkScan(): GraftScan = {
    val r = GraftSource.resolve(
      Map("root" -> mkStore(), "dataset" -> "ds", "variable" -> "v"))
    new GraftScanBuilder(r).build().asInstanceOf[GraftScan]
  }

  private def plannedChunks(scan: GraftScan): Int =
    scan.planInputPartitions().map {
      case p: GraftPointPartition => p.coords.length
      case p: GraftFillRangePartition => (p.linearTo - p.linearFrom).toInt
      case _ => 0 // data-hash partitions don't carry a chunk count
    }.sum

  test("In filter narrows to the value envelope's chunks") {
    val scan = mkScan()
    assert(plannedChunks(scan) == 8)
    scan.filter(Array[Filter](In("x", Array[Any](18L, 21L)))) // chunks 2 only
    assert(plannedChunks(scan) == 1)
  }

  test("EqualTo filter narrows to one chunk; non-dim filters are ignored") {
    val scan = mkScan()
    scan.filter(Array[Filter](EqualTo("x", 40L), EqualTo("value", 5L)))
    assert(plannedChunks(scan) == 1)
  }

  test("contradictory runtime filter empties the scan") {
    val scan = mkScan()
    scan.filter(Array[Filter](EqualTo("x", 10L)))
    scan.filter(Array[Filter](EqualTo("x", 50L)))
    assert(scan.planInputPartitions().isEmpty)
  }

  test("re-planning an unchanged request reuses the resolve (zero Spark " +
      "jobs); filter() re-resolves the narrowed window") {
    val scan = mkScan()
    assert(plannedChunks(scan) == 8)
    assert(jobsDuring(scan.planInputPartitions()) == 0)
    val before = GraftScan.pointResolves.get
    scan.filter(Array[Filter](EqualTo("x", 40L)))
    assert(plannedChunks(scan) == 1)
    assert(GraftScan.pointResolves.get == before + 1)
    assert(plannedChunks(scan) == 1)
    assert(GraftScan.pointResolves.get == before + 1)
  }

  test("a point-planned DSv2 window aggregate runs the index resolve once") {
    import org.apache.spark.sql.functions.{col, sum}
    val df = spark.read.format("graft").option("root", mkStore())
      .option("dataset", "ds").option("variable", "v").load()
      .filter(col("x") >= 4L && col("x") < 20L)
    val before = GraftScan.pointResolves.get
    assert(df.agg(sum("value")).collect().head.getLong(0) == 16L * 5L)
    assert(GraftScan.pointResolves.get == before + 1)
  }
}
