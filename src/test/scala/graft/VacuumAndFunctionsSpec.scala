package graft

import graft.core._
import graft.functions.VectorFunctions
import graft.meta.{DatasetMeta, VariableDef}
import graft.spark.SparkStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class VacuumAndFunctionsSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestSession.spark

  test("vacuum removes unreferenced blobs, keeps all referenced incl uncommitted") {
    val root = tempRoot("graft-vac")
    val store = new SparkStore(spark, root)
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 8L), chunkDimensions = Map("x" -> 2L),
      variables = Map("v" -> VariableDef("int", Vector("x"), 0.0)))
    val w1 = store.addVersion("ds", meta)
    w1.write("v", Seq(Slab.empty(DType.INT, Slice(Seq(0L), Seq(8L)), 1.0)))
    w1.finishVersion()
    // orphan blob: simulate an aborted write's leftover by appending directly
    import spark.implicits._
    Seq(("deadbeef" * 5, -1L, Array[Byte](1, 2, 3))).toDF("hash", "ref", "bytes")
      .write.mode("append").parquet(store.chunksDir)
    // in-flight v2 writes a new chunk (uncommitted — must survive vacuum)
    val w2 = store.addVersion("ds", meta)
    w2.write("v", Seq(Slab.empty(DType.INT, Slice(Seq(0L), Seq(2L)), 9.0)))

    // default grace window: everything just written is in-grace → no-op
    assert(store.vacuum() == 0L)
    val total = spark.read.parquet(store.chunksDir).count()
    val removed = store.vacuum(graceMs = 0L)
    assert(removed == 1L, s"expected 1 orphan removed, got $removed (of $total)")
    // reads still work at v1 and for the in-flight writer after commit
    val v2 = w2.finishVersion()
    val r = store.reader("ds").onVersion(v2)
    assert(r.getSlice("v", Slice(Seq(0L), Seq(8L))).valueAt(Seq(0L)) == 9.0)
    assert(r.getSlice("v", Slice(Seq(7L), Seq(8L))).valueAt(Seq(7L)) == 1.0)
    // idempotent
    assert(store.vacuum(graceMs = 0L) == 0L)
  }

  test("missing blob for a resolved hash fails loudly instead of reading fill") {
    val root = tempRoot("graft-dangling")
    val store = new SparkStore(spark, root)
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 4L), chunkDimensions = Map("x" -> 2L),
      variables = Map("v" -> VariableDef("int", Vector("x"), 0.0)))
    val w = store.addVersion("ds", meta)
    w.write("v", Seq(Slab.empty(DType.INT, Slice(Seq(0L), Seq(4L)), 7.0)))
    val v1 = w.finishVersion()
    // destroy the blob store out from under the index (lost-file scenario)
    val chunks = java.nio.file.Paths.get(store.chunksDir)
    scala.util.Using.resource(java.nio.file.Files.walk(chunks)) {
      _.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    }
    val r = store.reader("ds").onVersion(v1)
    intercept[IllegalStateException] {
      r.getSlice("v", Slice(Seq(0L), Seq(4L)))
    }
    val ex = intercept[Exception] {
      r.exploded("v", Slice(Seq(0L), Seq(4L))).collect()
    }
    assert(ex.getMessage.contains("refusing to read fill"), ex.getMessage)
    // streamChunks and explodedMulti fetch through the same chunk cursor
    val ex2 = intercept[Exception] {
      r.streamChunks("v", Slice(Seq(0L), Seq(4L))).collect()
    }
    assert(ex2.getMessage.contains("refusing to read fill"), ex2.getMessage)
    val ex3 = intercept[Exception] {
      r.explodedMulti(Seq("v"), Slice(Seq(0L), Seq(4L))).collect()
    }
    assert(ex3.getMessage.contains("refusing to read fill"), ex3.getMessage)
    // the aggregate readers fetch through the same cursor: x ≥ 1 cuts
    // chunk 0, whose blob must be decoded (chunk 1 answers from its stats)
    SparkStore.clearBlobCache()
    def graft = spark.read.format("graft").option("root", root)
      .option("dataset", "ds").option("variable", "v")
    val aggs = Seq(min("value"), max("value"), sum("value"), count(lit(1)))
    val aggInputs = Seq[(String, () => Any)](
      "point-planned pushed aggregate" -> (() =>
        graft.load().filter(col("x") >= 1).agg(aggs.head, aggs.tail: _*).collect()),
      "grouped chunked pushed aggregate" -> (() =>
        graft.option("chunked", "true").load().filter(col("x") >= 1)
          .groupBy("_chunk_x").agg(aggs.head, aggs.tail: _*).collect()),
      "statsAggregate" -> (() =>
        r.statsAggregate("v", Slice(Seq(1L), Seq(4L))).collect()))
    aggInputs.foreach { case (what, run) =>
      val e = intercept[Exception](run())
      assert(e.getMessage.contains("chunk 0 resolved to blob") &&
        e.getMessage.contains("refusing to read fill"), s"$what: ${e.getMessage}")
    }
  }

  test("writeRows rejects slab seq outside the 20-bit per-call space") {
    import spark.implicits._
    val root = tempRoot("graft-seq")
    val store = new SparkStore(spark, root)
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> 4L), chunkDimensions = Map("x" -> 2L),
      variables = Map("v" -> VariableDef("int", Vector("x"), 0.0)))
    val w = store.addVersion("ds", meta)
    val bad = Seq((Array(0L), Array(2L), Array.fill[Byte](8)(0), 1L << 20))
      .toDF("start", "stop", "bytes", "seq")
    val e = intercept[Exception] { w.writeRows("v", bad) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("2^20")), msgs(e).mkString(" | "))
  }

  test("getSlice refuses requests above the driver cell budget") {
    val root = tempRoot("graft-cap")
    val store = new SparkStore(spark, root)
    store.create("ds")
    val meta = DatasetMeta(
      dimensions = Map("x" -> (1L << 30)), chunkDimensions = Map("x" -> (1L << 20)),
      variables = Map("v" -> VariableDef("int", Vector("x"), 0.0)))
    val w = store.addVersion("ds", meta)
    val v1 = w.finishVersion()
    val r = store.reader("ds").onVersion(v1)
    val e = intercept[IllegalArgumentException] {
      r.getSlice("v", Slice(Seq(0L), Seq(1L << 30)))
    }
    assert(e.getMessage.contains("exploded"))
    // explicit budget override still works
    assert(r.getSlice("v", Slice(Seq(0L), Seq(4L)), maxCells = 8L).volume == 4L)
  }

  test("graft_dot native expression: correct, null-safe, codegen'd") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -1.0), Array(2.0, 2.0))).toDF("a", "b")
    val out = df.select(VectorFunctions.dotProduct(spark, col("a"), col("b")).as("d"))
      .collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(32.0, -1.0))
    // matches the HOF fold bit-for-bit on real embeddings
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
    val both = emb.select(
      VectorFunctions.dotProduct(spark, col("v"), col("v")).as("native"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // null-safe
    val withNull = Seq((Some(Array(1.0)), None: Option[Array[Double]])).toDF("a", "b")
    assert(withNull.select(VectorFunctions.dotProduct(spark, col("a"), col("b"))).first().isNullAt(0))
    // type mismatch is a clean analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.dotProduct(spark, col("a"), lit("nope"))).collect()
    }
  }

  test("GraftExtensions injects both SQL functions with working builders") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.spark.GraftExtensions().apply(ext)
    // the injected (identifier, info, builder) triples live in a
    // private field — read it reflectively and drive each builder
    val f = ext.getClass.getDeclaredFields
      .find(_.getName.contains("injectedFunctions")).get
    f.setAccessible(true)
    val injected = f.get(ext)
      .asInstanceOf[scala.collection.mutable.Buffer[(
        org.apache.spark.sql.catalyst.FunctionIdentifier,
        org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)]]
    assert(injected.map(_._1.funcName).sorted == Seq("graft_dot", "graft_lsh_sig"))
    val arr = Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType))
    val dot = injected.find(_._1.funcName == "graft_dot").get._3(Seq(arr, arr))
    assert(dot.eval(null) == 5.0)
    val sig = injected.find(_._1.funcName == "graft_lsh_sig").get._3(
      Seq(arr, Literal(4)))
    assert(sig.isInstanceOf[graft.functions.LshSignature])
    // 2-arg form defaults planeOffset to 0 ≡ explicit 0
    val sig3 = injected.find(_._1.funcName == "graft_lsh_sig").get._3(
      Seq(arr, Literal(4), Literal(0)))
    assert(sig.eval(null) == sig3.eval(null))
  }
}
