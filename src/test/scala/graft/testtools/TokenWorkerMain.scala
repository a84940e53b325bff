package graft.testtools

import graft.core.{DType, Slab, Slice}

/** Worker-process main for the cross-JVM writer-token test — the analog
  * of the reference's slave entrypoint (script.clj:54-83): bootstraps
  * ENTIRELY from argv (store root, dataset, token file, half), builds
  * its own SparkSession, rebuilds the in-flight writer from the token,
  * writes its disjoint chunk-aligned half, prints the done marker, and
  * exits. Nothing is shared with the master but the filesystem. */
object TokenWorkerMain {
  val DoneMarker = "GRAFT_WORKER_DONE"

  def main(args: Array[String]): Unit = {
    val Array(root, ds, tokenFile, half) = args
    val token = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tokenFile)),
      java.nio.charset.StandardCharsets.UTF_8)
    val spark = graft.GraftSession.withCpus(s"graft-token-worker-$half", 2)
    try {
      val store = new graft.spark.SparkStore(spark, root)
      val w = store.writerFromToken(ds, token)
      // NON-aligned halves (y chunks are 3 wide; the split at y=5 is
      // mid-chunk): both processes write the y∈[3,6) chunk column with
      // disjoint cells, so convergence requires the shared-writer
      // content-hash verify + re-merge to work ACROSS process
      // boundaries (separate JVMs, separate wall clocks) — the
      // mis-ordered lots-of-processes contract, concurrency.clj:162-243
      val ColsMode = "cols(\\d+)of(\\d+)".r
      half match {
        case ColsMode(kS, nS) =>
          // mis-ordered lots-of-processes, strongest form
          // (concurrency.clj:162-243): worker k of n owns y-columns
          // {c : c ≡ k (mod n)} and writes each as its OWN write() call
          // in ROTATED order, so chunk-sharing CAS retries interleave
          // with other workers' in-flight writes across real process
          // boundaries; the commit-time torn-write check covers any
          // landing the per-write verifies never saw
          val (k, nW) = (kS.toInt, nS.toInt)
          val xD = w.meta.dimensions("x")
          val yD = w.meta.dimensions("y")
          val mine = (k.toLong until yD by nW.toLong).toSeq
          val rotated = mine.drop(k % math.max(1, mine.size)) ++
            mine.take(k % math.max(1, mine.size))
          rotated.foreach { c =>
            w.write("v", Seq(Slab.empty(DType.DOUBLE,
              Slice(Seq(0L, c), Seq(xD, c + 1)), (c + 1).toDouble)))
          }
        case _ =>
          // NON-aligned halves (y chunks are 3 wide; the split at y=5 is
          // mid-chunk): both processes write the y∈[3,6) chunk column
          // with disjoint cells, so convergence requires the
          // shared-writer content-hash verify + re-merge to work ACROSS
          // process boundaries (separate JVMs, separate wall clocks)
          val slab =
            if (half == "0")
              Slab.empty(DType.DOUBLE, Slice(Seq(0L, 0L), Seq(9L, 5L)), 3.0)
            else
              Slab.empty(DType.DOUBLE, Slice(Seq(0L, 5L), Seq(9L, 10L)), 4.0)
          w.write("v", Seq(slab))
      }
      println(DoneMarker)
    } finally spark.stop()
    System.exit(0) // Spark leaves non-daemon threads; exit explicitly
  }
}
