package graft

import graft.Bench.Rep
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's publication and refusal rule — the medians ARE the
  * round's official record. Each entry publishes the plain upper median
  * of its successful reps; an entry is contended when its median rep ran
  * over 1.5× its fastest (> 0.3 s) rep at no more than 1.25× the fastest
  * rep's executor CPU time; more than 3 contended entries refuse the
  * record. */
class BenchMedianSpec extends AnyFunSuite {

  /** Reps with the given wall seconds, each with CPU time = its wall. */
  private def working(secs: Double*): Seq[Rep] = secs.map(s => Rep(s, cpuSec = s))

  /** Reps with the given wall seconds and the same CPU time. */
  private def flatCpu(cpuSec: Double, secs: Double*): Seq[Rep] =
    secs.map(s => Rep(s, cpuSec = cpuSec))

  test("median ignores failed reps (-1) and is upper-median for even n") {
    assert(Bench.median(Seq(-1.0, 2.0, 1.0)) == 2.0)
    assert(Bench.median(Seq(1.0, 2.0)) == 2.0) // upper: pessimistic
    assert(Bench.median(Seq(-1.0)) == -1.0)
    assert(Bench.median(Nil) == -1.0)
    assert(Bench.medianRep(Seq(Rep(-1.0), Rep(2.0, cpuSec = 5.0), Rep(1.0))) ==
      Rep(2.0, cpuSec = 5.0))
    assert(Bench.medianRep(Seq(Bench.Failed)) == Bench.Failed)
  }

  test("a real regression (uniformly slow reps) is never masked") {
    // published as is: all reps slow together, so the median is slow too
    val regressed = flatCpu(4.0, 4.0, 4.2, 4.1)
    assert(Bench.median(regressed.map(_.sec)) == 4.1)
    // and not flagged: the median sits next to the fastest rep
    assert(!Bench.contended(regressed))
  }

  test("first-rep fixture construction is discarded relative to warm reps") {
    // q_arr_stream_ingest shape: the first pass builds the dataset; the
    // plain median of three reps already leaves it out
    assert(Bench.median(Seq(11.8, 0.25, 0.26)) == 0.26)
  }

  test("wall time above the fastest rep at flat CPU time is contention; " +
      "wall and CPU time rising together is the plan's own work") {
    // round-13 shape: fastest 0.53 s, median 1.30 s, CPU unchanged
    assert(Bench.contended(flatCpu(0.4, 0.53, 1.28, 1.30)))
    // CPU up by at most 1.25x still counts as flat
    assert(Bench.contended(Seq(Rep(0.53, cpuSec = 0.4), Rep(1.28, cpuSec = 0.5),
      Rep(1.30, cpuSec = 0.5))))
    // a bimodal plan: the slow reps do 2x the executor work
    assert(!Bench.contended(working(0.53, 1.28, 1.30)))
    // a clean sample: the median rides the fastest rep
    assert(!Bench.contended(flatCpu(0.4, 0.53, 0.55, 0.58)))
    // failed reps take no part
    assert(Bench.contended(flatCpu(0.4, -1.0, 0.53, 1.30)))
  }

  test("sub-0.3 s entries and single reps are never flagged") {
    assert(!Bench.contended(flatCpu(0.05, 0.05, 0.11, 0.12)))
    assert(!Bench.contended(flatCpu(0.1, 0.30, 0.90, 0.95)))
    assert(!Bench.contended(flatCpu(0.1, 2.0)))
    assert(!Bench.contended(flatCpu(0.1, 2.0, -1.0, -1.0)))
    assert(!Bench.contended(Nil))
  }

  test("more than three contended entries refuse the record; three do not") {
    val clean = (1 to 20).map(i => s"q_clean_$i" -> flatCpu(0.5, 1.0, 1.1, 1.2))
    val hit = (1 to 4).map(i => s"q_hit_$i" -> flatCpu(0.5, 0.6, 1.5, 1.6))
    val four = Bench.contendedEntries((clean ++ hit).toMap)
    assert(four == hit.map(_._1))
    assert(Bench.refused(four))
    val three = Bench.contendedEntries((clean ++ hit.take(3)).toMap)
    assert(three.size == 3)
    assert(!Bench.refused(three))
  }
}
