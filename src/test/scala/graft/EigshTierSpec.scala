package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SolverOps

/** The eigsh dispatch counters: `eigshSmallestAuto` records the one tier
  * each call takes, `eigshSharded` the block width it ran at. */
class EigshTierSpec extends AnyFunSuite {
  import TestSpark._

  private def chain(n: Int) = graft.queries.SolverQueries.chainLaplacian(spark, n)

  private def countsOf(body: => Unit): Map[String, Long] = Instrument.withExclusive {
    val before = Instrument.snapshot()
    body
    Instrument.since(before).filter { case (k, _) => k.startsWith("eigsh.tier.") || k == "eigsh.b" }
  }

  test("eigshSmallestAuto records exactly one tier per call") {
    val coo = chain(30)
    for (call <- 1 to 2) {
      val got = countsOf(SolverOps.eigshSmallestAuto(coo, 30L, 3))
      assert(got == Map("eigsh.tier.local" -> 1L), s"call $call")
    }
  }

  test("the tier boundary: local up to 1e6 nnz with n within an Int, sharded past it") {
    assert(SolverOps.eigshLocalTier(1000L, 1000000L))
    assert(!SolverOps.eigshLocalTier(1000L, 1000001L))
    assert(SolverOps.eigshLocalTier(Int.MaxValue.toLong, 10L))
    assert(!SolverOps.eigshLocalTier(Int.MaxValue + 1L, 10L))
  }

  test("eigshSharded records the block width it ran at") {
    val coo = chain(8)
    assert(countsOf(SolverOps.eigshSharded(coo, 8L, 2, m = 12)) == Map("eigsh.b" -> 2L))
    assert(countsOf(SolverOps.eigshSharded(coo, 8L, 2, m = 12, b = 1)) == Map("eigsh.b" -> 1L))
  }
}
