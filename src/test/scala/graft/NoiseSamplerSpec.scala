package graft

import graft.tools.NoiseSampler.Report
import org.scalatest.funsuite.AnyFunSuite

/** The in-run noise verdict, Spark-free: how many samples each rule needs. */
class NoiseSamplerSpec extends AnyFunSuite {
  private val idle = 600e6
  // one thread: a level that leaves vCPUs spare (margins 0.85 median, 0.70 p25)
  private def flagged(n: Int, p25: Double, median: Double): Boolean =
    Report(n, p25, p25, median).flaggedVsIdle(idle, threads = 1)

  test("one in-run sample is never a verdict") {
    assert(!flagged(1, 0.1 * idle, 0.1 * idle))
  }

  test("from two samples a low median flags; a low p25 alone does not until four") {
    for (n <- Seq(2, 3)) {
      assert(flagged(n, 0.80 * idle, 0.80 * idle), s"n = $n, low median")
      assert(!flagged(n, 0.50 * idle, 0.95 * idle), s"n = $n, low p25 only")
      assert(!flagged(n, 0.90 * idle, 0.95 * idle), s"n = $n, clean")
    }
    for (n <- Seq(4, 9)) {
      assert(flagged(n, 0.80 * idle, 0.80 * idle), s"n = $n, low median")
      assert(flagged(n, 0.50 * idle, 0.95 * idle), s"n = $n, low p25 only")
      assert(!flagged(n, 0.90 * idle, 0.95 * idle), s"n = $n, clean")
    }
  }
}
