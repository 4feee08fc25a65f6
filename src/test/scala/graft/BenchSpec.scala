package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's noise-reduction draw: min-of-2 with a third sample
  * on >2x disagreement. -1 is the "query threw" sentinel, so the third
  * sample's failure must never poison a pair of passing primaries, and the
  * suite total must never add it.
  */
class BenchSpec extends AnyFunSuite {
  private def never(): Double = fail("third sample must not be drawn")

  test("agreeing primaries: min of the two, no third draw") {
    assert(Bench.robustMin(1.0, 1.4, () => never()) == 1.0)
    assert(Bench.robustMin(2.0, 1.2, () => never()) == 1.2)
  }

  test(">2x disagreement draws a third sample and keeps the min") {
    assert(Bench.robustMin(1.0, 5.0, () => 0.9) == 0.9)
    assert(Bench.robustMin(5.0, 1.0, () => 3.0) == 1.0)
  }

  test("a FAILING third sample does not mark a passing query failed") {
    // regression: min(min(1.0, 5.0), -1.0) used to record -1.0
    assert(Bench.robustMin(1.0, 5.0, () => -1.0) == 1.0)
  }

  test("a primary failure is preserved (the query really threw)") {
    assert(Bench.robustMin(-1.0, 5.0, () => never()) == -1.0)
    assert(Bench.robustMin(5.0, -1.0, () => never()) == -1.0)
    assert(Bench.robustMin(-1.0, -1.0, () => never()) == -1.0)
  }

  test("the suite total sums passing queries only; a failure never lowers it") {
    assert(Bench.successTotal(Seq(1.5, -1.0, 2.0)) == 3.5)
    assert(Bench.successTotal(Seq(-1.0, -1.0)) == 0.0)
    assert(Bench.successTotal(Seq(0.25, 0.5)) == 0.75)
  }
}
