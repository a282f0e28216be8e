package embedbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ramp(n: Int) = Seq.tabulate(n)(i => (i + 1).toDouble)

  test("p95 of 200 samples is the 190th with ten beyond it") {
    val p = Stats.percentile(ramp(200).reverse, 95)
    assert(p.value == 190.0)
    assert(p.n == 200 && p.beyond == 10 && p.supported)
  }

  test("p95 of 199 samples has only nine beyond it") {
    val p = Stats.percentile(ramp(199), 95)
    assert(p.value == 190.0 && p.beyond == 9 && !p.supported)
  }

  test("p95 needs 200 samples; p50 needs 20") {
    assert(Stats.minSamples(95) == 200)
    assert(Stats.minSamples(50) == 20)
  }

  test("nearest rank of few samples is the largest") {
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 95) == Pct(95, 3.0, 3, 0))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
