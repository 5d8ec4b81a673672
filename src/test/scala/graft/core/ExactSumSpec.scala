package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** [[ExactSum]]: the running and merged partial forms give the bits the
  * array form gives, whatever the order, the split or the repeat counts.
  */
class ExactSumSpec extends AnyFunSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("partials merged in any split and order equal the array sum") {
    val rng = new scala.util.Random(7)
    val xs = Array.fill(200)(rng.nextGaussian() * math.pow(10, rng.nextInt(12) - 6))
    val want = ExactSum(xs, xs.length)
    for (cut <- Seq(0, 1, 57, 199, 200)) {
      val (a, b) = xs.splitAt(cut)
      val pa = a.foldLeft(new ExactSum.Partial)(_ add _)
      val pb = b.reverse.foldLeft(new ExactSum.Partial)(_ add _)
      assert(bits(pa.merge(pb).value) == bits(want), s"cut $cut")
    }
  }

  test("adding a term m times is adding m copies") {
    val terms = Seq(0.1 -> 3L, -2.5e-7 -> 17L, math.log(0.4) -> 1L, 1e15 / 3 -> 1000003L)
    val copies = terms.flatMap { case (x, m) => Seq.fill(m.toInt)(x) }.toArray
    val times = terms.foldLeft(new ExactSum.Partial) { case (p, (x, m)) => p.add(x, m) }
    assert(bits(times.value) == bits(ExactSum(copies, copies.length)))
  }

  test("non-finite terms merge as the double sum of them does") {
    def of(xs: Double*) = xs.foldLeft(new ExactSum.Partial)(_ add _)
    assert(of(1.0, Double.PositiveInfinity).merge(of(2.0)).value == Double.PositiveInfinity)
    assert(of(Double.NegativeInfinity).merge(of(Double.NegativeInfinity, 3.0)).value ==
      Double.NegativeInfinity)
    assert(of(Double.PositiveInfinity).merge(of(Double.NegativeInfinity)).value.isNaN)
    assert(of(1.0).merge(of(Double.NaN)).value.isNaN)
    assert(of(Double.PositiveInfinity).add(Double.PositiveInfinity, 5L).value ==
      Double.PositiveInfinity)
    assert(bits(new ExactSum.Partial().merge(new ExactSum.Partial).value) == bits(0.0))
  }
}
