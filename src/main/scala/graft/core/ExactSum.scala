package graft.core

/** Sums of doubles that do not depend on the order of addition: every
  * finite term is an exact `BigDecimal` and the sum is rounded to a
  * double once. A kernel whose rows spread over partitions differently
  * at another width, in another batch or on a recompute gets the same
  * bits every time, where a double sum would drift in the last ulps.
  * Non-finite terms (a diverged model's NaN or ∞) give what the double
  * sum gives: NaN if any is NaN or both infinities occur, else ±∞.
  */
private[graft] object ExactSum {

  /** Σ xs(0 until len). */
  def apply(xs: Array[Double], len: Int): Double = {
    val p = new Partial
    var i = 0
    while (i < len) { p.add(xs(i)); i += 1 }
    p.value
  }

  /** A running exact sum, for a kernel that folds its terms as they
    * stream past, and a mergeable one, for a map-side-combined shuffle.
    */
  final class Partial extends Serializable {
    private var exact = java.math.BigDecimal.ZERO
    // the double sum of the non-finite terms: 0.0 until there is one
    private var other = 0.0

    /** Add `times` (≥ 1) copies of `x`. */
    def add(x: Double, times: Long = 1L): Partial = {
      if (java.lang.Double.isFinite(x)) {
        val d = new java.math.BigDecimal(x)
        exact = exact.add(if (times == 1L) d else d.multiply(java.math.BigDecimal.valueOf(times)))
      } else other += x
      this
    }

    /** Add every term `o` holds. */
    def merge(o: Partial): Partial = {
      exact = exact.add(o.exact)
      other += o.other
      this
    }

    def value: Double = if (java.lang.Double.isFinite(other)) exact.doubleValue else other
  }
}
