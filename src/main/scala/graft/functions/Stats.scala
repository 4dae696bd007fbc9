package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Statistical scalar functions F4/F5 (SURVEY.md §2.8).
  *
  * Reference semantics:
  *  - scale_contingency_table: ugvc/utils/stats_utils.py:12-29 (rescale a
  *    count vector to sum ~= n with per-cell rounding)
  *  - correct_multinomial_frequencies (add-one smoothing), multinomial
  *    likelihood and likelihood ratio: ugvc/utils/stats_utils.py:32-70
  *    (golden values test_stats_utils.py:43-110)
  *
  * The contingency scaling is a pure array expression; the multinomial
  * log-likelihood uses the log-gamma closed form
  * log L = lgamma(n+1) - sum lgamma(x_i+1) + sum x_i*log(p_i), evaluated
  * in a typed UDF (scipy.multinomial's logpmf equivalent).
  */
object Stats {

  /** F4 — rescale a count array to sum≈n with rounding. The reference
    * rounds with np.round = round-half-EVEN (stats_utils.py:26-27), so this
    * uses `bround`, not `round` (HALF_UP would diverge on exact halves,
    * e.g. [1,1]·(1/2) → np.round(0.5) = 0, HALF_UP = 1). */
  def scaleContingencyTable(arr: Column, n: Column): Column = {
    val total = aggregate(arr, lit(0L), (acc, x) => acc + x)
    // all-zero table: the reference's `if sum_table > 0` guard
    // (stats_utils.py:24-28) returns the input unchanged — without it the
    // division yields NaN cells instead of zeros
    when(total === 0, transform(arr, x => x.cast("long")))
      .otherwise(transform(arr, x => bround(x * n.cast("double") / total).cast("long")))
  }

  /** F5 — add-one smoothing then renormalize to frequencies. */
  def correctMultinomialFrequencies(arr: Column): Column = {
    val plus1 = transform(arr, x => x + 1L)
    val total = aggregate(plus1, lit(0L), (acc, x) => acc + x)
    transform(plus1, x => x.cast("double") / total)
  }

  /** Multinomial log-likelihood of counts `xs` under probabilities `ps`. */
  def multinomialLogLikelihood(xs: Seq[Long], ps: Seq[Double]): Double = {
    require(xs.size == ps.size)
    val n = xs.sum
    lgammaD(n + 1.0) - xs.map(x => lgammaD(x + 1.0)).sum +
      xs.zip(ps).map { case (x, p) => if (x == 0L) 0.0 else x * math.log(p) }.sum
  }

  /** Reference-shaped API (ugvc/utils/stats_utils.py:32-70; golden values
    * test_stats_utils.py:50-110): expected arrives as COUNTS and add-one
    * correction is applied internally. */
  def correctFrequencies(counts: Seq[Long]): Seq[Double] = {
    val plus1 = counts.map(_ + 1L)
    val tot = plus1.sum.toDouble
    plus1.map(_ / tot)
  }

  /** multinomial_likelihood(actual, expected_counts). */
  def multinomialLikelihood(actual: Seq[Long], expectedCounts: Seq[Long]): Double =
    math.exp(multinomialLogLikelihood(actual, correctFrequencies(expectedCounts)))

  /** multinomial_likelihood_ratio: likelihood under expected over the
    * likelihood of actual under its own add-one-corrected frequencies. */
  def multinomialLikelihoodRatio(actual: Seq[Long], expectedCounts: Seq[Long]): Double =
    math.exp(multinomialLogLikelihood(actual, correctFrequencies(expectedCounts)) -
      multinomialLogLikelihood(actual, correctFrequencies(actual)))

  val multinomialLogLikelihoodUdf: (Column, Column) => Column = {
    val f = udf((xs: Seq[Long], ps: Seq[Double]) => multinomialLogLikelihood(xs, ps))
    (a, b) => f(a, b)
  }

  /** Log forms for the oracle gate: the raw likelihood of small count
    * vectors is a RATIONAL number and can land exactly on a round-6
    * boundary (35·0.3^7 = 0.0076545), where cross-engine float noise flips
    * the rounded digit; log-likelihoods are transcendental except at 0, so
    * the boundary is unreachable. */
  val multinomialLogLikCountsUdf: (Column, Column) => Column = {
    val f = udf((a: Seq[Long], e: Seq[Long]) =>
      multinomialLogLikelihood(a, correctFrequencies(e)))
    (a, e) => f(a, e)
  }
  val multinomialLogRatioUdf: (Column, Column) => Column = {
    val f = udf((a: Seq[Long], e: Seq[Long]) =>
      multinomialLogLikelihood(a, correctFrequencies(e)) -
        multinomialLogLikelihood(a, correctFrequencies(a)))
    (a, e) => f(a, e)
  }

  /** Lanczos log-gamma (no external dependency; |err| < 1e-13 for x > 0). */
  private[functions] def lgammaD(x: Double): Double = {
    val g = 7.0
    val c = Array(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - lgammaD(1.0 - x)
    else {
      val xx = x - 1.0
      var a = c(0)
      val t = xx + g + 0.5
      for (i <- 1 until 9) a += c(i) / (xx + i)
      0.5 * math.log(2 * math.Pi) + (xx + 0.5) * math.log(t) - t + math.log(a)
    }
  }
}
