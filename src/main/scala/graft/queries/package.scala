package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

package object queries {

  /** Engine-stable 6-dp rounding for nonnegative ratios of integers:
    * `floor(x*1e6 + 0.5)/1e6` is pure double arithmetic, so it is
    * bit-identical in any IEEE engine. `round(x, 6)` is NOT: Spark rounds
    * the decimal string (BigDecimal HALF_UP) while DuckDB rounds the binary
    * double, and an exact half like 129200/256000 = 0.5046875 rounds to
    * 0.504688 vs 0.504687. Oracle-side form:
    * `floor(x*1000000 + 0.5)/1000000`. */
  private[queries] def r6(c: Column): Column =
    floor(c * 1000000.0 + 0.5) / 1000000.0

  /** `round(x, 6)` with Spark's exact BigDecimal-HALF_UP semantics, via
    * the native [[graft.functions.Round6]] guard-band expression (no
    * BigDecimal per row off the near-half band) — for the similarity
    * columns whose oracles replay DuckDB `round(x, 6)`. NOT
    * interchangeable with [[r6]] (pure-double floor form): exact decimal
    * halves differ between the two. */
  private[queries] def roundSim(c: Column): Column = call_function("graft_round6", c)
}
