package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._

/** Engine-exact aggregate statistics for decimal-quantized metrics.
  *
  * A plain double `avg` is DOUBLY non-deterministic for oracle parity:
  * the summation order varies with partitioning (±1 ULP), and on
  * quantized inputs the true mean lands exactly on `round()` midpoints,
  * where Spark (decimal-string HALF_UP) and DuckDB (binary-value
  * rounding) disagree even on the SAME double — observed at sf0.1:
  * 3148.24/64 = 49.19125 rounds to .1913 in Spark and .1912 in DuckDB.
  *
  * `avg4dp` removes both hazards: the sum is an exact decimal, and the
  * half-up rounding to 4 decimals is pure integer arithmetic —
  * q = floor((2·|S·10⁶| + 100·n) / (200·n)), sign reapplied — so every
  * engine computes the identical value. DuckDB mirror:
  * `(( |S6| * 2 + 100*n ) // (200*n))::DOUBLE / 10000` with the same
  * sign/empty-group guards. Long bounds: |sum| < 4.6e12 (1e9 rows of
  * magnitude ≤ 4600) before 2·S·10⁶ would overflow — far beyond any
  * per-group cardinality the fact shapes here produce. */
object ExactStats {
  private val IdivName = "graft_idiv"

  /** Integral (floor-for-positives) division as a Column — Spark exposes
    * no integer-div function API, so register the Catalyst expression. */
  private def idiv(spark: SparkSession, a: Column, b: Column): Column = {
    registerOnce(spark, IdivName)(exprs => IntegralDivide(exprs(0), exprs(1)))
    call_function(IdivName, a, b)
  }

  /** Half-up 4-decimal mean of a decimal-quantized column, NULL-skipping
    * like `avg` (empty/all-null group → NULL). Use inside an `agg`.
    *
    * PRECONDITION — inputs must be exactly representable at ≤ 6 decimal
    * places (integers, cents, basis points…): the per-row
    * double→DECIMAL(20,6) cast itself diverges between Spark
    * (shortest-repr string, HALF_UP) and DuckDB (scaled-double rounding)
    * for full-precision doubles near 6dp midpoints, and past the
    * documented |sum| bound the `(S·10⁶)::BIGINT` cast silently nulls in
    * non-ANSI mode. Do NOT point this at unquantized metrics (ratios,
    * cosines, log-probs); for those, emit unrounded per-row doubles
    * instead and let both engines compute them bit-identically. */
  def avg4dp(spark: SparkSession, c: Column): Column = {
    val s6 = (sum(c.cast("decimal(20,6)")) * lit(1000000L)).cast("long")
    val n = count(c)
    val q = idiv(spark, abs(s6) * 2 + n * 100, n * 200)
    when(n > 0,
      (when(s6 < 0, -q).otherwise(q)).cast("double") / 10000.0)
      .otherwise(lit(null))
  }

  /** Order-independent 2dp group sum of a ≤6dp-quantized double metric
    * (prices, 2dp event values, and their ≤6dp products). Double sums are
    * summation-order-dependent: at sf1 magnitudes (~1e11) the ~1e-5
    * partitioning noise crosses a 0.005 rounding boundary in a few
    * percent of groups per run — q1's sum_charge flaked exactly this way
    * on the sf1 parity sweep. Casting each row to DECIMAL(20,6) recovers
    * the exact quantized value (same avg4dp caveat: NOT for
    * full-precision doubles), decimal addition is associative so the
    * shuffle cannot change the sum, and both engines round the exact
    * decimal half-up. DuckDB mirror:
    * `round(sum((x)::DECIMAL(20,6)), 2)::DOUBLE`.
    *
    * Domain bound: DECIMAL(20,6) holds |x| < 1e14. Past it, Spark's
    * non-ANSI cast silently NULLs the row (a silently-short sum) while
    * DuckDB ERRORS — keep metrics within 14 integer digits or widen the
    * precision on BOTH sides together. */
  def sum2dp(c: Column): Column =
    round(sum(c.cast("decimal(20,6)")), 2).cast("double")
}
