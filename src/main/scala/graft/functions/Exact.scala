package graft.functions

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.types.DecimalType

/** Exact arithmetic: the one owner of the policy that keeps every
  * floating-point result hash-exact against the DuckDB oracle and
  * equal between warm and raw scans.
  *
  * INVARIANT: every floating-point sum a query returns goes through a
  * DECIMAL cast. A double sum depends on the order its partial sums
  * combine in, and that order follows the partitioning: a warm
  * (checkpointed, repartitioned) table and a raw scan would give
  * different sums, and so would Spark and DuckDB. [[sum]] casts each
  * row value to DECIMAL(p, s) (the same nearest-decimal rounding in
  * both engines), sums exactly, and casts the total back to double
  * once. Partial aggregation stays map-side (Catalyst plans
  * partial_sum/merge_sum on decimals). The precision and scale are each
  * site's own: (18,2) for money, (28,12) by default.
  *
  * A value computed on the driver and carried into an output is
  * rounded HALF_UP on Scala's `BigDecimal(x: Double)` (the shortest
  * decimal that reads back as `x`) by [[round]]; [[r6]] is the 6-place
  * form most outputs use.
  */
object Exact {

  /** `SUM(c)` in DECIMAL(precision, scale), returned as a double. */
  def sum(c: Column, precision: Int = 28, scale: Int = 12): Column =
    functions.sum(c.cast(DecimalType(precision, scale))).cast("double")

  /** SQL twin of [[sum]] for the DuckDB oracle strings. */
  def sumSql(e: String, precision: Int = 28, scale: Int = 12): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL($precision,$scale))) AS DOUBLE)"

  /** `x` rounded HALF_UP to `scale` decimal places. */
  def round(x: Double, scale: Int): Double = dec(x, scale).toDouble

  def r6(x: Double): Double = round(x, 6)

  /** `x` as a decimal rounded HALF_UP to `scale` places, for a
    * driver-side fold that must add exactly before it divides. */
  def dec(x: Double, scale: Int): BigDecimal =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
}
