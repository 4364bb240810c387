package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Exact-math helpers for oracle parity.
  *
  * Double summation is order-dependent; a distributed sum and DuckDB's
  * sequential sum can disagree in the low bits and break hash comparison.
  * Summing in decimal is associative and exact, so both engines produce
  * bit-identical results; we cast back to double only at the edge.
  */
object Exact {
  /** Cast to a decimal wide enough for money math at 100 TB scale. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Order-independent exact sum, surfaced as double. */
  def exactSum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** `round(c, scale)`, HALF_UP, with Spark's results: on a double it
    * runs the native [[RoundDouble]] kernel (bit-identical, 15–20× cheaper
    * than Spark's BigDecimal round), on any other numeric type Spark's
    * own `round`. Use it for every `round` in DataFrame code. */
  def round(c: Column, scale: Int): Column =
    column(ExactRound(expression(c), scale))

  /** Exact sum of a decimal product expression, rounded to `scale`. */
  def exactRoundSum(e: Column, scale: Int): Column =
    round(sum(e).cast(DoubleType), scale)

  /** Mean via exact sum / count, rounded for cross-engine stability. */
  def exactAvg(c: Column, scale: Int = 6): Column =
    round(sum(dec(c)).cast(DoubleType) / count(lit(1)), scale)
}
