package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic rounding for cross-engine (Spark ↔ DuckDB oracle)
  * value comparison.
  *
  * The fixture's money/value doubles are exact 2-decimal values, so
  * group averages and 4-decimal-product sums frequently land *exactly*
  * on a round-half boundary (e.g. avg = 38.37875). There, the side the
  * value rounds to is decided by floating-point summation order, which
  * differs between engines and between Spark partitionings — observed
  * as a 1-ulp flip in the 4th decimal (SURVEY.md Appendix B, "double
  * summation order").
  *
  * Fix: nudge by an epsilon before rounding, applied identically in
  * the Spark plan and the oracle SQL. The epsilon is chosen per scale
  * to be (a) far above cross-engine summation noise (≲1e-11 for avgs,
  * ≲1e-5 for 1e8-magnitude money sums), and (b) far below the data's
  * decimal grid (1e-4), so it moves every quantization boundary off
  * the grid without ever changing which grid value a result represents.
  */
object Det {
  final val Eps4 = 1e-7
  final val Eps2 = 2e-5

  /** round(x + 1e-7, 4) — for avgs/ratios/similarities. */
  def r4(c: Column): Column = round(c + lit(Eps4), 4)

  /** round(x + 2e-5, 2) — for money sums / 2-dp values. */
  def r2(c: Column): Column = round(c + lit(Eps2), 2)

  final val Eps6 = 1e-9

  /** round(x + 1e-9, 6) — for small reciprocal-rank sums (RRF). */
  def r6(c: Column): Column = round(c + lit(Eps6), 6)
}
