package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-portable output rounding.
  *
  * `round(x, 6)` is NOT portable between Spark and a C-rounding engine:
  * Spark converts the double to its exact BigDecimal expansion and
  * applies HALF_UP at 6 digits, while DuckDB computes `x*1e6`, rounds in
  * floating point, and divides — on boundary doubles (values whose exact
  * expansion sits at a `…5e-7` tie) the two flip in opposite directions.
  * Full-surface differential fuzzing caught six such flips in round 15;
  * every remaining HALF_UP `round(·,6)` site was a latent flip waiting
  * for a seed. This helper retires the class: both engines evaluate the
  * IDENTICAL expression
  *
  *   `abs(x) < 8e9  ?  floor(x*1e6 + 0.5) / 1e6  :  x`
  *
  * - `floor(x*1e6 + 0.5)`: half-toward-+infinity rounding, exact and
  *   order-free; below the cap `x*1e6 + 0.5 < 2^53`, so Spark's
  *   LongType floor and DuckDB's double floor produce the same exactly
  *   representable integer, and the single division by `1e6` is
  *   IEEE-identical on both.
  * - the `8e9` magnitude cap (ADVICE r15): without it, Spark's
  *   double→Long floor saturates at `Long.MaxValue` for extreme inputs
  *   while DuckDB's floor stays a double — a divergence at magnitudes
  *   where a 1e-6 grid is sub-ULP anyway (ULP(8e9) ≈ 1.9e-6). Above the
  *   cap both engines pass the value through unchanged.
  * - null/NaN/±Inf: the guard comparison is false (engines agree NaN is
  *   greater-than-everything) → pass-through on both sides.
  *
  * Semantic note (shared with the micro-unit sum convention,
  * SparkEntry.scala header): rounding is half-toward-+infinity, not
  * HALF_UP — negatives differ at exact `.5e-6` boundaries by design.
  *
  * The oracle twin of every `r6` call calls [[r6Sql]] (and of every
  * `r4` call, [[r4Sql]]), so both engines read one definition.
  */
object Portable {

  /** Magnitude cap below which the floor form is exact on both engines. */
  final val R6Cap = 8.0e9

  /** Portable replacement for `round(c, 6)` on output columns. */
  def r6(c: Column): Column = {
    val d = c.cast("double")
    when(abs(d) < lit(R6Cap),
      floor(d * lit(1e6) + lit(0.5)) / lit(1e6)).otherwise(d)
  }

  /** The DuckDB-side twin of [[r6]], as SQL text. */
  def r6Sql(expr: String): String =
    s"CASE WHEN abs($expr) < 8.0e9 " +
      s"THEN floor(($expr) * 1e6 + 0.5) / 1e6 ELSE ($expr) END"

  /** 4-dp sibling of [[r6]] for outputs quantized at 1e-4 (round 17,
    * after fuzz seed 28 flipped a `round(·,4)` site): same guarded
    * floor form, cap 8e11 by the same rule that set R6Cap (ULP(8e11)
    * ≈ 1.2e-4 — above it a 1e-4 grid is sub-ULP and both engines pass
    * the value through).
    */
  final val R4Cap = 8.0e11

  def r4(c: Column): Column = {
    val d = c.cast("double")
    when(abs(d) < lit(R4Cap),
      floor(d * lit(1e4) + lit(0.5)) / lit(1e4)).otherwise(d)
  }

  /** The DuckDB-side twin of [[r4]], as SQL text. */
  def r4Sql(expr: String): String =
    s"CASE WHEN abs($expr) < 8.0e11 " +
      s"THEN floor(($expr) * 1e4 + 0.5) / 1e4 ELSE ($expr) END"
}
