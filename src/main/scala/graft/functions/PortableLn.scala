package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PORTABLE LOGARITHM — a logarithm both engines compute BIT-IDENTICALLY.
  *
  * libm `ln` is NOT part of the repo's exactness device set: its last-bit
  * rounding is implementation-defined and differs between the JVM and
  * DuckDB for some inputs, which is what kept every `log()`-ranked query
  * rows-only. IEEE-754 `sqrt`, by contrast, IS correctly rounded on both
  * engines (hardware `sqrtsd`), so a logarithm built ONLY from sqrt and
  * arithmetic is a fixed DAG of correctly-rounded ops — identical
  * operands in, identical bits out, on any IEEE engine:
  *
  *   r = x^(1/2^20)   (20 nested sqrts)
  *   y = 2^20 · (r − 1)
  *   pln(x) = y − y²/2^21   (second-order ln(1+e) correction)
  *
  * Accuracy: |pln(x) − ln(x)| ≲ 5·10⁻¹⁰ + 2·10⁻¹⁰·|ln x| — the
  * absolute floor is the ladder's cancellation noise (ulp(1)·2²⁰ scaled
  * back), validated against true ln in the spec. This is a DEFINED
  * CONTRACT,
  * not an ln approximation claim: both engines agree on every bit, which
  * is the property hash-compared queries need.
  *
  * Domain: x > 0 finite (sqrt of a negative is NaN on both engines —
  * callers guard their ratios positive by construction).
  */
object PortableLn {

  /** Spark-side: 20 correctly-rounded sqrts + the correction. */
  def portableLn(x: Column): Column = {
    val y = ((1 to 20).foldLeft(x)((c, _) => sqrt(c)) - lit(1.0)) *
      lit(1048576.0)
    y - y * y / lit(2097152.0)
  }

  /** DuckDB twin of [[portableLn]]'s ladder stage — the SAME op tree,
    * generated (not hand-copied) so the depth and constants can never
    * drift between engine and oracle. Callers bind this to a CTE column
    * `y` and finish with [[correctionSql]].
    */
  def yLadderSql(x: String): String = {
    val nested = "sqrt(" * 20 + s"($x)" + ")" * 20
    s"(($nested) - 1.0) * 1048576.0"
  }

  /** The correction stage over a bound ladder column. */
  def correctionSql(y: String): String =
    s"($y - $y * $y / 2097152.0)"
}
