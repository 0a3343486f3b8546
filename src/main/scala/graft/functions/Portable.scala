package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable numeric rounding.
  *
  * Spark's `round(x, d)` on doubles routes through `BigDecimal` HALF_UP on
  * the double's EXACT decimal expansion; DuckDB's rounds in binary double
  * space (multiply → round → divide). The two disagree whenever the exact
  * expansion sits on the other side of a .5 boundary from the binary
  * product — a 1-ulp output difference that passes any tolerance-based
  * check but fails a byte-exact hash compare (this is precisely how
  * q62/q107 went red in round 4's driver artifact).
  *
  * [[roundPortable]] instead emulates half-up rounding with pure IEEE-754
  * double operations — `floor(x · 10^d + 0.5) / 10^d`. Multiply, add,
  * floor, and divide are each individually correctly-rounded by the IEEE
  * standard, so bit-identical inputs produce bit-identical outputs on ANY
  * conforming engine. The oracle SQL mirrors the same formula verbatim
  * (`floor(x * 1e6 + 0.5) / 1e6`), making the rounded value
  * engine-independent by construction rather than by tolerance.
  *
  * Bounds: `x · 10^d + 0.5` must stay below 2^53 for the float path to be
  * exact — fine for ratios/shares/log-scores at d ≤ 6 and for unit-scale
  * inner terms at d ≤ 14. Negative inputs round half toward +infinity
  * (floor of x+0.5), identically on both engines; the metrics routed here
  * are shares/weights/scores where exact-half negatives are measure-zero.
  */
object Portable {

  /** Half-up-emulating portable round at `d` decimal digits; NULL in →
    * NULL out (floor and arithmetic all propagate null).
    */
  def roundPortable(c: Column, d: Int): Column = {
    val p = math.pow(10.0, d)
    floor(c * lit(p) + lit(0.5)).cast("double") / lit(p)
  }

  /** The common 6-digit form used by ratio/weight outputs. */
  def r6(c: Column): Column = roundPortable(c, 6)
}
