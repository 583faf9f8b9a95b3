package graft.pipeline

import org.apache.spark.sql.Column

/** The one rounding contract every oracle-exact entry rests on. DuckDB
  * and Spark agree hash-exactly on a value only once it has passed
  * through a decimal, so every operator states its arithmetic in these
  * three forms:
  *
  *  - `dec`: exact integer arithmetic in `decimal(38,0)` (sums and
  *    products of counts that would wrap a `long`);
  *  - `d28`: a scaled value in `decimal(28,6)` (a fraction kept exact
  *    across later sums, comparisons and joins);
  *  - `d6`: an output rounded through `decimal(28,6)` back to double —
  *    six fractional digits, half-up (away from zero at exactly .5).
  *
  * The driver-side `d6(v: Double)` rounds a collected scalar the same
  * way (`BigDecimal.decimal(v)` — the shortest decimal that reads back
  * as `v`, the same digits Spark's cast starts from — then HALF_UP at
  * scale 6), so a value computed on the driver and fed back into a plan
  * lands on the same double as the Column form.
  *
  * Edges of the Column form under the shipped session (Spark 4, ANSI
  * mode on):
  *  - |x| ≥ 1e22 does not fit `decimal(28,6)`: the cast raises
  *    `NUMERIC_VALUE_OUT_OF_RANGE` and the query fails (with ANSI off it
  *    would be NULL);
  *  - NaN and ±Infinity have no decimal: the cast gives NULL, with
  *    ANSI on as well, so a NaN ratio surfaces as a NULL column value;
  *  - NULL stays NULL.
  * The driver-side form has no precision limit (it rounds 1e22 to
  * itself) and throws `NumberFormatException` on NaN and ±Infinity.
  * Both edges are pinned by ExactSpec.
  */
private[graft] object Exact {
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  def d28(c: Column): Column = c.cast("decimal(28,6)")

  def d6(c: Column): Column = d28(c).cast("double")

  def d6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
