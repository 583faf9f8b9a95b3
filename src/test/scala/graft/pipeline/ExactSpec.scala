package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Edges of the one rounding contract ([[Exact]]): the Column `d6` and
  * the driver-side `d6` must land on the same double at half-way points,
  * and what the Column form does past `decimal(28,6)` is pinned under the
  * session profile every main and test runs with.
  */
class ExactSpec extends SparkSpec {
  import spark.implicits._

  private def columnD6(xs: Seq[Double]): Seq[Double] =
    xs.toDF("x").select(Exact.d6(col("x")).as("r"))
      .collect().map(_.getDouble(0)).toSeq

  /** The failure message with its causes, for error-class matching. */
  private def failure(xs: Seq[Double]): String = {
    val e = intercept[Exception](columnD6(xs))
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
  }

  test("Column d6 and driver-side d6 agree at half-way points (HALF_UP)") {
    val cases = Seq(
      0.0000005 -> 0.000001, -0.0000005 -> -0.000001,
      2.5e-7 -> 0.0, -2.5e-7 -> -0.0,
      123456.0000005 -> 123456.000001, -123456.0000005 -> -123456.000001,
      1.0000015 -> 1.000002, 0.1234565 -> 0.123457,
      9.99999999999999e20 -> 9.99999999999999e20)
    val xs = cases.map(_._1)
    val driver = xs.map(Exact.d6(_))
    assert(columnD6(xs) == driver)
    assert(driver == cases.map(_._2))
  }

  test("Column d6 under ANSI: |x| >= 1e22 fails the query; NULL, NaN " +
    "and Infinity give NULL (documented in Exact)") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    Seq(1e22, -1e22, 1e30).foreach { v =>
      assert(failure(Seq(v)).contains("NUMERIC_VALUE_OUT_OF_RANGE"), v)
    }
    val nulls = Seq(None, Some(Double.NaN), Some(Double.PositiveInfinity),
        Some(Double.NegativeInfinity)).toDF("x")
      .select(Exact.d6(col("x"))).collect()
    assert(nulls.map(_.isNullAt(0)).toSeq == Seq(true, true, true, true))
    // the driver-side form has no precision limit, and no decimal for NaN
    assert(Exact.d6(1e22) == 1e22)
    intercept[NumberFormatException](Exact.d6(Double.NaN))
    intercept[NumberFormatException](Exact.d6(Double.PositiveInfinity))
  }
}
