package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Entry, QueryFile}
import graft.pipeline.Exact.d6

/** Relational-surface corpus (SURVEY.md §2b): every construct the reference's
  * generated/accepted SQL exercises, expressed as idiomatic DataFrame plans so
  * Catalyst handles pushdown/pruning/join selection.
  *
  * Float discipline: aggregate over DOUBLE goes through DECIMAL so Spark and
  * the DuckDB oracle produce bit-identical results (double summation order is
  * nondeterministic across engines; decimal addition is exact).
  */
object Relational extends QueryFile {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Exact sum of a double column: decimal accumulate, double out.
    * Double summation order differs across engines; decimal addition is
    * exact, so Spark and the DuckDB oracle agree bit-for-bit.
    */
  private def dsum(c: Column): Column = sum(c.cast("decimal(28,6)")).cast("double")
  /** avg = exact decimal sum cast to double, divided by count (double
    * division of identical operands is deterministic across engines;
    * decimal division scale rules are not).
    */
  private def davg(c: Column): Column = dsum(c) / count(lit(1))

  // q1: TPC-H Q1-style aggregation (GROUP BY + SUM/AVG/COUNT, HAVING-free)
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // q2: projection + filter with parquet pushdown (IS NULL / >= / OR / IN)
  def q2FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_totalprice") >= 100000.0 &&
        col("o_orderstatus").isin("O", "F"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))

  val q2Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_totalprice >= 100000.0 AND o_orderstatus IN ('O','F')""".stripMargin

  // q3: multi-way LEFT JOIN (the f_battles.sql shape: chained equi left joins)
  def q3MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(n, c("c_nationkey") === n("n_nationkey"), "left")
      .join(r, n("n_regionkey") === r("r_regionkey"), "left")
      .select(o("o_orderkey"), c("c_name"), n("n_name").as("nation"),
        r("r_name").as("region"), o("o_totalprice"))
  }

  val q3Sql: String =
    """SELECT o_orderkey, c_name, n_name AS nation, r_name AS region, o_totalprice
      |FROM orders
      |LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin

  // q4: EXISTS → left_semi (merge_tables / IN-subquery shape)
  def q4SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val q4Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)""".stripMargin

  // q5: NOT EXISTS → left_anti (the delete half of merge_tables). The
  // subquery filters to high-value orders so the expected result is
  // NON-empty at sf0.01 (30 customers with only sub-300k orders): an
  // empty-set oracle would hash-match an anti-join that drops everything.
  def q5AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val q5Sql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin

  // q6: UNION (dedup) of two projections (f_fighter_results.sql shape)
  def q6Union(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_partkey"))
    val b = li.filter(col("l_linestatus") === "F")
      .select(col("l_orderkey"), col("l_partkey"))
    a.union(b).distinct()
  }

  val q6Sql: String =
    """SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
      |UNION
      |SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linestatus = 'F'""".stripMargin

  // q7: CASE WHEN + CAST + string concat || (f_battles/f_fighter_results shape)
  def q7CaseCastConcat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        concat(col("p_brand"), lit("#"), col("p_partkey").cast("string")).as("part_code"),
        when(col("p_size") >= 25, lit("large"))
          .when(col("p_size") >= 10, lit("medium"))
          .otherwise(lit("small")).as("size_class"),
        col("p_retailprice").cast("decimal(12,2)").cast("string").as("price_str"))

  val q7Sql: String =
    """SELECT p_brand || '#' || CAST(p_partkey AS VARCHAR) AS part_code,
      |  CASE WHEN p_size >= 25 THEN 'large'
      |       WHEN p_size >= 10 THEN 'medium'
      |       ELSE 'small' END AS size_class,
      |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str
      |FROM part""".stripMargin

  // q8: GROUP BY + HAVING (standard-tests unique-check shape)
  def q8Having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 4)

  val q8Sql: String =
    """SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
      |GROUP BY l_orderkey HAVING COUNT(*) > 4""".stripMargin

  // q9: ORDER BY / LIMIT → Spark TakeOrderedAndProject (top-k, no full sort)
  def q9TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(10)

  val q9Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // q10: COUNT(DISTINCT) + SUM group-by (f_rankings.sql shape)
  def q10Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        dsum(col("l_quantity")).as("sum_qty"))

  val q10Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // q11: window functions — row_number + running sum with frame
  def q11Window(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("rn"),
        dsumOver(col("o_totalprice"), w).as("running_spend"))
      .filter(col("rn") <= 3)
  }

  private def dsumOver(c: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    import org.apache.spark.sql.expressions.Window
    sum(c.cast("decimal(28,6)"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      .cast("double")
  }

  val q11Sql: String =
    """SELECT o_orderkey, o_custkey, rn, running_spend FROM (
      |  SELECT o_orderkey, o_custkey,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |  FROM orders) WHERE rn <= 3""".stripMargin

  // q12: ROLLUP (grouping sets surface)
  def q12Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("sum_price"))

  val q12Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // q13: IN-subquery → left_semi (redshift_merge_tables shape)
  def q13InSubquery(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part").filter(col("p_size") > 40).select(col("p_partkey"))
    li.join(p, li("l_partkey") === p("p_partkey"), "left_semi")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
  }

  val q13Sql: String =
    """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)""".stripMargin

  // q14: scalar-subquery watermark (incremental extract, copy.py:632-691)
  def q14Watermark(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    // High-watermark = max orderdate minus margin; reference semantics keep
    // NULL keys (copy.py:668-675). Watermark stays IN the plan (broadcast
    // scalar) — no driver-side collect, works at any scale.
    val wm = o.agg((max(col("o_orderdate")) - expr("INTERVAL 30 DAY")).as("wm_cutoff"))
    o.join(broadcast(wm))
      .filter(col("o_orderdate").isNull || col("o_orderdate") >= col("wm_cutoff"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
  }

  val q14Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate FROM orders
      |WHERE o_orderdate IS NULL OR o_orderdate >=
      |  (SELECT MAX(o_orderdate) - INTERVAL 30 DAY FROM orders)""".stripMargin

  // q34: FULL OUTER JOIN + COALESCE (reconciliation-report shape)
  def q34FullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_custkey") <= 100)
      .select(col("c_custkey"), col("c_name"))
    val o = t(s, dir, "orders").filter(col("o_custkey") >= 50)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(
        coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
        c("c_name"), o("n_orders"))
  }

  val q34Sql: String =
    """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 100),
      |o AS (SELECT o_custkey, COUNT(*) AS n_orders
      |      FROM orders WHERE o_custkey >= 50 GROUP BY 1)
      |SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey, c.c_name, o.n_orders
      |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey""".stripMargin

  // q35: scalar-function battery — date parts/trunc, string case/substr/
  // length, abs/floor, greatest/least (the everyday warehouse-SQL surface)
  def q35ScalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate").isNotNull && col("o_orderkey") % 10 === 0)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        upper(col("o_orderpriority")).as("pri_upper"),
        lower(col("o_orderstatus")).as("status_lower"),
        substring(col("o_orderpriority"), 1, 3).as("pri3"),
        length(col("o_orderpriority")).as("pri_len"),
        abs(col("o_totalprice") - 100000.0).as("dist"),
        floor(col("o_totalprice") / 1000.0).as("k_bucket"),
        greatest(col("o_custkey"), lit(1000L)).as("g"),
        least(col("o_custkey"), lit(1000L)).as("l"))

  val q35Sql: String =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  upper(o_orderpriority) AS pri_upper, lower(o_orderstatus) AS status_lower,
      |  substring(o_orderpriority, 1, 3) AS pri3,
      |  length(o_orderpriority) AS pri_len,
      |  abs(o_totalprice - 100000.0) AS dist,
      |  CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS k_bucket,
      |  greatest(o_custkey, 1000) AS g, least(o_custkey, 1000) AS l
      |FROM orders WHERE o_orderdate IS NOT NULL AND o_orderkey % 10 = 0""".stripMargin

  // q36: ranking/navigation window battery — rank, dense_rank, lag, lead,
  // ntile (integer-valued, so cross-engine deterministic; ordering fully
  // tie-broken)
  def q36WindowFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .filter(col("o_custkey") <= 30)
      .select(
        col("o_orderkey"), col("o_custkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        ntile(4).over(w).as("quartile"))
  }

  val q36Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
      |  lag(o_orderkey, 1) OVER w AS prev_key, lead(o_orderkey, 1) OVER w AS next_key,
      |  ntile(4) OVER w AS quartile
      |FROM orders WHERE o_custkey <= 30
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin

  // q151: distribution-window battery — percent_rank, cume_dist,
  // nth_value (q36's navigation battery doesn't cover these). The
  // ordering is fully tie-broken so the ranks are deterministic;
  // percent_rank/cume_dist are single exact-rational divisions
  // ((rank−1)/(n−1), rank/n) — bit-identical cross-engine without
  // rounding. nth_value takes the whole-partition frame EXPLICITLY:
  // its default running frame is a different (and rarely wanted)
  // function.
  def q151WindowDistBattery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val wFull = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    t(s, dir, "orders")
      .filter(col("o_custkey") <= 30)
      .select(
        col("o_orderkey"), col("o_custkey"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value(col("o_orderkey"), 2).over(wFull).as("second_key"))
  }

  val q151Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS second_key
      |FROM orders WHERE o_custkey <= 30
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin

  // q155: the TPC-H Q5 shape — a 6-table snowflake with a cross-branch
  // equi condition (supplier and customer must share a nation), the
  // classic join-reorder test. The plan is declared in fixture order
  // and Catalyst's cost-based reorder + AQE pick the physical order;
  // revenue goes through the decimal discipline.
  def q155JoinReorder(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    r.join(n, r("r_regionkey") === n("n_regionkey"))
      .join(c, n("n_nationkey") === c("c_nationkey"))
      .join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(su, l("l_suppkey") === su("s_suppkey") &&
        c("c_nationkey") === su("s_nationkey"))
      .groupBy(n("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
  }

  val q155Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |FROM region
      |JOIN nation ON r_regionkey = n_regionkey
      |JOIN customer ON n_nationkey = c_nationkey
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name""".stripMargin

  // q157: null-semantics battery. NULLIF plants nulls; plain equality
  // propagates them, null-safe equality (<=> / IS NOT DISTINCT FROM)
  // treats NULL as a value, and the same operator serves as a JOIN KEY
  // (EqualNullSafe is an equi-join key in Spark — the null bucket hash
  // joins like any other) against a 4-row dim covering the null row.
  def q157NullSemantics(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        nullif(col("l_linenumber") % 3, lit(0)).as("a"),
        nullif(col("l_linenumber") % 3, lit(1)).as("b"))
    val dim = s.range(1, 3)
      .select(col("id").as("k"),
        concat(lit("grp_"), col("id").cast("string")).as("label"))
      .unionAll(s.range(1).select(lit(null).cast("bigint").as("k"),
        lit("grp_null").as("label")))
    li.join(dim, li("a") <=> dim("k"), "left")
      .groupBy(col("label"),
        (col("a") === col("b")).as("eq"),
        (col("a") <=> col("b")).as("nse"))
      .agg(count(lit(1)).as("n"))
  }

  val q157Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    nullif(l_linenumber % 3, 0) AS a,
      |    nullif(l_linenumber % 3, 1) AS b
      |  FROM lineitem),
      |dim AS (
      |  SELECT i AS k, 'grp_' || CAST(i AS VARCHAR) AS label
      |  FROM range(1, 3) t(i)
      |  UNION ALL SELECT NULL, 'grp_null')
      |SELECT dim.label, li.a = li.b AS eq,
      |  li.a IS NOT DISTINCT FROM li.b AS nse, count(*) AS n
      |FROM li LEFT JOIN dim ON li.a IS NOT DISTINCT FROM dim.k
      |GROUP BY 1, 2, 3""".stripMargin

  // q159: COUNT(DISTINCT) OVER a window — Spark does not support
  // DISTINCT window aggregates, so the engine's rewrite is
  // size(collect_set(x) OVER w) (set semantics in the aggregation
  // buffer); DuckDB runs the literal COUNT(DISTINCT) OVER. Both count
  // distinct suppliers per order beside each line — the
  // cross-engine-equivalent-rewrite case the SQL surface must handle.
  def q159WindowDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        size(collect_set(col("l_suppkey")).over(w)).cast("long")
          .as("n_suppliers"),
        count(lit(1)).over(w).as("n_lines"))
  }

  val q159Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(COUNT(DISTINCT l_suppkey) OVER w AS BIGINT) AS n_suppliers,
      |  COUNT(*) OVER w AS n_lines
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_orderkey)""".stripMargin

  // q164: the TPC-H Q13 shape — LEFT join customer→orders with the
  // join-side filter INSIDE the join condition (a customer with only
  // filtered-out orders must still appear, at count 0), then the
  // count-of-counts histogram. The outer-join-then-distribution
  // pattern funnel-coverage reports are built on: at scale the first
  // aggregate shuffles on c_custkey (same key as the join — AQE
  // coalesces), the second on the tiny c_count domain.
  def q164CustDist(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") =!= "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q164Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT JOIN orders
      |        ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count""".stripMargin

  // q165: the TPC-H Q22 shape — substring-derived country code, a
  // scalar-average threshold, and an anti-join ("well-funded customers
  // in these codes with no urgent orders"). The scalar avg stays
  // IN-PLAN as a 1-row (sum, count) aggregate broadcast-crossJoined
  // onto the stream, and the threshold compares c_acctbal·n > Σ —
  // double×int against an exact decimal sum, so both engines make
  // bit-identical keep decisions (a raw avg's last-ulp would flip
  // boundary rows). The anti-join is Spark's LeftAnti on o_custkey.
  def q165GlobalSalesOpp(s: SparkSession, dir: String): DataFrame = {
    val codes = Seq("13", "31", "23", "29", "30", "18", "17")
    val sel = t(s, dir, "customer")
      .withColumn("cntrycode",
        expr("substring(c_name, length(c_name)-1, 2)"))
      .filter(col("cntrycode").isin(codes: _*))
    val stats = sel.filter(col("c_acctbal") > 0.0)
      .agg(sum(col("c_acctbal").cast("decimal(28,6)")).cast("double").as("_th_s"),
        count(lit(1)).as("_th_n"))
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    sel.join(urgent, sel("c_custkey") === urgent("o_custkey"), "left_anti")
      .crossJoin(broadcast(stats))
      .filter(col("c_acctbal") * col("_th_n") > col("_th_s"))
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
  }

  val q165Sql: String =
    """WITH sel AS (
      |  SELECT substring(c_name, length(c_name)-1, 2) AS cntrycode,
      |         c_custkey, c_acctbal
      |  FROM customer
      |  WHERE substring(c_name, length(c_name)-1, 2)
      |        IN ('13','31','23','29','30','18','17')),
      |st AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS s,
      |         count(*) AS n
      |  FROM sel WHERE c_acctbal > 0.0)
      |SELECT cntrycode, count(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS totacctbal
      |FROM sel, st
      |WHERE c_acctbal * st.n > st.s
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = sel.c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY cntrycode""".stripMargin

  // q37: EXCEPT / INTERSECT set operations (distinct semantics), combined
  // so one entry covers both remaining set operators
  def q37SetOps(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val except = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_partkey"))
      .except(li.filter(col("l_linestatus") === "F")
        .select(col("l_orderkey"), col("l_partkey")))
    val intersect = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
      .intersect(li.filter(col("l_returnflag") === "A").select(col("l_orderkey")))
    except.join(intersect, Seq("l_orderkey"), "left_semi")
  }

  val q37Sql: String =
    """WITH ex AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
      |  EXCEPT
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linestatus = 'F'),
      |ins AS (
      |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      |  INTERSECT
      |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A')
      |SELECT l_orderkey, l_partkey FROM ex
      |WHERE l_orderkey IN (SELECT l_orderkey FROM ins)""".stripMargin

  // q40: CUBE grouping sets with grouping_id — the full grouping-set
  // surface beyond q12's ROLLUP (all four (flag, status) combinations)
  def q40GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))

  val q40Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  // q41: correlated scalar subquery in both SELECT and WHERE (Catalyst
  // decorrelation — COUNT over an empty correlated group must read 0)
  def q41CorrelatedScalar(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT c.c_custkey,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) >= 8""".stripMargin)
  }

  val q41Sql: String =
    """SELECT c.c_custkey,
      |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) >= 8""".stripMargin

  // q42: date/time function battery — extraction, ISO weeks, month ends,
  // day arithmetic; date outputs cross-engine-safe as ISO strings
  def q42DateFuncs(s: SparkSession, dir: String): DataFrame = {
    val d = col("o_orderdate").cast("date")
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(d).as("yr"),
      quarter(d).as("qtr"),
      month(d).as("mon"),
      dayofmonth(d).as("dom"),
      weekofyear(d).as("wk"),
      last_day(d).cast("string").as("eom"),
      datediff(lit("1998-12-31").cast("date"), d).as("days_to_end"),
      date_add(d, 30).cast("string").as("due_date"))
  }

  val q42Sql: String =
    """SELECT o_orderkey,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |  CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
      |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mon,
      |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
      |  CAST(weekofyear(o_orderdate) AS INT) AS wk,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_end,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS due_date
      |FROM orders""".stripMargin

  // q43: string function battery — case, substring, padding, regex
  // extraction, search position, reverse
  def q43StringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("uname"),
      substring(col("p_name"), 1, 5).as("head5"),
      length(col("p_name")).as("len"),
      lpad(col("p_brand"), 12, "*").as("padded"),
      regexp_extract(col("p_type"), "^(\\w+)", 1).as("first_word"),
      locate("a", col("p_name")).as("a_pos"),
      reverse(col("p_brand")).as("rbrand"))

  val q43Sql: String =
    """SELECT p_partkey,
      |  upper(p_name) AS uname,
      |  substring(p_name, 1, 5) AS head5,
      |  CAST(length(p_name) AS INT) AS len,
      |  lpad(p_brand, 12, '*') AS padded,
      |  regexp_extract(p_type, '^(\w+)', 1) AS first_word,
      |  CAST(strpos(p_name, 'a') AS INT) AS a_pos,
      |  reverse(p_brand) AS rbrand
      |FROM part""".stripMargin

  // q44: ordered aggregation into a delimited string — deterministic
  // collect_list via sort_array (Spark's list order is otherwise
  // partition-dependent), the string_agg/array_agg surface
  def q44OrderedAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        array_join(sort_array(collect_list(col("o_orderpriority"))), ",")
          .as("prios"),
        count(lit(1)).as("n_orders"))

  val q44Sql: String =
    """SELECT o_custkey,
      |  string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS prios,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey""".stripMargin

  // q45: pivot (long → wide) — Spark's relational pivot operator with an
  // explicit value list; empty cells coalesce to 0 like the CASE oracle
  def q45Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .select(
        col("l_returnflag"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"))

  val q45Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // q67: unpivot (wide → long), the inverse of q45's pivot — Spark's
  // relational unpivot operator (UNPIVOT/melt); the oracle is the
  // engine-portable UNION ALL form. Measure doubles pass through
  // unchanged, so the hash compare is exact.
  def q67Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "val")

  val q67Sql: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin

  // q88: EXACT percentiles per group (not approx_percentile — the
  // rows-only q65 covers the sketch; this is the sort-based exact
  // aggregate, cross-checked against DuckDB's quantile_cont). Both
  // engines interpolate at rank p·(n−1); p ∈ {.25,.5,.75} is
  // binary-exact so the rank arithmetic is deterministic, and the
  // result is rounded through DECIMAL(28,6) on both sides to absorb
  // any last-ulp interpolation difference.

  def q88GroupPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        d6(percentile(col("l_quantity"), lit(0.25))).as("p25_qty"),
        d6(percentile(col("l_quantity"), lit(0.5))).as("p50_qty"),
        d6(percentile(col("l_quantity"), lit(0.75))).as("p75_qty"),
        d6(percentile(col("l_extendedprice"), lit(0.5))).as("median_price"))

  val q88Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(quantile_cont(l_quantity, 0.25) AS DECIMAL(28,6)) AS DOUBLE) AS p25_qty,
      |  CAST(CAST(quantile_cont(l_quantity, 0.5) AS DECIMAL(28,6)) AS DOUBLE) AS p50_qty,
      |  CAST(CAST(quantile_cont(l_quantity, 0.75) AS DECIMAL(28,6)) AS DOUBLE) AS p75_qty,
      |  CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(28,6)) AS DOUBLE) AS median_price
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // q193: the TPC-H Q15 shape — a revenue "view" (per-supplier quarter
  // revenue) consumed twice: once as the stream, once reduced to a
  // global max the stream is equality-filtered against. The revenue
  // stays DECIMAL end-to-end until output, so the max-equality keep
  // decision is exact in both engines (a double revenue's last ulp
  // would drop/keep the boundary supplier differently); the 1-row max
  // frame broadcast-crossJoins onto the per-supplier frame (never a
  // second scan of lineitem, never a collect).
  def q193TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,6)")).as("_rev"))
    val mx = rev.agg(max(col("_rev")).as("_mx"))
    t(s, dir, "supplier")
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(mx))
      .filter(col("_rev") === col("_mx"))
      .select(col("s_suppkey"), col("s_name"),
        col("_rev").cast("double").as("total_revenue"))
  }

  val q193Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6)))
      |      AS r
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE r = (SELECT max(r) FROM rev)""".stripMargin

  // q194: the TPC-H Q17 shape — the correlated per-part scalar average
  // ("lineitems below 20% of their part's average quantity")
  // decorrelated to a per-part aggregate joined back. The keep
  // predicate runs in EXACT integers: q < 0.2·Σq/n  ⇔  5·q·n < Σq
  // (quantities are integer-valued), so no float threshold decides
  // membership. Only the one brand's parts survive the first join —
  // the per-part frame is dimension-sized and broadcasts.
  def q194SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val pt = t(s, dir, "part").filter(col("p_brand") === "Brand#1")
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(pt, col("l_partkey") === col("p_partkey"))
      .withColumn("_q", col("l_quantity").cast("long"))
    val perPart = li.groupBy(col("l_partkey").as("_pk"))
      .agg(sum(col("_q")).as("_sq"), count(lit(1)).as("_n"))
    li.join(broadcast(perPart), col("l_partkey") === col("_pk"))
      .filter(lit(5L) * col("_q") * col("_n") < col("_sq"))
      .agg(d6(dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  val q194Sql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#1'),
      |pp AS (SELECT l_partkey AS pk, SUM(q) AS sq, count(*) AS n
      |       FROM li GROUP BY 1)
      |SELECT CAST(CAST(
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0
      |  AS DECIMAL(28,6)) AS DOUBLE) AS avg_yearly
      |FROM li JOIN pp ON l_partkey = pk
      |WHERE 5 * q * n < sq""".stripMargin

  // q195: the TPC-H Q18 shape — large-volume orders: a HAVING over a
  // per-order quantity rollup, semi-joined back through orders to the
  // customer, top-100 by (o_totalprice DESC, o_orderkey). The sum rides
  // exact BIGINTs; the ordering compares STORED doubles (no arithmetic,
  // so cross-engine bytes agree) with the orderkey tie-break pinning
  // the cut. TakeOrderedAndProject — the heap never sorts the corpus.
  def q195LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 200L)
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  val q195Sql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 200)
      |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // q196: the TPC-H Q10 shape — returned-item reporting: customers
  // ranked by the revenue they returned in a quarter, top-20. Revenue
  // through the decimal sum (exact, so the rank keys agree across
  // engines bit-for-bit), c_custkey tie-break, TakeOrderedAndProject.
  def q196ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    t(s, dir, "customer")
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q196Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // q216: the TPC-H Q14 shape — promo revenue share: a conditional
  // aggregate ratio over a month's lineitem ⋈ part join. Both decimal
  // sums are exact, the single division is the only float op, d6 both
  // sides; the dimension side broadcasts.
  def q216PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(28,6)")
    l.join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(d6(lit(100.0) *
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0)
          .cast("decimal(28,6)"))).cast("double") /
        sum(rev).cast("double")).as("promo_revenue"))
  }

  val q216Sql: String =
    """SELECT CAST(CAST(100.0 *
      |    CAST(SUM(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(28,6))) AS DOUBLE)
      |  AS DECIMAL(28,6)) AS DOUBLE) AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("q1_agg", q1Agg, Some(q1Sql)),
    Entry("q2_filter_project", q2FilterProject, Some(q2Sql)),
    Entry("q3_multi_join", q3MultiJoin, Some(q3Sql)),
    Entry("q4_semi_join", q4SemiJoin, Some(q4Sql)),
    Entry("q5_anti_join", q5AntiJoin, Some(q5Sql)),
    Entry("q6_union", q6Union, Some(q6Sql)),
    Entry("q7_case_cast_concat", q7CaseCastConcat, Some(q7Sql)),
    Entry("q8_having", q8Having, Some(q8Sql)),
    Entry("q9_topk", q9TopK, Some(q9Sql)),
    Entry("q10_distinct", q10Distinct, Some(q10Sql)),
    Entry("q11_window", q11Window, Some(q11Sql)),
    Entry("q12_rollup", q12Rollup, Some(q12Sql)),
    Entry("q13_in_subquery", q13InSubquery, Some(q13Sql)),
    Entry("q14_watermark", q14Watermark, Some(q14Sql)),
    Entry("q34_full_outer", q34FullOuter, Some(q34Sql)),
    Entry("q35_scalar_funcs", q35ScalarFuncs, Some(q35Sql)),
    Entry("q36_window_funcs", q36WindowFuncs, Some(q36Sql)),
    Entry("q151_window_dist_battery", q151WindowDistBattery, Some(q151Sql)),
    Entry("q155_join_reorder", q155JoinReorder, Some(q155Sql)),
    Entry("q157_null_semantics", q157NullSemantics, Some(q157Sql)),
    Entry("q159_window_distinct", q159WindowDistinct, Some(q159Sql)),
    Entry("q164_cust_dist", q164CustDist, Some(q164Sql)),
    Entry("q165_global_sales_opp", q165GlobalSalesOpp, Some(q165Sql)),
    Entry("q37_set_ops", q37SetOps, Some(q37Sql)),
    Entry("q40_grouping_sets", q40GroupingSets, Some(q40Sql)),
    Entry("q41_correlated_scalar", q41CorrelatedScalar, Some(q41Sql)),
    Entry("q42_date_funcs", q42DateFuncs, Some(q42Sql)),
    Entry("q43_string_funcs", q43StringFuncs, Some(q43Sql)),
    Entry("q44_ordered_agg", q44OrderedAgg, Some(q44Sql)),
    Entry("q45_pivot", q45Pivot, Some(q45Sql)),
    Entry("q67_unpivot", q67Unpivot, Some(q67Sql)),
    Entry("q88_group_percentiles", q88GroupPercentiles, Some(q88Sql)),
    Entry("q193_top_supplier", q193TopSupplier, Some(q193Sql)),
    Entry("q194_small_qty_revenue", q194SmallQtyRevenue, Some(q194Sql)),
    Entry("q195_large_orders", q195LargeOrders, Some(q195Sql)),
    Entry("q196_returned_items", q196ReturnedItems, Some(q196Sql)),
    Entry("q216_promo_revenue", q216PromoRevenue, Some(q216Sql)))
}
