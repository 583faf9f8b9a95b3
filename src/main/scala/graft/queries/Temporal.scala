package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Entry, QueryFile}
import graft.ops.Joins

/** Temporal join entries over the events fixture: as-of (point-in-time)
  * enrichment and interval containment — the two join shapes event
  * pipelines need beyond equi-joins, and that Spark has no built-in
  * operator for (ops/Joins.scala implements both Spark-first: one
  * keyed-window sweep / one bucketed equi-join, no nested loops).
  *
  * Reference scope note: sayn ships SQL to warehouses and has no join
  * operators of its own; these are north-star pipeline surface. The
  * DuckDB oracle uses its native ASOF JOIN / inequality join, so the
  * check is genuinely cross-engine: two unrelated algorithms must agree
  * row-for-row.
  *
  * Timestamps: normalized to epoch-µs longs by [[Tables.tsUs]]'s
  * schema-adaptive read (nanos-long / timestamp / timestamp_ntz all
  * land on the same µs values), matching the oracles' `epoch_us`.
  */
object Temporal extends QueryFile {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))

  // q58: as-of join — every event picks up the value of the SAME user's
  // most recent purchase at-or-before its timestamp (null before the
  // first purchase). Build side pre-aggregated to unique (user, instant),
  // the operator's tie contract.
  def q58AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val events = ev(s, dir)
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").as("p_ts_us"))
      .agg(max(col("value")).as("last_purchase_value"))
    Joins.asOf(
      events.select(col("event_id"), col("user_id"), col("ts_us")),
      purchases, keys = Seq("user_id"), probeTs = "ts_us", buildTs = "p_ts_us")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_purchase_value"))
  }

  // Oracle matches the Spark side's µs discipline EXPLICITLY (group, join
  // and compare on epoch_us, never raw ts): whatever ts flavor/precision
  // the fixture ships, raw-ts comparisons could resolve sub-µs detail the
  // Spark side never sees — version- and data-fragile. Same pattern as
  // q78Sql.
  val q58Sql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
      |    max(value) AS last_purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
      |  p.last_purchase_value
      |FROM events e ASOF LEFT JOIN p
      |  ON e.user_id = p.user_id
      |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= p.p_us""".stripMargin

  // q59: interval join — every purchase paired with every error whose
  // following hour contains it (incident-attribution shape). Bucket
  // width = the interval length, so each interval spans ≤ 2 buckets.
  def q59RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val events = ev(s, dir)
    val hourUs = 3600L * 1000 * 1000
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts_us").as("p_us"))
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts_us").as("start_us"),
        (col("ts_us") + hourUs).as("end_us"))
    Joins.rangeJoin(purchases, errors, "p_us", "start_us", "end_us",
      bucketWidth = hourUs)
      .select(col("purchase_id"), col("error_id"))
  }

  // µs discipline as in q58Sql: containment compared on epoch_us.
  val q59Sql: String =
    """SELECT p.event_id AS purchase_id, i.event_id AS error_id
      |FROM events p, events i
      |WHERE p.event_type = 'purchase' AND i.event_type = 'error'
      |  AND epoch_us(CAST(p.ts AS TIMESTAMP)) >= epoch_us(CAST(i.ts AS TIMESTAMP))
      |  AND epoch_us(CAST(p.ts AS TIMESTAMP))
      |    <= epoch_us(CAST(i.ts AS TIMESTAMP)) + 3600000000""".stripMargin

  // q66: changelog compaction — the latest event per (user, event_type)
  // by event time, ties broken by event_id (Changelog.latestByKey's
  // deterministic argmax). The CDC read shape downstream of every merge
  // pipeline.
  def q66LatestByKey(s: SparkSession, dir: String): DataFrame =
    graft.ops.Changelog.latestByKey(
      ev(s, dir), keys = Seq("user_id", "event_type"),
      orderCol = "ts_us", tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"), col("value"))

  // µs discipline as in q58Sql: the argmax orders on epoch_us so the
  // event_id tie-break fires on exactly the ties Spark sees.
  val q66Sql: String =
    """SELECT user_id, event_type, event_id,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id, event_type
      |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1""".stripMargin

  // q68: per-user daily resample with gap fill — every day between a
  // user's first and last event gets a row; silent days carry zero
  // counts and the forward-filled last active day's total
  // (Timeseries.resampleFfill). The day bucket uses epoch µs / 86400e6
  // (not date_trunc): identical integer arithmetic on both engines.
  def q68Resample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.resampleFfill(
      ev(s, dir), keys = Seq("user_id"), tsUsCol = "ts_us",
      stepUs = 86400L * 1000 * 1000, valueCol = "value")

  val q68Sql: String =
    """WITH agg AS (
      |  SELECT user_id, floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS b,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS tv
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(CAST(lo AS BIGINT), CAST(hi AS BIGINT))) AS b
      |  FROM (SELECT user_id, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1)),
      |j AS (
      |  SELECT g.user_id, g.b, agg.n, agg.tv
      |  FROM grid g LEFT JOIN agg ON g.user_id = agg.user_id AND g.b = agg.b)
      |SELECT user_id, CAST(b * 86400000000 AS BIGINT) AS bucket_start_us,
      |  COALESCE(n, 0) AS n_events,
      |  COALESCE(tv, 0.0) AS total_value,
      |  last_value(tv IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY b ROWS UNBOUNDED PRECEDING) AS ffill_value
      |FROM j""".stripMargin

  // q69: one-pass column profile over events (ts excluded: its ns→µs
  // precision differs between the engines, so distinct counts could
  // legitimately diverge — every other column is precision-stable).
  def q69ColumnProfile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.columnProfile(
      Tables(s, dir, "events"),
      Seq("event_id", "user_id", "event_type", "value", "props"))

  val q69Sql: String = Seq("event_id", "user_id", "event_type", "value", "props")
    .map(c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct FROM events""".stripMargin)
    .mkString("\nUNION ALL\n")

  // q70: skew-salted equi-join — the salt must be semantics-free, so
  // the oracle is simply the PLAIN join: lineitem×part through the
  // salted path must equal the unsalted SQL row-for-row.
  def q70SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").as("k"), col("l_quantity"))
    val part = Tables(s, dir, "part")
      .select(col("p_partkey").as("k"), col("p_name"))
    graft.ops.Joins.salted(li, part, Seq("k"), salts = 8)
      .select(col("l_orderkey"), col("k"), col("l_quantity"), col("p_name"))
  }

  val q70Sql: String =
    """SELECT l_orderkey, l_partkey AS k, l_quantity, p_name
      |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin

  // q83/q84: skew-stress pair — the SAME deliberately hot-keyed join
  // (~90% of events collapse onto one key) through Joins.salted (q83)
  // and the plain equi-join (q84), sharing one oracle. The two bench
  // rows give docs/SCALING.md's skew-salting claim a MEASURED number
  // every round; AQE's runtime skew split applies to the plain variant,
  // so the pair also measures deterministic salting against AQE on a
  // genuinely hot key. Correctness side: salting must be
  // semantics-free, so both entries hash-match the identical SQL.
  private def hotKeyed(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val hot = ev(s, dir).select(
      col("event_id"),
      when(col("event_id") % 10 < 9, 0L)
        .otherwise(col("event_id") % 50).as("hk"),
      col("value"))
    val dim = s.range(0, 50)
      .select(col("id").as("hk"), (col("id") * 7).as("dim_tag"))
    (hot, dim)
  }

  def q83SkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val (hot, dim) = hotKeyed(s, dir)
    Joins.salted(hot, dim, Seq("hk"), salts = 16)
      .select(col("event_id"), col("hk"), col("value"), col("dim_tag"))
  }

  def q84SkewPlainJoin(s: SparkSession, dir: String): DataFrame = {
    val (hot, dim) = hotKeyed(s, dir)
    hot.join(dim, Seq("hk"))
      .select(col("event_id"), col("hk"), col("value"), col("dim_tag"))
  }

  val q83Sql: String =
    """WITH hot AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 10 < 9 THEN 0 ELSE event_id % 50 END AS hk,
      |    value
      |  FROM events),
      |dim AS (SELECT range AS hk, range * 7 AS dim_tag FROM range(50))
      |SELECT h.event_id, h.hk, h.value, d.dim_tag
      |FROM hot h JOIN dim d USING (hk)""".stripMargin

  // q78: RANGE window frame — trailing 7-day count/sum per user at each
  // event, a VALUE-based frame over epoch-µs (rowsBetween covers the
  // row-count shape in q11; range frames are the distinct construct —
  // and they include all timestamp TIES as peers, which is what makes
  // the answer deterministic where a ROWS frame would depend on tie
  // order). Decimal discipline on the windowed sum.
  def q78RangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekUs = 7L * 24 * 3600 * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-weekUs, 0)
    ev(s, dir).select(
      col("user_id"), col("event_id"), col("ts_us"),
      count(lit(1)).over(w).as("n_7d"),
      sum(col("value").cast("decimal(28,6)")).over(w).cast("double")
        .as("sum_7d"))
  }

  val q78Sql: String =
    """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |  COUNT(*) OVER w AS n_7d,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sum_7d
      |FROM events
      |WINDOW w AS (
      |  PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
      |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin

  // q79: LATERAL correlated subquery with ORDER BY + LIMIT — top-2
  // lineitems per order as a lateral join (the per-row-subquery shape;
  // Catalyst decorrelates it into a ranked join rather than executing
  // per-row). Identical SQL on both engines.
  def q79Lateral(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("q79_orders")
    Tables(s, dir, "lineitem").createOrReplaceTempView("q79_lineitem")
    s.sql(
      """SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        |FROM q79_orders o, LATERAL (
        |  SELECT l_linenumber, l_extendedprice FROM q79_lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l""".stripMargin)
  }

  val q79Sql: String =
    """SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
      |FROM orders o, LATERAL (
      |  SELECT l_linenumber, l_extendedprice FROM lineitem
      |  WHERE l_orderkey = o.o_orderkey
      |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l""".stripMargin

  // q156: the TPC-H Q21 shape — DOUBLE correlated subqueries (EXISTS +
  // NOT EXISTS against the same fact table, correlated on the order key
  // with a non-equi inner condition) adapted to the fixture's columns
  // (l_returnflag = 'R' stands in for the late-receipt predicate).
  // Catalyst must decorrelate both into semi/anti joins — the classic
  // hardest-decorrelation benchmark query. Identical SQL both engines.
  def q156MultiExists(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "supplier").createOrReplaceTempView("q156_supplier")
    Tables(s, dir, "orders").createOrReplaceTempView("q156_orders")
    Tables(s, dir, "lineitem").createOrReplaceTempView("q156_lineitem")
    s.sql(
      """SELECT s.s_name, count(*) AS numwait
        |FROM q156_supplier s
        |JOIN q156_lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN q156_orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM q156_lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM q156_lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name""".stripMargin)
  }

  val q156Sql: String =
    """SELECT s.s_name, count(*) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s.s_name""".stripMargin

  // q161: time-weighted average event value per type — the
  // piecewise-constant mean for irregularly-sampled state, where the
  // arithmetic mean over-weights sample bursts. Weighted products and
  // durations sum through DECIMAL (engine summation order), one final
  // double division, d6.
  def q161TimeWeightedAvg(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.timeWeightedAvg(
        ev(s, dir).select(col("event_type"), col("ts_us"), col("value"),
          col("event_id")),
        keys = Seq("event_type"), tsCol = "ts_us", valueCol = "value",
        tieCols = Seq("event_id"))
      .select(col("event_type"),
        col("twa").cast("decimal(28,6)").cast("double").as("twa"),
        col("n_segments"))

  val q161Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    value, event_id
      |  FROM events),
      |seg AS (
      |  SELECT event_type, value,
      |    CAST(lead(ts_us) OVER (PARTITION BY event_type
      |        ORDER BY ts_us, event_id) - ts_us AS DOUBLE) AS dur
      |  FROM e),
      |s2 AS (SELECT * FROM seg WHERE dur IS NOT NULL)
      |SELECT event_type,
      |  CAST(CAST(
      |    CAST(sum(CAST(value * dur AS DECIMAL(28,6))) AS DOUBLE)
      |    / CAST(sum(CAST(dur AS DECIMAL(28,6))) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS twa,
      |  count(*) AS n_segments
      |FROM s2 GROUP BY 1""".stripMargin

  // q85: SCD2 build — compact each user's event_type change stream into
  // type-2 validity intervals (ops/Scd2.build: one keyed shuffle, two
  // windows over the same key so the Exchange is reused). The oracle
  // rebuilds the intervals with DuckDB's own lag/lead windows at the
  // same µs discipline — two independent run-collapsing implementations
  // must agree on every interval bound.
  def q85Scd2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scd2.build(
      ev(s, dir).select(col("user_id"), col("event_type"),
        col("ts_us"), col("event_id")),
      keys = Seq("user_id"), orderCol = "ts_us",
      attrs = Seq("event_type"), tieCols = Seq("event_id"))

  val q85Sql: String =
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_type, ts_us, event_id FROM o
      |  WHERE prev IS DISTINCT FROM event_type)
      |SELECT user_id, event_type, ts_us AS valid_from,
      |  lead(ts_us) OVER w AS valid_to,
      |  lead(ts_us) OVER w IS NULL AS is_current
      |FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  // q86: bloom-pruned semi join — probe (lineitem) rows are dropped at
  // the scan by a bitmap built from the selective build side (orders >
  // 400k) BEFORE the join's shuffle; the exact semi join then removes
  // bloom false positives, so the result is identical to the plain semi
  // join the oracle runs. ops/BloomPrune: mergeable bitmap Aggregator,
  // codegen'd xxhash64 probe, 1 MiB driver round-trip at 2^23 bits.
  def q86BloomPruneJoin(s: SparkSession, dir: String): DataFrame =
    graft.ops.BloomPrune.semiJoin(
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      "l_orderkey",
      Tables(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey")),
      "o_orderkey",
      // sized to the build side: ~30k keys at sf0.1 → FPR ~1e-4 at 2^20
      // bits; the 2^23 default is for ~0.6M-key builds
      numBits = 1 << 20)

  val q86Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)""".stripMargin

  // q90: snapshot reconciliation — the latest state per (user,
  // event_type) BEFORE the fixture's midpoint diffed against the latest
  // state AFTER it (ops/TableDiff: one full-outer join, in-row null-safe
  // value compare). The cut is derived IN-PLAN from min/max (1-row
  // broadcast crossJoin — no driver round-trip); the oracle rebuilds
  // both argmax snapshots and the full-outer classification in DuckDB.
  // changed_cols surfaces as a comma-joined string: float→string
  // formatting differs across engines, column NAMES don't.
  def q90SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val bounds = e.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
    val withCut = e.crossJoin(broadcast(bounds))
      .withColumn("cut", expr("lo + (hi - lo) div 2")).drop("lo", "hi")
    val keys = Seq("user_id", "event_type")
    def snap(pred: Column): DataFrame =
      graft.ops.Changelog.latestByKey(
        withCut.filter(pred).drop("cut"), keys, "ts_us", Seq("event_id"))
    graft.ops.TableDiff.diff(
      snap(col("ts_us") <= col("cut")), snap(col("ts_us") > col("cut")), keys)
      .withColumn("changed_cols", array_join(col("changed_cols"), ","))
  }

  val q90Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events),
      |c AS (SELECT min(ts_us) + (max(ts_us) - min(ts_us)) // 2 AS cut FROM e),
      |a1 AS (SELECT * FROM (
      |  SELECT e.*, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts_us DESC, event_id DESC) AS rn
      |  FROM e, c WHERE ts_us <= cut) WHERE rn = 1),
      |b1 AS (SELECT * FROM (
      |  SELECT e.*, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts_us DESC, event_id DESC) AS rn
      |  FROM e, c WHERE ts_us > cut) WHERE rn = 1)
      |SELECT coalesce(a1.user_id, b1.user_id) AS user_id,
      |  coalesce(a1.event_type, b1.event_type) AS event_type,
      |  CASE WHEN a1.user_id IS NULL THEN 'added'
      |       WHEN b1.user_id IS NULL THEN 'removed'
      |       ELSE 'changed' END AS status,
      |  CASE WHEN a1.user_id IS NOT NULL AND b1.user_id IS NOT NULL THEN
      |    array_to_string(list_concat(list_concat(
      |      CASE WHEN a1.event_id IS DISTINCT FROM b1.event_id
      |           THEN ['event_id'] ELSE [] END,
      |      CASE WHEN a1.value IS DISTINCT FROM b1.value
      |           THEN ['value'] ELSE [] END),
      |      CASE WHEN a1.ts_us IS DISTINCT FROM b1.ts_us
      |           THEN ['ts_us'] ELSE [] END), ',')
      |  ELSE NULL END AS changed_cols
      |FROM a1 FULL OUTER JOIN b1
      |  ON a1.user_id = b1.user_id AND a1.event_type = b1.event_type""".stripMargin

  // q91: incremental-rollup maintenance — per-(event_type, day) PARTIAL
  // aggregate states built separately for even and odd days (standing in
  // for "history" and "new batch"), merged state-wise, finalized per
  // event_type (ops/IncrementalAgg). The oracle aggregates the raw
  // events directly: partial-merge-finalize must equal the one-shot
  // aggregation — the monoid law that makes incremental materialised
  // aggregates sound.
  def q91IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.IncrementalAgg
    val withDay = ev(s, dir)
      .withColumn("day", expr("ts_us div 86400000000"))
    val keys = Seq("event_type")
    def part(pred: Column): DataFrame =
      IncrementalAgg.partials(withDay.filter(pred), keys, "day", "value")
    IncrementalAgg.finalize(
      IncrementalAgg.mergePartials(
        part(col("day") % 2 === 0), part(col("day") % 2 =!= 0), keys, "day"),
      keys)
  }

  val q91Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
      |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY event_type""".stripMargin

  // q96: IGNORE NULLS window battery — the carry-forward surface SQL
  // pipelines lean on (last non-null observation per key: the windowed
  // form of resampleFfill's fill step) plus plain lag, both at the µs
  // ordering discipline. Values are carried verbatim (no arithmetic),
  // so the cross-engine compare is exact.
  def q96IgnoreNulls(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    ev(s, dir).select(
      col("user_id"), col("event_id"), col("ts_us"),
      last(when(col("event_type") === "purchase", col("value")),
        ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("last_purchase"),
      lag(col("value"), 1).over(w).as("prev_value"))
  }

  val q96Sql: String =
    """SELECT user_id, event_id,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END
      |    IGNORE NULLS) OVER (w ROWS UNBOUNDED PRECEDING) AS last_purchase,
      |  lag(value, 1) OVER w AS prev_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id
      |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)""".stripMargin

  // q98: FILTER-clause conditional aggregation — the per-branch
  // aggregate surface (count/sum/distinct-count under different
  // predicates in ONE pass over the data, no self-joins). Identical SQL
  // text on both engines, q79-style; the decimal discipline keeps the
  // filtered sum bit-stable.
  def q98FilterAgg(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events").createOrReplaceTempView("q98_events")
    s.sql(q98Sql.replace("FROM events", "FROM q98_events"))
  }

  val q98Sql: String =
    """SELECT event_type,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE value > 50) AS n_big,
      |  CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE user_id % 2 = 0)
      |    AS DOUBLE) AS even_user_sum,
      |  count(DISTINCT user_id) FILTER (WHERE value > 90) AS big_spenders
      |FROM events GROUP BY event_type""".stripMargin

  // q150: calendar dimension spanning the orders fixture. The dow is
  // pure epoch-day arithmetic (engine dow() conventions differ); the
  // date key surfaces as an ISO string (render-identical across
  // engines); ISO week pits Spark's weekofyear against DuckDB's week()
  // across six year boundaries (both ISO-8601).
  def q150DateDim(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.dateDim(Tables(s, dir, "orders"), "o_orderdate")

  val q150Sql: String =
    """WITH b AS (
      |  SELECT CAST(min(o_orderdate) AS DATE) AS lo,
      |         CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
      |ds AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
      |    AS d
      |  FROM b)
      |SELECT strftime(d, '%Y-%m-%d') AS date_key,
      |  CAST(year(d) AS BIGINT) AS year,
      |  CAST(quarter(d) AS BIGINT) AS quarter,
      |  CAST(month(d) AS BIGINT) AS month,
      |  CAST(day(d) AS BIGINT) AS day,
      |  CAST(((d - DATE '1970-01-01' + 3) % 7) + 1 AS BIGINT) AS iso_dow,
      |  CAST(week(d) AS BIGINT) AS iso_week,
      |  CASE WHEN ((d - DATE '1970-01-01' + 3) % 7) + 1 >= 6
      |       THEN 1 ELSE 0 END AS is_weekend,
      |  CASE WHEN d = CAST(date_trunc('month', d) AS DATE)
      |       THEN 1 ELSE 0 END AS is_month_start,
      |  CASE WHEN d = last_day(d) THEN 1 ELSE 0 END AS is_month_end
      |FROM ds""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("q150_date_dim", q150DateDim, Some(q150Sql)),
    Entry("q156_multi_exists", q156MultiExists, Some(q156Sql)),
    Entry("q161_time_weighted_avg", q161TimeWeightedAvg, Some(q161Sql)),
    Entry("q58_asof_join", q58AsofJoin, Some(q58Sql)),
    Entry("q59_range_join", q59RangeJoin, Some(q59Sql)),
    Entry("q66_latest_by_key", q66LatestByKey, Some(q66Sql)),
    Entry("q68_resample", q68Resample, Some(q68Sql)),
    Entry("q69_column_profile", q69ColumnProfile, Some(q69Sql)),
    Entry("q70_salted_join", q70SaltedJoin, Some(q70Sql)),
    Entry("q78_range_frame", q78RangeFrame, Some(q78Sql)),
    Entry("q79_lateral", q79Lateral, Some(q79Sql)),
    Entry("q83_skew_salted_join", q83SkewSaltedJoin, Some(q83Sql)),
    // same data, same SQL: parity check
    Entry("q84_skew_plain_join", q84SkewPlainJoin, Some(q83Sql)),
    Entry("q85_scd2", q85Scd2, Some(q85Sql)),
    Entry("q86_bloom_prune_join", q86BloomPruneJoin, Some(q86Sql)),
    Entry("q90_snapshot_diff", q90SnapshotDiff, Some(q90Sql)),
    Entry("q91_incremental_agg", q91IncrementalAgg, Some(q91Sql)),
    Entry("q96_ignore_nulls", q96IgnoreNulls, Some(q96Sql)),
    Entry("q98_filter_agg", q98FilterAgg, Some(q98Sql)))
}
