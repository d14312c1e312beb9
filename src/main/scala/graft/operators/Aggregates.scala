package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.4 aggregations: hash agg, distinct (exact + HLL), rollup/cube/grouping
  * sets, stats, collect, pivot.
  *
  * Scale notes: all aggs are partial+final (map-side combine) out of the box.
  * `countDistinct` expands to a two-phase distinct agg; `approx_count_distinct`
  * (q22) is the 100 TB path where exactness isn't needed. Rollup/cube expand
  * rows before the shuffle — acceptable because grouping-key cardinality stays
  * tiny. Pivot uses an EXPLICIT value list (determinism §2.9.4) and also avoids
  * the extra job Spark runs to discover values at scale.
  */
object Aggregates {

  def q20(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r2(sum("l_quantity")).as("sum_qty"),
        r2(sum("l_extendedprice")).as("sum_base_price"),
        r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge"),
        r4(avg("l_quantity")).as("avg_qty"),
        r4(avg("l_extendedprice")).as("avg_price"),
        r4(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  def q21(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("item", itemFromProps)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("item")).as("n_items"))
      .orderBy("event_type")

  def q22(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .orderBy("event_type")

  /** Rollup via the SQL entry point: the DataFrame `.rollup` path trips the
    * ambiguous-self-join check when ordering by grouped columns that also
    * appear under `grouping()`; SQL resolves both against the same scope.
    */
  def q23(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders_v")
    customer(s, d).createOrReplaceTempView("customer_v")
    nation(s, d).createOrReplaceTempView("nation_v")
    region(s, d).createOrReplaceTempView("region_v")
    s.sql(
      s"""SELECT /*+ BROADCAST(customer_v), BROADCAST(nation_v), BROADCAST(region_v) */
         |  r_name, n_name, ${sr2("sum(o_totalprice)")} AS revenue,
         |  CAST(grouping(r_name) AS BIGINT) AS g_r,
         |  CAST(grouping(n_name) AS BIGINT) AS g_n
         |FROM orders_v JOIN customer_v ON o_custkey = c_custkey
         |JOIN nation_v ON c_nationkey = n_nationkey
         |JOIN region_v ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY g_r, g_n, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  def q24(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sr2("sum(l_quantity)")} AS sum_qty,
         |  ${sr4("avg(l_quantity)")} AS avg_qty,
         |  count(1) AS n_rows,
         |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
         |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
         |FROM lineitem_v GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** r15 (r14 verdict "Next round" #4): pre-aggregate at the FINEST grain
    * (segment, nation) before the grouping sets, so Expand multiplies
    * ~|segments×nations| rows instead of the customer fact (plan: Expand
    * input 15,000 → ~125 at sf0.1; at 100 TB the 3x row-local
    * fact multiplication disappears — guide §2.2, shrink before you
    * fan out). Exactness: n_cust regroups exact longs; sum_bal regroups
    * doubles, but every c_acctbal is a 2-decimal multiple so the TRUE
    * total sits ON the output pin's grid — floor(x·100 + 0.5) has 0.5
    * absolute slack against an accumulated two-level float drift of
    * ~1e-3 at this magnitude, the same argument both engines already
    * rely on for their own differing summation orders. Oracle hash
    * unchanged (271/271). */
  def q25(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("customer_v")
    nation(s, d).createOrReplaceTempView("nation_v")
    s.sql(
      s"""WITH seg_nat AS (
         |  SELECT /*+ BROADCAST(nation_v) */ c_mktsegment, n_name,
         |    sum(c_acctbal) AS s_bal, count(1) AS n_c
         |  FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
         |  GROUP BY c_mktsegment, n_name)
         |SELECT c_mktsegment, n_name,
         |  ${sr2("sum(s_bal)")} AS sum_bal, sum(n_c) AS n_cust,
         |  CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
         |  CAST(grouping(n_name) AS BIGINT) AS g_nat
         |FROM seg_nat
         |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
         |ORDER BY g_seg, g_nat, c_mktsegment ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  def q26(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r4(var_samp(col("l_quantity"))).as("var_qty"),
        r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        r4(median(col("l_quantity"))).as("med_qty"))
      .orderBy("l_returnflag")

  /** collect_set surface. The array is serialized to a CSV string at the
    * output edge — the driver's pandas harness cannot hash array cells
    * (round-1 failure: "unhashable type: numpy.ndarray"). */
  def q27(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"))
      .orderBy("user_id")

  def q28(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .select(col("user_id"),
        coalesce(col("click"), lit(0L)).as("click"),
        coalesce(col("view"), lit(0L)).as("view"),
        coalesce(col("purchase"), lit(0L)).as("purchase"),
        coalesce(col("signup"), lit(0L)).as("signup"),
        coalesce(col("error"), lit(0L)).as("error"))
      .orderBy("user_id")

  /** Wide→long reshaping via the `unpivot`/`melt` operator (q28's inverse):
    * the three lineitem price components become (metric, v) rows, then a
    * per-(flag, metric) aggregate. Unpivot plans as a row-local Expand —
    * a 3× fan-out with NO shuffle of its own; the single exchange is the
    * partial-aggregated (flag, metric) shuffle, 9 groups total. */
  def q110(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "v")
      .groupBy("l_returnflag", "metric")
      .agg(count(lit(1)).as("n"), r2(sum("v")).as("sum_v"), r4(avg("v")).as("avg_v"))
      .orderBy("l_returnflag", "metric")

  /** Exact interpolated quantiles — Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition. At 100 TB
    * prefer `approx_percentile` (t-digest, mergeable); `percentile` holds
    * per-group sorted buffers and is the exact-answer variant. */
  def q29(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        r4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        r4(expr("percentile(o_totalprice, 0.9)")).as("p90"),
        r4(expr("percentile(o_totalprice, 0.99)")).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Incremental aggregate maintenance — the 100 TB rollup pattern: a
    * "materialized" aggregate over the closed past (shipdate < cutoff) is
    * MERGED with the delta aggregate over the open tail, by re-aggregating
    * the unioned partials: sums add, counts add, avg re-derives from the
    * merged sums (never averaged averages). The oracle recomputes from
    * scratch — the query proves state+delta ≡ full recompute, which is
    * what lets a daily pipeline touch only the new partition instead of
    * re-scanning years of history. Both branches prune on the shipdate
    * predicate at the parquet scan. */
  def q132(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1997-01-01").cast("timestamp_ntz")
    def part(f: DataFrame => DataFrame) =
      f(lineitem(s, d)).groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).as("sq"),
          sum(col("l_extendedprice")).as("sp"),
          count(lit(1)).as("n"))
    val state = part(_.filter(col("l_shipdate") < cutoff)) // the closed past
    val delta = part(_.filter(col("l_shipdate") >= cutoff)) // today's partition
    state.unionByName(delta)
      .groupBy("l_returnflag")
      .agg(r2(sum(col("sq"))).as("sum_qty"),
        r2(sum(col("sp"))).as("sum_price"),
        sum(col("n")).as("n"),
        r4(sum(col("sp")) / sum(col("n"))).as("avg_price"))
      .orderBy("l_returnflag")
  }

  /** Equi-DEPTH histogram (q45's equal-count companion) the scalable way:
    * [[graft.api.Graft.equiDepthBuckets]] — decile boundaries from ONE
    * exact `percentile` aggregation (a one-row broadcast), bucket
    * assignment as a row-local comparison count against the broadcast
    * array — then an ordinary keyed count, NEVER the naive
    * `ntile` global window, which funnels the entire fact table through a
    * single partition. At extreme scale swap the exact percentile for the
    * mergeable `approx_percentile` (q59). Boundary determinism: both
    * engines interpolate the same deciles and money values are ≥ 0.01
    * apart, so a 1-ulp interpolation difference can never flip a
    * `v > bound` comparison. */
  def q128(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.equiDepthBuckets(orders(s, d), "o_totalprice", 10)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        r2(min(col("o_totalprice"))).as("lo"),
        r2(max(col("o_totalprice"))).as("hi"))
      .orderBy("bucket")

  /** Equi-width histogram via an explicit bucket formula (DuckDB 1.0 has no
    * width_bucket); min/max come from a 1-row broadcast aggregate, so the
    * histogram is two passes with no global sort. */
  def q45(s: SparkSession, d: String): DataFrame = {
    val mm = orders(s, d).agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
    orders(s, d).crossJoin(broadcast(mm))
      .withColumn("bucket",
        least(lit(9L), floor((col("o_totalprice") - col("lo")) / (col("hi") - col("lo")) * lit(10.0))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        r2(min("o_totalprice")).as("bucket_min"),
        r2(max("o_totalprice")).as("bucket_max"))
      .orderBy("bucket")
  }

  /** Mergeable-sketch quantiles — the 100 TB companion to q29's exact
    * percentile: approx_percentile's buffer is bounded and map-side
    * combinable regardless of group size. No SQL oracle (sketch internals
    * differ across engines); MlSpec bounds it against q29's exact values. */
  def q59(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        r4(expr("approx_percentile(o_totalprice, 0.5, 10000)")).as("p50"),
        r4(expr("approx_percentile(o_totalprice, 0.9, 10000)")).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Exact WEIGHTED median: the price at which half the total QUANTITY
    * (not half the rows) has shipped — the inventory-weighted center no
    * built-in percentile computes (q29's median weights every row 1).
    * Definition: smallest price whose cumulative weight reaches half the
    * group total, ties merged first so the cumulative walk sees each
    * distinct price once.
    *
    * Determinism: weights are integral quantities cast to long, so the
    * cumulative comparison 2·cum ≥ total is INTEGER arithmetic — no float
    * boundary can flip the picked element; the picked price is a raw data
    * value needing no pin (and groupedPrefixSum's block regrouping sums
    * the same exact longs, so the decomposition cannot change results).
    * Scale: one (flag, price)-grain agg, then the cumulative weight runs
    * through [[graft.api.Graft.groupedPrefixSum]]'s range-block combine —
    * parallel in flags × blocks. A plain partitionBy(l_returnflag) window
    * here would plan ONE task per flag (3 at any SF) over a
    * fact-domain-proportional distinct-price series — the few-wide-groups
    * shape the facade exists to replace. */
  def q149(s: SparkSession, d: String): DataFrame = {
    // memo+cached like q210's rank supports: the grain is DOMAIN-bounded
    // (price grid × flag) and groupedPrefixSum references its input three
    // times (bounds, blocked rows, block totals) — uncached, each
    // reference re-runs the fact scan+agg
    val grouped = graft.Tables.memoized(s, d, "wmedGrain") {
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity").cast("long").as("wt"))
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(sum("wt").as("w"))
    }
    val tot = grouped.groupBy("l_returnflag").agg(sum("w").as("tw"))
    graft.api.Graft.groupedPrefixSum(grouped, Seq("l_returnflag"),
        "l_extendedprice", Seq("w"))
      .withColumnRenamed("w_cum", "cw")
      .join(tot, "l_returnflag")
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag")
      .agg(min("l_extendedprice").as("weighted_median"),
        max("tw").as("total_weight"))
      .orderBy("l_returnflag")
  }

  /** Exact per-group mode with a DETERMINISTIC tiebreak — the most common
    * order priority per market segment, plus its support share. The mode
    * is the operator SQL's `mode()` gets wrong for pipelines (engine-
    * dependent tie choice); here ties break (count desc, value asc)
    * explicitly, so both engines — and any rerun at any partitioning —
    * pick the same value (SURVEY §2.9 rule 4: never an unordered
    * row-picker).
    *
    * Determinism: counts are exact longs; the only float is the pinned
    * share. Scale: ONE map-side-combined fact agg down to the category
    * grain (|segments|×|priorities| — domain-bounded at any SF), then a
    * window over those ≤25 rows; the customer side joins on custkey
    * before the agg (fact-to-dim equi join the planner broadcasts from
    * stats when genuinely small). */
  def q236(s: SparkSession, d: String): DataFrame = {
    val seg = orders(s, d)
      .join(customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("n").desc, col("o_orderpriority"))
    seg.withColumn("rn", row_number().over(w))
      .withColumn("total", sum("n").over(Window.partitionBy("c_mktsegment")))
      .filter(col("rn") === 1)
      .select(col("c_mktsegment"), col("o_orderpriority").as("mode_priority"),
        col("n").as("n_mode"), col("total").as("n_orders"),
        r4(col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q236_mode_category" -> q236,
    "q149_weighted_median" -> q149,
    "q29_agg_quantiles" -> q29,
    "q59_agg_approx_quantiles" -> q59,
    "q45_histogram" -> q45,
    "q128_equidepth_histogram" -> q128,
    "q132_incremental_rollup" -> q132,
    "q20_agg_pricing_summary" -> q20,
    "q21_agg_count_distinct" -> q21,
    "q22_agg_approx_distinct" -> q22,
    "q23_agg_rollup" -> q23,
    "q24_agg_cube" -> q24,
    "q25_agg_grouping_sets" -> q25,
    "q26_agg_stats" -> q26,
    "q27_agg_collect" -> q27,
    "q28_agg_pivot" -> q28,
    "q110_unpivot_metrics" -> q110)

  val oracle: Map[String, String] = Map(
    "q236_mode_category" ->
      s"""WITH seg AS (SELECT c_mktsegment, o_orderpriority,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |r AS (SELECT c_mktsegment, o_orderpriority, n,
         |    row_number() OVER (PARTITION BY c_mktsegment
         |      ORDER BY n DESC, o_orderpriority) AS rn,
         |    CAST(sum(n) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS total
         |  FROM seg)
         |SELECT c_mktsegment, o_orderpriority AS mode_priority,
         |  n AS n_mode, total AS n_orders,
         |  ${sr4("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)")} AS share
         |FROM r WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,
    "q149_weighted_median" ->
      """WITH g AS (SELECT l_returnflag, l_extendedprice,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS tw FROM g GROUP BY 1),
        |c AS (SELECT g.l_returnflag, g.l_extendedprice, t.tw,
        |    sum(g.w) OVER (PARTITION BY g.l_returnflag
        |      ORDER BY g.l_extendedprice ROWS UNBOUNDED PRECEDING) AS cw
        |  FROM g JOIN t USING (l_returnflag))
        |SELECT l_returnflag, min(l_extendedprice) AS weighted_median,
        |  max(tw) AS total_weight
        |FROM c WHERE cw * 2 >= tw GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q110_unpivot_metrics" ->
      s"""WITH u AS (
         |  SELECT l_returnflag, 'l_extendedprice' AS metric, l_extendedprice AS v FROM lineitem
         |  UNION ALL
         |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
         |  UNION ALL
         |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
         |SELECT l_returnflag, metric, count(*) AS n,
         |  ${sr2("sum(v)")} AS sum_v, ${sr4("avg(v)")} AS avg_v
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q29_agg_quantiles" ->
      s"""SELECT o_orderpriority,
         |  ${sr4("quantile_cont(o_totalprice, 0.5)")} AS p50,
         |  ${sr4("quantile_cont(o_totalprice, 0.9)")} AS p90,
         |  ${sr4("quantile_cont(o_totalprice, 0.99)")} AS p99,
         |  count(*) AS n
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q132_incremental_rollup" ->
      s"""SELECT l_returnflag,
         |  ${sr2("sum(l_quantity)")} AS sum_qty,
         |  ${sr2("sum(l_extendedprice)")} AS sum_price,
         |  count(*) AS n,
         |  ${sr4("sum(l_extendedprice) / count(*)")} AS avg_price
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q128_equidepth_histogram" ->
      s"""WITH b AS (SELECT quantile_cont(o_totalprice,
         |    [0.1e0,0.2e0,0.3e0,0.4e0,0.5e0,0.6e0,0.7e0,0.8e0,0.9e0]) AS qs FROM orders)
         |SELECT CAST(1 + len(list_filter(b.qs, q -> o_totalprice > q)) AS BIGINT) AS bucket,
         |  count(*) AS n,
         |  ${sr2("min(o_totalprice)")} AS lo,
         |  ${sr2("max(o_totalprice)")} AS hi
         |FROM orders, b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q45_histogram" ->
      s"""WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
         |SELECT CAST(least(9, floor((o_totalprice - lo) / (hi - lo) * 10e0)) AS BIGINT) AS bucket,
         |  count(*) AS n,
         |  ${sr2("min(o_totalprice)")} AS bucket_min,
         |  ${sr2("max(o_totalprice)")} AS bucket_max
         |FROM orders, mm GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_agg_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sr2("sum(l_quantity)")} AS sum_qty,
         |  ${sr2("sum(l_extendedprice)")} AS sum_base_price,
         |  ${sr2("sum(l_extendedprice * (1.0 - l_discount))")} AS sum_disc_price,
         |  ${sr2("sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))")} AS sum_charge,
         |  ${sr4("avg(l_quantity)")} AS avg_qty,
         |  ${sr4("avg(l_extendedprice)")} AS avg_price,
         |  ${sr4("avg(l_discount)")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q21_agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS n_items
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q23_agg_rollup" ->
      s"""SELECT r_name, n_name, ${sr2("sum(o_totalprice)")} AS revenue,
         |  CAST(grouping(r_name) AS BIGINT) AS g_r,
         |  CAST(grouping(n_name) AS BIGINT) AS g_n
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY g_r, g_n, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "q24_agg_cube" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sr2("sum(l_quantity)")} AS sum_qty,
         |  ${sr4("avg(l_quantity)")} AS avg_qty,
         |  count(*) AS n_rows,
         |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
         |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q25_agg_grouping_sets" ->
      s"""SELECT c_mktsegment, n_name,
         |  ${sr2("sum(c_acctbal)")} AS sum_bal, count(*) AS n_cust,
         |  CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
         |  CAST(grouping(n_name) AS BIGINT) AS g_nat
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
         |ORDER BY g_seg, g_nat, c_mktsegment ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "q26_agg_stats" ->
      s"""SELECT l_returnflag,
         |  ${sr4("stddev_samp(l_quantity)")} AS sd_qty,
         |  ${sr4("var_samp(l_quantity)")} AS var_qty,
         |  ${sr4("corr(l_quantity, l_extendedprice)")} AS corr_qty_price,
         |  ${sr4("median(l_quantity)")} AS med_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q27_agg_collect" ->
      """SELECT user_id, array_to_string(list(event_type ORDER BY event_type), ',') AS types
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q28_agg_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
