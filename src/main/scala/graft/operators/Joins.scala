package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.3 join matrix: broadcast, shuffle 3-way, outer, semi/anti, theta, as-of,
  * cross.
  *
  * Scale notes: dims (region/nation/customer/supplier/part) stay far below
  * `spark.sql.autoBroadcastJoinThreshold` even at 100 TB fact scale, and the
  * small sides are broadcast explicitly where the optimizer might lack stats.
  * The as-of join (q17) is a union of both streams under one per-user
  * time-ordered window — one shuffle on the user key, saltable on skew.
  */
object Joins {

  def q10(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name")
      .orderBy("n_nationkey")

  def q11(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_nationkey", "n_name")
      .agg(r2(sum("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("n_nationkey")

  def q12(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Full outer of week-1 vs week-4 January buyers (events span Jan 2024 only
    * at every SF — verified; SURVEY.md's "Jan vs Feb" re-scoped to weeks). */
  def q13(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val w1 = ev.filter(col("tsc") < lit("2024-01-08").cast("timestamp_ntz"))
      .groupBy(col("user_id").as("u1")).agg(count(lit(1)).as("week1_events"))
    val w4 = ev.filter(col("tsc") >= lit("2024-01-22").cast("timestamp_ntz") &&
        col("tsc") < lit("2024-01-29").cast("timestamp_ntz"))
      .groupBy(col("user_id").as("u4")).agg(count(lit(1)).as("week4_events"))
    w1.join(w4, col("u1") === col("u4"), "full_outer")
      .select(coalesce(col("u1"), col("u4")).as("user_id"),
        coalesce(col("week1_events"), lit(0L)).as("week1_events"),
        coalesce(col("week4_events"), lit(0L)).as("week4_events"))
      .orderBy("user_id")
  }

  def q14(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  def q15(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  def q16(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(part(s, d),
        col("l_partkey") === col("p_partkey") && col("l_extendedprice") > col("p_retailprice"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_over"),
        r2(avg(col("l_extendedprice") - col("p_retailprice"))).as("avg_over"))
      .orderBy("p_brand")

  /** As-of: per event, the user's latest order strictly before the event time.
    * (user_id ⊆ c_custkey domain and all orders predate all events — verified.)
    *
    * The sort-based LINEAR as-of of [[graft.api.Graft.asofJoin]] (r15): a
    * theta join fanned every event out to EVERY prior order of its user
    * (15M intermediate rows from 250k inputs at sf0.1). The match is the
    * max of (o_orderdate, o_orderkey) — o_orderkey unique ⇒ a total order.
    * Events with no prior order are dropped, as the oracle's inner join
    * drops them. */
  def q17(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("event_id", "user_id", "tsc")
    val o = orders(s, d).select(col("o_custkey").as("user_id"),
      col("o_orderkey"), col("o_orderdate"))
    graft.api.Graft.asofJoin(ev, o, Seq("user_id"), "tsc", "o_orderdate",
        Seq("o_orderkey"))
      .filter(col("asof_o_orderdate").isNotNull)
      .select(col("event_id"), col("user_id"), col("tsc"),
        col("asof_o_orderkey").as("o_orderkey"),
        col("asof_o_orderdate").as("o_orderdate"))
      .orderBy("event_id")
  }

  def q18(s: SparkSession, d: String): DataFrame =
    region(s, d).crossJoin(nation(s, d))
      .select("r_regionkey", "r_name", "n_nationkey", "n_name")
      .orderBy("r_regionkey", "n_nationkey")

  /** Interval self-join, shipped as the BUCKETED plan: same-user event pairs
    * within 5 minutes of each other. The naive shape is a theta join
    * (`|ts_a − ts_b| ≤ 300 s`) — per-user quadratic candidate generation
    * that Spark can only plan as a nested loop. The scale plan bands time
    * into 300 s cells: the build side keeps its single true cell, the probe
    * side explodes to its 3 adjacent cells, and the join becomes an
    * EQUI-join on (user, cell) with the full interval predicate kept as the
    * residual — every qualifying pair has |cell diff| ≤ 1, so it is found
    * exactly once, candidates are 3·|events| instead of quadratic, and the
    * shuffle partitions on (user, cell). Same banding discipline as
    * [[graft.plans.SimilarityBandRewrite]] applies to cosine joins.
    * Gap arithmetic is done on PER-VALUE-truncated microseconds (`ts div
    * 1000`): most raw ns values DO carry sub-microsecond digits (contrary
    * to SURVEY §1.3's claim, which was measured through DuckDB's scan —
    * DuckDB itself truncates each ns value to µs at read), and truncating
    * the difference instead of the values would drift ±1 µs from the
    * oracle. */
  def q39(s: SparkSession, d: String): DataFrame = {
    val W = 300L * 1000000L // 5 min in µs = the cell width
    val e = events(s, d).select(col("event_id"), col("user_id"),
      expr("ts div 1000").as("us"))
    val probe = e.select(col("event_id").as("ev_a"), col("user_id"),
      col("us").as("us_a"),
      explode(expr(s"array(us div $W - 1, us div $W, us div $W + 1)")).as("cell"))
    val build = e.select(col("event_id").as("ev_b"), col("user_id").as("user_b"),
      col("us").as("us_b"), expr(s"us div $W").as("cell_b"))
    probe.join(build,
        col("user_id") === col("user_b") && col("cell") === col("cell_b") &&
          col("ev_a") < col("ev_b") && abs(col("us_a") - col("us_b")) <= lit(W))
      .select(col("user_id"), col("ev_a"), col("ev_b"),
        abs(col("us_a") - col("us_b")).as("gap_us"))
      .orderBy("ev_a", "ev_b")
  }

  /** Blocked fuzzy (entity-resolution) join: part-name pairs within
    * Levenshtein distance 4, candidates generated by a BLOCKING KEY (the
    * name's last token) so the expensive string metric only runs inside
    * blocks — the standard record-linkage shape (dedupe/Splink style):
    * an EQUI join on the block key plus the edit-distance residual, never
    * an all-pairs cross. Readout = distinct name pairs with their distance
    * and how many part-key pairs they cover, top-20.
    *
    * Determinism: Levenshtein is exact integer DP (identical in any
    * engine); pair identity is the canonical (least, greatest) name order;
    * ties in the top-20 break on the full name pair. Scale: the metric
    * runs on the DISTINCT-NAME grain (dedupe-before-metric — the first
    * rule of every ER pipeline: |distinct names| ≪ |rows|), so the
    * blocked self-join is |distinct|²-within-block, and the row-level
    * pair count is recovered exactly as cnt(na)·cnt(nb) (each cross
    * key-pair appears once under the k_a < k_b canonicalization). The
    * oracle states the naive row-level key-pair form; blocking-key
    * selectivity (length bands, double-metaphone for open vocabularies)
    * remains the scale knob for the distinct grain itself. */
  def q158(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.blockedFuzzyJoin(part(s, d).select("p_name"), "p_name",
        regexp_extract(col("p_name"), "(\\S+)$", 1), 4)
      .select(col("name_a").as("na"), col("name_b").as("nb"),
        col("dist"), col("n_pairs"))
      .orderBy(col("n_pairs").desc, col("na"), col("nb"))
      .limit(20)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_fuzzy_name_join" -> q158,
    "q10_join_broadcast" -> q10,
    "q11_join_3way_revenue" -> q11,
    "q12_join_left_outer" -> q12,
    "q13_join_full_outer" -> q13,
    "q14_join_semi" -> q14,
    "q15_join_anti" -> q15,
    "q16_join_theta_band" -> q16,
    "q17_join_asof" -> q17,
    "q18_join_cross" -> q18,
    "q39_join_interval_bucketed" -> q39)

  val oracle: Map[String, String] = Map(
    "q158_fuzzy_name_join" ->
      """WITH p AS (SELECT p_partkey, p_name,
        |    regexp_extract(p_name, '(\S+)$', 1) AS blk FROM part),
        |cand AS (SELECT least(a.p_name, b.p_name) AS na,
        |    greatest(a.p_name, b.p_name) AS nb
        |  FROM p a JOIN p b ON a.blk = b.blk
        |    AND a.p_partkey < b.p_partkey AND a.p_name <> b.p_name
        |    AND levenshtein(a.p_name, b.p_name) <= 4)
        |SELECT na, nb, CAST(levenshtein(na, nb) AS BIGINT) AS dist,
        |  count(*) AS n_pairs
        |FROM cand GROUP BY 1, 2
        |ORDER BY n_pairs DESC, na, nb LIMIT 20""".stripMargin,
    "q10_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name FROM nation JOIN region
        |ON n_regionkey = r_regionkey ORDER BY n_nationkey""".stripMargin,
    "q11_join_3way_revenue" ->
      s"""SELECT n_nationkey, n_name, ${sr2("sum(o_totalprice)")} AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_nationkey, n_name ORDER BY n_nationkey""".stripMargin,
    "q12_join_left_outer" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "q13_join_full_outer" ->
      """WITH w1 AS (SELECT user_id AS u1, count(*) AS week1_events FROM events
        |  WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1),
        |w4 AS (SELECT user_id AS u4, count(*) AS week4_events FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29' GROUP BY 1)
        |SELECT coalesce(u1, u4) AS user_id,
        |  coalesce(week1_events, 0) AS week1_events,
        |  coalesce(week4_events, 0) AS week4_events
        |FROM w1 FULL OUTER JOIN w4 ON u1 = u4 ORDER BY user_id""".stripMargin,
    "q14_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q15_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q16_join_theta_band" ->
      s"""SELECT p_brand, count(*) AS n_over,
        |  ${sr2("avg(l_extendedprice - p_retailprice)")} AS avg_over
        |FROM lineitem JOIN part
        |ON l_partkey = p_partkey AND l_extendedprice > p_retailprice
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q17_join_asof" ->
      """SELECT event_id, user_id, ts AS tsc, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |  ON e.user_id = o.o_custkey AND o.o_orderdate < e.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q18_join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,
    // the oracle states the NAIVE interval-join semantics the bucketed plan
    // must reproduce exactly
    "q39_join_interval_bucketed" ->
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT a.user_id, a.event_id AS ev_a, b.event_id AS ev_b,
        |  abs(a.us - b.us) AS gap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(a.us - b.us) <= 300000000
        |ORDER BY ev_a, ev_b""".stripMargin)
}
