package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.6 sorts / limits / top-k / set operations / keyed dedup.
  *
  * Scale notes: q40's global top-k plans as TakeOrderedAndProject — per
  * partition a bounded heap, then a single tiny merge on the driver; no total
  * sort ever happens, which is the only sane global-top-k at 100 TB.
  * Set ops (union/intersect/except) are shuffle hash-partitioned on the full
  * row — fine for key-projected inputs like these. q44's keyed dedup uses
  * row_number over (user, type) rather than dropDuplicates: same single
  * shuffle, but a DETERMINISTIC row pick (§2.9.4) — dropDuplicates keeps an
  * arbitrary row per key and would not be reproducible across runs/engines.
  */
object SetOps {

  def q40(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** union (positional) + unionByName (reordered columns) + distinct. */
  def q41(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).filter(col("c_acctbal") > 9000)
      .select(lit("customer").as("kind"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"))
    val sup = supplier(s, d).filter(col("s_acctbal") > 9000)
      .select(col("s_acctbal").as("acctbal"), lit("supplier").as("kind"),
        col("s_name").as("name"))
    c.unionByName(sup).distinct()
      .orderBy("kind", "name")
  }

  def q42(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val w1 = ev.filter(col("tsc") < lit("2024-01-08").cast("timestamp_ntz"))
      .select("user_id")
    val w4 = ev.filter(col("tsc") >= lit("2024-01-22").cast("timestamp_ntz") &&
        col("tsc") < lit("2024-01-29").cast("timestamp_ntz"))
      .select("user_id")
    w1.intersect(w4).orderBy("user_id")
  }

  def q43(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    ev.filter(col("event_type") === "click").select("user_id")
      .except(ev.filter(col("event_type") === "purchase").select("user_id"))
      .orderBy("user_id")
  }

  def q44(s: SparkSession, d: String): DataFrame =
    // Order on the µs-truncated ts (`div 1000`), not the raw ns value: the
    // oracle's scan is already µs, so an ns-refined ordering could pick a
    // different "first" row on a same-µs tie (SURVEY §1.3).
    graft.api.Graft.dedupFirst(events(s, d), Seq("user_id", "event_type"),
        Seq(expr("ts div 1000"), col("event_id")))
      .select("user_id", "event_type", "event_id", "tsc")
      .orderBy("user_id", "event_type")

  /** AUDIENCE OVERLAP matrix: pairwise Jaccard between the user sets of
    * every event-type pair — "how much do my clicker and purchaser
    * audiences overlap", the set-analytics readout behind segment-overlap
    * dashboards and dedup'd reach estimates (q13's full-outer compares two
    * fixed sets; this computes the full k² matrix).
    *
    * Determinism: intersections are exact integer counts from a distinct
    * grain; union = |A|+|B|−|A∩B| in integers; one int/int division under
    * the 4 dp pin. Scale: the self-join keys on user_id over the DISTINCT
    * (type, user) grain — each user contributes ≤ C(k,2) pairs (k = event
    * types ≤5), so fan-out is bounded by a constant, never user². At open
    * k, the same shape degrades gracefully: fan-out is per-user k², and
    * sketch unions (q92 KMV / HLL) replace exact counts. */
  def q176(s: SparkSession, d: String): DataFrame = {
    val a = graft.Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = a.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = a.select(col("event_type").as("ta"), col("user_id"))
      .join(a.select(col("event_type").as("tb"), col("user_id")), "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("ta"),
        col("n").as("na"))), "ta")
      .join(broadcast(sizes.select(col("event_type").as("tb"),
        col("n").as("nb"))), "tb")
      .select(col("ta"), col("tb"), col("na"), col("nb"), col("n_both"),
        r4(col("n_both").cast("double") /
          (col("na") + col("nb") - col("n_both")).cast("double"))
          .as("jaccard"))
      .orderBy("ta", "tb")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q176_audience_overlap" -> q176,
    "q40_orderby_limit_topk" -> q40,
    "q41_union" -> q41,
    "q42_intersect" -> q42,
    "q43_except" -> q43,
    "q44_dedup_exact" -> q44)

  val oracle: Map[String, String] = Map(
    "q176_audience_overlap" ->
      s"""WITH a AS (SELECT DISTINCT event_type, user_id FROM events),
         |sizes AS (SELECT event_type, count(*) AS n FROM a GROUP BY 1),
         |inter AS (SELECT x.event_type AS ta, y.event_type AS tb,
         |    count(*) AS n_both
         |  FROM a x JOIN a y USING (user_id)
         |  WHERE x.event_type < y.event_type GROUP BY 1, 2)
         |SELECT ta, tb, sa.n AS na, sb.n AS nb, n_both,
         |  ${sr4("CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE)")} AS jaccard
         |FROM inter JOIN sizes sa ON ta = sa.event_type
         |JOIN sizes sb ON tb = sb.event_type
         |ORDER BY ta, tb""".stripMargin,
    "q40_orderby_limit_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q41_union" ->
      """SELECT 'customer' AS kind, c_name AS name, c_acctbal AS acctbal
        |FROM customer WHERE c_acctbal > 9000
        |UNION
        |SELECT 'supplier' AS kind, s_name AS name, s_acctbal AS acctbal
        |FROM supplier WHERE s_acctbal > 9000
        |ORDER BY kind, name""".stripMargin,
    "q42_intersect" ->
      """SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-08'
        |INTERSECT
        |SELECT user_id FROM events
        |WHERE ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29'
        |ORDER BY user_id""".stripMargin,
    "q43_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "q44_dedup_exact" ->
      """SELECT user_id, event_type, event_id, ts AS tsc FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)
}
