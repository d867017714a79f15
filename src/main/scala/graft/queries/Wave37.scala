package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 37" query set (q301–q304): cohort LTV curves, a
  * pairwise-difference robust scale, behavioral transition entropy,
  * and a rendezvous-hash rebalance audit. Same contract as every
  * wave: DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave37Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q301
  /** Cohort LTV curve ([[graft.ops.Funnel.ltvCurve]]): cumulative
    * per-user value (cents) by day offset within each first-seen-day
    * cohort — the monetized companion to cohort retention (q113).
    */
  def q301(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir).select(col("user_id"), col("ts"),
      floor(col("value") * 100.0 + 0.5).cast("long").as("qv"))
    graft.ops.Funnel.ltvCurve(ev, "user_id", "ts", "qv")
      .orderBy("cohort_day", "day_offset")
  }
  val q301Sql: String =
    """WITH ev AS (SELECT user_id AS u,
      |    CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS qv
      |  FROM events),
      |cohort AS (SELECT u, min(day) AS cohort_day FROM ev GROUP BY u),
      |sized AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
      |  FROM cohort GROUP BY 1),
      |daily AS (SELECT cohort_day,
      |    CAST(date_diff('day', cohort_day, day) AS BIGINT)
      |      AS day_offset,
      |    CAST(sum(qv) AS BIGINT) AS v
      |  FROM ev JOIN cohort USING (u) GROUP BY 1, 2),
      |cum AS (SELECT cohort_day, day_offset,
      |    CAST(sum(v) OVER (PARTITION BY cohort_day ORDER BY day_offset
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_value
      |  FROM daily)
      |SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, day_offset,
      |  n_users, cum_value,
      |  round(CAST(cum_value AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
      |    AS ltv_per_user
      |FROM cum JOIN sized USING (cohort_day)
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---------------------------------------------------------------- q302
  /** Pairwise-difference robust scale ([[graft.ops.Robust
    * .pairwiseScale]]): the lower median of |xᵢ−xⱼ| over each event
    * type's daily cent totals — the location-free 50%-breakdown
    * dispersion estimate next to MAD (q128).
    */
  def q302(s: SparkSession, dir: String): DataFrame = {
    val daily = ExtQueries.events(s, dir).select(col("event_type"),
        (datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")) + 1).cast("long").as("idx"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("qv"))
      .groupBy("event_type", "idx").agg(sum(col("qv")).as("cents"))
    graft.ops.Robust.pairwiseScale(daily, "event_type", "cents", "idx")
      .orderBy("event_type")
  }
  val q302Sql: String =
    """WITH daily AS (SELECT event_type AS g,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS id,
      |    CAST(sum(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |pairs AS (SELECT a.g AS g, a.id AS i, b.id AS j,
      |    abs(a.v - b.v) AS d
      |  FROM daily a JOIN daily b ON a.g = b.g AND a.id < b.id),
      |ranked AS (SELECT g, d,
      |    row_number() OVER (PARTITION BY g ORDER BY d, i, j) AS rn,
      |    count(*) OVER (PARTITION BY g) AS np
      |  FROM pairs),
      |med AS (SELECT g, CAST(np AS BIGINT) AS n_pairs,
      |    CAST(d AS BIGINT) AS qn_scale
      |  FROM ranked WHERE rn = (np + 1) // 2),
      |sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n
      |  FROM daily GROUP BY g)
      |SELECT g AS event_type, n, n_pairs, qn_scale
      |FROM sizes JOIN med USING (g) ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q303
  /** Transition entropy rate ([[graft.ops.Funnel.transitionEntropy]]):
    * H(next event type | current) over per-user event streams — the
    * predictability score the raw transition matrix (q121-family)
    * doesn't summarize.
    */
  def q303(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.transitionEntropy(ExtQueries.events(s, dir),
      "user_id", "event_type", "ts", "event_id")
  val q303Sql: String =
    """WITH trans AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT event_type AS cur,
      |      lead(event_type) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS nxt
      |    FROM events)
      |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |qp AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(DISTINCT cur) AS BIGINT) AS n_states,
      |    CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
      |      * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS qp
      |  FROM trans),
      |qc AS (SELECT CAST(sum(CAST(floor(CAST(c AS DOUBLE)
      |      * ln(CAST(c AS DOUBLE)) * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS qc
      |  FROM (SELECT cur, CAST(sum(c) AS BIGINT) AS c
      |        FROM trans GROUP BY cur)),
      |base AS (SELECT n, n_states,
      |    ln(CAST(n AS DOUBLE)) - CAST(qp AS DOUBLE) / 1000000000.0e0
      |      / CAST(n AS DOUBLE) AS h_pair,
      |    ln(CAST(n AS DOUBLE)) - CAST(qc AS DOUBLE) / 1000000000.0e0
      |      / CAST(n AS DOUBLE) AS h_cur
      |  FROM qp, qc)
      |SELECT n AS n_transitions, n_states,
      |  round(h_pair, 6) AS h_pair, round(h_cur, 6) AS h_cur,
      |  round(h_pair - h_cur, 6) AS entropy_rate
      |FROM base""".stripMargin

  // ---------------------------------------------------------------- q304
  /** Rendezvous-hash rebalance audit ([[graft.ops.ext.Sampling
    * .rendezvousAudit]], 8 → 7 nodes over the order keys): per-node
    * balance before/after a node loss plus the moved-key share —
    * demonstrating the minimal-disruption property (≈ 1/8 moves,
    * where `key mod n` would move ≈ 7/8).
    */
  def q304(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Sampling.rendezvousAudit(
      T(s, dir, "orders").select(col("o_orderkey")), "o_orderkey", 8)
  val q304Sql: String = {
    def assign(n: Int, out: String): String =
      s"""SELECT k, CAST(node AS BIGINT) AS $out FROM (
         |  SELECT k, node, row_number() OVER (PARTITION BY k
         |    ORDER BY md5(k::VARCHAR || ':' || node::VARCHAR) DESC,
         |      node DESC) AS r
         |  FROM (SELECT o_orderkey AS k FROM orders),
         |       range($n) t(node)) WHERE r = 1""".stripMargin
    ("WITH b AS (" + assign(8, "before") + "), a AS ("
      + assign(7, "after") + "),\n"
      + """j AS (SELECT b.k, b.before, a.after
       |  FROM b JOIN a USING (k)),
       |moved AS (SELECT round(CAST(sum(CASE WHEN before <> after
       |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS moved_share FROM j),
       |kb AS (SELECT before AS node, CAST(count(*) AS BIGINT)
       |    AS keys_before FROM j GROUP BY 1),
       |ka AS (SELECT after AS node, CAST(count(*) AS BIGINT)
       |    AS keys_after FROM j GROUP BY 1)
       |SELECT node, keys_before, coalesce(keys_after, 0) AS keys_after,
       |  moved_share
       |FROM kb LEFT JOIN ka USING (node), moved
       |ORDER BY node""".stripMargin)
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q301_ltv_curve", q301, q301Sql),
    Query("q302_qn_scale", q302, q302Sql),
    Query("q303_entropy_rate", q303, q303Sql),
    Query("q304_rendezvous", q304, q304Sql))
}
