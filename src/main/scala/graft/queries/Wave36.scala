package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 36" query set (q297–q300): trailing-window OLS
  * slope, token burstiness, inter-arrival exponential fit, and
  * Theil's uncertainty coefficient. Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave36Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q297
  /** Trailing-7-day OLS slope ([[graft.ops.Rolling.trailingOlsSlope]])
    * of the daily total event value (cents) — the rolling-trend
    * feature, each window's slope a closed form over exact integer
    * moments from ONE bounded fan-out aggregation.
    */
  def q297(s: SparkSession, dir: String): DataFrame = {
    val daily = ExtQueries.events(s, dir).select(
        (datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")) + 1).cast("long").as("idx"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("qv"))
      .groupBy("idx").agg(sum(col("qv")).as("cents"))
    graft.ops.Rolling.trailingOlsSlope(daily, "idx", "cents", 7)
      .orderBy("idx")
  }
  val q297Sql: String =
    """WITH daily AS (SELECT
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS i,
      |    CAST(sum(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |present AS (SELECT DISTINCT i AS t FROM daily),
      |fan AS (SELECT t, x, y FROM (
      |    SELECT unnest(generate_series(i, i + 6)) AS t, i AS x, y
      |    FROM daily) JOIN present USING (t)),
      |mom AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(count(DISTINCT x) AS BIGINT) AS nx
      |  FROM fan GROUP BY t)
      |SELECT t AS idx, n,
      |  round(CASE WHEN nx > 1 THEN
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE) END, 6) AS slope
      |FROM mom ORDER BY idx""".stripMargin

  // ---------------------------------------------------------------- q298
  /** Token burstiness ([[graft.ops.ext.TextAnalysis.burstiness]],
    * top 20 by df): variance-to-mean of per-document counts — the
    * dispersion diagnostic that separates evenly-spread function
    * words from topic words that clump.
    */
  def q298(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.burstiness(T(s, dir, "documents"),
      "text", "doc_id", topN = 20)
  val q298Sql: String =
    """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |pd AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id, unnest(list_filter(string_split_regex(
      |      lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS w
      |    FROM documents) GROUP BY w, doc_id),
      |tok AS (SELECT w, CAST(count(*) AS BIGINT) AS df,
      |    CAST(sum(c) AS BIGINT) AS tot,
      |    CAST(sum(c * c) AS BIGINT) AS ss
      |  FROM pd GROUP BY w),
      |top AS (SELECT w, df, tot, ss,
      |    row_number() OVER (ORDER BY df DESC, w) AS r FROM tok)
      |SELECT w AS token, df, tot AS total,
      |  round(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
      |  round(CAST(n * ss - tot * tot AS DOUBLE)
      |    / CAST((n - 1) * tot AS DOUBLE), 6) AS vmr
      |FROM top, nd WHERE r <= 20 ORDER BY df DESC, token""".stripMargin

  // ---------------------------------------------------------------- q299
  /** Inter-arrival exponential fit ([[graft.ops.Trend
    * .interarrivalFit]]): per event type, the MLE arrival rate and
    * the exact one-sample KS distance against Exp(λ) — "is this a
    * Poisson process" for the event stream, walked on the gap domain.
    */
  def q299(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("us"))
    graft.ops.Trend.interarrivalFit(ev, "event_type", "us")
      .orderBy("event_type")
  }
  val q299Sql: String =
    """WITH ev AS (SELECT event_type AS k, epoch_us(ts) AS us
      |  FROM events),
      |gaps AS (SELECT k,
      |    CAST(floor(CAST(us - prev AS DOUBLE) / 1000000.0e0) AS BIGINT)
      |      AS g
      |  FROM (SELECT k, us, lag(us) OVER (PARTITION BY k ORDER BY us)
      |      AS prev FROM ev)
      |  WHERE prev IS NOT NULL
      |    AND floor(CAST(us - prev AS DOUBLE) / 1000000.0e0) >= 0),
      |dom AS (SELECT k, g, CAST(count(*) AS BIGINT) AS c
      |  FROM gaps GROUP BY k, g),
      |tot AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(g) AS BIGINT) AS sg,
      |    CAST(count(*) AS DOUBLE) / CAST(sum(g) AS DOUBLE) AS lambda
      |  FROM gaps GROUP BY k),
      |cum AS (SELECT dom.k, g, c,
      |    CAST(sum(c) OVER (PARTITION BY dom.k ORDER BY g
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    n, sg, lambda,
      |    1.0e0 - exp(-1.0e0 * lambda * CAST(g AS DOUBLE)) AS f
      |  FROM dom JOIN tot ON dom.k = tot.k)
      |SELECT k AS event_type, n AS n_gaps,
      |  round(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_gap_s,
      |  round(lambda, 6) AS lambda,
      |  round(max(greatest(
      |    abs(CAST(cum AS DOUBLE) - CAST(n AS DOUBLE) * f),
      |    abs(CAST(cum - c AS DOUBLE) - CAST(n AS DOUBLE) * f)))
      |    / CAST(n AS DOUBLE), 6) AS ks_d
      |FROM cum GROUP BY k, n, sg, lambda ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q300
  /** Theil's U ([[graft.ops.Hypothesis.theilsU]]) between order
    * priority and the customer's market segment — the asymmetric
    * "which predicts which" companion to Cramér's V (q169) and
    * mutual information (q170).
    */
  def q300(s: SparkSession, dir: String): DataFrame = {
    val j = T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderpriority"), col("c_mktsegment"))
    graft.ops.Hypothesis.theilsU(j, "o_orderpriority", "c_mktsegment")
      .orderBy("direction")
  }
  val q300Sql: String =
    """WITH j AS (SELECT o_orderpriority AS a, c_mktsegment AS b
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
      |  FROM j GROUP BY 1, 2),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
      |qxy AS (SELECT CAST(sum(CAST(floor(CAST(c AS DOUBLE)
      |    * ln(CAST(c AS DOUBLE)) * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |    AS BIGINT) AS q FROM cells),
      |qx AS (SELECT CAST(sum(CAST(floor(CAST(c AS DOUBLE)
      |    * ln(CAST(c AS DOUBLE)) * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |    AS BIGINT) AS q
      |  FROM (SELECT a, CAST(sum(c) AS BIGINT) AS c
      |        FROM cells GROUP BY a)),
      |qy AS (SELECT CAST(sum(CAST(floor(CAST(c AS DOUBLE)
      |    * ln(CAST(c AS DOUBLE)) * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |    AS BIGINT) AS q
      |  FROM (SELECT b, CAST(sum(c) AS BIGINT) AS c
      |        FROM cells GROUP BY b)),
      |base AS (SELECT CAST(n.n AS DOUBLE) AS nd,
      |    ln(CAST(n.n AS DOUBLE)) - CAST(qxy.q AS DOUBLE)
      |      / 1000000000.0e0 / CAST(n.n AS DOUBLE) AS h_xy,
      |    ln(CAST(n.n AS DOUBLE)) - CAST(qx.q AS DOUBLE)
      |      / 1000000000.0e0 / CAST(n.n AS DOUBLE) AS h_x,
      |    ln(CAST(n.n AS DOUBLE)) - CAST(qy.q AS DOUBLE)
      |      / 1000000000.0e0 / CAST(n.n AS DOUBLE) AS h_y
      |  FROM n, qxy, qx, qy)
      |SELECT 'x|y' AS direction, round(h_x, 6) AS h_x,
      |  round(h_xy - h_y, 6) AS h_cond,
      |  round((h_x - (h_xy - h_y)) / h_x, 6) AS u
      |FROM base
      |UNION ALL
      |SELECT 'y|x' AS direction, round(h_y, 6) AS h_x,
      |  round(h_xy - h_x, 6) AS h_cond,
      |  round((h_y - (h_xy - h_x)) / h_y, 6) AS u
      |FROM base
      |ORDER BY direction""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q297_rolling_ols", q297, q297Sql),
    Query("q298_burstiness", q298, q298Sql),
    Query("q299_interarrival_fit", q299, q299Sql),
    Query("q300_theils_u", q300, q300Sql))
}
