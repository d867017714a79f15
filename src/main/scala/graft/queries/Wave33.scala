package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 33" query set (q285–q288): streaming histogram
  * percentiles, a join-cardinality sampling audit, a p-chart control
  * chart, and embedding anisotropy. Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave33Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q285
  /** Streaming histogram percentiles ([[graft.streaming.Stateful
    * .runningHistogram]]): per event type, a BOUNDED 64-bucket counter
    * state in flatMapGroupsWithState yields exact bucket-domain
    * p50/p90 at every batch; the final emission (max version per key)
    * matches the batch histogram walk under any batch slicing because
    * bucket counts are additive.
    */
  def q285(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    val f = s"$dir/events.parquet"
    val src = StreamOps.fileStream(s, f)
      .select(col("event_type").as("key"), col("event_id").as("user_id"),
        floor(col("value") * 10.0).cast("long").as("qv"))
      .as[Stateful.ValueEvent]
    val out = StreamOps.runBounded(s, f, "q285_hist", "update")(
      Stateful.runningHistogram(s, src, nBuckets = 64))
    val w = Window.partitionBy("key")
    out
      .withColumn("vmax", max("version").over(w))
      .filter(col("version") === col("vmax"))
      .select(col("key").as("event_type"), col("n"),
        col("p50_bucket"), col("p90_bucket"))
      .orderBy("event_type")
  }
  val q285Sql: String =
    """WITH ev AS (SELECT event_type AS key,
      |    least(greatest(CAST(floor(value * 10.0e0) AS BIGINT), 0), 63)
      |      AS b
      |  FROM events),
      |hist AS (SELECT key, b, CAST(count(*) AS BIGINT) AS c
      |  FROM ev GROUP BY 1, 2),
      |cum AS (SELECT key, b,
      |    CAST(sum(c) OVER (PARTITION BY key ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(sum(c) OVER (PARTITION BY key) AS BIGINT) AS n
      |  FROM hist),
      |p50 AS (SELECT key, n, CAST(min(b) AS BIGINT) AS p50_bucket
      |  FROM cum WHERE cum >= (1 * n + 1) // 2 GROUP BY key, n),
      |p90 AS (SELECT key, CAST(min(b) AS BIGINT) AS p90_bucket
      |  FROM cum WHERE cum >= (9 * n + 9) // 10 GROUP BY key)
      |SELECT key AS event_type, n, p50_bucket, p90_bucket
      |FROM p50 JOIN p90 USING (key) ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q286
  /** Join-cardinality audit ([[graft.ops.Profile.joinCardinalityAudit]],
    * 10% key sample): the orders⋈customer size per market segment,
    * exact vs the correlated-key-sample estimate — the calibration
    * check behind every sampling-based optimizer statistic.
    */
  def q286(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.joinCardinalityAudit(
        T(s, dir, "orders"), "o_custkey",
        T(s, dir, "customer"), "c_custkey",
        "c_mktsegment", num = 1, den = 10)
      .orderBy("c_mktsegment")
  val q286Sql: String = {
    val thr = graft.ops.ext.Sampling.thresholdHex(0.1)
    s"""WITH exact AS (SELECT c_mktsegment,
       |    CAST(count(*) AS BIGINT) AS exact_rows
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1),
       |sampled AS (SELECT c_mktsegment,
       |    CAST(count(*) AS BIGINT) AS sampled_rows
       |  FROM (SELECT * FROM orders
       |        WHERE substr(md5(o_custkey::VARCHAR), 1, 8) < '$thr') o
       |  JOIN (SELECT * FROM customer
       |        WHERE substr(md5(c_custkey::VARCHAR), 1, 8) < '$thr') c
       |    ON o.o_custkey = c.c_custkey
       |  GROUP BY 1)
       |SELECT e.c_mktsegment, exact_rows,
       |  coalesce(sampled_rows, 0) AS sampled_rows,
       |  round(CAST(coalesce(sampled_rows, 0) AS DOUBLE)
       |    * 10.0e0 / 1.0e0, 6) AS est_rows,
       |  round(abs(CAST(coalesce(sampled_rows, 0) AS DOUBLE)
       |      * 10.0e0 / 1.0e0 - CAST(exact_rows AS DOUBLE))
       |    / CAST(exact_rows AS DOUBLE), 6) AS rel_err
       |FROM exact e LEFT JOIN sampled s USING (c_mktsegment)
       |ORDER BY c_mktsegment""".stripMargin
  }

  // ---------------------------------------------------------------- q287
  /** p-chart ([[graft.ops.Experiment.pChart]]): daily purchase share
    * of all events against 3σ binomial control limits — the SPC
    * monitor that flags special-cause days the season decomposition
    * (q164) would smooth over.
    */
  def q287(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir).select(
      date_trunc("day", col("ts")).cast("date").cast("string").as("day"),
      (col("event_type") === "purchase").as("is_purchase"))
    graft.ops.Experiment.pChart(ev, "day", "is_purchase").orderBy("day")
  }
  val q287Sql: String =
    """WITH per AS (SELECT
      |    CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS t,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |pooled AS (SELECT CAST(sum(x) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
      |    AS pbar FROM per)
      |SELECT t AS day, n, x,
      |  round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p,
      |  round(greatest(pbar - 3.0e0 * sqrt(pbar * (1.0e0 - pbar)
      |    / CAST(n AS DOUBLE)), 0.0e0), 6) AS lcl,
      |  round(least(pbar + 3.0e0 * sqrt(pbar * (1.0e0 - pbar)
      |    / CAST(n AS DOUBLE)), 1.0e0), 6) AS ucl,
      |  (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |     < greatest(pbar - 3.0e0 * sqrt(pbar * (1.0e0 - pbar)
      |       / CAST(n AS DOUBLE)), 0.0e0))
      |  OR (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |     > least(pbar + 3.0e0 * sqrt(pbar * (1.0e0 - pbar)
      |       / CAST(n AS DOUBLE)), 1.0e0)) AS out_of_control
      |FROM per, pooled ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q288
  /** Embedding anisotropy ([[graft.ops.ext.Similarity.anisotropy]]):
    * mean pairwise cosine per label via the ‖Σx̂‖² closed form — the
    * cone-collapse health check run before trusting the ANN family
    * (q16/q17/q37), with no pairwise join anywhere.
    */
  def q288(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Similarity.anisotropy(T(s, dir, "embeddings"),
      "embedding", "label")
  val q288Sql: String =
    """WITH v AS (SELECT label AS g, [x::DOUBLE for x in embedding] AS vec
      |  FROM embeddings),
      |nr AS (SELECT g, vec,
      |    sqrt(list_reduce(list_transform(vec, x -> x * x),
      |      (a, b) -> a + b)) AS nrm
      |  FROM v),
      |e AS (SELECT g, CAST(o - 1 AS BIGINT) AS i,
      |    CAST(floor(x / nrm * 1000000000.0e0 + 0.5e0) AS BIGINT) AS q
      |  FROM (SELECT g, nrm, unnest(vec) AS x,
      |          generate_subscripts(vec, 1) AS o
      |        FROM nr WHERE nrm > 0)),
      |dims AS (SELECT g, i, CAST(sum(q) AS BIGINT) AS sq,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM e GROUP BY g, i),
      |agg AS (SELECT g, CAST(max(cnt) AS BIGINT) AS n,
      |    sum(CAST((CAST(sq AS DOUBLE) / 1000000000.0e0)
      |      * (CAST(sq AS DOUBLE) / 1000000000.0e0)
      |      AS DECIMAL(38,18))) AS ss
      |  FROM dims GROUP BY g)
      |SELECT g AS label, n,
      |  round((CAST(ss AS DOUBLE) - CAST(n AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6)
      |    AS anisotropy
      |FROM agg ORDER BY label""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q285_stream_histogram" -> (q285 _),
    "q286_join_cardinality" -> (q286 _),
    "q287_p_chart" -> (q287 _),
    "q288_anisotropy" -> (q288 _))

  val oracles: Map[String, String] = Map(
    "q285_stream_histogram" -> q285Sql,
    "q286_join_cardinality" -> q286Sql,
    "q287_p_chart" -> q287Sql,
    "q288_anisotropy" -> q288Sql)
}
