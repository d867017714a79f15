package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 28" query set (q265–q268): exact trailing-window
  * distinct counts and quantiles, a Heaps'-law vocabulary-growth fit,
  * and systematic weighted resampling. Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave28Queries {
  import CoreQueries.T

  private def dayIdx(s: SparkSession, dir: String): DataFrame =
    ExtQueries.events(s, dir).select(
      (datediff(date_trunc("day", col("ts")).cast("date"),
        lit("2024-01-01").cast("date")) + 1).cast("long").as("idx"),
      col("user_id"),
      floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
  private val dayIdxSql: String =
    """SELECT CAST(date_diff('day', DATE '2024-01-01',
      |    CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS idx,
      |  user_id,
      |  CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- q265
  /** Trailing-7-day exact distinct users per day
    * ([[graft.ops.Rolling.trailingDistinct]]): the WAU-style metric,
    * computed by bounded ×7 fan-out instead of a running distinct
    * state or a range self-join.
    */
  def q265(s: SparkSession, dir: String): DataFrame =
    graft.ops.Rolling.trailingDistinct(dayIdx(s, dir), "idx", "user_id", 7)
      .orderBy("idx")
  val q265Sql: String =
    s"""WITH src AS ($dayIdxSql),
       |pk AS (SELECT DISTINCT idx AS i, user_id AS k FROM src),
       |present AS (SELECT DISTINCT i AS t FROM pk),
       |fan AS (SELECT t, CAST(count(DISTINCT k) AS BIGINT) AS n_distinct
       |  FROM (SELECT unnest(generate_series(i, i + 6)) AS t, k FROM pk)
       |  JOIN present USING (t) GROUP BY t),
       |daily AS (SELECT i AS t, CAST(count(DISTINCT k) AS BIGINT)
       |    AS n_daily FROM pk GROUP BY i)
       |SELECT t AS idx, n_distinct, n_daily
       |FROM fan JOIN daily USING (t) ORDER BY idx""".stripMargin

  // ---------------------------------------------------------------- q266
  /** Trailing-7-day exact p90 of event values (cents)
    * ([[graft.ops.Rolling.trailingQuantile]]): the sliding-window
    * order statistic, walked on the value domain per window — the
    * rank ⌈0.9·n⌉ is the exact integer (9n+9) div 10 on both engines.
    */
  def q266(s: SparkSession, dir: String): DataFrame =
    graft.ops.Rolling.trailingQuantile(dayIdx(s, dir), "idx", "cents",
        7, 9, 10)
      .orderBy("idx")
  val q266Sql: String =
    s"""WITH src AS ($dayIdxSql),
       |pv AS (SELECT idx AS i, cents AS v, CAST(count(*) AS BIGINT) AS c
       |  FROM src GROUP BY 1, 2),
       |present AS (SELECT DISTINCT i AS t FROM pv),
       |fan AS (SELECT t, v, CAST(sum(c) AS BIGINT) AS c
       |  FROM (SELECT unnest(generate_series(i, i + 6)) AS t, v, c
       |        FROM pv)
       |  JOIN present USING (t) GROUP BY t, v),
       |cum AS (SELECT t, v,
       |    CAST(sum(c) OVER (PARTITION BY t ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(sum(c) OVER (PARTITION BY t) AS BIGINT) AS n
       |  FROM fan)
       |SELECT t AS idx, n, CAST(min(v) AS BIGINT) AS p
       |FROM cum WHERE cum >= (9 * n + 9) // 10
       |GROUP BY t, n ORDER BY idx""".stripMargin

  // ---------------------------------------------------------------- q267
  /** Heaps'-law fit ([[graft.ops.ext.TextAnalysis.vocabGrowth]]):
    * V(n) ≈ K·n^β over 20 corpus prefixes — the vocabulary
    * data-scaling diagnostic, fitted by log-log OLS on quantized
    * moment sums; checkpoints + fit hash-match the oracle.
    */
  def q267(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.vocabGrowth(T(s, dir, "documents"),
      "doc_id", "text", nPoints = 20)
  val q267Sql: String =
    """WITH fs AS (SELECT w, CAST(min(doc_id) AS BIGINT) AS fid
      |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(
      |      lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS w
      |    FROM documents) GROUP BY w),
      |bounds AS (SELECT CAST(min(doc_id) AS BIGINT) AS lo,
      |    CAST(max(doc_id) AS BIGINT) AS hi FROM documents),
      |pts AS (SELECT CAST(p AS BIGINT) AS pt,
      |    lo + (hi - lo) * CAST(p AS BIGINT) // 20 AS thr
      |  FROM range(1, 21) t(p), bounds),
      |docs_at AS (SELECT pt, thr, CAST(count(*) AS BIGINT) AS docs
      |  FROM pts JOIN documents ON doc_id <= thr GROUP BY pt, thr),
      |vocab_at AS (SELECT pt, CAST(count(*) AS BIGINT) AS vocab
      |  FROM pts JOIN fs ON fid <= thr GROUP BY pt),
      |points AS (SELECT pt, docs, vocab
      |  FROM docs_at JOIN vocab_at USING (pt)),
      |mom AS (SELECT CAST(count(*) AS BIGINT) AS np,
      |    CAST(sum(CAST(floor(ln(CAST(docs AS DOUBLE)) * 1000000000.0e0
      |      + 0.5e0) AS BIGINT)) AS BIGINT) AS sx,
      |    CAST(sum(CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1000000000.0e0
      |      + 0.5e0) AS BIGINT)) AS BIGINT) AS sy,
      |    CAST(sum(CAST(floor(ln(CAST(docs AS DOUBLE))
      |      * ln(CAST(docs AS DOUBLE)) * 1000000000.0e0 + 0.5e0)
      |      AS BIGINT)) AS BIGINT) AS sxx,
      |    CAST(sum(CAST(floor(ln(CAST(docs AS DOUBLE))
      |      * ln(CAST(vocab AS DOUBLE)) * 1000000000.0e0 + 0.5e0)
      |      AS BIGINT)) AS BIGINT) AS sxy,
      |    CAST(sum(CAST(floor(ln(CAST(vocab AS DOUBLE))
      |      * ln(CAST(vocab AS DOUBLE)) * 1000000000.0e0 + 0.5e0)
      |      AS BIGINT)) AS BIGINT) AS syy
      |  FROM points),
      |dm AS (SELECT CAST(np AS DOUBLE) AS nd,
      |    CAST(sx AS DOUBLE) / 1000000000.0e0 AS mx,
      |    CAST(sy AS DOUBLE) / 1000000000.0e0 AS my,
      |    CAST(sxx AS DOUBLE) / 1000000000.0e0 AS mxx,
      |    CAST(sxy AS DOUBLE) / 1000000000.0e0 AS mxy,
      |    CAST(syy AS DOUBLE) / 1000000000.0e0 AS myy
      |  FROM mom),
      |terms AS (SELECT nd, mx, my,
      |    nd * mxy - mx * my AS bn,
      |    nd * mxx - mx * mx AS bd,
      |    nd * myy - my * my AS dy
      |  FROM dm),
      |fit AS (SELECT round(bn / bd, 6) AS beta,
      |    round(exp((my - (bn / bd) * mx) / nd), 6) AS k,
      |    round(bn * bn / (bd * dy), 6) AS r2
      |  FROM terms)
      |SELECT pt, docs, vocab, beta, k, r2
      |FROM points, fit ORDER BY pt""".stripMargin

  // ---------------------------------------------------------------- q268
  /** Systematic weighted resampling
    * ([[graft.ops.ext.Sampling.systematicResample]]): 200 evenly
    * spaced draws over the cumulative order-value axis — the
    * zero-variance particle-filter resampler, integer-exact so every
    * (draw, key) row hash-matches the oracle.
    */
  def q268(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Sampling.systematicResample(
        T(s, dir, "orders").select(col("o_orderkey"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
            .as("wt")),
        "o_orderkey", "wt", nDraws = 200)
      .orderBy("draw")
  val q268Sql: String =
    """WITH w AS (SELECT o_orderkey AS k,
      |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS wt
      |  FROM orders WHERE o_totalprice > 0),
      |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS bigw FROM w),
      |cum AS (SELECT k, wt,
      |    CAST(sum(wt) OVER (ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM w),
      |rng AS (SELECT k,
      |    ((cum - wt) * 400) // bigw + 1 AS olo,
      |    (cum * 400) // bigw AS ohi
      |  FROM cum, tot),
      |draws AS (SELECT k, unnest(generate_series(olo // 2, (ohi - 1) // 2))
      |    AS draw
      |  FROM rng WHERE ohi >= olo AND (ohi - 1) // 2 >= olo // 2)
      |SELECT CAST(draw AS BIGINT) AS draw, k AS o_orderkey
      |FROM draws WHERE draw < 200 ORDER BY draw""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q265_sliding_distinct", q265, q265Sql),
    Query("q266_sliding_p90", q266, q266Sql),
    Query("q267_heaps_law", q267, q267Sql),
    Query("q268_systematic_resample", q268, q268Sql))
}
