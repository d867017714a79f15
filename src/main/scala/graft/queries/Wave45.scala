package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 45" query set (q333–q336): streaming funnel state,
  * corpus duplication-rate curve, source typicality (cross-entropy /
  * KL), and Kleinberg burst detection. Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, every ln term
  * quantized to integers before cross-row sums or DP decisions.
  */
object Wave45Queries {
  import CoreQueries.T

  private val tokSql =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> len(t)>0)"

  // ---------------------------------------------------------------- q333
  /** Streaming first-conversion funnel
    * ([[graft.streaming.Stateful.runningConversions]]): per user, the
    * first 'view' is remembered in state and the first subsequent
    * 'purchase' emits one conversion with its latency — the stateful
    * streaming twin of the batch conversion-latency query (q271),
    * with per-batch (ts, event_id) sorting so the single-batch smoke
    * replays the batch semantics exactly.
    */
  def q333(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = s"$dir/events.parquet"
    val src = ExtQueries.tsAsMicros(StreamOps.fileStream(s, f))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[Stateful.TypedEvent]
    StreamOps.runBounded(s, f, "q333_conversions", "append")(
      Stateful.runningConversions(s, src))
      .select(col("user_id"), col("view_ts"), col("purchase_ts"),
        col("purchase_id"), col("latency_us"))
      .orderBy("user_id")
  }
  val q333Sql: String =
    """WITH ev AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    event_id, event_type FROM events),
      |v AS (SELECT user_id, us AS vts, event_id AS vid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS rn
      |    FROM ev WHERE event_type = 'view') WHERE rn = 1),
      |p AS (SELECT e.user_id, e.us, e.event_id,
      |    row_number() OVER (PARTITION BY e.user_id
      |      ORDER BY e.us, e.event_id) AS rn
      |  FROM ev e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND (e.us > v.vts OR (e.us = v.vts AND e.event_id > v.vid)))
      |SELECT p.user_id, v.vts AS view_ts, p.us AS purchase_ts,
      |  p.event_id AS purchase_id, p.us - v.vts AS latency_us
      |FROM p JOIN v USING (user_id) WHERE p.rn = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q334
  /** Corpus duplication-rate curve
    * ([[graft.ops.ext.TextAnalysis.dupRateCurve]], n = 1..5): the
    * fraction of n-gram occurrences that are corpus-wide repeats, as
    * one curve — the memorization-risk dial behind the fixed-n span
    * dedup (q83) and repetition gates (q48).
    */
  def q334(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.dupRateCurve(T(s, dir, "documents"),
      "text", maxN = 5)
  val q334Sql: String = {
    def block(n: Int): String =
      s"""SELECT ${n}::BIGINT AS n,
         |  CAST(sum(c) AS BIGINT) AS total_grams,
         |  CAST(coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)
         |    AS BIGINT) AS dup_grams
         |FROM (SELECT g, count(*) AS c FROM (
         |    SELECT unnest([array_to_string(toks[i:i+${n - 1}], ' ')
         |      for i in range(1, greatest(len(toks)-${n - 1}, 1)+1)]) AS g
         |    FROM tk) GROUP BY g)""".stripMargin
    s"""WITH tk AS (SELECT toks FROM
       |    (SELECT $tokSql AS toks FROM documents)
       |  WHERE len(toks) > 0)
       |SELECT n, total_grams, dup_grams,
       |  round(CAST(dup_grams AS DOUBLE) / CAST(total_grams AS DOUBLE), 6)
       |    AS dup_rate
       |FROM (${(1 to 5).map(block).mkString("\n UNION ALL ")})
       |ORDER BY n""".stripMargin
  }

  // ---------------------------------------------------------------- q335
  /** Source typicality
    * ([[graft.ops.ext.TextAnalysis.sourceCrossEntropy]]): per-source
    * unigram cross-entropy and KL against the whole corpus — the
    * directional "how atypical is this source" number the symmetric
    * JSD matrix (q276) can't give.
    */
  def q335(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.sourceCrossEntropy(
      T(s, dir, "documents"), "source", "text")
  val q335Sql: String =
    s"""WITH tok AS (SELECT source AS g, unnest($tokSql) AS t
       |  FROM documents),
       |gc AS (SELECT g, t, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY g, t),
       |corpus AS (SELECT t, CAST(sum(c) AS BIGINT) AS cc
       |  FROM gc GROUP BY t),
       |totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng,
       |    CAST(count(*) AS BIGINT) AS vocab
       |  FROM gc GROUP BY g),
       |tt AS (SELECT CAST(sum(cc) AS BIGINT) AS tt FROM corpus),
       |terms AS (SELECT gc.g, totals.ng, totals.vocab,
       |    CAST(floor(-CAST(gc.c AS DOUBLE)
       |      * ln(CAST(corpus.cc AS DOUBLE) / CAST(tt.tt AS DOUBLE))
       |      * 1000000.0e0 + 0.5e0) AS BIGINT) AS qx,
       |    CAST(floor(-CAST(gc.c AS DOUBLE)
       |      * ln(CAST(gc.c AS DOUBLE) / CAST(totals.ng AS DOUBLE))
       |      * 1000000.0e0 + 0.5e0) AS BIGINT) AS qs
       |  FROM gc JOIN corpus USING (t) JOIN totals USING (g), tt)
       |SELECT g AS source, ng AS n_tokens, vocab,
       |  round(CAST(sum(qx) AS DOUBLE) / 1000000.0e0
       |    / CAST(ng AS DOUBLE), 6) AS cross_entropy,
       |  round(CAST(sum(qs) AS DOUBLE) / 1000000.0e0
       |    / CAST(ng AS DOUBLE), 6) AS entropy,
       |  round(CAST(sum(qx) - sum(qs) AS DOUBLE) / 1000000.0e0
       |    / CAST(ng AS DOUBLE), 6) AS kl
       |FROM terms GROUP BY g, ng, vocab ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q336
  /** Kleinberg burst detection ([[graft.ops.Trend.kleinbergBurst]])
    * over each event type's daily event counts: the 2-state Viterbi
    * burst census — which types have sustained elevated-rate episodes,
    * beside the single-changepoint detectors (q157, q173). The DP
    * runs on 1e-9-quantized integer costs, so the burst-day count is
    * bit-deterministic.
    */
  def q336(s: SparkSession, dir: String): DataFrame = {
    val daily = ExtQueries.events(s, dir).select(col("event_type"),
        (datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")) + 1).cast("long").as("idx"))
      .groupBy("event_type", "idx").agg(count(lit(1)).as("c"))
    graft.ops.Trend.kleinbergBurst(daily, "event_type", "idx", "c")
      .orderBy("event_type")
  }
  val q336Sql: String =
    """WITH daily AS (SELECT event_type AS g,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS idx,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |mo AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s
      |  FROM daily GROUP BY g),
      |rows_ AS (SELECT d.g, m.n,
      |    [d.idx,
      |     CAST(floor((CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE)
      |       - CAST(d.c AS DOUBLE) * ln(CAST(m.s AS DOUBLE)
      |         / CAST(m.n AS DOUBLE))) * 1000000000.0e0 + 0.5e0)
      |       AS BIGINT),
      |     CAST(floor((CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE) * 2.0e0
      |       - CAST(d.c AS DOUBLE) * ln(CAST(m.s AS DOUBLE)
      |         / CAST(m.n AS DOUBLE) * 2.0e0)) * 1000000000.0e0 + 0.5e0)
      |       AS BIGINT)] AS row_
      |  FROM daily d JOIN mo m USING (g)),
      |packed AS (SELECT g, n, list_sort(list(row_)) AS s
      |  FROM rows_ GROUP BY g, n),
      |folded AS (SELECT g, n,
      |    list_reduce(list_prepend(
      |      [s[1][2], 0::BIGINT, 1000000000 + s[1][3], 1::BIGINT],
      |      s[2:]),
      |      (acc, x) -> [
      |        least(acc[1], acc[3]) + x[2],
      |        CASE WHEN acc[1] <= acc[3] THEN acc[2] ELSE acc[4] END,
      |        least(acc[1] + 1000000000, acc[3]) + x[3],
      |        CASE WHEN acc[1] + 1000000000 <= acc[3] THEN acc[2]
      |             ELSE acc[4] END + 1]) AS f
      |  FROM packed)
      |SELECT g AS event_type, n AS n_days,
      |  CASE WHEN f[1] <= f[3] THEN f[2] ELSE f[4] END AS n_burst_days,
      |  round(CAST(least(f[1], f[3]) AS DOUBLE) / 1000000000.0e0, 6)
      |    AS min_cost
      |FROM folded ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q333_stream_conversions", q333, q333Sql),
    Query("q334_dup_rate_curve", q334, q334Sql),
    Query("q335_source_kl", q335, q335Sql),
    Query("q336_kleinberg_burst", q336, q336Sql))
}
