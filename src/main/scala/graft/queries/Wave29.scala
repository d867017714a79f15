package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 29" query set (q269–q272): single-word activity
  * bitmaps, an RLE storage estimate, conversion-latency order
  * statistics, and an exact prefix-filter set-similarity join. Same
  * contract as every wave: DuckDB oracle per query, doubles round to
  * 6 dp, integer sums BIGINT-cast in the oracle, fixed-point
  * quantization before any cross-row float sum, deterministic
  * tie-breaks.
  */
object Wave29Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q269
  /** Activity bitmaps ([[graft.ops.ext.Bitmaps.activityHistogram]]):
    * each user's 30-day activity packed into one long by `bit_or`,
    * histogrammed by days-active with the view∧purchase same-day
    * overlap — the event table is scanned once; all analysis is
    * register-width bit math.
    */
  def q269(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir).select(col("user_id"),
      datediff(date_trunc("day", col("ts")).cast("date"),
        lit("2024-01-01").cast("date")).cast("long").as("day"),
      col("event_type"))
    graft.ops.ext.Bitmaps.activityHistogram(ev, "user_id", "day",
      "event_type", "view", "purchase")
  }
  val q269Sql: String =
    """WITH ev AS (SELECT user_id,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day,
      |    event_type
      |  FROM events),
      |masks AS (SELECT user_id,
      |    CAST(bit_or(1::BIGINT << CAST(day AS INTEGER)) AS BIGINT)
      |      AS m_all,
      |    CAST(bit_or(CASE WHEN event_type = 'view'
      |      THEN 1::BIGINT << CAST(day AS INTEGER) ELSE 0 END) AS BIGINT)
      |      AS m_a,
      |    CAST(bit_or(CASE WHEN event_type = 'purchase'
      |      THEN 1::BIGINT << CAST(day AS INTEGER) ELSE 0 END) AS BIGINT)
      |      AS m_b
      |  FROM ev GROUP BY user_id)
      |SELECT CAST(bit_count(m_all) AS BIGINT) AS active_days,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(bit_count(m_a & m_b)) AS BIGINT) AS overlap_days
      |FROM masks GROUP BY 1 ORDER BY active_days""".stripMargin

  // ---------------------------------------------------------------- q270
  /** RLE storage estimate ([[graft.ops.Profile.rleEstimate]]): run
    * counts per column within each order's line block — the
    * encoder-footprint diagnostic that tells which columns a sorted
    * layout compresses (low `rle_ratio`) and which stay random.
    */
  def q270(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.rleEstimate(T(s, dir, "lineitem"),
        "l_orderkey", "l_linenumber",
        Seq("l_suppkey", "l_returnflag", "l_linestatus", "l_quantity"))
      .orderBy("column")
  val q270Sql: String = {
    def cand(c: String): String =
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(brk) AS BIGINT) AS runs,
         |  round(CAST(count(*) AS DOUBLE) / CAST(sum(brk) AS DOUBLE), 6)
         |    AS avg_run_len,
         |  round(CAST(sum(brk) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |    AS rle_ratio
         |FROM (SELECT CASE WHEN lag(v) OVER (PARTITION BY l_orderkey
         |      ORDER BY l_linenumber, v) IS DISTINCT FROM v
         |    THEN 1 ELSE 0 END AS brk
         |  FROM (SELECT l_orderkey, l_linenumber,
         |          CAST($c AS VARCHAR) AS v FROM lineitem))""".stripMargin
    s"""${cand("l_suppkey")}
       |UNION ALL
       |${cand("l_returnflag")}
       |UNION ALL
       |${cand("l_linestatus")}
       |UNION ALL
       |${cand("l_quantity")}
       |ORDER BY "column"""".stripMargin
  }

  // ---------------------------------------------------------------- q271
  /** Conversion latency ([[graft.ops.Funnel.conversionLatency]]):
    * first view → first subsequent purchase per user, with exact
    * p25/p50/p75/p90 hour buckets walked on the value domain — the
    * order-statistics companion to the funnel stages (q112).
    */
  def q271(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.conversionLatency(ExtQueries.events(s, dir),
      "user_id", "event_type", "ts", "view", "purchase")
  val q271Sql: String =
    """WITH firsts AS (SELECT user_id AS u,
      |    CAST(min(epoch_us(ts)) AS BIGINT) AS t_from
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |tos AS (SELECT e.user_id AS u,
      |    CAST(min(epoch_us(e.ts) - f.t_from) AS BIGINT) AS lat_us
      |  FROM events e JOIN firsts f ON e.user_id = f.u
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f.t_from
      |  GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_from,
      |    CAST(sum(CASE WHEN t.u IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_converted
      |  FROM firsts f LEFT JOIN tos t ON f.u = t.u),
      |lat AS (SELECT lat_us // 3600000000 AS h,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM tos GROUP BY 1),
      |cum AS (SELECT h, CAST(sum(c) OVER (ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum FROM lat),
      |p25 AS (SELECT CAST(min(h) AS BIGINT) AS p25_h FROM cum, tot
      |  WHERE cum >= (1 * n_converted + 3) // 4),
      |p50 AS (SELECT CAST(min(h) AS BIGINT) AS p50_h FROM cum, tot
      |  WHERE cum >= (2 * n_converted + 3) // 4),
      |p75 AS (SELECT CAST(min(h) AS BIGINT) AS p75_h FROM cum, tot
      |  WHERE cum >= (3 * n_converted + 3) // 4),
      |p90 AS (SELECT CAST(min(h) AS BIGINT) AS p90_h FROM cum, tot
      |  WHERE cum >= (9 * n_converted + 9) // 10)
      |SELECT n_from, n_converted,
      |  round(CAST(n_converted AS DOUBLE) / CAST(n_from AS DOUBLE), 6)
      |    AS conv_rate,
      |  p25_h, p50_h, p75_h, p90_h
      |FROM tot, p25, p50, p75, p90""".stripMargin

  // ---------------------------------------------------------------- q272
  /** Exact prefix-filter jaccard join
    * ([[graft.ops.ext.PrefixJoin.jaccardJoin]], threshold 0.6) over
    * the near-dup corpus — the NO-false-negative counterpart to the
    * MinHash (q13) and SimHash (q14) approximate joins; the oracle is
    * the exhaustive pairwise jaccard, so the prefix filter's
    * completeness is what's being checked.
    */
  def q272(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    // 5-gram shingle SETS: the synthetic corpus draws on a ~24-word
    // vocabulary, so 3-gram space (24^3) saturates — high-df shingles
    // would blunt the prefix filter's rare-token pruning; 24^5 keeps
    // posting lists short (token sets themselves would saturate
    // completely: nearly all pairs share 0.6 of the vocabulary).
    // Shingles join as xxhash64 LONGS (the ShingleHashes kernel, the
    // minhash family's digest rule): the posting/verify joins move
    // 8-byte keys instead of ~30-byte strings — the DuckDB oracle
    // still intersects the exact strings, so a hash collision
    // anywhere would break the hash-match (none at these scales)
    val corpus = ExtQueries.nearDupCorpus(s, dir)
      .select(col("doc_id"),
        graft.ops.ext.Dedup.shinglesOfTokens(
          TextAnalysis.tokens(col("text")), 5).as("toks"))
    graft.ops.ext.PrefixJoin.jaccardJoin(corpus, "doc_id", "toks", 3, 5)
      .orderBy("a", "b")
  }
  val q272Sql: String =
    s"""WITH corpus AS (${ExtQueries.nearDupCorpusSql}),
       |tk AS (SELECT doc_id,
       |    list_distinct([array_to_string(toks[i:i+4], ' ')
       |      for i in range(1, greatest(len(toks)-4, 1)+1)]) AS toks
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text),
       |          '[^a-z0-9]+'), t -> len(t) > 0) AS toks
       |        FROM corpus)),
       |tk2 AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
       |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
       |    CAST(a.n AS BIGINT) AS na, CAST(b.n AS BIGINT) AS nb
       |  FROM tk2 a JOIN tk2 b ON a.doc_id < b.doc_id)
       |SELECT a, b, inter, na, nb,
       |  round(CAST(inter AS DOUBLE)
       |    / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
       |FROM pairs WHERE 5 * inter >= 3 * (na + nb - inter)
       |ORDER BY a, b""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q269_activity_bitmaps", q269, q269Sql),
    Query("q270_rle_estimate", q270, q270Sql),
    Query("q271_conversion_latency", q271, q271Sql),
    Query("q272_prefix_filter_join", q272, q272Sql))
}
