package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 90" query set (q457–q459): curation-rule and robust-
  * structure operators —
  *
  *  - q457 Gopher-style quality-rule census
  *    ([[graft.ops.ext.TextAnalysis.gopherRules]]): the public heuristic
  *    filter bundle as a per-source pass-rate table — the decision
  *    input for "which sources need which gates".
  *  - q458 per-edge triangle support ([[graft.ops.Graph.edgeSupport]]):
  *    the k-truss building block over the co-order graph; support = 0
  *    edges surface (never drop silently).
  *  - q459 Theil–Sen robust slope ([[graft.ops.Trend.theilSen]]): the
  *    median-of-pairwise-slopes trend per nation over exact monthly
  *    revenue — pair work bounded by the CALENDAR (months²), not the
  *    data volume, and the median window partitioned per group.
  */
object Wave90Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q457
  /** Per-source Gopher-rule census over `documents`: docs plus pass
    * counts for the six rules (word-count window, mean-word-length
    * window, ≥2 core stopwords, alpha-token fraction, top-token
    * dominance cap, TTR floor) and the all-rules conjunction.
    */
  def q457(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.gopherRules(
      T(s, dir, "documents"), "doc_id", "text", "source")
  val q457Sql: String = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => s"'$w'").mkString(",")
    s"""WITH d AS (SELECT doc_id, source,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |      t -> len(t) > 0) AS toks
       |  FROM documents),
       |doc AS (SELECT doc_id, source,
       |    len(toks)::DOUBLE AS n,
       |    length(array_to_string(toks, ''))::DOUBLE AS chars,
       |    len(list_intersect(list_distinct(toks), [$stops])) AS stop_hits,
       |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
       |      AS alpha
       |  FROM d),
       |tf AS (SELECT doc_id, t, count(*) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY 1, 2),
       |freq AS (SELECT doc_id, max(c)::DOUBLE AS topc,
       |    count(*)::DOUBLE AS ndist
       |  FROM tf GROUP BY 1),
       |rules AS (SELECT source,
       |    (n >= 30 AND n <= 500) AS r_words,
       |    (n > 0 AND chars / n >= 3.0 AND chars / n <= 10.0) AS r_mean_len,
       |    (stop_hits >= 2) AS r_stopwords,
       |    (n > 0 AND alpha / n >= 0.8) AS r_alpha,
       |    (n > 0 AND coalesce(topc, 0) / n <= 0.1) AS r_top_frac,
       |    (n > 0 AND coalesce(ndist, 0) / n >= 0.5) AS r_ttr
       |  FROM doc LEFT JOIN freq USING (doc_id))
       |SELECT source, count(*)::BIGINT AS docs,
       |  sum(CASE WHEN r_words THEN 1 ELSE 0 END)::BIGINT AS pass_words,
       |  sum(CASE WHEN r_mean_len THEN 1 ELSE 0 END)::BIGINT
       |    AS pass_mean_len,
       |  sum(CASE WHEN r_stopwords THEN 1 ELSE 0 END)::BIGINT
       |    AS pass_stopwords,
       |  sum(CASE WHEN r_alpha THEN 1 ELSE 0 END)::BIGINT AS pass_alpha,
       |  sum(CASE WHEN r_top_frac THEN 1 ELSE 0 END)::BIGINT
       |    AS pass_top_frac,
       |  sum(CASE WHEN r_ttr THEN 1 ELSE 0 END)::BIGINT AS pass_ttr,
       |  sum(CASE WHEN r_words AND r_mean_len AND r_stopwords AND r_alpha
       |    AND r_top_frac AND r_ttr THEN 1 ELSE 0 END)::BIGINT AS pass_all
       |FROM rules GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q458
  /** Per-edge triangle support on the co-order graph, k = 3 truss flag
    * (support ≥ 1). Zero-support edges are kept — the peel candidates.
    */
  def q458(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.edgeSupport(Wave6Queries.coOrderEdges(s, dir), k = 3L)
      .orderBy("src", "dst")
  val q458Sql: String =
    s"""WITH e AS (${Wave6Queries.coOrderEdgesSql}),
       |sym AS (SELECT src AS node, dst AS nbr FROM e
       |        UNION ALL SELECT dst, src FROM e),
       |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY 1),
       |dir AS (SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)
       |         THEN e.src ELSE e.dst END AS u,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)
       |         THEN e.dst ELSE e.src END AS v,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)
       |         THEN db.deg ELSE da.deg END AS dv
       |  FROM e JOIN deg da ON e.src = da.node
       |         JOIN deg db ON e.dst = db.node),
       |tri AS (SELECT e1.u, e1.v AS v1, e2.v AS v2
       |  FROM dir e1 JOIN dir e2 ON e1.u = e2.u
       |    AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
       |  JOIN dir d ON d.u = e1.v AND d.v = e2.v),
       |te AS (SELECT least(u, v1) AS a, greatest(u, v1) AS b FROM tri
       |  UNION ALL SELECT least(u, v2), greatest(u, v2) FROM tri
       |  UNION ALL SELECT least(v1, v2), greatest(v1, v2) FROM tri),
       |sup AS (SELECT a, b, count(*) AS c FROM te GROUP BY 1, 2)
       |SELECT e.src, e.dst, coalesce(c, 0)::BIGINT AS support,
       |  coalesce(c, 0) >= 1 AS in_truss
       |FROM e LEFT JOIN sup ON sup.a = e.src AND sup.b = e.dst
       |ORDER BY src, dst""".stripMargin

  // ---------------------------------------------------------------- q459
  /** Theil–Sen slope of exact monthly revenue (cents) per supplier
    * nation: 25 groups × ≤ 84 months — the robust "is this nation's
    * trade growing" table an OLS outlier would corrupt.
    */
  def q459(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_suppkey"),
      (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
        .cast("long").as("mi"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100.0 + 0.5).cast("long").as("cents"))
    val monthly = li
      .join(T(s, dir, "supplier").select(col("s_suppkey"),
        col("s_nationkey")), li("l_suppkey") === col("s_suppkey"))
      .join(T(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "mi").agg(sum("cents").as("c"))
    val months = monthly.groupBy("n_name")
      .agg(count(lit(1)).as("n_months"))
    graft.ops.Trend.theilSen(monthly, "n_name", "mi", "c")
      .join(months, Seq("n_name"))
      .select(col("n_name"), col("n_months"), col("n_pairs"),
        round(col("sen_slope"), 4).as("sen_slope"))
      .orderBy("n_name")
  }
  val q459Sql: String =
    s"""WITH m AS (SELECT n_name,
       |    (year(l_shipdate) * 12 + month(l_shipdate)) AS mi,
       |    sum(CAST(floor(l_extendedprice * (1.0e0 - l_discount)
       |      * 100.0e0 + 0.5e0) AS BIGINT))::BIGINT AS c
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |    JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |mm AS (SELECT n_name, count(*)::BIGINT AS n_months
       |  FROM m GROUP BY 1),
       |p AS (SELECT a.n_name,
       |    (b.c - a.c)::DOUBLE / (b.mi - a.mi) AS slope
       |  FROM m a JOIN m b ON a.n_name = b.n_name AND b.mi > a.mi)
       |SELECT p.n_name, mm.n_months, count(*)::BIGINT AS n_pairs,
       |  round(median(slope), 4) AS sen_slope
       |FROM p JOIN mm ON p.n_name = mm.n_name
       |GROUP BY p.n_name, mm.n_months ORDER BY p.n_name""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q457_gopher_rules", q457, q457Sql),
    Query("q458_edge_support", q458, q458Sql),
    Query("q459_theil_sen", q459, q459Sql))
}
