package graft.queries

import graft.ops.Hypothesis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 7" query set (q167+): classical inference statistics
  * (ANOVA, effect sizes, agreement), link prediction, changepoint /
  * cross-correlation trend tools, and embedding-truncation evaluation.
  * Same contract as every other wave: each query has a DuckDB oracle,
  * doubles round to 6 dp, order-sensitive sums go through DECIMAL (or
  * stay integral), output orders tie-break deterministically.
  */
object Wave7Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q167
  /** One-way ANOVA ([[Hypothesis.anovaF]]): does mean extended price
    * differ across return flags? 3 groups over the full lineitem —
    * the exact-moments machinery of q163 generalized from 2 groups
    * to k.
    */
  def q167(s: SparkSession, dir: String): DataFrame =
    Hypothesis.anovaF(T(s, dir, "lineitem"), "l_returnflag",
      "l_extendedprice")
  val q167Sql: String =
    """WITH src AS (SELECT l_returnflag AS g, l_extendedprice AS x
      |  FROM lineitem),
      |grp AS (SELECT g, count(*) AS n_i,
      |    sum(CAST(floor(x * 100.0e0 + 0.5e0) AS BIGINT)) AS s_i
      |  FROM src GROUP BY g),
      |means AS (SELECT g, n_i,
      |    (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)) / 100.0e0 AS m_i
      |  FROM grp),
      |tot AS (SELECT count(*) AS k, sum(n_i) AS n,
      |    (CAST(sum(s_i) AS DOUBLE) / CAST(sum(n_i) AS DOUBLE)) / 100.0e0
      |      AS m
      |  FROM grp),
      |ssw AS (SELECT CAST(sum(CAST(floor(
      |      (x - m_i) * (x - m_i) * 100.0e0 + 0.5e0) AS BIGINT))
      |    AS BIGINT) AS ssw_x100
      |  FROM src JOIN means USING (g)),
      |ssb AS (SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(CAST(n_i AS DOUBLE) * (m_i - m) * (m_i - m)
      |      * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS ssb_x100
      |  FROM means, tot GROUP BY k, n)
      |SELECT k, n, ssb_x100 AS ss_between_x100, ssw_x100 AS ss_within_x100,
      |  round((CAST(ssb_x100 AS DOUBLE) / CAST(k - 1 AS DOUBLE))
      |        / (CAST(ssw_x100 AS DOUBLE) / CAST(n - k AS DOUBLE)), 6) AS f
      |FROM ssb, ssw""".stripMargin

  // ---------------------------------------------------------------- q168
  /** Wilson score intervals ([[Hypothesis.wilson]]): per order
    * priority, the proportion of fully-shipped orders (status 'F')
    * with its 95% interval — the uncertainty-aware version of a naive
    * rate column.
    */
  def q168(s: SparkSession, dir: String): DataFrame =
    Hypothesis.wilson(T(s, dir, "orders"), "o_orderpriority",
      col("o_orderstatus") === "F")
  val q168Sql: String =
    """WITH g AS (SELECT o_orderpriority AS "group", count(*) AS n,
      |    count(*) FILTER (WHERE o_orderstatus = 'F') AS successes
      |  FROM orders GROUP BY 1),
      |e AS (SELECT "group", n, successes,
      |    CAST(n AS DOUBLE) AS nd,
      |    CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    1.96e0 * 1.96e0 AS z2
      |  FROM g),
      |w AS (SELECT "group", n, successes, p,
      |    (p + z2 / (2.0e0 * nd)) / (1.0e0 + z2 / nd) AS center,
      |    1.96e0 * sqrt(p * (1.0e0 - p) / nd + z2 / (4.0e0 * nd * nd))
      |      / (1.0e0 + z2 / nd) AS half
      |  FROM e)
      |SELECT "group", n, successes, round(p, 6) AS p_hat,
      |  round(greatest(0.0e0, center - half), 6) AS ci_lo,
      |  round(least(1.0e0, center + half), 6) AS ci_hi
      |FROM w ORDER BY "group"""".stripMargin

  // ---------------------------------------------------------------- q169
  /** Cramér's V ([[Hypothesis.cramersV]]) between order priority and
    * order status — the effect-size companion to q139's Χ²: is the
    * association big, not just significant?
    */
  def q169(s: SparkSession, dir: String): DataFrame =
    Hypothesis.cramersV(T(s, dir, "orders"), "o_orderpriority",
      "o_orderstatus")
  val q169Sql: String =
    """WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
      |    count(*) AS o FROM orders GROUP BY 1, 2),
      |rt AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
      |ct AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
      |tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS na,
      |    count(DISTINCT b) AS nb FROM cells),
      |filled AS (SELECT rt.a, ct.b, rt.ra, ct.cb, coalesce(cells.o, 0) AS o
      |  FROM rt CROSS JOIN ct LEFT JOIN cells USING (a, b)),
      |chi AS (SELECT n, na, nb,
      |    round(CAST(sum(CAST(
      |      (o - CAST(ra AS DOUBLE) * cb / n)
      |      * (o - CAST(ra AS DOUBLE) * cb / n)
      |      / (CAST(ra AS DOUBLE) * cb / n) AS DECIMAL(38,18)))
      |      AS DOUBLE), 6) AS chi2
      |  FROM filled, tot
      |  GROUP BY n, na, nb)
      |SELECT chi2, (na - 1) * (nb - 1) AS dof, CAST(n AS BIGINT) AS n,
      |  round(sqrt(chi2 / CAST(n * (least(na, nb) - 1) AS DOUBLE)), 6) AS v
      |FROM chi""".stripMargin

  // ---------------------------------------------------------------- q170
  /** Mutual information ([[Hypothesis.mutualInfo]]) between document
    * language and source — how much does knowing the crawl source tell
    * you about language? Reported with both marginal entropies and the
    * sqrt-normalized NMI.
    */
  def q170(s: SparkSession, dir: String): DataFrame =
    Hypothesis.mutualInfo(T(s, dir, "documents"), "lang", "source")
  val q170Sql: String =
    """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
      |  FROM documents GROUP BY 1, 2),
      |rt AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
      |ct AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
      |tot AS (SELECT sum(o) AS n FROM cells),
      |mi AS (SELECT n,
      |    CAST(sum(CAST((o / CAST(n AS DOUBLE)) *
      |      ln(o * n / CAST(ra * cb AS DOUBLE)) AS DECIMAL(38,18)))
      |      AS DOUBLE) AS mi
      |  FROM cells JOIN rt USING (a) JOIN ct USING (b), tot GROUP BY n),
      |ha AS (SELECT CAST(sum(CAST((ra / CAST(n AS DOUBLE)) *
      |    ln(CAST(n AS DOUBLE) / ra) AS DECIMAL(38,18))) AS DOUBLE) AS h_a
      |  FROM rt, tot),
      |hb AS (SELECT CAST(sum(CAST((cb / CAST(n AS DOUBLE)) *
      |    ln(CAST(n AS DOUBLE) / cb) AS DECIMAL(38,18))) AS DOUBLE) AS h_b
      |  FROM ct, tot)
      |SELECT CAST(n AS BIGINT) AS n, round(mi, 6) AS mi,
      |  round(h_a, 6) AS h_a, round(h_b, 6) AS h_b,
      |  round(mi / sqrt(h_a * h_b), 6) AS nmi
      |FROM mi, ha, hb""".stripMargin

  // ---------------------------------------------------------------- q171
  /** Cohen's kappa ([[Hypothesis.cohenKappa]]) between two heuristic
    * "raters" labeling orders high/low: priority-based (urgent/high)
    * vs price-based (above 250k) — the standard agreement check for
    * weak-supervision label sources.
    */
  def q171(s: SparkSession, dir: String): DataFrame =
    Hypothesis.cohenKappa(
      T(s, dir, "orders").select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
          .otherwise("low").as("rater_a"),
        when(col("o_totalprice") > 250000.0, "high")
          .otherwise("low").as("rater_b")),
      "rater_a", "rater_b")
  val q171Sql: String =
    """WITH lab AS (SELECT
      |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 'high' ELSE 'low' END AS a,
      |    CASE WHEN o_totalprice > 250000.0e0
      |      THEN 'high' ELSE 'low' END AS b
      |  FROM orders),
      |tot AS (SELECT count(*) AS n,
      |    count(*) FILTER (WHERE a = b) AS agree FROM lab),
      |rt AS (SELECT a, count(*) AS ra FROM lab GROUP BY a),
      |ct AS (SELECT b, count(*) AS cb FROM lab GROUP BY b),
      |pe AS (SELECT sum(ra * cb) AS pe_num
      |  FROM rt JOIN ct ON rt.a = ct.b),
      |k AS (SELECT n, agree,
      |    CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
      |    CAST(pe_num AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS ped
      |  FROM tot, pe)
      |SELECT n, agree, round(po, 6) AS p_o, round(ped, 6) AS p_e,
      |  round((po - ped) / (1.0e0 - ped), 6) AS kappa
      |FROM k""".stripMargin

  // ---------------------------------------------------------------- q172
  /** Adamic–Adar link prediction ([[graft.ops.Graph.adamicAdar]]) on
    * the part co-order graph (same edges as q158–q160): the top 30
    * non-adjacent part pairs most likely to be co-ordered next, scored
    * Σ 1/ln(deg) over common neighbors with the degree-capped wedge
    * join (maxDeg = 64 — hubs contribute the smallest terms).
    */
  def q172(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.adamicAdar(
      graft.ops.Graph.coOccurrenceEdges(
        T(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minShared = 2L),
      maxDeg = 64L, topK = 30)
  val q172Sql: String =
    """WITH e AS (SELECT a.item AS a, b.item AS b
      |  FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |        FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |        FROM lineitem) b
      |    ON a.g = b.g AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (SELECT a AS node, b AS nbr FROM e
      |        UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY 1),
      |ctr AS (SELECT sym.node, deg.deg, sym.nbr
      |  FROM sym JOIN deg USING (node) WHERE deg.deg <= 64),
      |sc AS (SELECT c1.nbr AS u, c2.nbr AS v,
      |    sum(CAST(1.0e0 / ln(CAST(c1.deg AS DOUBLE)) AS DECIMAL(38,18)))
      |      AS score,
      |    count(*) AS common
      |  FROM ctr c1 JOIN ctr c2 ON c1.node = c2.node AND c1.nbr < c2.nbr
      |  GROUP BY 1, 2),
      |nonedge AS (SELECT u, v, score, common FROM sc
      |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = sc.u AND e.b = sc.v))
      |SELECT u, v, common, round(CAST(score AS DOUBLE), 6) AS score
      |FROM nonedge ORDER BY score DESC, u, v LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- q173
  /** Best mean-shift changepoint ([[graft.ops.Trend.meanShiftChangepoint]])
    * in daily order revenue, per order priority: the date splitting
    * each priority's daily series into the two most different means —
    * the AMOC audit for "when did spend jump?". The daily aggregation
    * does the heavy lifting in parallel; the split scan is one window
    * over each bounded series.
    */
  def q173(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("prio"),
        col("o_orderdate").as("d"))
      .agg((sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("double") / 100.0).as("rev"))
    graft.ops.Trend.meanShiftChangepoint(daily, "prio", "d", "rev")
      .orderBy("key")
  }
  val q173Sql: String =
    """WITH daily AS (SELECT o_orderpriority AS k, o_orderdate AS idx,
      |    CAST(sum(CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT))
      |      AS DOUBLE) / 100.0e0 AS rev
      |  FROM orders GROUP BY 1, 2),
      |q AS (SELECT k, idx,
      |    CAST(floor(rev * 100.0e0 + 0.5e0) AS BIGINT) AS v FROM daily),
      |tot AS (SELECT k, count(*) AS n, sum(v) AS s FROM q GROUP BY k),
      |pre AS (SELECT k, idx,
      |    count(*) OVER w AS nl, sum(v) OVER w AS sl
      |  FROM q WINDOW w AS (PARTITION BY k ORDER BY idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |g AS (SELECT pre.k, idx, nl, n,
      |    (CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) / 100.0e0 AS ml,
      |    (CAST(s - sl AS DOUBLE) / CAST(n - nl AS DOUBLE)) / 100.0e0 AS mr
      |  FROM pre JOIN tot ON pre.k = tot.k WHERE nl < n),
      |sc AS (SELECT k, idx, nl, n, ml, mr,
      |    (ml - mr) * (ml - mr) * CAST(nl AS DOUBLE)
      |      * CAST(n - nl AS DOUBLE) / CAST(n AS DOUBLE) AS gain,
      |    row_number() OVER (PARTITION BY k
      |      ORDER BY (ml - mr) * (ml - mr) * CAST(nl AS DOUBLE)
      |        * CAST(n - nl AS DOUBLE) / CAST(n AS DOUBLE) DESC, idx) AS rn
      |  FROM g)
      |SELECT k AS key, idx AS split_idx, nl AS n_left, n - nl AS n_right,
      |  round(ml, 6) AS mean_left, round(mr, 6) AS mean_right,
      |  round(gain, 6) AS gain
      |FROM sc WHERE rn = 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- q174
  /** Cross-correlation ([[graft.ops.Trend.crossCorrelation]]) between
    * daily order count and daily revenue at lags 0–5: does a burst of
    * orders predict revenue days later? One window pass over the
    * bounded daily series.
    */
  def q174(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "orders")
      .groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).cast("double").as("cnt"),
        (sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .cast("double") / 100.0).as("rev"))
    graft.ops.Trend.crossCorrelation(daily, "d", "cnt", "rev", maxLag = 5)
  }
  val q174Sql: String =
    """WITH daily AS (SELECT o_orderdate AS d,
      |    CAST(count(*) AS DOUBLE) AS x,
      |    CAST(sum(CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT))
      |      AS DOUBLE) / 100.0e0 AS y
      |  FROM orders GROUP BY 1),
      |m AS (SELECT
      |    CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mx,
      |    CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS my
      |  FROM daily),
      |l AS (SELECT x, mx, my, y AS y0,
      |    lead(y, 1) OVER w AS y1, lead(y, 2) OVER w AS y2,
      |    lead(y, 3) OVER w AS y3, lead(y, 4) OVER w AS y4,
      |    lead(y, 5) OVER w AS y5
      |  FROM daily, m WINDOW w AS (ORDER BY d)),
      |a AS (SELECT count(*) AS n,
      |    sum(CAST((x - mx) * (x - mx) AS DECIMAL(38,18))) AS sxx,
      |    sum(CAST((y0 - my) * (y0 - my) AS DECIMAL(38,18))) AS syy,
      |    sum(CAST((x - mx) * (y0 - my) AS DECIMAL(38,18))) AS s0,
      |    sum(CAST((x - mx) * (y1 - my) AS DECIMAL(38,18))) AS s1,
      |    sum(CAST((x - mx) * (y2 - my) AS DECIMAL(38,18))) AS s2,
      |    sum(CAST((x - mx) * (y3 - my) AS DECIMAL(38,18))) AS s3,
      |    sum(CAST((x - mx) * (y4 - my) AS DECIMAL(38,18))) AS s4,
      |    sum(CAST((x - mx) * (y5 - my) AS DECIMAL(38,18))) AS s5
      |  FROM l)
      |SELECT n,
      |  round(CAST(s0 AS DOUBLE)
      |    / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS r0,
      |  round(CAST(s1 AS DOUBLE)
      |    / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS r1,
      |  round(CAST(s2 AS DOUBLE)
      |    / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS r2,
      |  round(CAST(s3 AS DOUBLE)
      |    / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS r3,
      |  round(CAST(s4 AS DOUBLE)
      |    / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS r4,
      |  round(CAST(s5 AS DOUBLE)
      |    / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS r5
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- q175
  /** Embedding-truncation evaluation (the Matryoshka question): per
    * query vector, recall@10 of brute-force cosine top-10 using only
    * the first 16 of 64 dimensions against the full-dimension top-10.
    * Both rank lists ride [[graft.ops.ext.Similarity.bruteForceTopK]]
    * (sequential-fold dots, corpus_id tie-break), so both engines rank
    * identically; the overlap join and recall are exact integers over
    * a fixed k.
    */
  def q175(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Similarity
    val emb = T(s, dir, "embeddings")
    val qset = emb.filter(col("vec_id") % 50 === 0)
    def sliced(df: DataFrame) = df.select(col("vec_id"),
      slice(col("embedding").cast("array<double>"), 1, 16).as("embedding"))
    val full = Similarity.bruteForceTopK(emb, qset, "embedding", "vec_id",
      k = 10).select(col("query_id"), col("corpus_id"))
    val trunc = Similarity.bruteForceTopK(sliced(emb), sliced(qset),
      "embedding", "vec_id", k = 10)
      .select(col("query_id"), col("corpus_id"))
    val overlap = full
      .join(trunc, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    qset.select(col("vec_id").as("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("h"), lit(0L)).as("hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") / 10.0, 6)
          .as("recall"))
      .orderBy("query_id")
  }
  val q175Sql: String =
    """WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS vec
      |  FROM embeddings),
      |n AS (SELECT vec_id, vec,
      |    sqrt(list_reduce(list_transform(vec, x -> x*x),
      |      (a, b) -> a + b)) AS nrm,
      |    vec[1:16] AS tvec,
      |    sqrt(list_reduce(list_transform(vec[1:16], x -> x*x),
      |      (a, b) -> a + b)) AS tnrm
      |  FROM v),
      |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm,
      |    tvec AS tqvec, tnrm AS tqnrm FROM n WHERE vec_id % 50 = 0),
      |fullk AS (SELECT query_id, corpus_id FROM (
      |  SELECT q.query_id, c.vec_id AS corpus_id,
      |    row_number() OVER (PARTITION BY q.query_id ORDER BY
      |      list_reduce(list_transform(range(1, len(c.vec)+1),
      |        i -> c.vec[i] * q.qvec[i]), (a, b) -> a + b)
      |        / (c.nrm * q.qnrm) DESC, c.vec_id) AS rank
      |  FROM n c, q WHERE c.vec_id <> q.query_id) WHERE rank <= 10),
      |trunck AS (SELECT query_id, corpus_id FROM (
      |  SELECT q.query_id, c.vec_id AS corpus_id,
      |    row_number() OVER (PARTITION BY q.query_id ORDER BY
      |      list_reduce(list_transform(range(1, len(c.tvec)+1),
      |        i -> c.tvec[i] * q.tqvec[i]), (a, b) -> a + b)
      |        / (c.tnrm * q.tqnrm) DESC, c.vec_id) AS rank
      |  FROM n c, q WHERE c.vec_id <> q.query_id) WHERE rank <= 10),
      |ov AS (SELECT f.query_id, count(*) AS h
      |  FROM fullk f JOIN trunck t
      |    ON f.query_id = t.query_id AND f.corpus_id = t.corpus_id
      |  GROUP BY f.query_id)
      |SELECT q.query_id, coalesce(ov.h, 0) AS hits,
      |  round(CAST(coalesce(ov.h, 0) AS DOUBLE) / 10.0e0, 6) AS recall
      |FROM q LEFT JOIN ov USING (query_id)
      |ORDER BY query_id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q167_anova", q167, q167Sql),
    Query("q168_wilson", q168, q168Sql),
    Query("q169_cramers_v", q169, q169Sql),
    Query("q170_mutual_info", q170, q170Sql),
    Query("q171_cohen_kappa", q171, q171Sql),
    Query("q172_adamic_adar", q172, q172Sql),
    Query("q173_changepoint", q173, q173Sql),
    Query("q174_cross_correlation", q174, q174Sql),
    Query("q175_truncation_recall", q175, q175Sql))
}
