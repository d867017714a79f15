package graft.queries

import graft.ops.{NonParam, Profile, Trend}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 "wave 6" query set (q152+): nonparametric statistics,
  * trend/changepoint analytics, graph structure metrics, and
  * operational data audits. Same contract as every other wave: each
  * query has a DuckDB oracle, doubles round to 6 dp, order-sensitive
  * sums go through DECIMAL (or stay integral), output orders
  * tie-break deterministically.
  */
object Wave6Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q152
  /** Spearman rank correlation ([[NonParam.spearman]]) between
    * lineitem quantity and extended price: tie-averaged ranks doubled
    * to stay integral, Pearson on the ranks with DECIMAL-exact sums.
    */
  def q152(s: SparkSession, dir: String): DataFrame =
    NonParam.spearman(T(s, dir, "lineitem"), "l_quantity", "l_extendedprice")
  val q152Sql: String =
    """WITH r AS (SELECT
      |    2 * CAST(rank() OVER (ORDER BY l_quantity) AS BIGINT)
      |      + count(*) OVER (PARTITION BY l_quantity) - 1 AS rx,
      |    2 * CAST(rank() OVER (ORDER BY l_extendedprice) AS BIGINT)
      |      + count(*) OVER (PARTITION BY l_extendedprice) - 1 AS ry
      |  FROM lineitem),
      |a AS (SELECT count(*) AS n,
      |    sum(CAST(rx AS HUGEINT)) AS sx, sum(CAST(ry AS HUGEINT)) AS sy,
      |    sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
      |    sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy,
      |    sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy
      |  FROM r)
      |SELECT n, round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |       CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- q153
  /** Two-sample Kolmogorov–Smirnov ([[NonParam.ksTest]]): does the
    * `value` distribution of click events differ from purchases? The
    * max ECDF gap is decided on exact cross-multiplied integers; only
    * the reported `d` divides.
    */
  def q153(s: SparkSession, dir: String): DataFrame =
    NonParam.ksTest(ExtQueries.events(s, dir), "value", "event_type",
      "click", "purchase")
  val q153Sql: String =
    """WITH c AS (SELECT value AS v,
      |    count(*) FILTER (WHERE event_type = 'click') AS ca,
      |    count(*) FILTER (WHERE event_type = 'purchase') AS cb
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY value),
      |cum AS (SELECT
      |    sum(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    sum(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      |  FROM c),
      |t AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM c)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(max(abs(cuma * n_b - cumb * n_a)) AS BIGINT) AS d_num,
      |  round(CAST(max(abs(cuma * n_b - cumb * n_a)) AS DOUBLE) /
      |        CAST(n_a * n_b AS DOUBLE), 6) AS d
      |FROM cum, t GROUP BY n_a, n_b""".stripMargin

  // ---------------------------------------------------------------- q154
  /** Block-jackknife standard error ([[NonParam.blockJackknife]]) of
    * mean extended price: 32 deterministic hash blocks, leave-one-out
    * pseudo-value variance — the uncertainty companion to q27's point
    * estimates.
    */
  def q154(s: SparkSession, dir: String): DataFrame =
    NonParam.blockJackknife(
      T(s, dir, "lineitem")
        .select((col("l_orderkey") * 16 + col("l_linenumber")).as("rid"),
          col("l_extendedprice")),
      "l_extendedprice", "rid", nBlocks = 32)
  val q154Sql: String =
    """WITH src AS (SELECT l_orderkey * 16 + l_linenumber AS rid,
      |    l_extendedprice AS v FROM lineitem),
      |blk AS (SELECT ((rid % 1048576) * 2654435761) % 4294967296 % 32 AS b,
      |    count(*) AS c, sum(CAST(v AS DECIMAL(28,6))) AS s
      |  FROM src GROUP BY 1),
      |tot AS (SELECT sum(c) AS n, sum(s) AS st, count(*) AS g,
      |    CAST(sum(s) AS DOUBLE) / sum(c) AS mean FROM blk),
      |pv AS (SELECT n, g, mean,
      |    CAST(st - s AS DOUBLE) / CAST(n - c AS DOUBLE) AS m_i
      |  FROM blk, tot),
      |a AS (SELECT n, g, mean,
      |    CAST(sum(CAST(m_i AS DECIMAL(38,18))) AS DOUBLE) / g AS mbar,
      |    sum(CAST(m_i * m_i AS DECIMAL(38,18))) AS ssq
      |  FROM pv GROUP BY n, g, mean),
      |se AS (SELECT CAST(n AS BIGINT) AS n, round(mean, 6) AS mean,
      |    round(sqrt(CAST(g - 1 AS DOUBLE) / g *
      |      (CAST(ssq AS DOUBLE) - g * mbar * mbar)), 6) AS se_jack
      |  FROM a)
      |SELECT n, mean, se_jack,
      |  round(mean - 1.96e0 * se_jack, 6) AS ci_lo,
      |  round(mean + 1.96e0 * se_jack, 6) AS ci_hi
      |FROM se""".stripMargin

  // ----------------------------------------------------- daily series
  /** Shared input for the trend queries (q155–q157): per-event-type
    * daily value sums, DECIMAL-exact then rounded to 6 dp so both
    * engines fold over bit-identical series; `idx` = day-of-January
    * (the events table spans 2024-01).
    */
  private def dailySeries(s: SparkSession, dir: String): DataFrame =
    ExtQueries.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value").cast(DecimalType(18, 6))).cast("double"), 6)
        .as("daily"))
      .withColumn("idx",
        (datediff(col("day").cast("date"), lit("2024-01-01").cast("date"))
          + 1).cast("long"))
      .select("event_type", "idx", "daily")

  private val dailySeriesSql: String =
    """SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |                   CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT)
      |      AS idx,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
      |      AS daily
      |  FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q155
  /** Mann–Kendall trend + Theil–Sen slope ([[Trend.mannKendall]]) of
    * each event type's daily value series: S on exact sign counts, the
    * slope as the lower median of pairwise slopes. Pairs are O(days²)
    * per key — bounded, never corpus-sized.
    */
  def q155(s: SparkSession, dir: String): DataFrame =
    Trend.mannKendall(dailySeries(s, dir), "event_type", "idx", "daily")
      .orderBy("event_type")
  val q155Sql: String =
    s"""WITH s AS ($dailySeriesSql),
       |p AS (SELECT a.event_type, a.idx AS i, b.idx AS j,
       |    b.daily - a.daily AS dv,
       |    (b.daily - a.daily) / (b.idx - a.idx) AS slope
       |  FROM s a JOIN s b
       |    ON a.event_type = b.event_type AND a.idx < b.idx),
       |rk AS (SELECT event_type, dv, slope,
       |    row_number() OVER (PARTITION BY event_type
       |                       ORDER BY slope, i, j) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n_pairs
       |  FROM p),
       |ag AS (SELECT event_type, n_pairs,
       |    sum(CAST(sign(dv) AS BIGINT)) AS s_stat,
       |    max(CASE WHEN rn = (n_pairs + 1) // 2 THEN slope END) AS ts
       |  FROM rk GROUP BY event_type, n_pairs),
       |ns AS (SELECT event_type, count(*) AS n FROM s GROUP BY 1)
       |SELECT ns.event_type, ns.n, ag.n_pairs,
       |  CAST(ag.s_stat AS BIGINT) AS s_stat,
       |  round(ag.ts, 6) AS theil_sen
       |FROM ns JOIN ag USING (event_type)
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q156
  /** Holt double-exponential smoothing ([[Trend.holt]], α=½ β=0.25)
    * of the daily series — level, trend, and one-step forecast per
    * event type. The oracle replays the recurrence as a RECURSIVE CTE
    * (one row per step) rather than a list_reduce struct fold: DuckDB
    * v1.0.0 evaluates struct-lambda folds with inconsistent
    * field-update ordering across steps, while recursive-CTE scalar
    * projection reproduces the engine's fold op-for-op.
    */
  def q156(s: SparkSession, dir: String): DataFrame =
    Trend.holt(dailySeries(s, dir), "event_type", "idx", "daily",
      beta = 0.25)
      .orderBy("event_type")
  val q156Sql: String =
    s"""WITH RECURSIVE s AS ($dailySeriesSql),
       |n AS (SELECT event_type, daily,
       |    row_number() OVER (PARTITION BY event_type ORDER BY idx) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS len
       |  FROM s),
       |rec AS (
       |  SELECT event_type, rn, len, daily AS l, 0.0e0 AS t
       |  FROM n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.event_type, n.rn, n.len,
       |    0.5e0 * n.daily + 0.5e0 * (rec.l + rec.t) AS l,
       |    0.25e0 * (n.daily
       |              - (0.5e0 * n.daily + 0.5e0 * (rec.l + rec.t)))
       |      + rec.t AS t
       |  FROM rec JOIN n
       |    ON n.event_type = rec.event_type AND n.rn = rec.rn + 1)
       |SELECT event_type, len AS n, round(l, 6) AS level,
       |  round(t, 6) AS trend, round(l + t, 6) AS forecast
       |FROM rec WHERE rn = len ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q157
  /** CUSUM drift detection ([[Trend.cusum]]): one-sided cumulative
    * excursion of each event type's daily sums above the GLOBAL mean
    * daily sum (6-dp-rounded, broadcast as the target). Pure window
    * algebra in DECIMAL — S's running sums, mins and the final max are
    * all exact, so the only floats are the two reported quotients.
    */
  def q157(s: SparkSession, dir: String): DataFrame = {
    val series = dailySeries(s, dir)
    val tgt = series.agg(
      round(sum(col("daily").cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)), 6).as("tgt"))
    Trend.cusum(series.crossJoin(broadcast(tgt)),
      "event_type", "idx", "daily", "tgt")
      .orderBy("event_type")
  }
  val q157Sql: String =
    s"""WITH s AS ($dailySeriesSql),
       |t AS (SELECT round(CAST(sum(CAST(daily AS DECIMAL(18,6))) AS DOUBLE)
       |             / count(*), 6) AS tgt FROM s),
       |c AS (SELECT event_type, idx, tgt,
       |    sum(CAST(daily AS DECIMAL(18,6)) - CAST(tgt AS DECIMAL(18,6)))
       |      OVER (PARTITION BY event_type ORDER BY idx
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM s, t),
       |sv AS (SELECT event_type, tgt,
       |    c - least(CAST(0 AS DECIMAL(18,6)), min(c)
       |      OVER (PARTITION BY event_type ORDER BY idx
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sv
       |  FROM c)
       |SELECT event_type, count(*) AS n,
       |  round(CAST(max(sv) AS DOUBLE), 6) AS max_cusum,
       |  round(CAST(max(sv) AS DOUBLE) / any_value(tgt), 6) AS rel
       |FROM sv GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------- co-order graph
  /** Shared input for the graph-structure queries (q158–q160): the
    * part co-purchase graph — an edge between two parts that appear
    * together in ≥ 2 distinct orders ([[graft.ops.Graph.coOccurrenceEdges]]).
    * Pair generation is O(lines²) per order (≤ 7 lines), so the build
    * is one bounded self-join however large lineitem grows.
    */
  private[queries] def coOrderEdges(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.coOccurrenceEdges(
      T(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", minShared = 2L)

  private[queries] val coOrderEdgesSql: String =
    """SELECT a.item AS src, b.item AS dst
      |  FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |        FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |        FROM lineitem) b
      |    ON a.g = b.g AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  // ---------------------------------------------------------------- q158
  /** Triangle count + local clustering coefficient per part
    * ([[graft.ops.Graph.triangleStats]]) over the co-order graph: the
    * degree-ordered wedge join closes each triangle exactly once at
    * its (degree, id)-minimal corner.
    */
  def q158(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleStats(coOrderEdges(s, dir)).orderBy("node")
  val q158Sql: String =
    s"""WITH e AS ($coOrderEdgesSql),
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
       |pn AS (SELECT node, count(*) AS tri FROM (
       |    SELECT u AS node FROM tri
       |    UNION ALL SELECT v1 FROM tri
       |    UNION ALL SELECT v2 FROM tri) GROUP BY 1)
       |SELECT deg.node, deg.deg, coalesce(pn.tri, 0) AS tri,
       |  round(CASE WHEN deg.deg >= 2
       |    THEN 2.0e0 * coalesce(pn.tri, 0) / (deg.deg * (deg.deg - 1))
       |    ELSE 0.0e0 END, 6) AS clustering
       |FROM deg LEFT JOIN pn USING (node)
       |ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q159
  /** Bounded 3-round k-core peel at k = 2 (prune pendant trees;
    * k = 2 stays non-degenerate at every scale factor — the co-order
    * graph sparsifies as the part domain outgrows the basket size)
    * ([[graft.ops.Graph.kCorePeel]]): survivors with residual degree
    * and the in-core flag — the "densely cross-sold parts" audit.
    */
  def q159(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.kCorePeel(coOrderEdges(s, dir), k = 2L, rounds = 3)
      .orderBy("node")
  val q159Sql: String = {
    def peel(prev: String, i: Int): String =
      s"""a$i AS (SELECT node FROM (SELECT node, count(*) AS d FROM $prev
         |  GROUP BY 1) WHERE d >= 2),
         |s$i AS (SELECT s.node, s.nbr FROM $prev s
         |  JOIN a$i x ON s.node = x.node
         |  JOIN a$i y ON s.nbr = y.node)""".stripMargin
    s"""WITH e AS ($coOrderEdgesSql),
       |s0 AS (SELECT src AS node, dst AS nbr FROM e
       |       UNION ALL SELECT dst, src FROM e),
       |${peel("s0", 1)},
       |${peel("s1", 2)},
       |${peel("s2", 3)}
       |SELECT node, count(*) AS deg, count(*) >= 2 AS in_core
       |FROM s3 GROUP BY 1 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q160
  /** Degree assortativity of the co-order graph
    * ([[graft.ops.Graph.degreeAssortativity]]): do high-degree parts
    * co-sell with other high-degree parts? DECIMAL-exact sums, one
    * fixed-order double expression.
    */
  def q160(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.degreeAssortativity(coOrderEdges(s, dir))
  val q160Sql: String =
    s"""WITH e AS ($coOrderEdgesSql),
       |sym AS (SELECT src AS node, dst AS nbr FROM e
       |        UNION ALL SELECT dst, src FROM e),
       |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY 1),
       |p AS (SELECT dx.deg AS a, dy.deg AS b
       |  FROM sym JOIN deg dx ON sym.node = dx.node
       |           JOIN deg dy ON sym.nbr = dy.node),
       |s AS (SELECT count(*) AS m,
       |    sum(CAST(a AS HUGEINT)) AS sx,
       |    sum(CAST(a AS HUGEINT) * CAST(b AS HUGEINT)) AS sxy,
       |    sum(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS sxx
       |  FROM p)
       |SELECT m // 2 AS n_edges,
       |  round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       |    AS assortativity
       |FROM s""".stripMargin

  // ---------------------------------------------------------------- q161
  /** Pairwise association rules over order baskets
    * ([[graft.ops.Association.rules]]): support, directional
    * confidence and lift for part pairs co-ordered ≥ 2 times — the
    * metric layer on the same bounded basket self-join as q158's
    * edges.
    */
  def q161(s: SparkSession, dir: String): DataFrame =
    graft.ops.Association.rules(
      T(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", minShared = 2L)
      .orderBy("a", "b")
  val q161Sql: String =
    """WITH f AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |           FROM lineitem),
      |ps AS (SELECT a.item AS a, b.item AS b, count(*) AS s_ab
      |  FROM f a JOIN f b ON a.g = b.g AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |isup AS (SELECT item, count(*) AS s FROM f GROUP BY 1),
      |t AS (SELECT count(DISTINCT g) AS n_baskets FROM f)
      |SELECT ps.a, ps.b, ia.s AS s_a, ib.s AS s_b, ps.s_ab,
      |  round(CAST(ps.s_ab AS DOUBLE) / ia.s, 6) AS conf_ab,
      |  round(CAST(ps.s_ab AS DOUBLE) / ib.s, 6) AS conf_ba,
      |  round(CAST(n_baskets AS DOUBLE) * ps.s_ab / (ia.s * ib.s), 6)
      |    AS lift
      |FROM ps JOIN isup ia ON ps.a = ia.item
      |        JOIN isup ib ON ps.b = ib.item, t
      |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Kaplan–Meier survival of user lifetimes
    * ([[graft.ops.Survival.kaplanMeier]]): duration = whole HOURS
    * between a user's first and last event (integer-microsecond floor
    * division — exact on both engines), observed = the user ever
    * purchased (otherwise right-censored). Exact risk-set integers;
    * the curve is a sequential double fold the oracle replays per
    * prefix.
    */
  def q162(s: SparkSession, dir: String): DataFrame = {
    val hours = expr("unix_micros(max(ts)) div 3600000000" +
      " - unix_micros(min(ts)) div 3600000000")
    val users = ExtQueries.events(s, dir).groupBy("user_id")
      .agg(hours.as("dur"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) > 0)
          .as("obs"))
    graft.ops.Survival.kaplanMeier(users, "dur", "obs").orderBy("dur")
  }
  val q162Sql: String =
    """WITH u AS (SELECT user_id,
      |    epoch_us(max(ts)) // 3600000000 - epoch_us(min(ts)) // 3600000000
      |      AS dur,
      |    count(*) FILTER (WHERE event_type = 'purchase') > 0 AS obs
      |  FROM events GROUP BY 1),
      |pt AS (SELECT dur AS t, count(*) FILTER (WHERE obs) AS d,
      |    count(*) AS lv FROM u GROUP BY 1),
      |tot AS (SELECT count(*) AS n_total FROM u),
      |r AS (SELECT t,
      |    n_total - coalesce(sum(lv) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk,
      |    d, lv - d AS c
      |  FROM pt, tot),
      |arr AS (SELECT list(struct_pack(t := t, n_risk := n_risk, d := d,
      |    c := c) ORDER BY t) AS a FROM r),
      |sel AS (SELECT a, unnest(range(1, len(a) + 1)) AS i FROM arr)
      |SELECT a[i].t AS dur, CAST(a[i].n_risk AS BIGINT) AS n_risk, a[i].d AS d,
      |  a[i].c AS c,
      |  round(list_reduce(list_prepend(1.0e0,
      |    list_transform(a[1:i],
      |      x -> 1.0e0 - CAST(x.d AS DOUBLE) / x.n_risk)),
      |    (p, f) -> p * f), 6) AS survival
      |FROM sel ORDER BY dur""".stripMargin

  // ---------------------------------------------------------------- q163
  /** Welch's t-test ([[NonParam.welchT]]) on event value, click vs
    * purchase — the parametric companion to q153's KS test, from one
    * split-long exact-moment pass.
    */
  def q163(s: SparkSession, dir: String): DataFrame =
    NonParam.welchT(ExtQueries.events(s, dir), "value", "event_type",
      "click", "purchase")
  val q163Sql: String = {
    def vq(e: String) = s"CAST(floor(($e) * 10000.0e0 + 0.5e0) AS BIGINT)"
    def m(nm: String) =
      s"CAST(CAST(${nm}_hi AS HUGEINT) * 1048576 + ${nm}_lo AS DOUBLE) / 10000.0e0"
    def sums(lbl: String, sfx: String) =
      s"""count(*) FILTER (WHERE event_type = '$lbl') AS n_$sfx,
         |    sum(${vq("value")} >> 20)
         |      FILTER (WHERE event_type = '$lbl') AS s_${sfx}_hi,
         |    sum(${vq("value")} & 1048575)
         |      FILTER (WHERE event_type = '$lbl') AS s_${sfx}_lo,
         |    sum(${vq("value * value")} >> 20)
         |      FILTER (WHERE event_type = '$lbl') AS ss_${sfx}_hi,
         |    sum(${vq("value * value")} & 1048575)
         |      FILTER (WHERE event_type = '$lbl') AS ss_${sfx}_lo""".stripMargin
    s"""WITH m AS (SELECT
       |    ${sums("click", "a")},
       |    ${sums("purchase", "b")}
       |  FROM events WHERE event_type IN ('click', 'purchase')),
       |r AS (SELECT n_a, n_b,
       |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
       |    ${m("s_a")} AS sa, ${m("s_b")} AS sb,
       |    ${m("ss_a")} AS ssa, ${m("ss_b")} AS ssb
       |  FROM m),
       |w AS (SELECT n_a, n_b, na, nb, sa / na AS ma, sb / nb AS mb,
       |    ((na * ssa - sa * sa) / (na * (na - 1))) / na AS wa,
       |    ((nb * ssb - sb * sb) / (nb * (nb - 1))) / nb AS wb
       |  FROM r)
       |SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       |  round((ma - mb) / sqrt(wa + wb), 6) AS t_stat,
       |  round((wa + wb) * (wa + wb) /
       |        (wa * wa / (na - 1) + wb * wb / (nb - 1)), 6) AS df_welch
       |FROM w""".stripMargin
  }

  // ---------------------------------------------------------------- q164
  /** Additive seasonal decomposition + residual anomaly screen
    * ([[Trend.seasonalDecompose]]) of the per-event-type daily series:
    * ±3-day centered-mean trend, day-of-week seasonal component, and a
    * per-type residual z-score with |z| > 2 flagged.
    */
  def q164(s: SparkSession, dir: String): DataFrame =
    Trend.seasonalDecompose(dailySeries(s, dir), "event_type", "idx",
      "daily", period = 7, halfWindow = 3, zThreshold = 2.0)
      .orderBy("event_type", "idx")
  val q164Sql: String =
    s"""WITH s AS ($dailySeriesSql),
       |tr AS (SELECT event_type, idx, daily,
       |    round(CAST(sum(CAST(daily AS DECIMAL(18,6))) OVER w AS DOUBLE)
       |          / count(*) OVER w, 6) AS trend
       |  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY idx
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |dt AS (SELECT *, idx % 7 AS wd,
       |    round(daily - trend, 6) AS detrend FROM tr),
       |se AS (SELECT event_type AS et2, wd AS wd2,
       |    round(CAST(sum(CAST(detrend AS DECIMAL(18,6))) AS DOUBLE)
       |          / count(*), 6) AS seasonal
       |  FROM dt GROUP BY 1, 2),
       |res AS (SELECT event_type, idx, daily, trend, seasonal,
       |    round(daily - trend - seasonal, 6) AS resid
       |  FROM dt JOIN se ON event_type = et2 AND wd = wd2),
       |q AS (SELECT *, CAST(floor(resid * 1000000.0e0 + 0.5e0) AS BIGINT)
       |    AS rq FROM res),
       |sd AS (SELECT event_type AS et3, count(*) AS n,
       |    CAST(sum(rq) AS DOUBLE) / 1000000.0e0 AS sr,
       |    CAST(sum(CAST(rq AS HUGEINT) * rq) AS DOUBLE)
       |      / 1000000000000.0e0 AS srr
       |  FROM q GROUP BY 1)
       |SELECT event_type, idx, daily, trend, seasonal, resid,
       |  round(resid / sqrt((srr - sr * sr / n) / (n - 1)), 6) AS z,
       |  abs(resid / sqrt((srr - sr * sr / n) / (n - 1))) > 2.0e0
       |    AS is_anomaly
       |FROM q JOIN sd ON event_type = et3
       |ORDER BY event_type, idx""".stripMargin

  // ---------------------------------------------------------------- q165
  /** Leave-one-out target encoding
    * ([[graft.ops.ext.FeatureEncode.looTargetEncode]]): each lineitem
    * row's l_partkey encoded as the mean extended price of the part's
    * OTHER rows — the leakage-safe training feature, DECIMAL-exact.
    */
  def q165(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.FeatureEncode.looTargetEncode(
      T(s, dir, "lineitem")
        .select((col("l_orderkey") * 16 + col("l_linenumber")).as("rid"),
          col("l_partkey"), col("l_extendedprice")),
      "l_partkey", "l_extendedprice", "rid")
      .orderBy("rid")
  val q165Sql: String =
    """WITH src AS (SELECT l_orderkey * 16 + l_linenumber AS rid,
      |    l_partkey, CAST(l_extendedprice AS DECIMAL(28,6)) AS v
      |  FROM lineitem),
      |w AS (SELECT rid, l_partkey, v,
      |    sum(v) OVER (PARTITION BY l_partkey) AS s,
      |    count(*) OVER (PARTITION BY l_partkey) AS c
      |  FROM src)
      |SELECT rid, l_partkey,
      |  CASE WHEN c > 1
      |    THEN CAST(floor(CAST(s - v AS DOUBLE) / (c - 1)
      |              * 1000000.0e0 + 0.5e0) AS DOUBLE) / 1000000.0e0
      |    END AS loo_mean
      |FROM w ORDER BY rid""".stripMargin

  // ---------------------------------------------------------------- q166
  /** Population Stability Index ([[Profile.psiDrift]]) of order total
    * price, pre-1998 orders (reference) vs the rest (current): 10
    * global equi-width bins, add-one smoothing, per-bin contributions
    * and the order-free quantized total.
    */
  def q166(s: SparkSession, dir: String): DataFrame =
    Profile.psiDrift(T(s, dir, "orders"),
      col("o_orderdate") < lit("1998-01-01").cast("timestamp"),
      "o_totalprice", buckets = 10)
      .orderBy("bucket")
  val q166Sql: String =
    """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
      |    (max(o_totalprice) - min(o_totalprice)) / 10.0e0 AS w
      |  FROM orders),
      |cnt AS (SELECT
      |    CAST(least(floor((o_totalprice - mn) / w), 9.0e0) AS BIGINT)
      |      AS bucket,
      |    count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1998-01-01')
      |      AS cnt_l,
      |    count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1998-01-01')
      |      AS cnt_r
      |  FROM orders, mm GROUP BY 1),
      |dom AS (SELECT unnest(range(0, 10)) AS bucket, mn, w FROM mm),
      |j AS (SELECT dom.bucket,
      |    round(mn + dom.bucket * w, 6) AS lo,
      |    round(mn + (dom.bucket + 1) * w, 6) AS hi,
      |    coalesce(cnt_l, 0) AS cnt_l, coalesce(cnt_r, 0) AS cnt_r
      |  FROM dom LEFT JOIN cnt ON dom.bucket = cnt.bucket),
      |tot AS (SELECT sum(cnt_l) AS tl, sum(cnt_r) AS tr FROM j),
      |e AS (SELECT bucket, lo, hi, cnt_l, cnt_r,
      |    CAST(cnt_l + 1 AS DOUBLE) / CAST(tl + 10 AS DOUBLE) AS p0,
      |    CAST(cnt_r + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE) AS q0
      |  FROM j, tot),
      |c AS (SELECT bucket, lo, hi, cnt_l, cnt_r,
      |    round(p0, 6) AS p, round(q0, 6) AS q,
      |    round((p0 - q0) * ln(p0 / q0), 6) AS contrib
      |  FROM e)
      |SELECT *, round(CAST(sum(CAST(floor(contrib * 1000000.0e0 + 0.5e0)
      |    AS BIGINT)) OVER () AS DOUBLE) / 1000000.0e0, 6) AS psi_total
      |FROM c ORDER BY bucket""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q152_spearman", q152, q152Sql),
    Query("q153_ks_test", q153, q153Sql),
    Query("q154_jackknife", q154, q154Sql),
    Query("q155_mann_kendall", q155, q155Sql),
    Query("q156_holt", q156, q156Sql),
    Query("q157_cusum", q157, q157Sql),
    Query("q158_triangles", q158, q158Sql),
    Query("q159_kcore", q159, q159Sql),
    Query("q160_assortativity", q160, q160Sql),
    Query("q161_assoc_rules", q161, q161Sql),
    Query("q162_kaplan_meier", q162, q162Sql),
    Query("q163_welch_ttest", q163, q163Sql),
    Query("q164_seasonal", q164, q164Sql),
    Query("q165_loo_encode", q165, q165Sql),
    Query("q166_psi_drift", q166, q166Sql))
}
