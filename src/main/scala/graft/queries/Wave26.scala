package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 "wave 26" query set (q257–q260): native Jaro-Winkler fuzzy
  * vocabulary join, deflated second spectral direction, the
  * Cochran–Mantel–Haenszel stratified test, and the Durbin–Watson
  * residual diagnostic. Same contract as every wave: DuckDB oracle per
  * query, doubles round to 6 dp, integer sums BIGINT-cast in the
  * oracle, fixed-point quantization before any cross-row float sum,
  * deterministic tie-breaks.
  */
object Wave26Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q257
  /** Jaro-Winkler fuzzy vocabulary join ([[graft.ops.FuzzyJoin
    * .jaroWinkler]], the native codegen'd kernel): deterministic typo
    * variants of the document vocabulary (last char dropped /
    * first-two swapped) matched back against the clean words, blocked
    * on a symmetrized two-char prefix + ±2 length band, pairs scoring
    * ≥ 0.87 — the string-similarity companion to the
    * levenshtein-banded q111. The blocking is O(block²) per bucket,
    * never vocabulary-quadratic.
    */
  def q257(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    // dirty side: deterministic typos of every vocab word — last char
    // dropped, and first two chars swapped (the same construction the
    // near-dup corpora use: the synthetic vocab has no natural typos)
    val vocab = T(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 4)
      .distinct()
    val dirty = vocab
      .select(expr("substr(w, 1, length(w) - 1)").as("d"))
      .unionByName(vocab.select(
        expr("concat(substr(w, 2, 1), substr(w, 1, 1), substr(w, 3))")
          .as("d")))
      .distinct()
    // blocking: symmetrized first-two-char key (order-free, so the
    // swapped-prefix typo still lands in its source word's block) +
    // length band — O(block²), never vocab-quadratic
    def blk(c: Column) = concat(
      least(substring(c, 1, 1), substring(c, 2, 1)),
      greatest(substring(c, 1, 1), substring(c, 2, 1)))
    val cand = dirty.select(col("d"), blk(col("d")).as("blk"),
        length(col("d")).as("len"))
      .join(vocab.select(col("w"), blk(col("w")).as("blk"),
        length(col("w")).as("len2")),
        Seq("blk"))
      .filter(abs(col("len") - col("len2")) <= 2)
    cand
      .select(col("d").as("dirty"), col("w").as("word"),
        round(graft.ops.FuzzyJoin.jaroWinkler(col("d"), col("w")), 6)
          .as("jw"))
      .filter(col("jw") >= 0.87)
      .orderBy("dirty", "word")
  }
  val q257Sql: String =
    """WITH vocab AS (SELECT DISTINCT w FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |      '[^a-z0-9]+'), x -> len(x) > 0)) AS w FROM documents)
      |  WHERE len(w) >= 4),
      |dirty AS (SELECT DISTINCT d FROM (
      |    SELECT substr(w, 1, len(w) - 1) AS d FROM vocab
      |    UNION ALL
      |    SELECT substr(w, 2, 1) || substr(w, 1, 1) || substr(w, 3) AS d
      |    FROM vocab)),
      |db AS (SELECT d, least(substr(d, 1, 1), substr(d, 2, 1))
      |    || greatest(substr(d, 1, 1), substr(d, 2, 1)) AS blk,
      |    len(d) AS l FROM dirty),
      |vb AS (SELECT w, least(substr(w, 1, 1), substr(w, 2, 1))
      |    || greatest(substr(w, 1, 1), substr(w, 2, 1)) AS blk,
      |    len(w) AS l FROM vocab)
      |SELECT db.d AS dirty, vb.w AS word,
      |  round(jaro_winkler_similarity(db.d, vb.w), 6) AS jw
      |FROM db JOIN vb ON db.blk = vb.blk AND abs(db.l - vb.l) <= 2
      |WHERE round(jaro_winkler_similarity(db.d, vb.w), 6) >= 0.87
      |ORDER BY dirty, word""".stripMargin

  // ---------------------------------------------------------------- q258
  /** Top-two spectral directions ([[graft.ops.ext.Spectral
    * .topTwoEigen]]): q146's dominant direction plus the second
    * principal axis by deflated power iteration (3+3 rounds), the
    * whole (loading1, loading2, eig1, eig2, orthogonality residual)
    * frame hash-matched against the unrolled-CTE oracle.
    */
  def q258(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Spectral.topTwoEigen(T(s, dir, "embeddings"),
      "embedding", dims = 64, iters = 3)
  val q258Sql: String = {
    val dec = "DECIMAL(38,18)"
    val vq = "CAST(floor((a.x * b.x + 4.0) * 100000000.0e0 + 0.5e0) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= s"""WITH v AS (SELECT vec_id AS id, [x::DOUBLE for x in embedding] AS vec
       |           FROM embeddings),
       |e AS (SELECT id, CAST(o - 1 AS BIGINT) AS i, x
       |      FROM (SELECT id, unnest(vec) AS x,
       |              generate_subscripts(vec, 1) AS o FROM v)),
       |m AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
       |        (CAST(CAST(sum(($vq >> 20)) AS HUGEINT) * 1048576
       |              + sum(($vq & 1048575)) AS DOUBLE) / 100000000.0e0
       |         - 4.0 * count(*)) / count(*) AS m
       |      FROM e a JOIN e b USING (id) GROUP BY 1, 2),
       |v0 AS (SELECT CAST(i AS BIGINT) AS i, 1.0e0 / sqrt(64.0e0) AS v
       |       FROM range(64) t(i))""".stripMargin
    for (r <- 1 to 3) {
      sb ++= s""",
        |w$r AS MATERIALIZED (SELECT m.i, CAST(sum(CAST(m.m * p.v AS $dec)) AS DOUBLE) AS w
        |        FROM m JOIN v${r - 1} p ON m.j = p.i GROUP BY m.i),
        |n$r AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS $dec)) AS DOUBLE)) AS nrm
        |        FROM w$r),
        |v$r AS MATERIALIZED (SELECT i, w / nrm AS v FROM w$r, n$r)""".stripMargin
    }
    sb ++= """,
      |u0 AS MATERIALIZED (SELECT i, v FROM v0)""".stripMargin
    for (r <- 1 to 3) {
      sb ++= s""",
        |uw$r AS MATERIALIZED (SELECT m.i, CAST(sum(CAST(m.m * p.v AS $dec)) AS DOUBLE) AS w
        |         FROM m JOIN u${r - 1} p ON m.j = p.i GROUP BY m.i),
        |ud$r AS MATERIALIZED (SELECT CAST(sum(CAST(u.v * v1.v AS $dec)) AS DOUBLE) AS d
        |         FROM u${r - 1} u JOIN v3 v1 USING (i)),
        |uwd$r AS MATERIALIZED (SELECT uw$r.i,
        |    uw$r.w - n3.nrm * ud$r.d * v3.v AS w
        |  FROM uw$r JOIN v3 USING (i), ud$r, n3),
        |un$r AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS $dec)) AS DOUBLE)) AS nrm
        |         FROM uwd$r),
        |u$r AS MATERIALIZED (SELECT i, w / nrm AS v FROM uwd$r, un$r)""".stripMargin
    }
    sb ++= s""",
      |resid AS (SELECT CAST(sum(CAST(u.v * v1.v AS $dec)) AS DOUBLE) AS rd
      |          FROM u3 u JOIN v3 v1 USING (i))
      |SELECT v3.i AS dim, round(v3.v, 6) AS loading1,
      |  round(u3.v, 6) AS loading2, round(n3.nrm, 6) AS eig1,
      |  round(un3.nrm, 6) AS eig2, round(resid.rd, 6) AS v1_dot_v2
      |FROM v3 JOIN u3 USING (i), n3, un3, resid ORDER BY dim""".stripMargin
    sb.toString
  }

  // ---------------------------------------------------------------- q259
  /** Cochran–Mantel–Haenszel ([[graft.ops.Hypothesis.cmh]]): does the
    * customer-parity "exposure" associate with high-value orders once
    * order priority strata are held fixed — the stratified-confounding
    * companion to the marginal chi-square (q139).
    */
  def q259(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(
      col("o_orderpriority").as("stratum"),
      (pmod(col("o_custkey"), lit(2L)) === 1).as("exposed"),
      (col("o_totalprice") > 150000.0).as("outcome"))
    graft.ops.Hypothesis.cmh(o, "stratum", "exposed", "outcome")
  }
  val q259Sql: String =
    """WITH src AS (SELECT o_orderpriority AS s,
      |    o_custkey % 2 = 1 AS e, o_totalprice > 150000.0e0 AS o
      |  FROM orders),
      |cells AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS r1,
      |    CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a
      |  FROM src GROUP BY s HAVING count(*) > 1),
      |terms AS (SELECT a,
      |    CAST(r1 * c1 AS DOUBLE) / CAST(n AS DOUBLE) AS ev,
      |    (CAST(r1 * (n - r1) AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(c1 * (n - c1) AS DOUBLE) / CAST(n AS DOUBLE))
      |      / CAST(n - 1 AS DOUBLE) AS vv
      |  FROM cells),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |    CAST(sum(a) AS BIGINT) AS o_sum,
      |    CAST(sum(CAST(floor(ev * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS eq,
      |    CAST(sum(CAST(floor(vv * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS vq
      |  FROM terms)
      |SELECT n_strata, o_sum,
      |  round(CAST(eq AS DOUBLE) / 1000000000.0e0, 6) AS e_sum,
      |  round(CAST(vq AS DOUBLE) / 1000000000.0e0, 6) AS v_sum,
      |  round((CAST(o_sum AS DOUBLE) - CAST(eq AS DOUBLE) / 1000000000.0e0)
      |    * (CAST(o_sum AS DOUBLE) - CAST(eq AS DOUBLE) / 1000000000.0e0)
      |    / (CAST(vq AS DOUBLE) / 1000000000.0e0), 6) AS chi2
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- q260
  /** Durbin–Watson ([[graft.ops.Trend.durbinWatson]]) on each event
    * type's daily value series against its own linear trend — the
    * residual-autocorrelation diagnostic that tells whether the q140
    * OLS-style fits leave serial structure behind (q147 measures
    * autocorrelation of the series; DW measures it of the residuals).
    */
  def q260(s: SparkSession, dir: String): DataFrame = {
    val daily = ExtQueries.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value").cast(DecimalType(18, 6))).cast("double"),
        6).as("daily"))
      .withColumn("idx",
        (datediff(col("day").cast("date"), lit("2024-01-01").cast("date"))
          + 1).cast("long"))
      .select("event_type", "idx", "daily")
    graft.ops.Trend.durbinWatson(daily, "event_type", "idx", "daily")
      .orderBy("event_type")
  }
  val q260Sql: String =
    """WITH s AS (SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |                   CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT)
      |      AS idx,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
      |      AS daily
      |  FROM events GROUP BY 1, 2),
      |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(idx) AS BIGINT) AS sx,
      |    CAST(sum(idx * idx) AS BIGINT) AS sxx,
      |    sum(CAST(daily AS DECIMAL(18,6))) AS sy,
      |    sum(CAST(daily AS DECIMAL(18,6)) * idx) AS sxy
      |  FROM s GROUP BY event_type),
      |fit AS (SELECT event_type, n,
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE) AS b, sy, sx
      |  FROM mom),
      |fit2 AS (SELECT event_type, n, b,
      |    (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
      |      / CAST(n AS DOUBLE) AS a
      |  FROM fit),
      |res AS (SELECT s.event_type, s.idx, f.n, f.a, f.b,
      |    CAST(daily AS DOUBLE) - (f.a + f.b * CAST(s.idx AS DOUBLE)) AS e
      |  FROM s JOIN fit2 f USING (event_type)),
      |lagged AS (SELECT event_type, n, a, b, e,
      |    lag(e) OVER (PARTITION BY event_type ORDER BY idx) AS ep
      |  FROM res)
      |SELECT event_type, n, round(b, 6) AS slope,
      |  round(a, 6) AS intercept,
      |  round(CAST(CAST(sum(CASE WHEN ep IS NOT NULL THEN
      |        CAST(floor((e - ep) * (e - ep) * 1000000000.0e0 + 0.5e0)
      |          AS BIGINT) ELSE 0 END) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(sum(CAST(floor(e * e * 1000000000.0e0 + 0.5e0)
      |        AS BIGINT)) AS BIGINT) AS DOUBLE), 6) AS dw
      |FROM lagged GROUP BY event_type, n, a, b
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q257_jaro_winkler", q257, q257Sql),
    Query("q258_second_eigen", q258, q258Sql),
    Query("q259_cmh", q259, q259Sql),
    Query("q260_durbin_watson", q260, q260Sql))
}
