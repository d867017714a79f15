package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 51" query set (q357–q360): nonparametric depth —
  * Goodman–Kruskal gamma, the Wald–Wolfowitz runs test,
  * Benjamini–Yekutieli FDR under dependence, and Cochran's Q. Same
  * contract as every wave: DuckDB oracle per query, exact integers
  * to every statistic, one final double division.
  */
object Wave51Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q357
  /** Goodman–Kruskal gamma per brand (part size vs retail cents):
    * (C − D)/(C + D) over untied pairs — the tie-dropping companion
    * to Kendall τ-b (q253), from the same bounded per-brand pair
    * space. All counts exact; gamma null when no untied pair exists.
    */
  def q357(s: SparkSession, dir: String): DataFrame = {
    val p = T(s, dir, "part").select(col("p_brand").as("g"),
      col("p_partkey").as("id"), col("p_size").cast("long").as("x"),
      floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("y"))
    val pairs = p.as("a").join(p.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.g").as("g"),
        (signum(col("b.x") - col("a.x")) *
          signum(col("b.y") - col("a.y"))).cast("long").as("s"))
    pairs.groupBy("g")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("s") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("discordant"))
      .select(col("g").as("p_brand"), col("n_pairs"), col("concordant"),
        col("discordant"),
        when(col("concordant") + col("discordant") > 0,
          round((col("concordant") - col("discordant")).cast("double")
            / (col("concordant") + col("discordant")).cast("double"), 6))
          .as("gamma"))
      .orderBy("p_brand")
  }
  val q357Sql: String =
    """WITH p AS (SELECT p_brand AS g, p_partkey AS id,
      |    CAST(p_size AS BIGINT) AS x,
      |    CAST(floor(p_retailprice * 100.0e0 + 0.5e0) AS BIGINT) AS y
      |  FROM part),
      |pairs AS (SELECT a.g,
      |    CAST(sign(b.x - a.x) * sign(b.y - a.y) AS BIGINT) AS s
      |  FROM p a JOIN p b ON a.g = b.g AND a.id < b.id)
      |SELECT g AS p_brand, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(CASE WHEN s > 0 THEN 1 END) AS BIGINT) AS concordant,
      |  CAST(count(CASE WHEN s < 0 THEN 1 END) AS BIGINT) AS discordant,
      |  CASE WHEN count(CASE WHEN s > 0 THEN 1 END)
      |      + count(CASE WHEN s < 0 THEN 1 END) > 0 THEN
      |    round(CAST(count(CASE WHEN s > 0 THEN 1 END)
      |        - count(CASE WHEN s < 0 THEN 1 END) AS DOUBLE)
      |      / CAST(count(CASE WHEN s > 0 THEN 1 END)
      |        + count(CASE WHEN s < 0 THEN 1 END) AS DOUBLE), 6) END
      |    AS gamma
      |FROM pairs GROUP BY g ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q358
  /** Wald–Wolfowitz runs test per event type: are daily up/down moves
    * random? R = runs of the day-over-day sign sequence (zero moves
    * dropped), z = (R − E[R]) / √Var[R] with E and Var closed forms
    * over exact integer counts. The only float is the final z.
    */
  def q358(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = ExtQueries.events(s, dir).select(col("event_type"),
        (datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")) + 1).cast("long").as("idx"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("qv"))
      .groupBy("event_type", "idx").agg(sum("qv").as("v"))
    val w = Window.partitionBy("event_type").orderBy("idx")
    val moves = daily
      .withColumn("d", col("v") - lag("v", 1).over(w))
      .filter(col("d").isNotNull && col("d") =!= 0)
      .withColumn("up", (col("d") > 0).cast("long"))
    val w2 = Window.partitionBy("event_type").orderBy("idx")
    val runs = moves
      .withColumn("chg",
        when(lag("up", 1).over(w2).isNull ||
          col("up") =!= lag("up", 1).over(w2), 1L).otherwise(0L))
    runs.groupBy("event_type")
      .agg(count(lit(1)).as("n_moves"), sum("up").as("n1"),
        (count(lit(1)) - sum("up")).as("n2"), sum("chg").as("r"))
      .select(col("event_type"), col("n_moves"), col("n1"), col("n2"),
        col("r"),
        round((col("r").cast("double")
          - (lit(1.0) + lit(2.0) * col("n1").cast("double")
            * col("n2").cast("double")
            / (col("n1") + col("n2")).cast("double")))
          / sqrt(lit(2.0) * col("n1").cast("double")
              * col("n2").cast("double")
            * (lit(2.0) * col("n1").cast("double")
              * col("n2").cast("double")
              - (col("n1") + col("n2")).cast("double"))
            / ((col("n1") + col("n2")).cast("double")
              * (col("n1") + col("n2")).cast("double")
              * (col("n1") + col("n2") - 1).cast("double"))), 6).as("z"))
      .orderBy("event_type")
  }
  val q358Sql: String =
    """WITH daily AS (SELECT event_type AS g,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS idx,
      |    CAST(sum(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |mv AS (SELECT g, idx, v - lag(v) OVER w AS d
      |  FROM daily WINDOW w AS (PARTITION BY g ORDER BY idx)),
      |moves AS (SELECT g, idx,
      |    CAST(d > 0 AS BIGINT) AS up
      |  FROM mv WHERE d IS NOT NULL AND d <> 0),
      |runs AS (SELECT g, up,
      |    CASE WHEN lag(up) OVER w IS NULL OR up <> lag(up) OVER w
      |      THEN 1 ELSE 0 END AS chg
      |  FROM moves WINDOW w AS (PARTITION BY g ORDER BY idx)),
      |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_moves,
      |    CAST(sum(up) AS BIGINT) AS n1,
      |    CAST(count(*) - sum(up) AS BIGINT) AS n2,
      |    CAST(sum(chg) AS BIGINT) AS r
      |  FROM runs GROUP BY g)
      |SELECT g AS event_type, n_moves, n1, n2, r,
      |  round((CAST(r AS DOUBLE)
      |    - (1.0e0 + 2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |      / CAST(n1 + n2 AS DOUBLE)))
      |    / sqrt(2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |      * (2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        - CAST(n1 + n2 AS DOUBLE))
      |      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
      |        * CAST(n1 + n2 - 1 AS DOUBLE))), 6) AS z
      |FROM agg ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q359
  /** Benjamini–Yekutieli FDR ([[graft.ops.Hypothesis.byAdjust]]) over
    * the q138 synthetic p-values — valid under arbitrary dependence,
    * with the harmonic inflation factor computed as exact integer
    * divisions Σ⌊10⁹/i⌋ on both engines. Reports the (smaller)
    * significant set beside BH's.
    */
  def q359(s: SparkSession, dir: String): DataFrame = {
    val base = ((col("doc_id") * lit(2654435761L)) % lit(1000003L))
      .cast("double") / lit(1000003.0)
    val p = when(col("doc_id") % 50 === 0, base / lit(1000.0))
      .otherwise(base)
    graft.ops.Hypothesis.byAdjust(
      T(s, dir, "documents").select(col("doc_id"), p.as("p")),
      "p", "doc_id", alpha = 0.05)
      .filter(col("significant"))
      .select(col("doc_id"), col("rank"),
        round(col("p"), 9).as("p"), round(col("q_value"), 9).as("q_value"))
      .orderBy("rank")
  }
  val q359Sql: String =
    """WITH p0 AS (SELECT doc_id,
      |    ((doc_id * 2654435761) % 1000003) / 1000003.0 AS base
      |  FROM documents),
      |p1 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 50 = 0 THEN base / 1000.0 ELSE base END AS p
      |  FROM p0),
      |nn AS (SELECT count(*) AS n FROM p1),
      |hq AS (SELECT CAST(sum(1000000000 // i) AS BIGINT) AS hq
      |  FROM (SELECT unnest(range(1, n + 1)) AS i FROM nn)),
      |r AS (SELECT doc_id, p,
      |    CAST(row_number() OVER (ORDER BY p, doc_id) AS BIGINT) AS rank
      |  FROM p1),
      |q AS (SELECT doc_id, rank, p,
      |    least(1.0, min(p * (CAST(nn.n AS DOUBLE)
      |        * (CAST(hq.hq AS DOUBLE) / 1000000000.0e0)) / rank)
      |      OVER (ORDER BY p DESC, doc_id DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |      AS q_value
      |  FROM r, nn, hq)
      |SELECT doc_id, rank, round(p, 9) AS p, round(q_value, 9) AS q_value
      |FROM q WHERE q_value <= 0.05 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q360
  /** Cochran's Q ([[graft.ops.Hypothesis.cochranQ]]): per user,
    * "active in days 1–10 / 11–20 / 21–30" as three related binary
    * treatments — does activity rate differ across the month's
    * thirds, the k-sample extension of McNemar (q256). The
    * user × period grid is DENSE (crossJoin), so absences count as
    * failures.
    */
  def q360(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val act = ExtQueries.events(s, dir).select(col("user_id"),
        (datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date"))).cast("long").as("d0"))
      .withColumn("period", expr("least(d0 div 10, 2L)"))
      .select("user_id", "period").distinct()
    val users = act.select("user_id").distinct()
    val periods = Seq(0L, 1L, 2L).toDF("period")
    val grid = users.crossJoin(periods)
      .join(act.withColumn("hit", lit(true)), Seq("user_id", "period"),
        "left")
    graft.ops.Hypothesis.cochranQ(grid, "user_id", "period",
      col("hit").isNotNull)
  }
  val q360Sql: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |    least(CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) // 10, 2)
      |      AS period
      |  FROM events),
      |users AS (SELECT DISTINCT user_id FROM act),
      |grid AS (SELECT u.user_id, p.period,
      |    (a.user_id IS NOT NULL) AS x
      |  FROM users u CROSS JOIN (VALUES (0), (1), (2)) p(period)
      |  LEFT JOIN act a ON a.user_id = u.user_id
      |    AND a.period = p.period),
      |cj AS (SELECT period, CAST(count(CASE WHEN x THEN 1 END) AS BIGINT)
      |    AS c
      |  FROM grid GROUP BY period),
      |ca AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(c) AS BIGINT) AS nn,
      |    CAST(sum(c * c) AS BIGINT) AS sc2
      |  FROM cj),
      |ri AS (SELECT user_id, CAST(count(CASE WHEN x THEN 1 END) AS BIGINT)
      |    AS r
      |  FROM grid GROUP BY user_id),
      |ra AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects,
      |    CAST(sum(r * r) AS BIGINT) AS sr2
      |  FROM ri)
      |SELECT k, n_subjects, nn AS n_successes,
      |  CASE WHEN k * nn - sr2 > 0 THEN
      |    round(CAST((k - 1) * (k * sc2 - nn * nn) AS DOUBLE)
      |      / CAST(k * nn - sr2 AS DOUBLE), 6) END AS q_stat
      |FROM ca, ra""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q357_gk_gamma", q357, q357Sql),
    Query("q358_runs_test", q358, q358Sql),
    Query("q359_by_fdr", q359, q359Sql),
    Query("q360_cochran_q", q360, q360Sql))
}
