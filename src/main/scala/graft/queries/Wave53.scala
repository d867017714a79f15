package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 "wave 53" query set (q365–q368): a streaming token-bucket
  * rate limiter (event-time exact, batch-replayable), Kruskal–Wallis,
  * the Jonckheere–Terpstra ordered-trend test, and first-order
  * partial correlation. Same contract as every wave: DuckDB oracle
  * per query, exact integers to every decision.
  */
object Wave53Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q365
  /** Streaming token-bucket rate limiter
    * ([[graft.streaming.Stateful.runningBucket]], 3-token cap, one
    * token per 10 event-time minutes): per-user admission control
    * whose admit/reject sequence is a pure integer function of the
    * sorted event stream — so the per-user summary (admitted count +
    * final bucket level) replays exactly as a batch fold. The
    * throttling primitive in front of any per-key quota.
    */
  def q365(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = s"$dir/events.parquet"
    val src = ExtQueries.tsAsMicros(StreamOps.fileStream(s, f))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Stateful.TimedEvent]
    StreamOps.runBounded(s, f, "q365_bucket", "append")(
      Stateful.runningBucket(s, src, capU = 3000000L,
        refillUsPerToken = 600000000L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        max(struct(col("ts"), col("event_id"), col("tokens_after_u")))
          .getField("tokens_after_u").as("final_tokens_u"))
      .orderBy("user_id")
  }
  val q365Sql: String =
    """WITH ev AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    event_id FROM events),
      |packed AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    list([us, event_id] ORDER BY us, event_id) AS s
      |  FROM ev GROUP BY user_id),
      |folded AS (SELECT user_id, n_events,
      |    list_reduce(list_prepend([3000000::BIGINT, -1::BIGINT,
      |        0::BIGINT], s),
      |      (acc, x) -> [
      |        least(3000000,
      |          acc[1] + CASE WHEN acc[2] < 0 THEN 0
      |            ELSE ((x[1] - acc[2]) * 1000000) // 600000000 END)
      |        - CASE WHEN least(3000000,
      |            acc[1] + CASE WHEN acc[2] < 0 THEN 0
      |              ELSE ((x[1] - acc[2]) * 1000000) // 600000000 END)
      |            >= 1000000 THEN 1000000 ELSE 0 END,
      |        x[1],
      |        acc[3] + CASE WHEN least(3000000,
      |            acc[1] + CASE WHEN acc[2] < 0 THEN 0
      |              ELSE ((x[1] - acc[2]) * 1000000) // 600000000 END)
      |            >= 1000000 THEN 1 ELSE 0 END]) AS f
      |  FROM packed)
      |SELECT user_id, n_events, f[3] AS n_admitted,
      |  f[1] AS final_tokens_u
      |FROM folded ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q366
  /** Kruskal–Wallis H ([[graft.ops.NonParam.kruskalWallis]]): do
    * order values differ across the five priority classes — the
    * k-sample extension of Mann–Whitney (q250), tie-corrected, with
    * mid-ranks as exact doubled integers.
    */
  def q366(s: SparkSession, dir: String): DataFrame =
    graft.ops.NonParam.kruskalWallis(
      T(s, dir, "orders").select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents")),
      "o_orderpriority", "cents")
  val q366Sql: String =
    """WITH base AS (SELECT o_orderpriority AS g,
      |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS v
      |  FROM orders),
      |hist AS (SELECT v, CAST(count(*) AS BIGINT) AS t
      |  FROM base GROUP BY v),
      |ranked AS (SELECT v, t,
      |    2 * coalesce(sum(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + t + 1 AS mr2
      |  FROM hist),
      |per AS (SELECT b.g, CAST(count(*) AS BIGINT) AS n_j,
      |    CAST(sum(r.mr2) AS BIGINT) AS r2_j
      |  FROM base b JOIN ranked r USING (v) GROUP BY b.g),
      |ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tt FROM hist),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(n_j) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor((CAST(r2_j AS DOUBLE) / 2.0e0)
      |      * (CAST(r2_j AS DOUBLE) / 2.0e0) / CAST(n_j AS DOUBLE)
      |      * 1000.0e0 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1000.0e0 AS srr
      |  FROM per)
      |SELECT k, n,
      |  round(12.0e0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) * srr
      |    - 3.0e0 * CAST(n + 1 AS DOUBLE), 6) AS h,
      |  round((12.0e0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) * srr
      |    - 3.0e0 * CAST(n + 1 AS DOUBLE))
      |    / (1.0e0 - CAST(tt AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        - CAST(n AS DOUBLE))), 6) AS h_corrected
      |FROM agg, ties""".stripMargin

  // ---------------------------------------------------------------- q367
  /** Jonckheere–Terpstra ordered-trend test: is order value
    * MONOTONICALLY ordered across priorities 1-URGENT → 5-LOW?
    * JT = Σ_{i<j} U_ij accumulates as DOUBLED integers (ties count
    * once, strict wins twice) from per-value group-count spines and
    * strictly-below cumulatives — never a pair join. z against the
    * no-tie normal approximation (documented; the oracle replays the
    * identical formula).
    */
  def q367(s: SparkSession, dir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val base = T(s, dir, "orders").select(col("o_orderpriority").as("g"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("v"))
    val aggs = prios.zipWithIndex.map { case (p, i) =>
      sum(when(col("g") === p, 1L).otherwise(0L)).as(s"c$i")
    }
    val spine = base.groupBy("v").agg(aggs.head, aggs.tail: _*)
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withB = prios.indices.foldLeft(spine) { (d, i) =>
      d.withColumn(s"b$i", coalesce(sum(s"c$i").over(w), lit(0L)))
    }
    val contrib = prios.indices.flatMap { j =>
      (0 until j).map { i =>
        col(s"c$j") * (lit(2L) * col(s"b$i") + col(s"c$i"))
      }
    }.reduce(_ + _)
    val jt = withB.agg(sum(contrib).as("jt2"))
    val nj = base.groupBy("g").agg(count(lit(1)).as("n_j"))
      .agg(sum("n_j").as("n"), sum(col("n_j") * col("n_j")).as("snj2"),
        sum(col("n_j") * col("n_j") * (lit(2L) * col("n_j") + 3))
          .as("svar"))
    jt.crossJoin(nj)
      .select(col("n"), col("jt2"),
        expr("(n * n - snj2) div 2").as("e_jt2"),
        round((expr("jt2 - (n * n - snj2) div 2")
            .cast("double") / lit(2.0))
          / sqrt((col("n").cast("double") * col("n").cast("double")
              * (lit(2.0) * col("n").cast("double") + 3.0)
            - col("svar").cast("double")) / lit(72.0)), 6).as("z"))
  }
  val q367Sql: String = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val cs = prios.zipWithIndex.map { case (p, i) =>
      s"CAST(count(CASE WHEN g = '$p' THEN 1 END) AS BIGINT) AS c$i"
    }.mkString(",\n      |    ")
    val bs = prios.indices.map { i =>
      s"coalesce(sum(c$i) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
        s"PRECEDING AND 1 PRECEDING), 0) AS b$i"
    }.mkString(",\n      |    ")
    val contrib = (for (j <- prios.indices; i <- 0 until j)
      yield s"c$j * (2 * b$i + c$i)").mkString(" + ")
    s"""WITH base AS (SELECT o_orderpriority AS g,
       |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS v
       |  FROM orders),
       |spine AS (SELECT v,
       |    $cs
       |  FROM base GROUP BY v),
       |wb AS (SELECT v, c0, c1, c2, c3, c4,
       |    $bs
       |  FROM spine),
       |jt AS (SELECT CAST(sum($contrib) AS BIGINT) AS jt2 FROM wb),
       |nj AS (SELECT CAST(sum(n_j) AS BIGINT) AS n,
       |    CAST(sum(n_j * n_j) AS BIGINT) AS snj2,
       |    CAST(sum(n_j * n_j * (2 * n_j + 3)) AS BIGINT) AS svar
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS n_j
       |        FROM base GROUP BY g))
       |SELECT n, jt2, (n * n - snj2) // 2 AS e_jt2,
       |  round((CAST(jt2 - (n * n - snj2) // 2 AS DOUBLE) / 2.0e0)
       |    / sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
       |        * (2.0e0 * CAST(n AS DOUBLE) + 3.0e0)
       |      - CAST(svar AS DOUBLE)) / 72.0e0), 6) AS z
       |FROM jt, nj""".stripMargin
  }

  // ---------------------------------------------------------------- q368
  /** Partial correlation
    * ([[graft.ops.NonParam.partialCorrelation]]): quantity vs line
    * value once the discount is controlled for — the confound-aware
    * sharpening of the plain Pearson matrix (q124). Quantities in
    * deci-units, values in whole dollars, discounts in per-mille, so
    * every moment sum stays a long.
    */
  def q368(s: SparkSession, dir: String): DataFrame =
    graft.ops.NonParam.partialCorrelation(
      T(s, dir, "lineitem").select(
        floor(col("l_quantity") * 10.0 + 0.5).cast("long").as("xd"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) div 100")
          .as("yd"),
        floor(col("l_discount") * 1000.0 + 0.5).cast("long").as("zd")),
      "xd", "yd", "zd")
  val q368Sql: String =
    """WITH b AS (SELECT
      |    CAST(floor(l_quantity * 10.0e0 + 0.5e0) AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100.0e0 + 0.5e0) AS BIGINT) // 100
      |      AS y,
      |    CAST(floor(l_discount * 1000.0e0 + 0.5e0) AS BIGINT) AS z
      |  FROM lineitem),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(z) AS BIGINT) AS sz,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(z * z) AS BIGINT) AS szz,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * z) AS BIGINT) AS sxz,
      |    CAST(sum(y * z) AS BIGINT) AS syz
      |  FROM b),
      |r AS (SELECT n,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rxy,
      |    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
      |        - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS rxz,
      |    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
      |        - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS ryz
      |  FROM m)
      |SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
      |  round(ryz, 6) AS r_yz,
      |  round((rxy - rxz * ryz)
      |    / sqrt((1.0e0 - rxz * rxz) * (1.0e0 - ryz * ryz)), 6)
      |    AS partial_r
      |FROM r""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q365_token_bucket" -> (q365 _),
    "q366_kruskal_wallis" -> (q366 _),
    "q367_jonckheere" -> (q367 _),
    "q368_partial_corr" -> (q368 _))

  val oracles: Map[String, String] = Map(
    "q365_token_bucket" -> q365Sql,
    "q366_kruskal_wallis" -> q366Sql,
    "q367_jonckheere" -> q367Sql,
    "q368_partial_corr" -> q368Sql)
}
