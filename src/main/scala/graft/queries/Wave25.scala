package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 25" query set (q253–q256): exact Kendall τ-b,
  * t-closeness privacy audit, item-item collaborative filtering, and
  * McNemar's paired test. Same contract as every wave: DuckDB oracle
  * per query, doubles round to 6 dp, integer sums BIGINT-cast in the
  * oracle, fixed-point quantization before any cross-row float sum,
  * deterministic tie-breaks.
  */
object Wave25Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q253
  /** Kendall τ-b ([[graft.ops.NonParam.kendallTau]]) between part size
    * and retail price (cents) within each brand — the exact-pair
    * companion to Spearman (q152): concordant/discordant/tie counts
    * from one bounded per-brand self-join, one closing sqrt.
    */
  def q253(s: SparkSession, dir: String): DataFrame = {
    val p = T(s, dir, "part").select(col("p_brand"), col("p_partkey"),
      col("p_size").cast("long").as("x"),
      floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("y"))
    graft.ops.NonParam.kendallTau(p, "p_brand", "x", "y", "p_partkey")
      .orderBy("p_brand")
  }
  val q253Sql: String =
    """WITH base AS (SELECT p_brand AS g, p_partkey AS id,
      |    CAST(p_size AS BIGINT) AS x,
      |    CAST(floor(p_retailprice * 100.0e0 + 0.5e0) AS BIGINT) AS y
      |  FROM part),
      |pairs AS (SELECT a.g AS g,
      |    CASE WHEN (a.x < b.x AND a.y < b.y)
      |           OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS c,
      |    CASE WHEN (a.x < b.x AND a.y > b.y)
      |           OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS d,
      |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
      |    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      |  FROM base a JOIN base b ON a.g = b.g AND a.id < b.id),
      |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n0,
      |    CAST(sum(c) AS BIGINT) AS nc, CAST(sum(d) AS BIGINT) AS nd,
      |    CAST(sum(tx) AS BIGINT) AS tx, CAST(sum(ty) AS BIGINT) AS ty
      |  FROM pairs GROUP BY g),
      |ni AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY g)
      |SELECT ni.g AS p_brand, n, n0, nc, nd,
      |  round(CAST(nc - nd AS DOUBLE)
      |    / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)), 6)
      |    AS tau
      |FROM ni JOIN agg USING (g) ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q254
  /** t-closeness ([[graft.ops.ext.Privacy.tCloseness]]): order
    * priority classes audited against the global total-price
    * distribution over 10 fixed 60k-wide buckets — the
    * distribution-distance privacy check that closes the
    * k-anonymity (q215) / l-diversity (q233) trio.
    */
  def q254(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_orderpriority"),
      least(lit(9L), floor(col("o_totalprice") / 60000.0).cast("long"))
        .as("b"))
    graft.ops.ext.Privacy.tCloseness(o, "o_orderpriority", "b", 10)
      .orderBy("o_orderpriority")
  }
  val q254Sql: String =
    """WITH src AS (SELECT o_orderpriority AS cls,
      |    least(9, CAST(floor(o_totalprice / 60000.0e0) AS BIGINT)) AS b
      |  FROM orders),
      |cells AS (SELECT cls, b, CAST(count(*) AS BIGINT) AS c
      |  FROM src GROUP BY 1, 2),
      |grid AS (SELECT cls, CAST(gb AS BIGINT) AS b
      |  FROM (SELECT DISTINCT cls FROM cells), range(10) t(gb)),
      |dense AS (SELECT g.cls, g.b, coalesce(c.c, 0) AS c
      |  FROM grid g LEFT JOIN cells c ON g.cls = c.cls AND g.b = c.b),
      |gdist AS (SELECT CAST(gb AS BIGINT) AS b,
      |    CAST(coalesce(g.gc, 0) AS BIGINT) AS gc
      |  FROM range(10) t(gb) LEFT JOIN (SELECT b, CAST(sum(c) AS BIGINT)
      |      AS gc FROM cells GROUP BY b) g ON CAST(gb AS BIGINT) = g.b),
      |gcum AS (SELECT b, CAST(sum(gc) OVER (ORDER BY b
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS gcum FROM gdist),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cells),
      |cum AS (SELECT d.cls, d.b,
      |    CAST(sum(d.c) OVER (PARTITION BY d.cls ORDER BY d.b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS ccum,
      |    CAST(sum(d.c) OVER (PARTITION BY d.cls) AS BIGINT) AS n
      |  FROM dense d)
      |SELECT cls AS o_orderpriority, n,
      |  round(CAST(CAST(sum(CAST(floor(abs(
      |      CAST(ccum AS DOUBLE) / CAST(n AS DOUBLE)
      |      - CAST(gcum AS DOUBLE) / CAST(nn AS DOUBLE))
      |    * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |    / 1000000000.0e0 / 9.0e0, 6) AS t
      |FROM cum JOIN gcum USING (b), tot
      |GROUP BY cls, n ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q255
  /** Item-item CF ([[graft.ops.ext.ItemCf.topNeighbors]]): top-5
    * co-purchase neighbors per part over order baskets, cosine on
    * exact co-occurrence counts — the neighborhood recommender over
    * the same baskets the association rules (q161, q236) mine.
    */
  def q255(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    graft.ops.ext.ItemCf.topNeighbors(li, "l_orderkey", "l_partkey",
        k = 5, minCo = 1L)
      .orderBy("item", "rank")
  }
  val q255Sql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
      |  FROM lineitem),
      |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS ci
      |  FROM b GROUP BY item),
      |co AS (SELECT a.item AS i, b2.item AS j,
      |    CAST(count(*) AS BIGINT) AS co
      |  FROM b a JOIN b b2 ON a.bk = b2.bk AND a.item < b2.item
      |  GROUP BY 1, 2),
      |sym AS (SELECT i, j, co FROM co
      |        UNION ALL SELECT j, i, co FROM co),
      |scored AS (SELECT s.i AS item, s.j AS neighbor, s.co,
      |    round(CAST(s.co AS DOUBLE)
      |      / sqrt(CAST(ci.ci * cj.ci AS DOUBLE)), 6) AS sim
      |  FROM sym s JOIN ic ci ON s.i = ci.item
      |             JOIN ic cj ON s.j = cj.item),
      |ranked AS (SELECT item, neighbor, co, sim,
      |    CAST(row_number() OVER (PARTITION BY item
      |      ORDER BY sim DESC, neighbor) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT item, rank, neighbor, co, sim FROM ranked
      |WHERE rank <= 5 ORDER BY item, rank""".stripMargin

  // ---------------------------------------------------------------- q256
  /** McNemar's paired test ([[graft.ops.Experiment.mcnemar]]): per
    * user, "more events in the first half-window" vs "more quantized
    * value in the first half" as the paired binary outcomes — only
    * the discordant users (count-dominant but not value-dominant and
    * vice versa) drive the χ².
    */
  def q256(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("qv"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val units = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("us") < col("cut"), col("qv")).otherwise(0L))
          .as("v1"),
        sum(when(col("us") >= col("cut"), col("qv")).otherwise(0L))
          .as("v2"))
      .select((col("c1") >= col("c2")).as("a"),
        (col("v1") >= col("v2")).as("b"))
    graft.ops.Experiment.mcnemar(units, "a", "b")
  }
  val q256Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
      |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS qv
      |  FROM events),
      |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
      |units AS (SELECT
      |    CAST(sum(CASE WHEN us < cut THEN 1 ELSE 0 END) AS BIGINT)
      |      >= CAST(sum(CASE WHEN us >= cut THEN 1 ELSE 0 END) AS BIGINT)
      |      AS a,
      |    CAST(sum(CASE WHEN us < cut THEN qv ELSE 0 END) AS BIGINT)
      |      >= CAST(sum(CASE WHEN us >= cut THEN qv ELSE 0 END) AS BIGINT)
      |      AS b
      |  FROM ev, cut GROUP BY user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      |    AS b01,
      |  CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
      |    AS b10,
      |  round(CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
      |      - sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE)
      |    * CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
      |      - sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
      |      + sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE), 6)
      |    AS chi2,
      |  round(CAST(abs(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
      |      - sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)) - 1 AS DOUBLE)
      |    * CAST(abs(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
      |      - sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)) - 1 AS DOUBLE)
      |    / CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
      |      + sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE), 6)
      |    AS chi2_cc
      |FROM units""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q253_kendall_tau", q253, q253Sql),
    Query("q254_t_closeness", q254, q254Sql),
    Query("q255_item_cf", q255, q255Sql),
    Query("q256_mcnemar", q256, q256Sql))
}
