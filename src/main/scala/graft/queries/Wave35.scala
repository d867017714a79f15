package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 35" query set (q293–q296): directed-graph shape
  * summary, greedy maximum-coverage selection, quantile treatment
  * effects, and a bow-tie reachability decomposition. Same contract
  * as every wave: DuckDB oracle per query, doubles round to 6 dp,
  * integer sums BIGINT-cast in the oracle, fixed-point quantization
  * before any cross-row float sum, deterministic tie-breaks.
  */
object Wave35Queries {
  import CoreQueries.T

  /** Directed ship/return graph: supplier→part for every lineitem,
    * part→supplier only where the line was returned — so reciprocity
    * measures "shipped AND returned" pairs. */
  private def shipReturnEdges(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    li.select(col("l_suppkey").as("src"),
        (col("l_partkey") + 1000000L).as("dst"))
      .unionByName(li.filter(col("l_returnflag") === "R")
        .select((col("l_partkey") + 1000000L).as("src"),
          col("l_suppkey").as("dst")))
  }
  private val shipReturnEdgesSql: String =
    """edges AS (SELECT DISTINCT src, dst FROM (
      |    SELECT l_suppkey AS src, 1000000 + l_partkey AS dst
      |    FROM lineitem
      |    UNION ALL
      |    SELECT 1000000 + l_partkey AS src, l_suppkey AS dst
      |    FROM lineitem WHERE l_returnflag = 'R')
      |  WHERE src <> dst)""".stripMargin

  // ---------------------------------------------------------------- q293
  /** Graph shape summary ([[graft.ops.Graph.shapeSummary]]) of the
    * ship/return graph: reciprocity (shipped-and-returned share) and
    * the in/out-degree card — the pre-flight profile before the
    * iterative graph family (q77/q249/q261) runs.
    */
  def q293(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.shapeSummary(shipReturnEdges(s, dir))
  val q293Sql: String =
    s"""WITH $shipReturnEdgesSql,
       |recip AS (SELECT CAST(count(*) AS BIGINT) AS reciprocal_edges
       |  FROM edges e JOIN edges r ON e.src = r.dst AND e.dst = r.src),
       |outd AS (SELECT CAST(count(*) AS BIGINT) AS n_out,
       |    CAST(sum(d) AS BIGINT) AS n_edges,
       |    CAST(max(d) AS BIGINT) AS max_out_deg
       |  FROM (SELECT src, count(*) AS d FROM edges GROUP BY src)),
       |ind AS (SELECT CAST(max(d) AS BIGINT) AS max_in_deg
       |  FROM (SELECT dst, count(*) AS d FROM edges GROUP BY dst)),
       |nodes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM (
       |  SELECT src AS n FROM edges UNION SELECT dst FROM edges))
       |SELECT n_edges, n_nodes, reciprocal_edges,
       |  round(CAST(reciprocal_edges AS DOUBLE)
       |    / CAST(n_edges AS DOUBLE), 6) AS reciprocity,
       |  round(CAST(n_edges AS DOUBLE) / CAST(n_out AS DOUBLE), 6)
       |    AS mean_out_deg,
       |  max_out_deg, max_in_deg
       |FROM outd, recip, ind, nodes""".stripMargin

  // ---------------------------------------------------------------- q294
  /** Greedy maximum coverage ([[graft.ops.ext.CoverageSelect.greedy]],
    * k = 6): the six documents whose 3-gram shingles jointly span the
    * most of the corpus — the facility-location selection behind seed
    * sets and eval subsets, each round's pick and marginal gain
    * hash-matched against the oracle's unrolled greedy.
    */
  def q294(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    // coverage elements join as xxhash64 longs (the q272 digest rule:
    // 8-byte keys through every round's anti-join; the oracle still
    // counts the exact string shingles)
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), graft.ops.ext.Dedup.shinglesOfTokens(
        TextAnalysis.tokens(col("text")), 3).as("toks"))
    graft.ops.ext.CoverageSelect.greedy(docs, "doc_id", "toks", k = 6)
      .orderBy("round")
  }
  val q294Sql: String = {
    val sb = new StringBuilder
    sb ++= """WITH tk AS MATERIALIZED (SELECT doc_id AS id, w FROM (
      |    SELECT doc_id, unnest(list_distinct(
      |      [array_to_string(toks[i:i+2], ' ')
      |       for i in range(1, greatest(len(toks)-2, 1)+1)])) AS w
      |    FROM (SELECT doc_id, list_filter(string_split_regex(
      |            lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS toks
      |          FROM documents))),
      |m1 AS (SELECT id, CAST(count(*) AS BIGINT) AS gain
      |  FROM tk GROUP BY id),
      |p1 AS (SELECT id, gain FROM m1 ORDER BY gain DESC, id LIMIT 1),
      |c1 AS MATERIALIZED (SELECT DISTINCT w FROM tk
      |  WHERE id IN (SELECT id FROM p1))""".stripMargin
    for (r <- 2 to 6) {
      sb ++= s""",
        |m$r AS (SELECT id, CAST(count(*) AS BIGINT) AS gain
        |  FROM tk WHERE w NOT IN (SELECT w FROM c${r - 1})
        |  GROUP BY id),
        |p$r AS (SELECT id, gain FROM m$r ORDER BY gain DESC, id LIMIT 1),
        |c$r AS MATERIALIZED (SELECT w FROM c${r - 1}
        |  UNION SELECT w FROM tk WHERE id IN (SELECT id FROM p$r))""".stripMargin
    }
    sb ++= """
      |SELECT * FROM (""".stripMargin
    sb ++= (1 to 6).map { r =>
      s"""
        |  SELECT CAST($r AS BIGINT) AS round, id,
        |    gain AS new_elements,
        |    (SELECT CAST(count(*) AS BIGINT) FROM c$r) AS total_covered
        |  FROM p$r""".stripMargin
    }.mkString("\n  UNION ALL")
    sb ++= """
      |) ORDER BY round""".stripMargin
    sb.toString
  }

  // ---------------------------------------------------------------- q295
  /** Quantile treatment effects ([[graft.ops.Experiment
    * .quantileTreatmentEffects]]): order-value quantile gaps between
    * the customer-parity arms at p25/p50/p75/p90 — where in the
    * distribution the "treatment" moves money, beyond the single mean
    * gap of CUPED (q231).
    */
  def q295(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(
      (pmod(col("o_custkey"), lit(2L)) === 1).as("arm"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    graft.ops.Experiment.quantileTreatmentEffects(o, "arm", "cents",
        Seq((1, 4), (1, 2), (3, 4), (9, 10)))
      .orderBy("q_den", "q_num")
  }
  val q295Sql: String = {
    def q(num: Int, den: Int): String =
      s"""SELECT CAST($num AS BIGINT) AS q_num, CAST($den AS BIGINT) AS q_den,
         |  (SELECT CAST(min(v) AS BIGINT) FROM cum
         |   WHERE t AND cum >= ($num * n + $den - 1) // $den) AS treat_q,
         |  (SELECT CAST(min(v) AS BIGINT) FROM cum
         |   WHERE NOT t AND cum >= ($num * n + $den - 1) // $den)
         |    AS control_q,
         |  (SELECT CAST(min(v) AS BIGINT) FROM cum
         |   WHERE t AND cum >= ($num * n + $den - 1) // $den)
         |  - (SELECT CAST(min(v) AS BIGINT) FROM cum
         |     WHERE NOT t AND cum >= ($num * n + $den - 1) // $den) AS qte""".stripMargin
    s"""WITH dom AS (SELECT o_custkey % 2 = 1 AS t,
       |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS v,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM orders GROUP BY 1, 2),
       |cum AS MATERIALIZED (SELECT t, v,
       |    CAST(sum(c) OVER (PARTITION BY t ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(sum(c) OVER (PARTITION BY t) AS BIGINT) AS n
       |  FROM dom)
       |${q(1, 4)}
       |UNION ALL
       |${q(1, 2)}
       |UNION ALL
       |${q(3, 4)}
       |UNION ALL
       |${q(9, 10)}
       |ORDER BY q_den, q_num""".stripMargin
  }

  // ---------------------------------------------------------------- q296
  /** Bow-tie decomposition ([[graft.ops.Graph.bfsDistances]] both
    * directions, 4 hops): nodes of the ship/return graph classified
    * by reachability against the supplier-1..3 seed set — core (both
    * directions), out (reached only), in (reaches only), disconnected
    * — the classic web-graph structure census.
    */
  def q296(s: SparkSession, dir: String): DataFrame = {
    // one persisted graph feeds BOTH bfs directions — the backward
    // pass is a column swap over the same cached edge set, not a
    // rebuild-and-redistinct of the lineitem scan
    val e = shipReturnEdges(s, dir)
      .select(col("src"), col("dst")).distinct().persist()
    val seeds = T(s, dir, "supplier").filter(col("s_suppkey") <= 3)
      .select(col("s_suppkey").as("node"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(seeds.select(col("node"))).distinct().persist()
    // the two directions are INDEPENDENT hop-per-job traversals over
    // the same persisted edge frame — submit them from two threads so
    // their per-hop jobs interleave on the scheduler instead of
    // serializing two traversals' fixed costs (the q391 idiom; each
    // traversal's own hops stay sequential, results are deterministic)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val Seq(fwd, bwd) =
      try Await.result(Future.sequence(Seq(
        Future(graft.ops.Graph.bfsDistancesOn(e, nodes, seeds, maxHops = 4)
          .select(col("node"), (col("dist") >= 0).as("f"))),
        Future(graft.ops.Graph.bfsDistancesOn(
            e.select(col("dst").as("src"), col("src").as("dst")), nodes,
            seeds, maxHops = 4)
          .select(col("node"), (col("dist") >= 0).as("b"))))),
        Duration.Inf)
      finally pool.shutdown()
    e.unpersist(); nodes.unpersist()
    fwd.join(bwd, Seq("node"), "full")
      .na.fill(false, Seq("f", "b"))
      .select(when(col("f") && col("b"), "core")
        .when(col("f"), "out").when(col("b"), "in")
        .otherwise("disconnected").as("region"))
      .groupBy("region").agg(count(lit(1)).as("n_nodes"))
      .orderBy("region")
  }
  val q296Sql: String = {
    def levels(tag: String, srcCol: String, dstCol: String): String = {
      def level(i: Int): String =
        s"""f$tag$i AS (SELECT DISTINCT e.$dstCol AS node
           |  FROM edges e JOIN f$tag${i - 1} f ON e.$srcCol = f.node
           |  WHERE e.$dstCol NOT IN (SELECT node FROM s$tag${i - 1})),
           |s$tag$i AS (SELECT node FROM s$tag${i - 1}
           |        UNION ALL SELECT node FROM f$tag$i)""".stripMargin
      s"""s${tag}0 AS (SELECT node FROM seeds),
         |f${tag}0 AS (SELECT node FROM seeds),
         |${(1 to 4).map(level).mkString(",\n")}""".stripMargin
    }
    s"""WITH $shipReturnEdgesSql,
       |seeds AS (SELECT DISTINCT s_suppkey AS node FROM supplier
       |          WHERE s_suppkey <= 3),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges
       |          UNION SELECT node FROM seeds),
       |${levels("a", "src", "dst")},
       |${levels("b", "dst", "src")}
       |SELECT region, CAST(count(*) AS BIGINT) AS n_nodes FROM (
       |  SELECT CASE
       |      WHEN n.node IN (SELECT node FROM sa4)
       |       AND n.node IN (SELECT node FROM sb4) THEN 'core'
       |      WHEN n.node IN (SELECT node FROM sa4) THEN 'out'
       |      WHEN n.node IN (SELECT node FROM sb4) THEN 'in'
       |      ELSE 'disconnected' END AS region
       |  FROM nodes n)
       |GROUP BY region ORDER BY region""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q293_graph_shape", q293, q293Sql),
    Query("q294_coverage_select", q294, q294Sql),
    Query("q295_qte", q295, q295Sql),
    Query("q296_bowtie", q296, q296Sql))
}
