package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 61" query set (q390–q391): corpus-alignment and
  * graph-robustness pre-flights — mutual-best-match embedding
  * alignment (the bitext/parallel-corpus mining primitive) and the
  * hub-removal percolation curve (how fast the co-occurrence
  * structure's giant component dissolves when the head is cut — the
  * robustness census behind any dedup-graph or citation-graph
  * pipeline decision). Same contract as every wave: DuckDB oracle,
  * exact integers, quantize-before-mean.
  */
object Wave61Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q390
  /** Mutual-best-match alignment ([[graft.ops.ext.Similarity
    * .mutualBestMatch]]) between the even- and odd-label halves of the
    * embedding corpus: IVF-celled candidates (only the deterministic
    * centroid set broadcasts — both sides are corpus-sized), each
    * direction's best over one scored frame, census with the top1−top2
    * mean margin.
    */
  def q390(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    graft.ops.ext.Similarity.mutualBestMatch(
      e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
      "embedding", "vec_id", centroidEvery = 50, nprobe = 2)
  }
  val q390Sql: String =
    """WITH v AS (SELECT vec_id, label,
      |    [x::DOUBLE for x in embedding] AS vec FROM embeddings),
      |n AS (SELECT vec_id, label, vec,
      |    sqrt(list_reduce(list_transform(vec, x -> x*x), (a,b) -> a+b))
      |      AS nrm FROM v),
      |av AS (SELECT vec_id AS a_id, vec AS avec, nrm AS anorm FROM n
      |       WHERE label % 2 = 0),
      |bv AS (SELECT vec_id AS b_id, vec AS bvec, nrm AS bnorm FROM n
      |       WHERE label % 2 = 1),
      |cents AS (SELECT b_id AS cent_id, bvec AS centv, bnorm AS centnorm
      |          FROM bv WHERE b_id % 50 = 0),
      |pa AS (SELECT a_id, cent_id FROM (
      |    SELECT a.a_id, c.cent_id, row_number() OVER (
      |        PARTITION BY a.a_id ORDER BY
      |        list_reduce(list_transform(range(1, len(a.avec)+1),
      |          i -> a.avec[i]*c.centv[i]), (x,y) -> x+y)
      |          / (a.anorm*c.centnorm) DESC, c.cent_id) AS r
      |    FROM av a, cents c) WHERE r <= 2),
      |pb AS (SELECT b_id, cent_id FROM (
      |    SELECT b.b_id, c.cent_id, row_number() OVER (
      |        PARTITION BY b.b_id ORDER BY
      |        list_reduce(list_transform(range(1, len(b.bvec)+1),
      |          i -> b.bvec[i]*c.centv[i]), (x,y) -> x+y)
      |          / (b.bnorm*c.centnorm) DESC, c.cent_id) AS r
      |    FROM bv b, cents c) WHERE r = 1),
      |scored AS (SELECT DISTINCT pa.a_id, pb.b_id,
      |    list_reduce(list_transform(range(1, len(a.avec)+1),
      |      i -> a.avec[i]*b.bvec[i]), (x,y) -> x+y)
      |      / (a.anorm*b.bnorm) AS cosine
      |  FROM pa JOIN pb ON pa.cent_id = pb.cent_id
      |  JOIN av a ON a.a_id = pa.a_id
      |  JOIN bv b ON b.b_id = pb.b_id),
      |besta AS (SELECT a_id,
      |    max(CASE WHEN r = 1 THEN b_id END) AS b_id,
      |    max(CASE WHEN r = 1 THEN cosine END) AS cos1,
      |    max(CASE WHEN r = 2 THEN cosine END) AS cos2
      |  FROM (SELECT a_id, b_id, cosine, row_number() OVER (
      |      PARTITION BY a_id ORDER BY cosine DESC, b_id) AS r
      |    FROM scored) WHERE r <= 2 GROUP BY a_id),
      |bestb AS (SELECT a_id, b_id FROM (
      |    SELECT a_id, b_id, row_number() OVER (
      |      PARTITION BY b_id ORDER BY cosine DESC, a_id) AS r
      |    FROM scored) WHERE r = 1),
      |mut AS (SELECT ba.a_id,
      |    CASE WHEN ba.cos2 IS NOT NULL THEN CAST(floor(
      |      (ba.cos1 - ba.cos2) * 1000000.0e0 + 0.5e0) AS BIGINT)
      |    END AS mq
      |  FROM besta ba SEMI JOIN bestb bb
      |    ON ba.a_id = bb.a_id AND ba.b_id = bb.b_id),
      |agg AS (SELECT
      |    (SELECT count(*) FROM av)::BIGINT AS n_a,
      |    (SELECT count(*) FROM bv)::BIGINT AS n_b,
      |    (SELECT count(*) FROM scored)::BIGINT AS n_candidates,
      |    (SELECT count(*) FROM mut)::BIGINT AS n_mutual,
      |    (SELECT count(mq) FROM mut)::BIGINT AS n_margin,
      |    (SELECT CAST(sum(mq) AS BIGINT) FROM mut) AS smq)
      |SELECT n_a, n_b, n_candidates, n_mutual,
      |  round(CAST(n_mutual AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
      |    AS mutual_share,
      |  round(CAST(smq AS DOUBLE) / 1000000.0e0
      |    / CAST(n_margin AS DOUBLE), 6) AS mean_margin
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- q391
  /** Hub-removal percolation curve: the co-order graph's node count,
    * edge count and giant-component share after removing its top-0,
    * top-10 and top-50 degree hubs (degree desc, id tie-break) — how
    * much of the structure one head slice carries.
    *
    * Scale shape: ONE eagerly-checkpointed edge frame feeds all three
    * steps; the hub set is top-N-bounded (broadcast-safe by
    * construction), each step is an anti-join + the star-contraction
    * CC ([[graft.ops.ext.Dedup.connectedComponentsStar]], O(log²)
    * rounds, lazy checkpoints). The curve is 3 fixed steps — a
    * percolation SCAN, not an unbounded peel.
    */
  def q391(s: SparkSession, dir: String): DataFrame = {
    val e = Wave6Queries.coOrderEdges(s, dir).localCheckpoint(true)
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val ranked = deg.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("deg").desc, col("node"))))
    def step(n: Int): DataFrame = {
      val hubs = ranked.filter(col("r") <= n).select("node")
      val kept = e
        .join(hubs.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
        .join(hubs.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
      val nodes = kept.select(col("src").as("id"))
        .unionByName(kept.select(col("dst").as("id"))).distinct()
      val comp = graft.ops.ext.Dedup.connectedComponentsStar(
        kept.select(col("src").as("id_a"), col("dst").as("id_b")))
      val giant = comp.groupBy("component").agg(count(lit(1)).as("sz"))
        .agg(max(col("sz")).as("giant"))
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(giant))
        .select(lit(n.toLong).as("removed"), col("n_nodes"), col("n_edges"),
          round(col("giant").cast("double") / col("n_nodes").cast("double"),
            6).as("giant_share"))
    }
    // the three steps are INDEPENDENT iterative pipelines over the
    // same checkpointed edge frame — submit them from three threads so
    // their per-round jobs interleave on the scheduler instead of
    // serializing three convergence loops' fixed costs (wall-clock
    // ~10 s -> ~5 s at sf0.1; result frames are deterministic either
    // way, and each step's own actions stay sequential within it)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val steps =
      try Await.result(
        Future.sequence(Seq(0, 10, 50).map(n => Future(step(n)))),
        Duration.Inf)
      finally pool.shutdown()
    steps.reduce(_ unionByName _).orderBy("removed")
  }
  val q391Sql: String = {
    def stepSql(n: Int): String =
      s"""sel_$n AS (SELECT node FROM ranked WHERE r <= $n),
         |kept_$n AS MATERIALIZED (SELECT src, dst FROM e
         |  WHERE src NOT IN (SELECT node FROM sel_$n)
         |    AND dst NOT IN (SELECT node FROM sel_$n)),
         |sym_$n AS MATERIALIZED (SELECT src, dst FROM kept_$n
         |  UNION ALL SELECT dst, src FROM kept_$n),
         |reach_$n(id, label) AS (
         |  SELECT src, src FROM sym_$n
         |  UNION
         |  SELECT x.dst, r.label FROM reach_$n r JOIN sym_$n x
         |    ON x.src = r.id),
         |comp_$n AS (SELECT id, min(label) AS c FROM reach_$n GROUP BY id),
         |row_$n AS (SELECT $n::BIGINT AS removed,
         |    (SELECT count(DISTINCT id) FROM comp_$n)::BIGINT AS n_nodes,
         |    (SELECT count(*) FROM kept_$n)::BIGINT AS n_edges,
         |    round((SELECT max(cnt) FROM (SELECT count(*) AS cnt
         |        FROM comp_$n GROUP BY c))::DOUBLE
         |      / (SELECT count(DISTINCT id) FROM comp_$n), 6)
         |      AS giant_share)""".stripMargin
    s"""WITH RECURSIVE e AS MATERIALIZED (${Wave6Queries.coOrderEdgesSql}),
       |deg AS (SELECT node, count(*) AS deg FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
       |  GROUP BY node),
       |ranked AS (SELECT node, row_number() OVER (
       |    ORDER BY deg DESC, node) AS r FROM deg),
       |${stepSql(0)},
       |${stepSql(10)},
       |${stepSql(50)}
       |SELECT * FROM row_0 UNION ALL SELECT * FROM row_10
       |UNION ALL SELECT * FROM row_50 ORDER BY removed""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q390_mutual_best_match", q390, q390Sql),
    Query("q391_percolation", q391, q391Sql))
}
