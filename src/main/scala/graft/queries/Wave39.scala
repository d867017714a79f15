package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 39" query set (q309–q312): graph analytics over the
  * part co-order graph — Jaccard link prediction, the rich-club
  * curve, a component-size census, and the clustering-vs-degree
  * curve. Same contract as every wave: DuckDB oracle per query,
  * doubles round to 6 dp, integer sums BIGINT-cast in the oracle,
  * rankings pinned on exact integers before any float.
  */
object Wave39Queries {

  // ---------------------------------------------------------------- q309
  /** Jaccard link prediction ([[graft.ops.Graph.jaccardLinkPred]],
    * hub cap 30, top 20): which non-adjacent part pairs share the
    * largest normalized neighborhood — the set-overlap companion to
    * Adamic–Adar (q172), whose 1/ln(deg) weighting it drops.
    */
  def q309(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.jaccardLinkPred(Wave6Queries.coOrderEdges(s, dir),
      maxDeg = 30L, topK = 20)
  val q309Sql: String =
    s"""WITH e AS (${Wave6Queries.coOrderEdgesSql}),
       |sym AS (SELECT src AS node, dst AS nbr FROM e
       |        UNION ALL SELECT dst, src FROM e),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM sym GROUP BY 1),
       |ctr AS (SELECT s.node, s.nbr FROM sym s
       |  JOIN deg d ON s.node = d.node AND d.deg <= 30),
       |cn AS (SELECT a.nbr AS u, b.nbr AS v,
       |    CAST(count(*) AS BIGINT) AS common
       |  FROM ctr a JOIN ctr b ON a.node = b.node AND a.nbr < b.nbr
       |  GROUP BY 1, 2),
       |nonadj AS (SELECT cn.u, cn.v, cn.common FROM cn
       |  LEFT JOIN e ON e.src = cn.u AND e.dst = cn.v
       |  WHERE e.src IS NULL),
       |scored AS (SELECT n.u, n.v, n.common,
       |    du.deg + dv.deg - n.common AS un,
       |    (n.common * 1000000000) // (du.deg + dv.deg - n.common) AS qj
       |  FROM nonadj n JOIN deg du ON du.node = n.u
       |                JOIN deg dv ON dv.node = n.v)
       |SELECT u, v, common, CAST(un AS BIGINT) AS union_size,
       |  round(CAST(common AS DOUBLE) / CAST(un AS DOUBLE), 6) AS jaccard
       |FROM scored ORDER BY qj DESC, u, v LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q310
  /** Rich-club curve ([[graft.ops.Graph.richClub]], k = 1..8): do
    * high-degree parts preferentially co-order with each other — the
    * hub-interconnection census beside assortativity (q160), which
    * only gives the single correlation number.
    */
  def q310(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.richClub(Wave6Queries.coOrderEdges(s, dir), maxK = 8)
  val q310Sql: String =
    s"""WITH e AS (${Wave6Queries.coOrderEdgesSql}),
       |sym AS (SELECT src AS node, dst AS nbr FROM e
       |        UNION ALL SELECT dst, src FROM e),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM sym GROUP BY 1),
       |dh AS (SELECT deg, CAST(count(*) AS BIGINT) AS cnt
       |  FROM deg GROUP BY 1),
       |mh AS (SELECT least(da.deg, db.deg) AS m,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM e JOIN deg da ON e.src = da.node
       |         JOIN deg db ON e.dst = db.node
       |  GROUP BY 1),
       |ks AS (SELECT CAST(k AS BIGINT) AS k FROM range(1, 9) t(k)),
       |nk AS (SELECT k, CAST(sum(cnt) AS BIGINT) AS n_k
       |  FROM ks JOIN dh ON dh.deg > ks.k GROUP BY k),
       |ek AS (SELECT k, CAST(sum(cnt) AS BIGINT) AS e_k
       |  FROM ks JOIN mh ON mh.m > ks.k GROUP BY k)
       |SELECT ks.k, coalesce(n_k, 0) AS n_k, coalesce(e_k, 0) AS e_k,
       |  round(CASE WHEN coalesce(n_k, 0) >= 2
       |    THEN 2.0e0 * CAST(coalesce(e_k, 0) AS DOUBLE)
       |      / CAST(n_k * (n_k - 1) AS DOUBLE)
       |    ELSE 0.0e0 END, 6) AS phi
       |FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)
       |ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- q311
  /** Component-size census of the minShared = 3 co-order graph (rarer
    * edges → fragmented structure): component sizes → (size,
    * n_components, node_share) — the percolation card that says
    * whether "dedup clusters" are a few giants or many islands.
    * Components via the O(log²n) star-contraction kernel
    * ([[graft.ops.ext.Dedup.connectedComponentsStar]]).
    */
  def q311(s: SparkSession, dir: String): DataFrame = {
    val li = CoreQueries.T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val e = graft.ops.Graph.coOccurrenceEdges(li, "l_orderkey",
      "l_partkey", minShared = 3L)
    val comp = graft.ops.ext.Dedup.connectedComponentsStar(
      e.select(col("src").as("id_a"), col("dst").as("id_b")))
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("csize"))
    val tot = sizes.agg(sum("csize").as("n_nodes"))
    sizes.groupBy("csize").agg(count(lit(1)).as("n_components"))
      .crossJoin(tot)
      .select(col("csize"), col("n_components"),
        round((col("csize") * col("n_components")).cast("double")
          / col("n_nodes").cast("double"), 6).as("node_share"))
      .orderBy("csize")
  }
  val q311Sql: String =
    """WITH RECURSIVE e AS (SELECT a.item AS src, b.item AS dst
      |  FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |        FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |        FROM lineitem) b
      |    ON a.g = b.g AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |edges AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |reach(id, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.dst, r.label FROM reach r
      |  JOIN edges e2 ON e2.src = r.id),
      |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
      |sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
      |  FROM comp GROUP BY 1),
      |tot AS (SELECT CAST(sum(csize) AS BIGINT) AS n_nodes FROM sizes)
      |SELECT csize, CAST(count(*) AS BIGINT) AS n_components,
      |  round(CAST(csize * count(*) AS DOUBLE)
      |    / CAST(n_nodes AS DOUBLE), 6) AS node_share
      |FROM sizes, tot GROUP BY csize, n_nodes
      |ORDER BY csize""".stripMargin

  // ---------------------------------------------------------------- q312
  /** Clustering-vs-degree curve: average local clustering coefficient
    * ([[graft.ops.Graph.triangleStats]]) per power-of-two degree bin
    * (bin = ⌊log₂ deg⌋ via binary-string length — no libm near the
    * binning) — the hierarchical-structure diagnostic (flat curve =
    * random graph; falling curve = hierarchical modularity).
    */
  def q312(s: SparkSession, dir: String): DataFrame = {
    val stats = graft.ops.Graph.triangleStats(
      Wave6Queries.coOrderEdges(s, dir))
    stats.select(
        (length(bin(col("deg"))) - 1).cast("long").as("deg_bin"),
        floor(col("clustering") * 1e6 + 0.5).cast("long").as("cq"))
      .groupBy("deg_bin")
      .agg(count(lit(1)).as("n_nodes"), sum("cq").as("sq"))
      .select(col("deg_bin"), col("n_nodes"),
        round(col("sq").cast("double") / col("n_nodes").cast("double")
          / lit(1e6), 6).as("mean_clustering"))
      .orderBy("deg_bin")
  }
  val q312Sql: String =
    s"""WITH stats AS (${Wave6Queries.q158Sql}),
       |binned AS (SELECT
       |    CAST(length(bin(deg)) - 1 AS BIGINT) AS deg_bin,
       |    CAST(floor(clustering * 1000000.0e0 + 0.5e0) AS BIGINT) AS cq
       |  FROM stats)
       |SELECT deg_bin, CAST(count(*) AS BIGINT) AS n_nodes,
       |  round(CAST(sum(cq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    / 1000000.0e0, 6) AS mean_clustering
       |FROM binned GROUP BY deg_bin ORDER BY deg_bin""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q309_jaccard_linkpred", q309, q309Sql),
    Query("q310_rich_club", q310, q310Sql),
    Query("q311_component_census", q311, q311Sql),
    Query("q312_clustering_curve", q312, q312Sql))
}
