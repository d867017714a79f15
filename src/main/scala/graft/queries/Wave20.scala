package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 20" query set (q233-q236): privacy l-diversity,
  * sampled silhouette cluster quality, leave-one-group-out OLS
  * influence, and 3-itemset association rules. Same contract as every
  * wave: DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave20Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q233
  /** Entropy l-diversity ([[graft.ops.ext.Privacy.lDiversity]]) of
    * the document corpus: QI = (lang, 100-char length bucket) —
    * q215's k-anonymity cells — sensitive attribute = source. A
    * k-anonymous cell whose members all share one source still leaks
    * it; this reports distinct-l and mean group entropy per lang.
    */
  def q233(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Privacy
    val df = T(s, dir, "documents")
      .select(col("lang"), expr("n_chars div 100").cast("long")
        .as("len_bucket"), col("source"))
    Privacy.lDiversity(df, "lang", Seq("len_bucket"), "source", minL = 2)
      .orderBy("lang")
  }
  val q233Sql: String =
    """WITH cells AS (SELECT lang, n_chars // 100 AS len_bucket, source,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2, 3),
      |grp AS (SELECT lang, len_bucket, CAST(count(*) AS BIGINT) AS l,
      |    CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
      |      * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS slq
      |  FROM cells GROUP BY 1, 2),
      |ent AS (SELECT lang, l, ln(CAST(n AS DOUBLE))
      |    - CAST(slq AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE)
      |    AS entropy
      |  FROM grp)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(min(l) AS BIGINT) AS min_l,
      |  CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_weak_groups,
      |  round(CAST(sum(CAST(floor(entropy * 1000000.0e0 + 0.5e0)
      |      AS BIGINT)) AS DOUBLE) / 1000000.0e0
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_entropy
      |FROM ent GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q234
  /** Sampled silhouette ([[graft.ops.ext.ClusterEval.silhouette]]) of
    * the embedding corpus under its label partition: anchors =
    * vec_id % 4 == 0 broadcast onto ONE corpus scan, d² from norms +
    * one VecDot per pair (no sqrt, no corpus self-join). Per-label
    * mean silhouette on squared-Euclidean distance.
    */
  def q234(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.ClusterEval
    ClusterEval.silhouette(T(s, dir, "embeddings"),
      "vec_id", "label", "embedding", col("id") % 4 === 0)
      .orderBy("cluster")
  }
  val q234Sql: String =
    """WITH n AS (SELECT vec_id AS id, label AS cl,
      |    [x::DOUBLE for x in embedding] AS v,
      |    list_reduce(list_transform(
      |      range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
      |      (a, b) -> a + b) AS nrm
      |  FROM embeddings),
      |anch AS (SELECT id AS aid, cl AS acl, v AS av, nrm AS anrm
      |  FROM n WHERE id % 4 = 0),
      |pairs AS (SELECT a.aid, a.acl, b.cl,
      |    CAST(floor((a.anrm + b.nrm - 2.0e0 * list_reduce(
      |      list_transform(range(1, len(b.v) + 1),
      |        i -> a.av[i] * b.v[i]), (x, y) -> x + y))
      |      * 1000000.0e0 + 0.5e0) AS BIGINT) AS d2q
      |  FROM anch a JOIN n b ON b.id <> a.aid),
      |pcm AS (SELECT aid, acl, cl,
      |    CAST(CAST(sum(d2q) AS BIGINT) AS DOUBLE) / 1000000.0e0
      |      / CAST(count(*) AS DOUBLE) AS mean_d2
      |  FROM pairs GROUP BY 1, 2, 3),
      |aa AS (SELECT aid, acl, mean_d2 AS a FROM pcm WHERE cl = acl),
      |bb AS (SELECT aid, min(mean_d2) AS b FROM pcm WHERE cl <> acl
      |  GROUP BY 1),
      |sil AS (SELECT acl, CAST(floor(CASE WHEN greatest(a, b) > 0.0e0
      |      THEN (b - a) / greatest(a, b) ELSE 0.0e0 END
      |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS sq
      |  FROM aa JOIN bb USING (aid))
      |SELECT acl AS cluster, CAST(count(*) AS BIGINT) AS n_anchors,
      |  round(CAST(CAST(sum(sq) AS BIGINT) AS DOUBLE) / 1000000000.0e0
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_silhouette
      |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q235
  /** LOGO slope influence ([[graft.ops.Influence.logoSlope]]): how
    * much the global quantity→price OLS slope moves when each
    * customer nation's order rows are deleted — group-level data
    * valuation with no per-group refit (algebraic sums-minus-sums).
    */
  def q235(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Influence
    val f = T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("y"))
    Influence.logoSlope(f, "n_name", yScale = 100.0).orderBy("n_name")
  }
  val q235Sql: String = {
    val bG = """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))""".stripMargin
    val bL = """(CAST(n - ng AS DOUBLE) * CAST(sxy - sxyg AS DOUBLE)
      |    - CAST(sx - sxg AS DOUBLE) * CAST(sy - syg AS DOUBLE))
      |    / (CAST(n - ng AS DOUBLE) * CAST(sxx - sxxg AS DOUBLE)
      |    - CAST(sx - sxg AS DOUBLE) * CAST(sx - sxg AS DOUBLE))""".stripMargin
    s"""WITH f AS (SELECT n_name, CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100.0e0 + 0.5e0) AS BIGINT) AS y
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |g AS (SELECT n_name, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(x) AS BIGINT) AS sxg, CAST(sum(y) AS BIGINT) AS syg,
      |    CAST(sum(x * y) AS BIGINT) AS sxyg,
      |    CAST(sum(x * x) AS BIGINT) AS sxxg
      |  FROM f GROUP BY 1),
      |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
      |    CAST(sum(sxg) AS BIGINT) AS sx, CAST(sum(syg) AS BIGINT) AS sy,
      |    CAST(sum(sxyg) AS BIGINT) AS sxy,
      |    CAST(sum(sxxg) AS BIGINT) AS sxx
      |  FROM g)
      |SELECT n_name, ng AS n_rows,
      |  round($bG / 100.0e0, 6) AS beta_global,
      |  round($bL / 100.0e0, 6) AS beta_loo,
      |  round(($bL - $bG) / 100.0e0, 6) AS delta_beta
      |FROM g, t ORDER BY n_name""".stripMargin
  }

  // ---------------------------------------------------------------- q236
  /** 3-itemset association rules ([[graft.ops.Association
    * .tripleRules]]) over order baskets of part brands: Apriori-pruned
    * triple generation (third leg joins only pairs that already clear
    * the support floor), support ratio and 3-way lift. The brand
    * alphabet bounds the output regardless of corpus size.
    */
  def q236(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Association
    val f = T(s, dir, "lineitem")
      .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    Association.tripleRules(f, "l_orderkey", "p_brand", minShared = 20L)
      .orderBy("a", "b", "c")
  }
  val q236Sql: String =
    """WITH f AS (SELECT DISTINCT l_orderkey AS g, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |pr AS (SELECT a.item AS a, b.item AS b, a.g
      |  FROM f a JOIN f b ON a.g = b.g AND a.item < b.item),
      |prefix AS (SELECT a, b FROM pr GROUP BY 1, 2
      |  HAVING count(*) >= 20),
      |tri AS (SELECT pr.a, pr.b, c.item AS c,
      |    CAST(count(*) AS BIGINT) AS s_abc
      |  FROM pr SEMI JOIN prefix ON pr.a = prefix.a AND pr.b = prefix.b
      |  JOIN f c ON c.g = pr.g AND pr.b < c.item
      |  GROUP BY 1, 2, 3 HAVING count(*) >= 20),
      |isup AS (SELECT item, CAST(count(*) AS BIGINT) AS s
      |  FROM f GROUP BY 1),
      |t AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_baskets FROM f)
      |SELECT tri.a, tri.b, tri.c, tri.s_abc,
      |  round(CAST(tri.s_abc AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6)
      |    AS support,
      |  round(CAST(n_baskets AS DOUBLE) * CAST(n_baskets AS DOUBLE)
      |    * CAST(tri.s_abc AS DOUBLE) / CAST(ia.s AS DOUBLE)
      |    / CAST(ib.s AS DOUBLE) / CAST(ic.s AS DOUBLE), 6) AS lift3
      |FROM tri JOIN isup ia ON tri.a = ia.item
      |  JOIN isup ib ON tri.b = ib.item
      |  JOIN isup ic ON tri.c = ic.item, t
      |ORDER BY a, b, c""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q233_l_diversity", q233, q233Sql),
    Query("q234_silhouette", q234, q234Sql),
    Query("q235_logo_influence", q235, q235Sql),
    Query("q236_freq_triples", q236, q236Sql))
}
