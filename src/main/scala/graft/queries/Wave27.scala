package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 27" query set (q261–q264): personalized PageRank,
  * bounded multi-source BFS, approximate-functional-dependency audit,
  * and Flesch readability profiling. Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave27Queries {
  import CoreQueries.T

  private def bipartiteEdges(s: SparkSession, dir: String): DataFrame = {
    val fwd = T(s, dir, "lineitem").select(col("l_suppkey").as("src"),
      (col("l_partkey") + 1000000L).as("dst"))
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }
  private val bipartiteEdgesSql: String =
    """fwd AS (SELECT DISTINCT l_suppkey AS src,
      |    1000000 + l_partkey AS dst FROM lineitem),
      |edges AS (SELECT src, dst FROM fwd
      |          UNION SELECT dst, src FROM fwd)""".stripMargin

  // ---------------------------------------------------------------- q261
  /** Personalized PageRank ([[graft.ops.Graph.personalizedPageRank]]):
    * restart mass pinned to every-10th supplier, 3 rounds over q77's
    * bipartite graph — the seed-biased "similar to these" walk, every
    * rank integer-exact against the unrolled-CTE oracle like q77/q249.
    */
  def q261(s: SparkSession, dir: String): DataFrame = {
    val seeds = T(s, dir, "supplier")
      .filter(pmod(col("s_suppkey"), lit(10L)) === 0)
      .select(col("s_suppkey").as("node"))
    graft.ops.Graph.personalizedPageRank(
        bipartiteEdges(s, dir), seeds, iterations = 3)
      .orderBy("node")
  }
  val q261Sql: String = {
    def round(prev: String, i: Int): String =
      s"""c$i AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS s
         |  FROM edges e JOIN $prev r ON e.src = r.node
         |  JOIN outdeg o ON e.src = o.src GROUP BY 1),
         |r$i AS (SELECT n.node,
         |    CASE WHEN sd.node IS NOT NULL THEN
         |      (SELECT 15 * 1000000000000 // 100 // ns FROM params)
         |      ELSE 0 END
         |      + 85 * coalesce(c.s, 0) // 100 AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (node)
         |  LEFT JOIN seeds sd USING (node))""".stripMargin
    s"""WITH $bipartiteEdgesSql,
       |seeds AS (SELECT DISTINCT s_suppkey AS node FROM supplier
       |          WHERE s_suppkey % 10 = 0),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges
       |          UNION SELECT node FROM seeds),
       |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
       |params AS (SELECT count(*) AS ns FROM seeds),
       |r0 AS (SELECT n.node, CASE WHEN sd.node IS NOT NULL THEN
       |      (SELECT 1000000000000 // ns FROM params) ELSE 0 END AS rank
       |  FROM nodes n LEFT JOIN seeds sd USING (node)),
       |${round("r0", 1)},
       |${round("r1", 2)},
       |${round("r2", 3)}
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q262
  /** Bounded BFS ([[graft.ops.Graph.bfsDistances]]): exact hop
    * distance from suppliers 1–3 over the undirected supplier↔part
    * graph, 4 rounds — the frontier-expansion traversal primitive
    * (reachability, blast-radius, crawl-depth audits). Unreached
    * nodes report −1 on both engines.
    */
  def q262(s: SparkSession, dir: String): DataFrame = {
    val seeds = T(s, dir, "supplier")
      .filter(col("s_suppkey") <= 3)
      .select(col("s_suppkey").as("node"))
    graft.ops.Graph.bfsDistances(bipartiteEdges(s, dir), seeds,
        maxHops = 4)
      .orderBy("node")
  }
  val q262Sql: String = {
    def level(i: Int): String =
      s"""f$i AS (SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN f${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM s${i - 1})),
         |s$i AS (SELECT node, dist FROM s${i - 1}
         |        UNION ALL SELECT node, $i AS dist FROM f$i)""".stripMargin
    s"""WITH $bipartiteEdgesSql,
       |seeds AS (SELECT DISTINCT s_suppkey AS node FROM supplier
       |          WHERE s_suppkey <= 3),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges
       |          UNION SELECT node FROM seeds),
       |s0 AS (SELECT node, 0 AS dist FROM seeds),
       |f0 AS (SELECT node FROM seeds),
       |${level(1)},
       |${level(2)},
       |${level(3)},
       |${level(4)}
       |SELECT n.node, CAST(coalesce(s.dist, -1) AS BIGINT) AS dist
       |FROM nodes n LEFT JOIN s4 s USING (node) ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q263
  /** Approximate-FD audit ([[graft.ops.Profile.fdAudit]]): the g3
    * deletion-error of three candidate dependencies on the customer
    * table — custkey→nationkey holds exactly (violations 0), the
    * nation/segment pair quantifies how far from functional each
    * direction is. The schema-discovery companion to q123's key audit.
    */
  def q263(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.fdAudit(T(s, dir, "customer"), Seq(
        ("c_custkey", "c_nationkey"),
        ("c_nationkey", "c_mktsegment"),
        ("c_mktsegment", "c_nationkey")))
      .orderBy("fd")
  val q263Sql: String = {
    def cand(a: String, b: String): String =
      s"""SELECT '$a->$b' AS fd, CAST(sum(na) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(na) - sum(keep) AS BIGINT) AS violations,
         |  round(CAST(sum(na) - sum(keep) AS DOUBLE)
         |    / CAST(sum(na) AS DOUBLE), 6) AS rate
         |FROM (SELECT a, CAST(sum(c) AS BIGINT) AS na,
         |        CAST(max(c) AS BIGINT) AS keep
         |      FROM (SELECT $a AS a, $b AS b, count(*) AS c
         |            FROM customer GROUP BY 1, 2)
         |      GROUP BY a)""".stripMargin
    s"""${cand("c_custkey", "c_nationkey")}
       |UNION ALL
       |${cand("c_nationkey", "c_mktsegment")}
       |UNION ALL
       |${cand("c_mktsegment", "c_nationkey")}
       |ORDER BY fd""".stripMargin
  }

  // ---------------------------------------------------------------- q264
  /** Flesch readability ([[graft.ops.ext.TextAnalysis.readability]])
    * rolled up per language: exact sentence/word/vowel-group counts
    * per document, the per-doc score quantized to 1e-6 before the
    * per-language mean — the classic text-quality signal next to the
    * length/stopword features (q19).
    */
  def q264(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.ops.ext.TextAnalysis.readability(
      T(s, dir, "documents"), "text")
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sentences")).as("sentences"),
        sum(col("n_words")).as("words"),
        sum(col("n_syllables")).as("syllables"),
        sum(floor(col("flesch") * 1e6 + lit(0.5)).cast("long")).as("fq"))
      .select(col("lang"), col("n_docs"), col("sentences"), col("words"),
        col("syllables"),
        round(col("fq").cast("double") / lit(1e6)
          / col("n_docs").cast("double"), 6).as("mean_flesch"))
      .orderBy("lang")
  }
  val q264Sql: String =
    """WITH docs AS (SELECT lang,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sen,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |      x -> len(x) > 0) AS toks
      |  FROM documents),
      |scored AS (SELECT lang, CAST(sen AS BIGINT) AS sen,
      |    CAST(len(toks) AS BIGINT) AS words,
      |    CAST(coalesce(list_sum(list_transform(toks,
      |      w -> len(regexp_extract_all(w, '[aeiouy]+')))), 0)
      |      AS BIGINT) AS syl
      |  FROM docs),
      |fl AS (SELECT lang, sen, words, syl,
      |    CASE WHEN words > 0 THEN
      |      round(206.835e0
      |        - 1.015e0 * (CAST(words AS DOUBLE) / CAST(sen AS DOUBLE))
      |        - 84.6e0 * (CAST(syl AS DOUBLE) / CAST(words AS DOUBLE)), 6)
      |      END AS flesch
      |  FROM scored)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(sen) AS BIGINT) AS sentences,
      |  CAST(sum(words) AS BIGINT) AS words,
      |  CAST(sum(syl) AS BIGINT) AS syllables,
      |  round(CAST(CAST(sum(CAST(floor(flesch * 1000000.0e0 + 0.5e0)
      |        AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0e0
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_flesch
      |FROM fl GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q261_ppr", q261, q261Sql),
    Query("q262_bfs", q262, q262Sql),
    Query("q263_fd_audit", q263, q263Sql),
    Query("q264_readability", q264, q264Sql))
}
