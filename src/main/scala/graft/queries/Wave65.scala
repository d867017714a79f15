package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-7 "wave 65" query set (q404–q405): hierarchy aggregation and
  * marginal balancing — the recursive roll-up classic done WITHOUT
  * recursion (arithmetic ancestor derivation keeps it one explode +
  * one shuffle at any corpus size), and iterative proportional fitting
  * (raking), the survey-weighting primitive a corpus-balancing pipeline
  * uses to hit target (language × source) margins.
  */
object Wave65Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q404
  /** Full-subtree hierarchy roll-up over the synthetic binary part tree
    * (parent(p) = p div 2, root 1): every part's retail cents
    * contribute to ALL its ancestors, and the top-20 subtrees by total
    * surface with their node counts.
    *
    * Scale shape: the classic WITH RECURSIVE climb is an arithmetic
    * EXPLODE here — ancestor_k(p) = p >> k, so a 31-slot explode +
    * `ancestor >= 1` filter derives every (node → ancestor) link with
    * no join, no iteration, no driver loop: one narrow pass and ONE
    * aggregation shuffle regardless of tree depth (log₂ of the max id
    * bounds the real fan-out; a 100 TB id space adds ~10 slots, not
    * rounds). Top-20 is a TakeOrdered.
    */
  def q404(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part")
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("cents"))
      .select(col("cents"),
        explode(sequence(lit(0), lit(30))).as("k"),
        col("p_partkey"))
      .select(expr("shiftright(p_partkey, k)").as("anc"), col("cents"))
      .filter(col("anc") >= 1)
      .groupBy(col("anc"))
      .agg(count(lit(1)).as("n_nodes"), sum("cents").as("subtree_cents"))
      .orderBy(col("subtree_cents").desc, col("anc"))
      .limit(20)
  val q404Sql: String =
    """SELECT anc, CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(sum(cents) AS BIGINT) AS subtree_cents
      |FROM (
      |  SELECT p_partkey >> k AS anc,
      |    CAST(floor(p_retailprice * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      |  FROM part, (SELECT unnest(range(0, 31)) AS k))
      |WHERE anc >= 1
      |GROUP BY anc ORDER BY subtree_cents DESC, anc LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q405
  /** IPF raking to uniform (lang × source) margins, 3 fixed rounds:
    * the contingency table of document counts gets per-cell weights
    * that alternate row- and column-scaling toward N/L and N/S
    * targets — the balancing weights a mixture pipeline applies before
    * sampling.
    *
    * Scale shape: the corpus collapses to the L×S contingency table in
    * ONE aggregation; every IPF round is window arithmetic over that
    * tiny frame (margin sums accumulate in DECIMAL(38,18) so the fold
    * order cannot change the weights; the scale factors are plain IEEE
    * divisions replayed identically by the oracle's unrolled CTEs).
    */
  def q405(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 18)
    val cells = T(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.agg(sum("n").as("tot"),
      countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
    var w = cells.crossJoin(broadcast(totals))
      .select(col("lang"), col("source"), col("n"),
        (col("tot").cast("double") / col("nl").cast("double")).as("t_row"),
        (col("tot").cast("double") / col("ns").cast("double")).as("t_col"),
        lit(1.0).as("w"))
    val wRow = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val wCol = org.apache.spark.sql.expressions.Window.partitionBy("source")
    for (_ <- 1 to 3) {
      w = w.withColumn("w",
        col("w") * (col("t_row")
          / sum((col("n") * col("w")).cast(dec)).over(wRow).cast("double")))
      w = w.withColumn("w",
        col("w") * (col("t_col")
          / sum((col("n") * col("w")).cast(dec)).over(wCol).cast("double")))
    }
    w.select(col("lang"), col("source"), col("n"),
        round(col("w"), 6).as("weight"))
      .orderBy("lang", "source")
  }
  val q405Sql: String = {
    def round(i: Int, prev: String): String =
      s"""r${i}a AS (SELECT lang, source, n, t_row, t_col,
         |    w * (t_row / CAST(sum(CAST(n * w AS DECIMAL(38,18)))
         |      OVER (PARTITION BY lang) AS DOUBLE)) AS w
         |  FROM $prev),
         |r${i}b AS (SELECT lang, source, n, t_row, t_col,
         |    w * (t_col / CAST(sum(CAST(n * w AS DECIMAL(38,18)))
         |      OVER (PARTITION BY source) AS DOUBLE)) AS w
         |  FROM r${i}a)""".stripMargin
    s"""WITH cells AS (SELECT lang, source, count(*) AS n
       |  FROM documents GROUP BY 1, 2),
       |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS nl,
       |    CAST(count(DISTINCT source) AS BIGINT) AS ns FROM cells),
       |w0 AS (SELECT lang, source, CAST(n AS BIGINT) AS n,
       |    CAST(tot AS DOUBLE) / CAST(nl AS DOUBLE) AS t_row,
       |    CAST(tot AS DOUBLE) / CAST(ns AS DOUBLE) AS t_col,
       |    1.0e0 AS w
       |  FROM cells, tt),
       |${round(1, "w0")},
       |${round(2, "r1b")},
       |${round(3, "r2b")}
       |SELECT lang, source, n, round(w, 6) AS weight
       |FROM r3b ORDER BY lang, source""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q404_tree_rollup", q404, q404Sql),
    Query("q405_ipf_raking", q405, q405Sql))
}
