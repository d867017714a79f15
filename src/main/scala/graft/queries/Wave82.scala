package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 82" query set (q436): the 5-gram prefix-filter pair
  * set exposed as a first-class artifact.
  *
  * q436 materializes exactly the pair frame `dupPairs` that the
  * canonical-dedup (q325) and leakage-split (q328) pipelines consume —
  * (id_a, id_b, inter, na, nb, jaccard) for every pair with 5-gram
  * jaccard ≥ 0.6 over the near-dup corpus. Two reasons it is a
  * declared query and not an internal:
  *
  *  1. A curation deployment wants the pair list itself (audit which
  *     docs matched, re-threshold without re-mining).
  *  2. It is the LINEAR-COST verification anchor for the sf1 tier:
  *     the downstream closure queries (q325, q328) are exact functions
  *     of this pair set, so [[Sf1Invariants]] re-derives their full
  *     expected output in DuckDB from THIS query's parquet (closure +
  *     argmax are cheap; only the pairwise mining is quadratic) and
  *     spot-verifies the pair values themselves by sampled exact
  *     recompute — upgrading those rows-only sf1 records to value
  *     checks.
  */
object Wave82Queries {

  // ---------------------------------------------------------------- q436
  /** The q272 prefix-filter kernel ([[graft.ops.ext.PrefixJoin
    * .jaccardJoin]], df-ordered prefix tokens — no false negatives,
    * no pair explosion) on 5-gram shingles at τ = 3/5, with the exact
    * intersection / set sizes kept in the output. Oracle = the
    * shared-gram co-occurrence + exact-threshold SQL (complete for
    * j > 0 — fine for an oracle at gate scale, fatal for an engine).
    */
  def q436(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.{Dedup, PrefixJoin, TextAnalysis}
    val corpus = ExtQueries.nearDupCorpus(s, dir)
      .select(col("doc_id"),
        Dedup.shinglesOfTokens(TextAnalysis.tokens(col("text")), 5)
          .as("toks"))
    PrefixJoin.jaccardJoin(corpus, "doc_id", "toks", 3, 5)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("inter"),
        col("na"), col("nb"), col("jaccard"))
      .orderBy("id_a", "id_b")
  }
  val q436Sql: String =
    s"""WITH ${Wave43Queries.dupPairsSql}
       |SELECT s.id_a, s.id_b, s.i AS inter, a.n AS na, b.n AS nb,
       |  round(s.i::DOUBLE / (a.n + b.n - s.i), 6) AS jaccard
       |FROM shared s JOIN sz a ON a.doc_id = s.id_a
       |              JOIN sz b ON b.doc_id = s.id_b
       |WHERE 5 * s.i >= 3 * (a.n + b.n - s.i)
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q436_dup_pairs", q436, q436Sql))
}
