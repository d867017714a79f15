package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.ext.{Retrieval, Similarity}

/** Round-5 "wave 44" query set (q329–q332): retrieval depth — 1-bit
  * vector quantization recall, MMR diversified re-ranking,
  * query-likelihood (Dirichlet) retrieval, and min-max score fusion.
  * Same contract as every wave: DuckDB oracle per query, doubles
  * round to 6 dp, rankings pinned on exact integers (quantized
  * millionths / 1e-9 ln terms) before any ordering.
  */
object Wave44Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q329
  /** Sign-bit (1-bit) quantization recall
    * ([[graft.ops.ext.Similarity.binaryQuantRecall]], recall@10):
    * hamming-over-two-longs search vs exact cosine on the %50 query
    * sample — the acceptance test before shipping 32×-smaller binary
    * vectors, beside the int8 (q72) and PQ (q182) quantizers.
    */
  def q329(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.binaryQuantRecall(emb,
      emb.filter(col("vec_id") % 50 === 0), "embedding", "vec_id", k = 10)
  }
  val q329Sql: String = {
    def word(shift: Int): String =
      s"""list_reduce(list_transform(range(0, 32),
         |      i -> CASE WHEN vec[i + ${shift + 1}] > 0
         |           THEN (1::BIGINT << i) ELSE 0::BIGINT END),
         |      (a, b) -> a | b)""".stripMargin
    s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec,
       |    sqrt(list_reduce(list_transform(vec, x -> x*x),
       |      (a, b) -> a + b)) AS nrm
       |  FROM v),
       |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm
       |  FROM n WHERE vec_id % 50 = 0),
       |exact AS (SELECT query_id, corpus_id FROM (
       |    SELECT q.query_id, c.vec_id AS corpus_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        list_reduce(list_transform(range(1, len(c.vec)+1),
       |          i -> c.vec[i] * q.qvec[i]), (a, b) -> a + b)
       |        / (c.nrm * q.qnrm) DESC, c.vec_id) AS rank
       |    FROM n c, q WHERE c.vec_id <> q.query_id)
       |  WHERE rank <= 10),
       |bits AS (SELECT vec_id, ${word(0)} AS lo, ${word(32)} AS hi
       |  FROM v),
       |qb AS (SELECT b.vec_id AS query_id, b.lo AS qlo, b.hi AS qhi
       |  FROM bits b WHERE b.vec_id % 50 = 0),
       |ham AS (SELECT query_id, corpus_id FROM (
       |    SELECT q.query_id, c.vec_id AS corpus_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi)),
       |        c.vec_id) AS rank
       |    FROM bits c, qb q WHERE c.vec_id <> q.query_id)
       |  WHERE rank <= 10),
       |ov AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_overlap
       |  FROM exact e JOIN ham h
       |    ON h.query_id = e.query_id AND h.corpus_id = e.corpus_id
       |  GROUP BY 1)
       |SELECT q.query_id, coalesce(ov.n_overlap, 0) AS n_overlap,
       |  round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 10.0e0, 6)
       |    AS recall
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |LEFT JOIN ov USING (query_id)
       |ORDER BY query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q330
  /** MMR diversified top-5 ([[graft.ops.ext.Similarity.mmrTopK]],
    * λ = 7/10, pool 20, query = vec 50): relevance-vs-redundancy
    * re-ranking — the "don't return five near-identical results"
    * step between ANN retrieval (q16/q17) and the user. Every
    * selection compares quantized-millionth integers (floor-div
    * scores), so the greedy path is bit-deterministic.
    */
  def q330(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(T(s, dir, "embeddings"), queryId = 50L,
      "embedding", "vec_id", k = 5, lambdaNum = 7, lambdaDen = 10,
      poolSize = 20)
  val q330Sql: String = {
    def selUnion(r: Int): String =
      (1 to r).map(i => s"SELECT id FROM s$i").mkString(" UNION ALL ")
    val rounds = (2 to 5).map { r =>
      s"""r$r AS (SELECT p.id, p.relq,
         |    (7 * p.relq - 3 * max(d.divq)) // 10 AS mmrq
         |  FROM pool p JOIN divs d ON d.ia = p.id
         |    AND d.ib IN (${selUnion(r - 1)})
         |  WHERE p.id NOT IN (${selUnion(r - 1)})
         |  GROUP BY p.id, p.relq),
         |s$r AS (SELECT id, relq, mmrq FROM r$r
         |  ORDER BY mmrq DESC, id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec,
       |    sqrt(list_reduce(list_transform(vec, x -> x*x),
       |      (a, b) -> a + b)) AS nrm
       |  FROM v),
       |q AS (SELECT vec, nrm FROM n WHERE vec_id = 50),
       |pool AS (SELECT c.vec_id AS id,
       |    CAST(floor(list_reduce(list_transform(range(1, len(c.vec)+1),
       |        i -> c.vec[i] * q.vec[i]), (a, b) -> a + b)
       |      / (c.nrm * q.nrm) * 1000000.0e0 + 0.5e0) AS BIGINT) AS relq
       |  FROM n c, q WHERE c.vec_id <> 50
       |  ORDER BY list_reduce(list_transform(range(1, len(c.vec)+1),
       |      i -> c.vec[i] * q.vec[i]), (a, b) -> a + b)
       |    / (c.nrm * q.nrm) DESC, c.vec_id
       |  LIMIT 20),
       |pv AS (SELECT p.id, p.relq, n.vec, n.nrm
       |  FROM pool p JOIN n ON n.vec_id = p.id),
       |divs AS (SELECT a.id AS ia, b.id AS ib,
       |    CAST(floor(list_reduce(list_transform(range(1, len(a.vec)+1),
       |        i -> a.vec[i] * b.vec[i]), (x, y) -> x + y)
       |      / (a.nrm * b.nrm) * 1000000.0e0 + 0.5e0) AS BIGINT) AS divq
       |  FROM pv a JOIN pv b ON a.id <> b.id),
       |s1 AS (SELECT id, relq, (7 * relq) // 10 AS mmrq FROM pool
       |  ORDER BY (7 * relq) // 10 DESC, id LIMIT 1),
       |$rounds
       |SELECT rank, doc_id,
       |  round(CAST(relq AS DOUBLE) / 1000000.0e0, 6) AS relevance,
       |  round(CAST(mmrq AS DOUBLE) / 1000000.0e0, 6) AS mmr
       |FROM (${(1 to 5).map(i =>
          s"SELECT ${i}::BIGINT AS rank, id AS doc_id, relq, mmrq FROM s$i")
          .mkString("\n  UNION ALL ")})
       |ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- q331
  /** Query-likelihood retrieval
    * ([[graft.ops.ext.Retrieval.queryLikelihoodTopK]], Dirichlet
    * μ = 2000, the q101 query): the probabilistic LM ranking beside
    * BM25 — smoothing scores zero-tf documents too, and every ln term
    * rides a 1e-9 integer before the per-doc sum.
    */
  def q331(s: SparkSession, dir: String): DataFrame =
    Retrieval.queryLikelihoodTopK(
      T(s, dir, "documents").select("doc_id", "text"),
      "text", "doc_id", Wave4Queries.Bm25Query, mu = 2000.0, k = 10)
  val q331Sql: String = {
    val qlist = Wave4Queries.Bm25Query.map(w => s"('$w')").mkString(", ")
    val inList = Wave4Queries.Bm25Query.map(w => s"'$w'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |      t -> len(t)>0) AS toks
       |  FROM documents),
       |corpus AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |    unnest(toks) AS term FROM tok),
       |cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf
       |  FROM corpus WHERE term IN ($inList) GROUP BY 1),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM corpus),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM corpus WHERE term IN ($inList) GROUP BY 1, 2),
       |qt(term) AS (VALUES $qlist),
       |grid AS (SELECT d.doc_id, d.dl, qt.term,
       |    coalesce(tf.tf, 0) AS tf, coalesce(cf.cf, 0) AS cf, tt.tt
       |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok) d
       |  CROSS JOIN qt
       |  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.term = qt.term
       |  LEFT JOIN cf ON cf.term = qt.term
       |  CROSS JOIN tt),
       |terms AS (SELECT doc_id, tf,
       |    CAST(floor(ln((CAST(tf AS DOUBLE)
       |        + 2000.0e0 * CAST(cf AS DOUBLE) / CAST(tt AS DOUBLE))
       |      / (CAST(dl AS DOUBLE) + 2000.0e0)) * 1000000000.0e0
       |      + 0.5e0) AS BIGINT) AS q
       |  FROM grid WHERE cf > 0),
       |perdoc AS (SELECT doc_id, CAST(sum(q) AS BIGINT) AS sq,
       |    CAST(count(CASE WHEN tf > 0 THEN 1 END) AS BIGINT)
       |      AS n_hit_terms
       |  FROM terms GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY sq DESC, doc_id)
       |    AS BIGINT) AS rank,
       |  doc_id, round(CAST(sq AS DOUBLE) / 1000000000.0e0, 6) AS score,
       |  n_hit_terms
       |FROM perdoc ORDER BY sq DESC, doc_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- q332
  /** Hybrid retrieval fusion
    * ([[graft.ops.ext.Retrieval.minMaxFuse]]): BM25 (q101) and
    * query-likelihood (q331) top-20 lists min-max normalized in
    * integer arithmetic and fused as the mean — the score-aware
    * counterpart to reciprocal-rank fusion (q118).
    */
  def q332(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select("doc_id", "text")
    val bm = Retrieval.bm25TopK(docs, "text", "doc_id",
      Wave4Queries.Bm25Query, k = 20).select("doc_id", "score")
    val ql = Retrieval.queryLikelihoodTopK(docs, "text", "doc_id",
      Wave4Queries.Bm25Query, mu = 2000.0, k = 20)
      .select("doc_id", "score")
    Retrieval.minMaxFuse(bm, ql, k = 10)
  }
  val q332Sql: String = {
    val bm20 = Wave4Queries.bm25Sql(20)
    val ql20 = q331Sql.replace("LIMIT 10", "LIMIT 20")
    s"""WITH bm AS (SELECT doc_id, score FROM ($bm20)),
       |ql AS (SELECT doc_id, score FROM ($ql20)),
       |bq AS (SELECT doc_id,
       |    CAST(floor(score * 1000000.0e0 + 0.5e0) AS BIGINT) AS sq
       |  FROM bm),
       |qq AS (SELECT doc_id,
       |    CAST(floor(score * 1000000.0e0 + 0.5e0) AS BIGINT) AS sq
       |  FROM ql),
       |bn AS (SELECT doc_id, (sq - mn) * 1000000 //
       |    greatest(mx - mn, 1) AS na
       |  FROM bq, (SELECT min(sq) AS mn, max(sq) AS mx FROM bq)),
       |qn AS (SELECT doc_id, (sq - mn) * 1000000 //
       |    greatest(mx - mn, 1) AS nb
       |  FROM qq, (SELECT min(sq) AS mn, max(sq) AS mx FROM qq)),
       |j AS (SELECT coalesce(bn.doc_id, qn.doc_id) AS doc_id,
       |    bn.na IS NOT NULL AS in_a, qn.nb IS NOT NULL AS in_b,
       |    (coalesce(bn.na, 0) + coalesce(qn.nb, 0)) // 2 AS fusedq
       |  FROM bn FULL OUTER JOIN qn ON qn.doc_id = bn.doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY fusedq DESC, doc_id)
       |    AS BIGINT) AS rank,
       |  doc_id, round(CAST(fusedq AS DOUBLE) / 1000000.0e0, 6) AS fused,
       |  in_a, in_b
       |FROM j ORDER BY fusedq DESC, doc_id LIMIT 10""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q329_binary_quant", q329, q329Sql),
    Query("q330_mmr", q330, q330Sql),
    Query("q331_query_likelihood", q331, q331Sql),
    Query("q332_hybrid_fusion", q332, q332Sql))
}
