package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 64" query set (q402–q403): the two leakage censuses a
  * training-data release runs last — per-document n-gram duplication
  * exposure (the memorization-risk profile a removal policy thresholds
  * on) and embedding-space eval-set decontamination (the paraphrase-
  * level leakage the q42/q66 n-gram gates cannot see). Both are
  * strictly linear: hash/cell bucketing only, no pair enumeration.
  */
object Wave64Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q402
  /** Per-doc 8-gram duplication exposure decile census
    * ([[graft.ops.ext.TextAnalysis.ngramExposure]]): two shuffles of
    * (hash, id) rows — shingle document frequency, then the per-doc
    * dup share — rolled into 10 decile rows with exact quantized
    * means.
    */
  def q402(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.ngramExposure(
      T(s, dir, "documents"), "text", "doc_id", n = 8)
  val q402Sql: String =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                t -> len(t) > 0) AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    unnest(list_distinct([array_to_string(toks[i:i+7], ' ')
      |      for i in range(1, greatest(len(toks)-7, 1)+1)])) AS g
      |  FROM tk),
      |dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY 1),
      |per AS (SELECT s.doc_id,
      |    CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS share
      |  FROM sh s JOIN dfreq d ON d.g = s.g GROUP BY 1),
      |b AS (SELECT least(CAST(floor(share * 10) AS BIGINT), 9) AS decile,
      |    CAST(floor(share * 1000000.0e0 + 0.5e0) AS BIGINT) AS q
      |  FROM per)
      |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(CAST(sum(q) AS DOUBLE) / 1000000.0e0
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_share
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q403
  /** Embedding-space decontamination census ([[graft.ops.ext.Similarity
    * .decontaminationCensus]]): the eval slice (vec_id % 10 = 3)
    * screened against the train remainder at cosine ≥ 0.8 through IVF
    * cells — only the deterministic centroid set broadcasts; candidates
    * come from the cell equi-join, never eval×train.
    */
  def q403(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    graft.ops.ext.Similarity.decontaminationCensus(
      e.filter(col("vec_id") % 10 =!= 3), e.filter(col("vec_id") % 10 === 3),
      "embedding", "vec_id", threshold = 0.8, centroidEvery = 50, nprobe = 2)
  }
  val q403Sql: String =
    """WITH v AS (SELECT vec_id,
      |    [x::DOUBLE for x in embedding] AS vec FROM embeddings),
      |nn AS (SELECT vec_id, vec,
      |    sqrt(list_reduce(list_transform(vec, x -> x*x), (a,b) -> a+b))
      |      AS nrm FROM v),
      |tv AS (SELECT vec_id AS t_id, vec AS tvec, nrm AS tnorm FROM nn
      |       WHERE vec_id % 10 <> 3),
      |ev AS (SELECT vec_id AS e_id, vec AS evec, nrm AS enorm FROM nn
      |       WHERE vec_id % 10 = 3),
      |cents AS (SELECT t_id AS cent_id, tvec AS centv, tnorm AS centnorm
      |          FROM tv WHERE t_id % 50 = 0),
      |pe AS (SELECT e_id, cent_id FROM (
      |    SELECT e.e_id, c.cent_id, row_number() OVER (
      |        PARTITION BY e.e_id ORDER BY
      |        list_reduce(list_transform(range(1, len(e.evec)+1),
      |          i -> e.evec[i]*c.centv[i]), (x,y) -> x+y)
      |          / (e.enorm*c.centnorm) DESC, c.cent_id) AS r
      |    FROM ev e, cents c) WHERE r <= 2),
      |pt AS (SELECT t_id, cent_id FROM (
      |    SELECT t.t_id, c.cent_id, row_number() OVER (
      |        PARTITION BY t.t_id ORDER BY
      |        list_reduce(list_transform(range(1, len(t.tvec)+1),
      |          i -> t.tvec[i]*c.centv[i]), (x,y) -> x+y)
      |          / (t.tnorm*c.centnorm) DESC, c.cent_id) AS r
      |    FROM tv t, cents c) WHERE r = 1),
      |scored AS (SELECT DISTINCT pe.e_id, pt.t_id,
      |    list_reduce(list_transform(range(1, len(e.evec)+1),
      |      i -> e.evec[i]*t.tvec[i]), (x,y) -> x+y)
      |      / (e.enorm*t.tnorm) AS cosine
      |  FROM pe JOIN pt ON pe.cent_id = pt.cent_id
      |  JOIN ev e ON e.e_id = pe.e_id
      |  JOIN tv t ON t.t_id = pt.t_id),
      |top1 AS (SELECT e_id,
      |    CAST(floor(max(cosine) * 1000000.0e0 + 0.5e0) AS BIGINT) AS q1
      |  FROM scored GROUP BY 1),
      |agg AS (SELECT
      |    (SELECT count(*) FROM ev)::BIGINT AS n_eval,
      |    (SELECT count(*) FROM tv)::BIGINT AS n_train,
      |    (SELECT count(*) FROM top1)::BIGINT AS n_matched,
      |    (SELECT CAST(sum(CASE WHEN q1 >= 800000 THEN 1 ELSE 0 END)
      |       AS BIGINT) FROM top1) AS n_flagged,
      |    (SELECT CAST(sum(q1) AS BIGINT) FROM top1) AS sq1)
      |SELECT n_eval, n_train, n_matched, n_flagged,
      |  round(CAST(n_flagged AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
      |    AS flagged_share,
      |  round(CAST(sq1 AS DOUBLE) / 1000000.0e0
      |    / CAST(n_matched AS DOUBLE), 6) AS mean_top1
      |FROM agg""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q402_ngram_exposure", q402, q402Sql),
    Query("q403_semantic_decontamination", q403, q403Sql))
}
