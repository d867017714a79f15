package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 63" query set (q399–q401): the classifier primitives a
  * curation pipeline trains IN the engine — multinomial Naive Bayes
  * over token counts (the classic language/domain router), closed-form
  * ridge regression from one pass of exact Gram sums (the quality-score
  * regressor), and nearest-class-centroid assignment in embedding space
  * (Rocchio label transfer). All three are aggregation-shaped (no
  * driver loops, no iterations); reproducibility comes from the q84/
  * q288 discipline — integer counts, ln() over integers only,
  * DECIMAL-exact accumulation, doubles only in the final closed form
  * with an identical expression tree in the oracle.
  */
object Wave63Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q399
  /** Multinomial NB language router ([[graft.ops.ext.Classify
    * .naiveBayesConfusion]]): train on even doc_ids, score odd ones,
    * report the true×predicted confusion census. One fact shuffle for
    * the (token, class) count table, one for the test-overlap join;
    * the |C|-row class table and the (D, V) scalars broadcast.
    */
  def q399(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Classify.naiveBayesConfusion(
      T(s, dir, "documents"), "text", "lang", "doc_id")
  val q399Sql: String =
    """WITH toks AS (SELECT doc_id, lang,
      |    unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                       t -> len(t) > 0)) AS token
      |  FROM documents),
      |train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
      |ctc AS (SELECT token, lang AS clang, count(*) AS ctc
      |  FROM train GROUP BY 1, 2),
      |cls AS (SELECT d.clang, d.dc, coalesce(t.nc, 0) AS nc FROM
      |  (SELECT lang AS clang, count(*) AS dc FROM documents
      |   WHERE doc_id % 2 = 0 GROUP BY 1) d
      |  LEFT JOIN (SELECT lang AS clang, count(*) AS nc FROM train
      |             GROUP BY 1) t USING (clang)),
      |scal AS (SELECT
      |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS dtot,
      |  (SELECT count(DISTINCT token) FROM train) AS v),
      |testm AS (SELECT doc_id, token, count(*) AS m FROM toks
      |  WHERE doc_id % 2 = 1 GROUP BY 1, 2),
      |nd AS (SELECT doc_id, sum(m) AS n_d FROM testm GROUP BY 1),
      |testdocs AS (SELECT d.doc_id, d.lang AS true_cls,
      |    coalesce(n.n_d, 0) AS n_d
      |  FROM documents d LEFT JOIN nd n ON n.doc_id = d.doc_id
      |  WHERE d.doc_id % 2 = 1),
      |overlap AS (SELECT t.doc_id, c.clang,
      |    sum(CAST(t.m * ln(c.ctc + 1) AS DECIMAL(38,18))) AS s1
      |  FROM testm t JOIN ctc c ON c.token = t.token GROUP BY 1, 2),
      |scored AS (SELECT td.doc_id, td.true_cls, k.clang,
      |    CAST(ln(k.dc) AS DECIMAL(38,18))
      |      - CAST(ln(s.dtot) AS DECIMAL(38,18))
      |      - CAST(td.n_d * ln(k.nc + s.v) AS DECIMAL(38,18))
      |      + coalesce(o.s1, CAST(0 AS DECIMAL(38,18))) AS score
      |  FROM testdocs td CROSS JOIN cls k CROSS JOIN scal s
      |  LEFT JOIN overlap o ON o.doc_id = td.doc_id AND o.clang = k.clang),
      |pred AS (SELECT true_cls, clang FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, clang) AS r FROM scored) WHERE r = 1)
      |SELECT true_cls, clang AS pred_cls, CAST(count(*) AS BIGINT) AS n
      |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q400
  /** Per-returnflag ridge regression ([[graft.ops.ext.Classify
    * .ridgeClosedForm]], λ=100): revenue cents on (quantity, discount
    * cents). ONE fact pass of integer Gram sums; the 2×2 solve is a
    * per-group closed form with the identical expression tree in the
    * oracle.
    */
  def q400(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Classify.ridgeClosedForm(
      T(s, dir, "lineitem"), "l_returnflag",
      col("l_quantity").cast("long"),
      floor(col("l_discount") * 100.0 + 0.5).cast("long"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0
        + 0.5).cast("long"),
      lambda = 100.0)
  val q400Sql: String =
    """WITH b AS (SELECT l_returnflag AS g,
      |    CAST(l_quantity AS BIGINT) AS x1,
      |    CAST(floor(l_discount * 100.0e0 + 0.5e0) AS BIGINT) AS x2,
      |    CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0
      |      + 0.5e0) AS BIGINT) AS y
      |  FROM lineitem),
      |a AS (SELECT g, count(*) AS n,
      |    sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
      |    sum(x1*x1) AS sx1x1, sum(x2*x2) AS sx2x2, sum(x1*x2) AS sx1x2,
      |    sum(x1*y) AS sx1y, sum(x2*y) AS sx2y,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM b GROUP BY g),
      |s AS (SELECT g, CAST(n AS BIGINT) AS n,
      |    CAST(CAST(n AS HUGEINT)*sx1x1 - CAST(sx1 AS HUGEINT)*sx1
      |      AS DOUBLE) AS s11,
      |    CAST(CAST(n AS HUGEINT)*sx2x2 - CAST(sx2 AS HUGEINT)*sx2
      |      AS DOUBLE) AS s22,
      |    CAST(CAST(n AS HUGEINT)*sx1x2 - CAST(sx1 AS HUGEINT)*sx2
      |      AS DOUBLE) AS s12,
      |    CAST(CAST(n AS HUGEINT)*sx1y - CAST(sx1 AS HUGEINT)*sy
      |      AS DOUBLE) AS s1y,
      |    CAST(CAST(n AS HUGEINT)*sx2y - CAST(sx2 AS HUGEINT)*sy
      |      AS DOUBLE) AS s2y,
      |    CAST(CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy
      |      AS DOUBLE) AS syy,
      |    CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS mx1,
      |    CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) AS mx2,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
      |  FROM a),
      |f AS (SELECT g, n,
      |    ((s22 + 100.0e0*CAST(n AS DOUBLE)) * s1y - s12 * s2y)
      |      / ((s11 + 100.0e0*CAST(n AS DOUBLE))
      |         * (s22 + 100.0e0*CAST(n AS DOUBLE)) - s12 * s12) AS b1,
      |    ((s11 + 100.0e0*CAST(n AS DOUBLE)) * s2y - s12 * s1y)
      |      / ((s11 + 100.0e0*CAST(n AS DOUBLE))
      |         * (s22 + 100.0e0*CAST(n AS DOUBLE)) - s12 * s12) AS b2,
      |    mx1, mx2, my, s1y, s2y, syy
      |  FROM s)
      |SELECT g AS l_returnflag, n,
      |  round(b1, 6) AS b1, round(b2, 6) AS b2,
      |  round(my - b1 * mx1 - b2 * mx2, 6) AS intercept,
      |  round((b1 * s1y + b2 * s2y) / syy, 6) AS r2
      |FROM f ORDER BY g""".stripMargin

  // ---------------------------------------------------------------- q401
  /** Rocchio label transfer ([[graft.ops.ext.Classify
    * .rocchioConfusion]]): class centroids from even vec_ids, odd ones
    * assigned to the max-cosine centroid; confusion census. The d×|C|
    * centroid frame broadcasts; component sums are ×1e6-quantized
    * integers, so the centroid is exact and the cosine's inputs are
    * identical integers in both engines.
    */
  def q401(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Classify.rocchioConfusion(
      T(s, dir, "embeddings"), "embedding", "label", "vec_id")
  val q401Sql: String =
    """WITH c0 AS (SELECT vec_id, label,
      |    [x::DOUBLE for x in embedding] AS vec FROM embeddings),
      |e AS (SELECT vec_id, label,
      |    CAST(o - 1 AS BIGINT) AS i,
      |    CAST(floor(x * 1000000.0e0 + 0.5e0) AS BIGINT) AS qx
      |  FROM (SELECT vec_id, label, unnest(vec) AS x,
      |          generate_subscripts(vec, 1) AS o FROM c0)),
      |cent AS (SELECT label AS clbl, i, CAST(sum(qx) AS HUGEINT) AS sq
      |  FROM e WHERE vec_id % 2 = 0 GROUP BY 1, 2),
      |cnorm AS (SELECT clbl, CAST(sum(sq * sq) AS DOUBLE) AS c2
      |  FROM cent GROUP BY 1),
      |t AS (SELECT * FROM e WHERE vec_id % 2 = 1),
      |tnorm AS (SELECT vec_id, CAST(sum(qx * qx) AS DOUBLE) AS t2
      |  FROM t GROUP BY 1),
      |dots AS (SELECT t.vec_id, t.label, c.clbl,
      |    CAST(sum(CAST(t.qx AS HUGEINT) * c.sq) AS DOUBLE) AS dot
      |  FROM t JOIN cent c ON c.i = t.i GROUP BY 1, 2, 3),
      |scored AS (SELECT d.vec_id, d.label, d.clbl,
      |    d.dot / (sqrt(tn.t2) * sqrt(cn.c2)) AS cos
      |  FROM dots d JOIN tnorm tn ON tn.vec_id = d.vec_id
      |  JOIN cnorm cn ON cn.clbl = d.clbl),
      |pred AS (SELECT label, clbl FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, clbl) AS r FROM scored) WHERE r = 1)
      |SELECT label AS true_label, clbl AS pred_label,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q399_naive_bayes", q399, q399Sql),
    Query("q400_ridge_regression", q400, q400Sql),
    Query("q401_rocchio_transfer", q401, q401Sql))
}
