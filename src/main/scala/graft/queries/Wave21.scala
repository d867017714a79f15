package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 21" query set (q237-q240): semi-supervised label
  * propagation, difference-in-differences, deterministic RANSAC, and
  * the moment-decomposed cluster energy-distance matrix. Same
  * contract as every wave: DuckDB oracle per query, doubles round to
  * 6 dp, integer sums BIGINT-cast in the oracle, fixed-point
  * quantization before any cross-row float sum, deterministic
  * tie-breaks.
  */
object Wave21Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q237
  /** Label propagation ([[graft.ops.ext.LabelSpread.propagate]]):
    * 10% id-selected seeds keep their label; two majority-vote rounds
    * over the cosine 5-NN graph label the rest. Per true label:
    * seeds, per-round assignment counts, and propagation accuracy —
    * the weak-supervision readout.
    *
    * The graph comes from [[graft.ops.ext.LabelSpread.ivfKnnEdges]]
    * (IVF cells, O(n^1.5)) — the round-7 fix for the one remaining
    * brute-force all-pairs build in the suite (sf1 had measured 87×
    * on 10× data with [[graft.ops.ext.LabelSpread.knnEdges]]). The
    * deterministic sqrt(n)-spacing quantizer is replicated verbatim
    * in the oracle, so the approximate graph is still value-checked.
    */
  def q237(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.LabelSpread
    val emb = T(s, dir, "embeddings")
    val edges = LabelSpread.ivfKnnEdges(emb, "vec_id", "embedding", k = 5)
    val seeds = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id"), col("label").as("lab"))
    val all = LabelSpread.propagate(edges, seeds, rounds = 2)
    val truth = emb.select(col("vec_id").as("id"),
      col("label").as("true_lab"))
    all.join(truth, "id")
      .groupBy(col("true_lab").as("label"))
      .agg(sum(when(col("round") === 0, 1L).otherwise(0L)).as("n_seeds"),
        sum(when(col("round") === 1, 1L).otherwise(0L)).as("n_r1"),
        sum(when(col("round") === 2, 1L).otherwise(0L)).as("n_r2"),
        sum(when(col("round") > 0 && col("lab") === col("true_lab"), 1L)
          .otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        when(col("n_r1") + col("n_r2") > 0,
          round(col("n_correct").cast("double")
            / (col("n_r1") + col("n_r2")).cast("double"), 6))
          .otherwise(lit(null).cast("double")))
      .orderBy("label")
  }
  val q237Sql: String =
    """WITH n AS (SELECT vec_id AS id, label,
      |    [x::DOUBLE for x in embedding] AS v,
      |    sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |sp AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS s FROM n),
      |cents AS (SELECT id AS cent_id, v AS centv, nrm AS centnorm
      |  FROM n, sp WHERE id % s = 0),
      |assigned AS (SELECT id, cent_id, cr FROM (
      |    SELECT a.id, c.cent_id,
      |      row_number() OVER (PARTITION BY a.id ORDER BY
      |        (list_reduce(list_transform(range(1, 65),
      |          i -> a.v[i] * c.centv[i]), (x, y) -> x + y)
      |         / (a.nrm * c.centnorm)) DESC, c.cent_id) AS cr
      |    FROM n a, cents c)
      |  WHERE cr <= 2),
      |knn AS (SELECT id, nb FROM (
      |    SELECT p.id, m.id AS nb,
      |      row_number() OVER (PARTITION BY p.id ORDER BY
      |        (list_reduce(list_transform(range(1, 65),
      |          i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |         / (a.nrm * b.nrm)) DESC, m.id) AS rank
      |    FROM assigned p
      |    JOIN assigned m ON m.cent_id = p.cent_id AND m.cr = 1
      |      AND m.id <> p.id
      |    JOIN n a ON a.id = p.id
      |    JOIN n b ON b.id = m.id)
      |  WHERE rank <= 5),
      |l0 AS (SELECT id, label AS lab, 0 AS round FROM n
      |  WHERE id % 10 = 0),
      |a1 AS (SELECT id, lab, 1 AS round FROM (
      |    SELECT id, lab, row_number() OVER (PARTITION BY id
      |        ORDER BY cnt DESC, lab) AS rn
      |    FROM (SELECT k.id, l.lab, count(*) AS cnt
      |      FROM knn k JOIN l0 l ON k.nb = l.id
      |      WHERE k.id NOT IN (SELECT id FROM l0) GROUP BY 1, 2))
      |  WHERE rn = 1),
      |l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM a1),
      |a2 AS (SELECT id, lab, 2 AS round FROM (
      |    SELECT id, lab, row_number() OVER (PARTITION BY id
      |        ORDER BY cnt DESC, lab) AS rn
      |    FROM (SELECT k.id, l.lab, count(*) AS cnt
      |      FROM knn k JOIN l1 l ON k.nb = l.id
      |      WHERE k.id NOT IN (SELECT id FROM l1) GROUP BY 1, 2))
      |  WHERE rn = 1),
      |lall AS (SELECT * FROM l1 UNION ALL SELECT * FROM a2)
      |SELECT n.label,
      |  CAST(count(*) FILTER (WHERE round = 0) AS BIGINT) AS n_seeds,
      |  CAST(count(*) FILTER (WHERE round = 1) AS BIGINT) AS n_r1,
      |  CAST(count(*) FILTER (WHERE round = 2) AS BIGINT) AS n_r2,
      |  CAST(count(*) FILTER (WHERE round > 0 AND lab = n.label)
      |    AS BIGINT) AS n_correct,
      |  CASE WHEN count(*) FILTER (WHERE round > 0) > 0 THEN
      |    round(CAST(count(*) FILTER (WHERE round > 0 AND lab = n.label)
      |        AS DOUBLE)
      |      / CAST(count(*) FILTER (WHERE round > 0) AS DOUBLE), 6)
      |  END AS accuracy
      |FROM lall JOIN n ON lall.id = n.id GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q238
  /** Difference-in-differences ([[graft.ops.Experiment.diffInDiff]]):
    * per-user event value split at the corpus midpoint into pre/post
    * cells, treatment by user parity — the quasi-experimental readout
    * when there was no randomized pre-period.
    */
  def q238(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Experiment
    val ev = ExtQueries.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 10.0 + 0.5).cast("long").as("qv"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val cells = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"), (pmod(col("user_id"), lit(2L)) === 1)
        .as("treated"), (col("us") >= col("cut")).as("post"))
      .agg(sum("qv").as("y"))
      .select(col("treated"), col("post"), col("y"))
    Experiment.diffInDiff(cells, scale = 10.0).orderBy("treated", "post")
  }
  val q238Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
      |    CAST(floor(value * 10.0e0 + 0.5e0) AS BIGINT) AS qv
      |  FROM events),
      |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
      |cells AS (SELECT user_id % 2 = 1 AS treated, us >= cut AS post,
      |    CAST(sum(qv) AS BIGINT) AS y
      |  FROM ev, cut GROUP BY user_id, 1, 2),
      |m AS (SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS sy
      |  FROM cells GROUP BY 1, 2),
      |mm AS (SELECT treated, post, n,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 10.0e0 AS mean_y
      |  FROM m),
      |w AS (SELECT
      |    ((SELECT mean_y FROM mm WHERE treated AND post)
      |     - (SELECT mean_y FROM mm WHERE treated AND NOT post))
      |    - ((SELECT mean_y FROM mm WHERE NOT treated AND post)
      |     - (SELECT mean_y FROM mm WHERE NOT treated AND NOT post))
      |    AS did)
      |SELECT treated, post, n, round(mean_y, 6) AS mean_y,
      |  round(did, 6) AS did
      |FROM mm, w ORDER BY treated, post""".stripMargin

  // ---------------------------------------------------------------- q239
  /** Deterministic RANSAC ([[graft.ops.Robust.ransacLine]]) on the
    * quantity→price cloud: 12 id-selected sample points, all pairwise
    * candidate lines broadcast onto one scan, inlier-count consensus
    * with id tie-breaks. Top 5 candidate lines.
    */
  def q239(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Robust
    val pts = T(s, dir, "lineitem")
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("pt_id"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    Robust.ransacLine(pts, "pt_id", sampleMod = 397L, sampleLimit = 12,
      tol = 5000.0, keep = 5)
  }
  val q239Sql: String =
    """WITH pts AS (SELECT l_orderkey * 10 + l_linenumber AS id,
      |    l_quantity AS x, l_extendedprice AS y
      |  FROM lineitem),
      |samp AS (SELECT id, x, y FROM pts WHERE id % 397 = 0
      |  ORDER BY id LIMIT 12),
      |cands AS (SELECT p.id AS pid, q.id AS qid,
      |    (q.y - p.y) / (q.x - p.x) AS slope,
      |    p.y - (q.y - p.y) / (q.x - p.x) * p.x AS icept
      |  FROM samp p JOIN samp q ON p.id < q.id AND p.x <> q.x),
      |counted AS (SELECT pid, qid, slope, icept,
      |    CAST(count(*) AS BIGINT) AS n_inliers
      |  FROM pts, cands
      |  WHERE abs(y - (icept + slope * x)) <= 5000.0e0
      |  GROUP BY 1, 2, 3, 4),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pts)
      |SELECT pid, qid, round(slope, 6) AS slope,
      |  round(icept, 6) AS icept, n_inliers,
      |  round(CAST(n_inliers AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
      |    AS inlier_rate
      |FROM counted, t
      |ORDER BY n_inliers DESC, pid, qid LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- q240
  /** Cluster energy-distance matrix ([[graft.ops.ext.ClusterEval
    * .energyDistanceMatrix]]): pairwise label separation from ONE
    * corpus pass via the squared-metric moment decomposition — no
    * pairwise scan anywhere, the 100 TB-safe twin of q234.
    */
  def q240(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.ClusterEval
    ClusterEval.energyDistanceMatrix(T(s, dir, "embeddings"),
      "label", "embedding")
      .orderBy("ci", "cj")
  }
  val q240Sql: String =
    """WITH b AS (SELECT label AS cl, [x::DOUBLE for x in embedding] AS v,
      |    CAST(floor(list_reduce(list_transform(range(1, 65),
      |        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
      |        (a, c) -> a + c) * 1000000.0e0 + 0.5e0) AS BIGINT) AS nq
      |  FROM embeddings),
      |stats AS (SELECT cl, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(nq) AS BIGINT) AS s2q
      |  FROM b GROUP BY 1),
      |dims AS (SELECT cl, i AS d,
      |    CAST(sum(CAST(floor(v[i] * 1000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS svq
      |  FROM b, (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
      |cx AS (SELECT a.cl AS ci, c.cl AS cj,
      |    CAST(sum(CAST(floor(CAST(a.svq AS DOUBLE) * CAST(c.svq AS DOUBLE)
      |      / 1000000000000.0e0 * 1000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS cq
      |  FROM dims a JOIN dims c ON a.d = c.d AND a.cl <= c.cl
      |  GROUP BY 1, 2)
      |SELECT p.ci, p.cj, si.n AS ni, sj.n AS nj,
      |  round(2.0e0 * (CAST(si.s2q AS DOUBLE) / 1000000.0e0
      |      / CAST(si.n AS DOUBLE)
      |    + CAST(sj.s2q AS DOUBLE) / 1000000.0e0 / CAST(sj.n AS DOUBLE)
      |    - 2.0e0 * CAST(p.cq AS DOUBLE) / 1000000.0e0
      |      / CAST(si.n * sj.n AS DOUBLE))
      |  - (2.0e0 * CAST(si.n AS DOUBLE) * CAST(si.s2q AS DOUBLE)
      |      / 1000000.0e0
      |    - 2.0e0 * CAST(wi.cq AS DOUBLE) / 1000000.0e0)
      |    / (CAST(si.n AS DOUBLE) * CAST(si.n AS DOUBLE))
      |  - (2.0e0 * CAST(sj.n AS DOUBLE) * CAST(sj.s2q AS DOUBLE)
      |      / 1000000.0e0
      |    - 2.0e0 * CAST(wj.cq AS DOUBLE) / 1000000.0e0)
      |    / (CAST(sj.n AS DOUBLE) * CAST(sj.n AS DOUBLE)), 6)
      |    AS energy
      |FROM cx p JOIN stats si ON p.ci = si.cl
      |  JOIN stats sj ON p.cj = sj.cl
      |  JOIN cx wi ON wi.ci = p.ci AND wi.cj = p.ci
      |  JOIN cx wj ON wj.ci = p.cj AND wj.cj = p.cj
      |WHERE p.ci < p.cj
      |ORDER BY p.ci, p.cj""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q237_label_spread", q237, q237Sql),
    Query("q238_did", q238, q238Sql),
    Query("q239_ransac", q239, q239Sql),
    Query("q240_energy_distance", q240, q240Sql))
}
