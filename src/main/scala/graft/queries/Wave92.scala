package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 92" query set (q463–q465): record linkage, layout
  * curves, and coreset sampling —
  *
  *  - q463 Fellegi–Sunter decision table ([[graft.ops.ext.Linkage
  *    .fellegiSunter]]): supervised m/u estimation over blocked
  *    candidate pairs → per-agreement-pattern log₂ weights and
  *    posteriors. The fixture links `customer` against a
  *    deterministically-corrupted copy of itself (a third of phones
  *    wiped, a fifth of balance buckets shifted), blocked on
  *    (nation, segment), labeled by key equality.
  *  - q464 Hilbert vs Z-order locality ([[graft.io.Layout
  *    .hilbertKey]]): the same 8-bit (price, quantity) bucketization
  *    written as 64-key runs under both curves; per-curve total/max
  *    bounding-rectangle area measures which layout prunes harder.
  *  - q465 sensitivity coreset ([[graft.ops.ext.Sampling
  *    .sensitivityCoreset]]): residual-distance importance sampling
  *    over the embedding corpus with exact integer systematic draws
  *    and inverse-probability weights.
  */
object Wave92Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q463
  /** FS weights from a self-linkage fixture with known ground truth:
    * agreement on the (unique) customer name and the 1000-unit balance
    * bucket, blocked on (c_nationkey, c_mktsegment) — name agreement
    * is high-m/near-zero-u (a strong identifier), bucket agreement is
    * noisy in both classes (a weak one); the weights must reflect it.
    */
  def q463(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "customer").select(
      col("c_custkey").as("k"), col("c_nationkey").as("nk"),
      col("c_mktsegment").as("seg"),
      col("c_name").as("phone"),
      floor(col("c_acctbal") / 1000.0).cast("long").as("bucket"))
    val a = base
    val b = base.select(col("k").as("bk"), col("nk"), col("seg"),
      when(col("k") % 3 === 0, lit("99-999-9")).otherwise(col("phone"))
        .as("bphone"),
      (col("bucket") + when(col("k") % 5 === 0, 1L).otherwise(0L))
        .as("bbucket"))
    val pairs = a.join(b, Seq("nk", "seg"))
      .select((col("phone") === col("bphone")).as("agree_phone"),
        (col("bucket") === col("bbucket")).as("agree_bucket"),
        (col("k") === col("bk")).as("is_match"))
    graft.ops.ext.Linkage.fellegiSunter(pairs, "is_match",
      Seq("agree_phone", "agree_bucket"))
  }
  val q463Sql: String =
    """WITH base AS (SELECT c_custkey AS k, c_nationkey AS nk,
      |    c_mktsegment AS seg, c_name AS phone,
      |    CAST(floor(c_acctbal / 1000.0e0) AS BIGINT) AS bucket
      |  FROM customer),
      |b AS (SELECT k AS bk, nk, seg,
      |    CASE WHEN k % 3 = 0 THEN '99-999-9' ELSE phone END AS bphone,
      |    bucket + CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS bbucket
      |  FROM base),
      |pairs AS (SELECT a.phone = b.bphone AS agree_phone,
      |    a.bucket = b.bbucket AS agree_bucket, a.k = b.bk AS is_match
      |  FROM base a JOIN b ON a.nk = b.nk AND a.seg = b.seg),
      |census AS (SELECT agree_phone, agree_bucket,
      |    count(*)::BIGINT AS n_pairs,
      |    sum(CASE WHEN is_match THEN 1 ELSE 0 END)::BIGINT AS n_match
      |  FROM pairs GROUP BY 1, 2),
      |mu AS (SELECT
      |    sum(CASE WHEN agree_phone THEN n_match ELSE 0 END) AS am_p,
      |    sum(CASE WHEN agree_phone THEN n_pairs - n_match ELSE 0 END)
      |      AS au_p,
      |    sum(CASE WHEN agree_bucket THEN n_match ELSE 0 END) AS am_b,
      |    sum(CASE WHEN agree_bucket THEN n_pairs - n_match ELSE 0 END)
      |      AS au_b,
      |    sum(n_match) AS tm, sum(n_pairs - n_match) AS tu
      |  FROM census),
      |f AS (SELECT (am_p + 1)::DOUBLE / (tm + 2) AS m_p,
      |    (au_p + 1)::DOUBLE / (tu + 2) AS u_p,
      |    (am_b + 1)::DOUBLE / (tm + 2) AS m_b,
      |    (au_b + 1)::DOUBLE / (tu + 2) AS u_b
      |  FROM mu)
      |SELECT agree_phone, agree_bucket, n_pairs, n_match,
      |  round(n_match::DOUBLE / n_pairs, 6) AS posterior,
      |  round((CASE WHEN agree_phone THEN log2(m_p / u_p)
      |         ELSE log2((1.0 - m_p) / (1.0 - u_p)) END)
      |      + (CASE WHEN agree_bucket THEN log2(m_b / u_b)
      |         ELSE log2((1.0 - m_b) / (1.0 - u_b)) END), 6) AS fs_score
      |FROM census, f ORDER BY agree_phone, agree_bucket""".stripMargin

  // ---------------------------------------------------------------- q464
  /** Hilbert vs Z-order run compactness on the q122 bucketization:
    * per-curve file count, rows, and total/max covered rectangle area.
    */
  def q464(s: SparkSession, dir: String): DataFrame = {
    val pa = least(floor(col("l_extendedprice") / lit(1000.0)), lit(255.0))
      .cast("long")
    val qb = least(floor(col("l_quantity")), lit(255.0)).cast("long")
    val base = T(s, dir, "lineitem").select(pa.as("pa"), qb.as("qb"))
    def runs(name: String, key: org.apache.spark.sql.Column): DataFrame =
      base.select(shiftright(key, 10).as("file"), col("pa"), col("qb"))
        .groupBy("file")
        .agg(count(lit(1)).as("rows"),
          ((max("pa") - min("pa") + 1) * (max("qb") - min("qb") + 1))
            .as("area"))
        .agg(lit(name).as("curve"), count(lit(1)).as("n_files"),
          sum("rows").as("n_rows"), sum("area").as("sum_area"),
          max("area").as("max_area"))
    runs("hilbert", graft.io.Layout.hilbertKey(col("pa"), col("qb"), 8))
      .unionByName(
        runs("z", graft.io.Layout.zorderKey(col("pa"), col("qb"), 8)))
      .orderBy("curve")
  }
  val q464Sql: String = {
    val zTerms = (0 until 8).flatMap { i =>
      Seq(s"(((pa >> $i) & 1) * ${1L << (2 * i)})",
        s"(((qb >> $i) & 1) * ${1L << (2 * i + 1)})")
    }.mkString(" + ")
    // Hilbert: 8 unrolled rotation rounds, high bit first — the exact
    // integer walk Layout.hilbertKey runs (n−1 = 255 mirror)
    val hilbertChain = (7 to 0 by -1).zipWithIndex.map { case (i, idx) =>
      val s = 1L << i
      val prev = if (idx == 0) "h0" else s"h$idx"
      s"""h${idx + 1} AS (SELECT pa, qb,
         |  CASE WHEN (y & $s) = 0 THEN
         |    CASE WHEN (x & $s) > 0 THEN 255 - y ELSE y END
         |  ELSE x END AS x,
         |  CASE WHEN (y & $s) = 0 THEN
         |    CASE WHEN (x & $s) > 0 THEN 255 - x ELSE x END
         |  ELSE y END AS y,
         |  d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |    CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
         |FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH m AS (
       |  SELECT CAST(least(floor(l_extendedprice / 1000.0e0), 255.0e0)
       |           AS BIGINT) AS pa,
       |         CAST(least(floor(l_quantity), 255.0e0) AS BIGINT) AS qb
       |  FROM lineitem),
       |h0 AS (SELECT pa, qb, pa AS x, qb AS y, 0::BIGINT AS d FROM m),
       |$hilbertChain,
       |hf AS (SELECT d >> 10 AS file, pa, qb FROM h8),
       |zf AS (SELECT ($zTerms) >> 10 AS file, pa, qb FROM m),
       |hr AS (SELECT file, count(*) AS rows,
       |    (max(pa) - min(pa) + 1) * (max(qb) - min(qb) + 1) AS area
       |  FROM hf GROUP BY 1),
       |zr AS (SELECT file, count(*) AS rows,
       |    (max(pa) - min(pa) + 1) * (max(qb) - min(qb) + 1) AS area
       |  FROM zf GROUP BY 1)
       |SELECT 'hilbert' AS curve, count(*)::BIGINT AS n_files,
       |  sum(rows)::BIGINT AS n_rows, sum(area)::BIGINT AS sum_area,
       |  max(area)::BIGINT AS max_area FROM hr
       |UNION ALL
       |SELECT 'z', count(*)::BIGINT, sum(rows)::BIGINT,
       |  sum(area)::BIGINT, max(area)::BIGINT FROM zr
       |ORDER BY curve""".stripMargin
  }

  // ---------------------------------------------------------------- q465
  /** Sensitivity coreset over `embeddings`: every-50th-id prototypes,
    * 128 systematic draws over integer-quantized residual mass.
    */
  def q465(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Sampling.sensitivityCoreset(
      T(s, dir, "embeddings"), "embedding", "vec_id",
      centroidEvery = 50, nDraws = 128)
  val q465Sql: String =
    """WITH v AS (SELECT vec_id AS id,
      |    [x::DOUBLE for x in embedding] AS vec FROM embeddings),
      |n AS (SELECT id, vec,
      |    sqrt(list_reduce(list_transform(vec, x -> x*x), (a,b) -> a+b))
      |      AS nrm FROM v),
      |cents AS (SELECT id AS cent_id, vec AS cv, nrm AS cnrm
      |  FROM n WHERE id % 50 = 0),
      |assign AS (SELECT id, cent_id,
      |    CAST(floor((1.0 - cos) * 1000000.0e0 + 0.5e0) AS BIGINT) + 1
      |      AS sens
      |  FROM (SELECT n.id, c.cent_id,
      |      list_reduce(list_transform(range(1, len(n.vec) + 1),
      |        i -> n.vec[i] * c.cv[i]), (x,y) -> x + y) / (n.nrm * c.cnrm)
      |        AS cos,
      |      row_number() OVER (PARTITION BY n.id ORDER BY
      |        list_reduce(list_transform(range(1, len(n.vec) + 1),
      |          i -> n.vec[i] * c.cv[i]), (x,y) -> x + y)
      |          / (n.nrm * c.cnrm) DESC, c.cent_id) AS r
      |    FROM n, cents c) WHERE r = 1),
      |tot AS (SELECT CAST(sum(sens) AS BIGINT) AS stot FROM assign),
      |cum AS (SELECT id, cent_id, sens,
      |    CAST(sum(sens) OVER (ORDER BY id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum FROM assign),
      |rng AS (SELECT id, ((cum - sens) * 256) // stot + 1 AS olo,
      |    (cum * 256) // stot AS ohi
      |  FROM cum, tot),
      |draws AS (SELECT id,
      |    unnest(generate_series(olo // 2, (ohi - 1) // 2)) AS draw
      |  FROM rng WHERE ohi >= olo AND (ohi - 1) // 2 >= olo // 2),
      |picked AS (SELECT id, count(*)::BIGINT AS n_copies
      |  FROM draws WHERE draw < 128 GROUP BY 1)
      |SELECT a.id AS vec_id, a.cent_id, a.sens, p.n_copies,
      |  round(t.stot::DOUBLE / (a.sens * 128), 6) AS weight
      |FROM picked p JOIN assign a ON a.id = p.id, tot t
      |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q463_fs_linkage", q463, q463Sql),
    Query("q464_hilbert_layout", q464, q464Sql),
    Query("q465_sensitivity_coreset", q465, q465Sql))
}
