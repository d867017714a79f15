package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 30" query set (q273–q276): Efraimidis–Spirakis
  * weighted sampling without replacement, rank-biased overlap,
  * Weiszfeld geometric median, and Jensen–Shannon corpus divergence.
  * Same contract as every wave: DuckDB oracle per query, doubles round
  * to 6 dp, integer sums BIGINT-cast in the oracle, fixed-point
  * quantization before any cross-row float sum, deterministic
  * tie-breaks.
  */
object Wave30Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q273
  /** E-S weighted sampling w/o replacement
    * ([[graft.ops.ext.Sampling.esSample]]): top-5 orders per priority
    * class, weight-proportional by order value via the deterministic
    * Lehmer-uniform ln(u)/w keys — the without-replacement complement
    * to the hash-threshold weighted sampler (q54).
    */
  def q273(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_orderpriority"),
      col("o_orderkey"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    graft.ops.ext.Sampling.esSample(o, "o_orderkey", "o_orderpriority",
        "cents", k = 5)
      .orderBy("stratum", "rank")
  }
  val q273Sql: String =
    """WITH base AS (SELECT o_orderpriority AS stratum,
      |    o_orderkey AS key,
      |    CAST(CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
      |      AS DOUBLE) AS w
      |  FROM orders
      |  WHERE floor(o_totalprice * 100.0e0 + 0.5e0) > 0),
      |keys AS (SELECT stratum, key, w,
      |    ((((((key % 2147483647) + 2147483647) % 2147483647) * 48271)
      |        % 2147483647) * 48271)
      |      % 2147483647 AS x2
      |  FROM base),
      |rk AS (SELECT stratum, key, w,
      |    ln((CAST(x2 AS DOUBLE) + 1.0e0) / 2147483648.0e0) / w AS rk
      |  FROM keys),
      |ranked AS (SELECT stratum, key, w, rk,
      |    CAST(row_number() OVER (PARTITION BY stratum
      |      ORDER BY rk DESC, key) AS BIGINT) AS rank
      |  FROM rk)
      |SELECT stratum, rank, key, w AS weight,
      |  round(rk, 6) + 0.0e0 AS es_key
      |FROM ranked WHERE rank <= 5 ORDER BY stratum, rank""".stripMargin

  // ---------------------------------------------------------------- q274
  /** Rank-biased overlap ([[graft.ops.ext.RecMetrics.rbo]], p = 0.9,
    * k = 30) between the part-revenue rankings of the first and second
    * halves of the shipping window — the top-weighted list-stability
    * metric the plain overlap matrix (q145) can't express. The p^d
    * weight table is built by repeated multiplication in the builder
    * and shared verbatim with the oracle, so no libm pow enters.
    */
  def q274(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = T(s, dir, "lineitem").select(col("l_partkey"),
      unix_micros(col("l_shipdate").cast("timestamp")).as("us"),
      floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("rev"))
    val cut = li.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val halves = li.crossJoin(broadcast(cut))
    def top(half: org.apache.spark.sql.Column) = halves.filter(half)
      .groupBy(col("l_partkey").as("item"))
      .agg(sum(col("rev")).as("r"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("r").desc, col("item"))))
      .filter(col("rank") <= 30)
      .select(col("item"), col("rank"))
    graft.ops.ext.RecMetrics.rbo(
      top(col("us") < col("cut")), top(col("us") >= col("cut")),
      k = 30, p = 0.9)
  }
  val q274Sql: String = {
    val w = graft.ops.ext.RecMetrics.rboWeights(0.9, 30)
    val wCase = w.zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN ${java.lang.Double.toString(v)}"
    }.mkString(" ")
    val oneMinusP = java.lang.Double.toString(1.0 - 0.9)
    s"""WITH li AS (SELECT l_partkey, epoch_us(l_shipdate) AS us,
       |    CAST(floor(l_extendedprice * 100.0e0 + 0.5e0) AS BIGINT)
       |      AS rev
       |  FROM lineitem),
       |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM li),
       |ta AS (SELECT item, rank FROM (
       |    SELECT l_partkey AS item,
       |      CAST(row_number() OVER (ORDER BY sum(rev) DESC, l_partkey)
       |        AS BIGINT) AS rank
       |    FROM li, cut WHERE us < cut GROUP BY l_partkey)
       |  WHERE rank <= 30),
       |tb AS (SELECT item, rank FROM (
       |    SELECT l_partkey AS item,
       |      CAST(row_number() OVER (ORDER BY sum(rev) DESC, l_partkey)
       |        AS BIGINT) AS rank
       |    FROM li, cut WHERE us >= cut GROUP BY l_partkey)
       |  WHERE rank <= 30),
       |mr AS (SELECT greatest(ta.rank, tb.rank) AS mr,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM ta JOIN tb USING (item) GROUP BY 1),
       |depths AS (SELECT CAST(d AS BIGINT) AS d FROM range(1, 31) t(d)),
       |cum AS (SELECT d,
       |    CAST(coalesce(sum(c), 0) AS BIGINT) AS xd
       |  FROM depths LEFT JOIN mr ON mr <= d GROUP BY d),
       |terms AS (SELECT d, xd,
       |    (CASE d $wCase END) * CAST(xd AS DOUBLE) / CAST(d AS DOUBLE)
       |      AS term
       |  FROM cum)
       |SELECT CAST(30 AS BIGINT) AS k,
       |  max(CASE WHEN d = 30 THEN xd END) AS overlap_at_k,
       |  round((CAST(CAST(sum(CAST(floor(term * 1000000000.0e0 + 0.5e0)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0e0)
       |    * $oneMinusP, 6) AS rbo
       |FROM terms""".stripMargin
  }

  // ---------------------------------------------------------------- q275
  /** Geometric median ([[graft.ops.ext.GeoMedian.geometricMedian]]):
    * 2 Weiszfeld rounds from the exact mean over the embedding corpus
    * — the robust center whose full 64-dim coordinate vector
    * hash-matches the unrolled oracle (DECIMAL distances, quantized
    * update sums).
    */
  def q275(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.GeoMedian.geometricMedian(T(s, dir, "embeddings"),
      "embedding", "vec_id", dims = 64, iters = 2)
  val q275Sql: String = {
    val dec = "DECIMAL(38,18)"
    def round(prev: String, i: Int): String =
      s"""d$i AS MATERIALIZED (SELECT id,
         |    sqrt(CAST(sum(CAST((x - y.y) * (x - y.y) AS $dec))
         |      AS DOUBLE)) AS d
         |  FROM e JOIN $prev y USING (i) GROUP BY id),
         |y$i AS MATERIALIZED (SELECT e.i,
         |    CAST(sum(CAST(floor(x / d.d * 1000000000.0e0 + 0.5e0)
         |      AS BIGINT)) AS DOUBLE)
         |    / CAST(sum(CAST(floor(1.0e0 / d.d * 1000000000.0e0 + 0.5e0)
         |      AS BIGINT)) AS DOUBLE) AS y
         |  FROM e JOIN d$i d USING (id) WHERE d.d > 0
         |  GROUP BY e.i)""".stripMargin
    s"""WITH v AS (SELECT vec_id AS id,
       |    [x::DOUBLE for x in embedding] AS vec FROM embeddings),
       |e AS MATERIALIZED (SELECT id, CAST(o - 1 AS BIGINT) AS i, x
       |      FROM (SELECT id, unnest(vec) AS x,
       |              generate_subscripts(vec, 1) AS o FROM v)),
       |y0 AS MATERIALIZED (SELECT i,
       |    CAST(sum(CAST(x AS $dec)) AS DOUBLE)
       |      / CAST((SELECT count(*) FROM v) AS DOUBLE) AS y
       |  FROM e GROUP BY i),
       |${round("y0", 1)},
       |${round("y1", 2)}
       |SELECT i AS dim, round(y, 6) AS coord FROM y2 ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------- q276
  /** Jensen–Shannon divergence
    * ([[graft.ops.ext.TextAnalysis.jsDivergence]]) between every pair
    * of document sources' unigram distributions — the bounded
    * symmetric corpus-drift measure, with private-token mass folded in
    * closed form (p·ln 2) so no vocabulary-union outer join runs.
    */
  def q276(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.jsDivergence(T(s, dir, "documents"),
      "text", "source")
  val q276Sql: String =
    """WITH cnt AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT source AS g, unnest(list_filter(string_split_regex(
      |      lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS w
      |    FROM documents) GROUP BY g, w),
      |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY g),
      |a AS (SELECT cnt.g AS ga, w, c AS ca, n AS na
      |  FROM cnt JOIN tot USING (g)),
      |b AS (SELECT cnt.g AS gb, w, c AS cb, n AS nb
      |  FROM cnt JOIN tot USING (g)),
      |shared AS (SELECT ga, gb, na, nb, ca, cb,
      |    CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS p,
      |    CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS q
      |  FROM a JOIN b USING (w) WHERE ga < gb),
      |sagg AS (SELECT ga, gb,
      |    CAST(count(*) AS BIGINT) AS shared_tokens,
      |    CAST(sum(ca) AS BIGINT) AS sca, CAST(sum(cb) AS BIGINT) AS scb,
      |    CAST(sum(CAST(floor((p * ln(p / ((p + q) / 2.0e0))
      |        + q * ln(q / ((p + q) / 2.0e0))) / 2.0e0
      |      * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS tq
      |  FROM shared GROUP BY ga, gb),
      |agg AS (SELECT ta.ga, tb.gb, ta.na, tb.nb,
      |    coalesce(shared_tokens, 0) AS shared_tokens,
      |    coalesce(sca, 0) AS sca, coalesce(scb, 0) AS scb,
      |    coalesce(tq, 0) AS tq
      |  FROM (SELECT g AS ga, n AS na FROM tot) ta
      |  JOIN (SELECT g AS gb, n AS nb FROM tot) tb ON ta.ga < tb.gb
      |  LEFT JOIN sagg ON sagg.ga = ta.ga AND sagg.gb = tb.gb)
      |SELECT ga AS group_a, gb AS group_b, na AS n_a, nb AS n_b,
      |  shared_tokens,
      |  round(CAST(tq AS DOUBLE) / 1000000000.0e0
      |    + ln(2.0e0) * ((1.0e0 - CAST(sca AS DOUBLE) / CAST(na AS DOUBLE))
      |      + (1.0e0 - CAST(scb AS DOUBLE) / CAST(nb AS DOUBLE)))
      |      / 2.0e0, 6) AS jsd
      |FROM agg ORDER BY group_a, group_b""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q273_es_sample", q273, q273Sql),
    Query("q274_rbo", q274, q274Sql),
    Query("q275_geometric_median", q275, q275Sql),
    Query("q276_jsd", q276, q276Sql))
}
