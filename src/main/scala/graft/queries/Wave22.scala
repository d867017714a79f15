package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 22" query set (q241-q244): contrastive hard-negative
  * mining, exact Shapley channel attribution, recommendation-list
  * coverage/diversity metrics, and monotone risk binning. Same
  * contract as every wave: DuckDB oracle per query, doubles round to
  * 6 dp, integer sums BIGINT-cast in the oracle, fixed-point
  * quantization before any cross-row float sum, deterministic
  * tie-breaks.
  */
object Wave22Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q241
  /** Hard-negative mining ([[graft.ops.ext.Contrastive
    * .hardNegatives]]): per 5% anchor, nearest same-label positive +
    * top-3 wrong-label negatives by cosine, with the contrastive
    * margin. Near-zero margins flag label noise.
    */
  def q241(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Contrastive
    Contrastive.hardNegatives(T(s, dir, "embeddings"),
      "vec_id", "label", "embedding", col("id") % 20 === 0, kNeg = 3)
      .orderBy("anchor_id", "neg_rank")
  }
  val q241Sql: String =
    """WITH n AS (SELECT vec_id AS id, label AS lab,
      |    [x::DOUBLE for x in embedding] AS v,
      |    sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |anch AS (SELECT id AS aid, lab AS alab, v AS av, nrm AS anrm
      |  FROM n WHERE id % 20 = 0),
      |pairs AS (SELECT a.aid, a.alab, b.id, b.lab,
      |    list_reduce(list_transform(range(1, 65),
      |      i -> a.av[i] * b.v[i]), (x, y) -> x + y)
      |      / (a.anrm * b.nrm) AS cos
      |  FROM anch a JOIN n b ON b.id <> a.aid),
      |pos AS (SELECT aid, id AS pos_id, cos AS pos_cos FROM (
      |    SELECT aid, id, cos, row_number() OVER (PARTITION BY aid
      |        ORDER BY cos DESC, id) AS rn
      |    FROM pairs WHERE lab = alab) WHERE rn = 1),
      |negs AS (SELECT aid, CAST(neg_rank AS BIGINT) AS neg_rank,
      |    id AS neg_id, cos AS neg_cos FROM (
      |    SELECT aid, id, cos, row_number() OVER (PARTITION BY aid
      |        ORDER BY cos DESC, id) AS neg_rank
      |    FROM pairs WHERE lab <> alab) WHERE neg_rank <= 3)
      |SELECT pos.aid AS anchor_id, pos_id, round(pos_cos, 6) AS pos_cos,
      |  neg_rank, neg_id, round(neg_cos, 6) AS neg_cos,
      |  round(pos_cos - neg_cos, 6) AS margin
      |FROM pos JOIN negs ON pos.aid = negs.aid
      |ORDER BY anchor_id, neg_rank""".stripMargin

  // ---------------------------------------------------------------- q242
  /** Exact Shapley attribution ([[graft.ops.Shapley
    * .channelAttribution]]) of purchase conversion over the four
    * non-purchase touch channels: per-user exposure bitmasks, the
    * 2⁴ coalition lattice, rational weights — the game-theoretic
    * credit split next to first/last-touch (q132) and Markov removal
    * (q219).
    */
  def q242(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Shapley
    val names = Seq("click", "error", "signup", "view")
    val ev = ExtQueries.events(s, dir)
    val conv = ev.groupBy(col("user_id").as("unit"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
    val exposures = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("unit"),
        (when(col("event_type") === "click", 0)
          .when(col("event_type") === "error", 1)
          .when(col("event_type") === "signup", 2)
          .otherwise(3)).as("channel"))
      .join(conv, "unit")
    Shapley.channelAttribution(exposures, c = 4)
      .select(element_at(typedLit(names), (col("channel") + 1).cast("int"))
        .as("channel"), col("n_exposed_units"), col("shapley"))
      .orderBy("channel")
  }
  val q242Sql: String =
    """WITH ex AS (SELECT DISTINCT user_id AS unit,
      |    CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
      |      WHEN 'signup' THEN 2 ELSE 3 END AS ch
      |  FROM events WHERE event_type <> 'purchase'),
      |conv AS (SELECT user_id AS unit,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS conv
      |  FROM events GROUP BY 1),
      |masks AS (SELECT ex.unit, CAST(sum(1 << ch) AS BIGINT) AS mask
      |  FROM ex GROUP BY 1),
      |v AS (SELECT mask, CAST(count(*) AS BIGINT) AS n,
      |    CAST(CAST(sum(conv) AS BIGINT) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS v
      |  FROM masks JOIN conv USING (unit) GROUP BY 1),
      |lat AS (SELECT unnest(range(0, 16)) AS s),
      |chs AS (SELECT unnest(range(0, 4)) AS ch),
      |grid AS (SELECT s, ch FROM lat CROSS JOIN chs
      |  WHERE (s >> ch) % 2 = 0),
      |terms AS (SELECT ch,
      |    CAST(floor(CAST((CASE bit_count(s) WHEN 0 THEN 1 WHEN 1 THEN 1
      |          WHEN 2 THEN 2 ELSE 6 END)
      |        * (CASE 3 - bit_count(s) WHEN 0 THEN 1 WHEN 1 THEN 1
      |          WHEN 2 THEN 2 ELSE 6 END) AS DOUBLE) / 24.0e0
      |      * (coalesce(v1.v, 0.0e0) - coalesce(v0.v, 0.0e0))
      |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS tq
      |  FROM grid
      |  LEFT JOIN v v0 ON v0.mask = grid.s
      |  LEFT JOIN v v1 ON v1.mask = grid.s + (1 << grid.ch)),
      |expn AS (SELECT ch, CAST(count(*) AS BIGINT) AS n_exposed_units
      |  FROM ex GROUP BY 1)
      |SELECT CASE t.ch WHEN 0 THEN 'click' WHEN 1 THEN 'error'
      |    WHEN 2 THEN 'signup' ELSE 'view' END AS channel,
      |  n_exposed_units,
      |  round(CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / 1000000000.0e0, 6)
      |    AS shapley
      |FROM terms t JOIN expn ON t.ch = expn.ch
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q243
  /** Recommendation-list audit ([[graft.ops.ext.RecMetrics
    * .listMetrics]]): top-5 parts per customer by order frequency,
    * then per-segment catalog coverage, intra-list brand diversity,
    * and popularity bias — the head-collapse detector.
    */
  def q243(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.RecMetrics
    // brand is a function of the item, so it joins onto the k-bounded
    // lists (4-arg listMetrics) — the fact shuffle carries only
    // (user, item), and lineitem never joins part at all
    val inter = T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
    val attrs = T(s, dir, "part")
      .select(col("p_partkey").as("item"), col("p_brand").as("attr"))
    val segs = T(s, dir, "customer")
      .select(col("c_custkey").as("user"), col("c_mktsegment").as("seg"))
    RecMetrics.listMetrics(inter, segs, k = 5, attrs).orderBy("seg")
  }
  val q243Sql: String =
    """WITH inter AS (SELECT o_custkey AS u, l_partkey AS item,
      |    p_brand AS attr
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey),
      |counts AS (SELECT u, item, CAST(count(*) AS BIGINT) AS cnt,
      |    min(attr) AS attr
      |  FROM inter GROUP BY 1, 2),
      |recs AS (SELECT u, item, attr FROM (
      |    SELECT u, item, attr, row_number() OVER (PARTITION BY u
      |        ORDER BY cnt DESC, item) AS rank
      |    FROM counts) WHERE rank <= 5),
      |pop AS (SELECT item, CAST(count(*) AS BIGINT) AS pcnt
      |  FROM inter GROUP BY 1),
      |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM pop),
      |popr AS (SELECT item,
      |    CAST(floor((1.0e0 - CAST(prank - 1 AS DOUBLE)
      |      / CAST(n_items AS DOUBLE)) * 1000000.0e0 + 0.5e0) AS BIGINT)
      |      AS popq
      |  FROM (SELECT item, row_number() OVER (ORDER BY pcnt DESC, item)
      |      AS prank FROM pop), ni),
      |pu AS (SELECT u, CAST(count(*) AS BIGINT) AS list_n,
      |    CAST(count(DISTINCT attr) AS BIGINT) AS n_attrs,
      |    CAST(sum(popq) AS BIGINT) AS spopq
      |  FROM recs JOIN popr USING (item) GROUP BY 1),
      |pu2 AS (SELECT u, list_n,
      |    CAST(floor(CAST(n_attrs AS DOUBLE) / CAST(list_n AS DOUBLE)
      |      * 1000000.0e0 + 0.5e0) AS BIGINT) AS divq, spopq
      |  FROM pu),
      |su AS (SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT)
      |      AS n_users,
      |    CAST(sum(divq) AS BIGINT) AS sdivq,
      |    CAST(sum(spopq) AS BIGINT) AS spq,
      |    CAST(sum(list_n) AS BIGINT) AS n_rows
      |  FROM pu2 JOIN customer ON u = c_custkey GROUP BY 1),
      |si AS (SELECT c_mktsegment AS seg,
      |    CAST(count(DISTINCT item) AS BIGINT) AS n_rec_items
      |  FROM recs JOIN customer ON u = c_custkey GROUP BY 1)
      |SELECT su.seg, n_users, n_rec_items,
      |  round(CAST(n_rec_items AS DOUBLE) / CAST(n_items AS DOUBLE), 6)
      |    AS coverage,
      |  round(CAST(sdivq AS DOUBLE) / 1000000.0e0
      |    / CAST(n_users AS DOUBLE), 6) AS mean_diversity,
      |  round(CAST(spq AS DOUBLE) / 1000000.0e0
      |    / CAST(n_rows AS DOUBLE), 6) AS mean_popularity
      |FROM su JOIN si ON su.seg = si.seg, ni
      |ORDER BY su.seg""".stripMargin

  // ---------------------------------------------------------------- q244
  /** Monotone risk binning ([[graft.ops.ext.Binning.monotoneBins]]):
    * order price buckets isotonic-fitted against high-priority rate
    * (distributed minimax PAV, q202's device), merged at level
    * changes into final WoE bins — the credit-scoring "optimal
    * binning" step.
    */
  def q244(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Binning
    val f = T(s, dir, "orders")
      .select(floor(col("o_totalprice")).cast("long").as("x"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          .cast("long").as("y"))
    Binning.monotoneBins(f, k = 16).orderBy("bin")
  }
  val q244Sql: String =
    """WITH f AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS x,
      |    CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT) AS y
      |  FROM orders),
      |bounds AS (SELECT min(x) AS xmin, max(x) AS xmax FROM f),
      |agg AS (SELECT least(15, (x - xmin) * 16 // (xmax - xmin + 1))
      |      AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
      |  FROM f, bounds GROUP BY 1),
      |pr AS (SELECT bucket, cnt, pos,
      |    row_number() OVER (ORDER BY bucket) AS rn,
      |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cs,
      |    CAST(sum(pos) OVER (ORDER BY bucket) AS BIGINT) AS ps
      |  FROM agg),
      |pairs AS (SELECT i.rn AS i, j.rn AS j,
      |    (j.ps - coalesce(i0.ps, 0))::DOUBLE
      |      / (j.cs - coalesce(i0.cs, 0)) AS avg
      |  FROM pr j JOIN pr i ON i.rn <= j.rn
      |  LEFT JOIN pr i0 ON i0.rn = i.rn - 1),
      |mn AS (SELECT r.rn AS r, r.bucket, r.cnt, r.pos, p.i,
      |    min(p.avg) AS mn
      |  FROM pr r JOIN pairs p ON p.i <= r.rn AND p.j >= r.rn
      |  GROUP BY 1, 2, 3, 4, 5),
      |iso AS (SELECT r, bucket, cnt, pos, max(mn) AS f
      |  FROM mn GROUP BY 1, 2, 3, 4),
      |chg AS (SELECT bucket, cnt, pos, f,
      |    CASE WHEN lag(f, 1) OVER (ORDER BY bucket) IS NULL
      |      OR lag(f, 1) OVER (ORDER BY bucket) <> f THEN 1 ELSE 0 END
      |      AS c
      |  FROM iso),
      |binned AS (SELECT bucket, cnt, pos, f,
      |    CAST(sum(c) OVER (ORDER BY bucket) AS BIGINT) AS bin
      |  FROM chg),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tn,
      |    CAST(sum(pos) AS BIGINT) AS tp
      |  FROM binned)
      |SELECT bin, CAST(min(bucket) AS BIGINT) AS bucket_lo,
      |  CAST(max(bucket) AS BIGINT) AS bucket_hi,
      |  CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos,
      |  round(min(f), 6) AS iso_rate,
      |  round(ln(((CAST(sum(pos) AS DOUBLE) + 0.5e0)
      |      / (CAST(tp AS DOUBLE) + 0.5e0))
      |    / (CAST(sum(cnt) - sum(pos) AS DOUBLE) + 0.5e0)
      |    * (CAST(tn - tp AS DOUBLE) + 0.5e0)), 6) AS woe
      |FROM binned, tot GROUP BY bin, tn, tp ORDER BY bin""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q241_hard_negatives", q241, q241Sql),
    Query("q242_shapley", q242, q242Sql),
    Query("q243_rec_coverage", q243, q243Sql),
    Query("q244_monotone_binning", q244, q244Sql))
}
