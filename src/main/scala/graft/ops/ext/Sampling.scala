package graft.ops.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines (SURVEY §2.12
  * adjunct): hash-threshold sampling keyed on a stable id, so the
  * sample is (a) reproducible across runs/retries/engines — no RNG, no
  * partition-order dependence, unlike `DataFrame.sample` — and (b) a
  * narrow per-row filter: no shuffle, full scan parallelism, safe to
  * push through any downstream plan at 100 TB.
  *
  * Mechanics: the first 8 hex digits of md5(key) are uniform in
  * [0, 2^32); a row survives when that hex string compares below the
  * rate's threshold. Fixed-width lowercase hex compares
  * lexicographically == numerically, and md5 is identical in every
  * engine, so the exact sample set is portable (the DuckDB oracle
  * reproduces it bit-for-bit).
  *
  * Stratified variant: per-stratum rates (e.g. downsample the dominant
  * language, keep the tail) — the standard rebalancing move for LLM
  * corpus mixing.
  */
object Sampling {

  /** Uniform 8-hex-digit bucket of the key's string form. */
  def hashBucket(key: Column): Column =
    substring(md5(key.cast("string")), 1, 8)

  /** Lowercase 8-hex threshold such that P[bucket < threshold] = rate. */
  def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1]: $rate")
    f"${math.min((rate * 4294967296.0).toLong, 4294967295L)}%08x"
  }

  /** Keep each row with probability `rate`, deterministically in the
    * key: the same key always makes the same keep/drop decision.
    */
  def sample(df: DataFrame, keyCol: String, rate: Double): DataFrame =
    df.filter(hashBucket(col(keyCol)) < lit(thresholdHex(rate)))

  /** Per-ROW keep probability (e.g. length- or quality-weighted corpus
    * mixing): keep a row iff its deterministic uniform draw falls under
    * `weight` (clamped to [0,1] by the caller's expression). The draw
    * is TWO Lehmer steps on the integral key — one step is monotone in
    * the key until its first wraparound (consecutive small ids would
    * all land low and pass any threshold); the second multiply wraps
    * every ~12 consecutive ids and equidistributes. Pure integer
    * arithmetic, overflow-free under ANSI ((p-1) x 48271 < 2^63), and
    * reproducible verbatim in any SQL engine, unlike rand(seed) whose
    * stream is engine- and partitioning-specific.
    */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column)
      : DataFrame = {
    val p = 2147483647L // 2^31 - 1 (Lehmer modulus)
    val u1 = pmod(col(keyCol).cast("long"), lit(p)) * 48271L % p
    val u = u1 * 48271L % p
    df.filter(u.cast("double") < weight * p)
  }

  /** EXACT proportional allocation: keep ceil(|stratum| * num/den) rows
    * per stratum — the rate as a rational keeps the cutoff in integer
    * arithmetic (engine-exact; `n * rate` in doubles rounds differently
    * at representation boundaries). Rows are chosen by the portable
    * md5 order (ties broken by the key), so the exact sample SET is
    * reproducible across engines and retries. One shuffle on the
    * stratum key; both the rank and the stratum size come from the same
    * window partition — no second pass over the data. Skewed strata
    * (one giant language) concentrate on one task — for that shape at
    * 100 TB prefer the threshold variant (`stratifiedSample`, narrow
    * filter, no shuffle) and accept the ±binomial count jitter.
    */
  def stratifiedExact(df: DataFrame, keyCol: String, strataCol: String,
      num: Long, den: Long): DataFrame = {
    require(num >= 0 && den > 0 && num <= den, s"need 0 <= $num/$den <= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(hashBucket(col(keyCol)), col(keyCol))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      // ceil(n*num/den) in integer arithmetic (`div`: integral division
      // — Column./ would be double division and reintroduce rounding)
      .filter(col("__rn") <= expr(s"(__n * $num + ${den - 1}) div $den"))
      .drop("__rn", "__n")
  }

  /** Per-stratum rates; strata not in `rates` use `defaultRate`.
    * Null strata use `defaultRate` too (CASE falls through).
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val threshold = rates.toSeq.sortBy(_._1)
      .foldLeft[Column](lit(thresholdHex(defaultRate))) {
        case (acc, (stratum, r)) =>
          when(col(strataCol) === stratum, lit(thresholdHex(r))).otherwise(acc)
      }
    df.filter(hashBucket(col(keyCol)) < threshold)
  }

  /** LEAKAGE-SAFE group k-fold assignment: every row of a group lands
    * in the same fold (fold = first 8 md5 hex chars of the group key,
    * mod k) — the GroupKFold split ML evaluation needs when near-copies
    * cluster by site/author/session and a row-level split would leak
    * train data into eval. Pure narrow expression (no shuffle, no RNG):
    * the assignment is a function of the group key alone, so it is
    * reproducible across runs, engines, and corpus growth — a group
    * added next month lands in the same fold it would have today.
    */
  def groupKFold(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 folds: $k")
    df.withColumn("fold",
      conv(hashBucket(col(groupCol)), 16, 10).cast("long") % k)
  }

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement: each
    * row draws a deterministic uniform u from two Lehmer steps on its
    * integral key (the [[weightedSample]] generator — pure integer,
    * engine-portable, no rand()) and ranks by ln(u)/w; the top-k keys
    * per stratum are exactly a weight-proportional without-replacement
    * sample (Efraimidis & Spirakis 2006). One scan + one per-stratum
    * top-k window — no sequential draw loop, so the sample is
    * partition- and retry-stable. `weightCol` must be a positive
    * numeric; ln is the only libm call (shared by the entropy
    * oracles). Output: (stratum, rank, key, weight, es_key 6 dp).
    */
  def esSample(df: DataFrame, keyCol: String, strataCol: String,
               weightCol: String, k: Int): DataFrame = {
    require(k >= 1)
    import org.apache.spark.sql.expressions.Window
    val p = 2147483647L
    val base = df.select(col(strataCol).as("stratum"),
        col(keyCol).as("key"), col(weightCol).cast("double").as("w"))
      .filter(col("w") > 0)
      // pmod (not %) on the first step: a NEGATIVE key under plain %
      // yields a negative x2 and log((x2+1)/(p+1)) goes NaN, silently
      // corrupting the ranking — pmod maps any integral key into
      // [0, p) so the key domain is the full signed-long range
      .withColumn("x1", expr(s"(pmod(key, $p) * 48271) % $p"))
      .withColumn("x2", expr(s"((x1 % $p) * 48271) % $p"))
      .withColumn("rk",
        log((col("x2") + lit(1.0)) / lit((p + 1).toDouble)) / col("w"))
    val win = Window.partitionBy("stratum")
      .orderBy(col("rk").desc, col("key"))
    base.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("stratum"), col("rank").cast("long").as("rank"),
        col("key"), col("w").as("weight"),
        // + 0.0 folds IEEE negative zero into positive zero — DuckDB's
        // round keeps -0.0 where Spark's BigDecimal path yields 0.0
        (round(col("rk"), 6) + lit(0.0)).as("es_key"))
  }

  /** Systematic (low-variance) weighted resampling: `nDraws` evenly
    * spaced positions p_j = (2j+1)·W / (2n) over the cumulative
    * integer-weight axis, each selecting the item whose cum interval
    * contains it — the particle-filter standard, with ZERO variance in
    * the per-item draw count given the weights (unlike the
    * hash-threshold [[weightedSample]], items with weight ≥ W/n are
    * guaranteed in). RNG-free and fully integer: draw j lands on item
    * i iff 2n·cum_{i−1} < (2j+1)·W ≤ 2n·cum_i, so each item's draw
    * list is the odd numbers in (2n·cum_{i−1} div W, 2n·cum_i div W]
    * — computed arithmetically and emitted with one bounded `sequence`
    * explode; no join against the draw list.
    *
    * Scale shape: the cumulative sum over the key order is TWO-LEVEL
    * (the [[Sharding.assignShards]] recipe): the integral key domain
    * splits into 64 contiguous fixed-width ranges, each range computes
    * its local prefix sums in parallel (shuffle on the range id), and
    * the 64 range totals — a broadcast-size aggregate whose own prefix
    * sum is the only unpartitioned window — turn local prefixes into
    * global ones. Everything else is per-row arithmetic. `keyCol` must
    * be integral (the particle index), weights positive longs. Output:
    * (draw, key) — one row per draw j in [0, nDraws), ordered
    * deterministically by the key order.
    */
  def systematicResample(df: DataFrame, keyCol: String, weightCol: String,
                         nDraws: Int): DataFrame = {
    require(nDraws >= 1)
    import org.apache.spark.sql.expressions.Window
    val w = df.select(col(keyCol).cast("long").as("k"),
        col(weightCol).as("wt"))
      .filter(col("wt") > 0)
    val tot = w.agg(sum(col("wt")).as("bigw"),
      min(col("k")).as("kmin"), max(col("k")).as("kmax"))
    // contiguous range buckets: width = ceil(span / 64) — exact integer
    // arithmetic, no overflow ((k - kmin) stays within the span)
    val bucketed = w.crossJoin(broadcast(tot))
      .withColumn("__width",
        expr("(kmax - kmin) div 64L + 1L"))
      .withColumn("__b", expr("(k - kmin) div __width"))
    val local = Window.partitionBy("__b").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = bucketed.withColumn("__cum", sum(col("wt")).over(local))
    // bucket totals -> exclusive global offset per bucket (≤ 64 rows;
    // the unpartitioned window here walks the post-aggregate domain)
    val offsets = withLocal.groupBy("__b")
      .agg(sum(col("wt")).as("__btot"))
      .withColumn("__offset",
        coalesce(sum(col("__btot")).over(
          Window.orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__offset"))
    val cum = withLocal.join(broadcast(offsets), Seq("__b"))
      .withColumn("cum", col("__offset") + col("__cum"))
      .withColumn("a", (col("cum") - col("wt")) * lit(2L * nDraws))
      .withColumn("b", col("cum") * lit(2L * nDraws))
      .withColumn("olo", expr("a div bigw + 1"))
      .withColumn("ohi", expr("b div bigw"))
      // odd o in [olo, ohi] -> draw j = (o-1)/2
      .withColumn("jlo", expr("olo div 2"))
      .withColumn("jhi", expr("(ohi - 1) div 2"))
      .filter(col("ohi") >= col("olo") && col("jhi") >= col("jlo"))
    cum.select(col("k"), explode(sequence(col("jlo"), col("jhi")))
        .as("draw"))
      .filter(col("draw") < nDraws)
      .select(col("draw"), col("k").as(keyCol))
  }

  /** Sensitivity-sampling coreset over an embedding column — the
    * importance-weighted subsample that preserves clustering cost
    * (Feldman–Langberg style): a point's sampling mass is its residual
    * distance to the nearest prototype, so redundant cluster cores are
    * sampled lightly and the diverse shell heavily, with inverse-
    * probability weights keeping every estimate unbiased.
    *
    * Deterministic, engine-portable construction: prototypes are the
    * every-`centroidEvery`-th-id rows (the [[ProtoPrune]]/IVF
    * contract — swap trained centroids in at deployment, same plan);
    * sensitivity = 1 − best cosine, quantized to integer micro-units
    * (+1 so prototypes stay sampleable); selection is EXACT integer
    * systematic resampling over the quantized masses
    * ([[systematicResample]] — two-level prefix sums, no global
    * window, no RNG). Only the prototype set broadcasts; the corpus
    * never self-joins.
    *
    * Output: one row per SELECTED vector — id, assigned prototype,
    * integer sensitivity, copies drawn, and the inverse-probability
    * weight S/(nDraws·sens) (6 dp).
    */
  def sensitivityCoreset(emb: DataFrame, vecCol: String, idCol: String,
      centroidEvery: Int = 50, nDraws: Int = 64): DataFrame = {
    val c = Similarity.vectors(emb, idCol, vecCol)
      .withColumn("id", col("id").cast("long"))
    val assigned = Similarity
      .cells(c, Similarity.centroids(c, centroidEvery), 1)
      .select(col("id"), col("cent_id"),
        (floor((lit(1.0) - col("cell_cos")) * 1e6 + 0.5) + 1)
          .cast("long").as("sens"))
    val tot = assigned.agg(sum("sens").as("stot"))
    val picked = systematicResample(assigned, "id", "sens", nDraws)
      .groupBy(col("id")).agg(count(lit(1)).as("n_copies"))
    picked.join(assigned, Seq("id")).crossJoin(broadcast(tot))
      .select(col("id").as(idCol), col("cent_id"), col("sens"),
        col("n_copies"),
        round(col("stot").cast("double")
          / (col("sens") * nDraws).cast("double"), 6).as("weight"))
      .orderBy(idCol)
  }

  /** Rendezvous (highest-random-weight) placement audit: keys choose
    * the node with the max md5(key:node) score; removing one node
    * must move ONLY that node's keys (~1/n of them) — the
    * minimal-disruption property that makes rendezvous/consistent
    * hashing the shard-placement standard over `key mod n` (which
    * moves ~all keys). The audit assigns every key under n and n−1
    * nodes (two narrow argmax expressions — no shuffle beyond the
    * final counts) and reports per-node key counts plus the moved
    * share. All decisions compare fixed-width md5 hex strings —
    * engine-portable and RNG-free. Output per node: keys_before,
    * keys_after, plus the scalar moved_share (6 dp).
    */
  def rendezvousAudit(df: DataFrame, keyCol: String, nNodes: Int)
      : DataFrame = {
    require(nNodes >= 3)
    def score(node: Int) =
      struct(md5(concat_ws(":", col(keyCol).cast("string"),
        lit(node.toString))).as("h"), lit(node.toLong).as("node"))
    def assign(n: Int) =
      greatest((0 until n).map(score): _*).getField("node")
    val assigned = df.select(col(keyCol).as("k"),
        assign(nNodes).as("before"), assign(nNodes - 1).as("after"))
      .persist()
    val moved = assigned.agg(
      (sum(when(col("before") =!= col("after"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("ms"))
    val b = assigned.groupBy(col("before").as("node"))
      .agg(count(lit(1)).as("keys_before"))
    val a = assigned.groupBy(col("after").as("node"))
      .agg(count(lit(1)).as("keys_after"))
    b.join(a, Seq("node"), "left")
      .na.fill(0L, Seq("keys_after"))
      .crossJoin(broadcast(moved))
      .select(col("node"), col("keys_before"), col("keys_after"),
        round(col("ms"), 6).as("moved_share"))
      .orderBy("node")
  }

  /** Neyman (optimal) stratified-sample allocation: n_h ∝ N_h·σ_h for
    * a total `budget`, with σ_h the population sd from exact integer
    * moments and the integer allocation by LARGEST REMAINDER (the
    * q85/q216 apportionment discipline — allocations sum to budget
    * exactly, no float rounding drift). Weights quantize to
    * w_h = ⌊N_h·σ_h·10⁶⌉ longs; base_h = B·w_h div Σw and the
    * leftover seats go to the largest exact integer remainders
    * r_h = B·w_h − base_h·Σw, tie-broken by stratum. `valueCol` must
    * be integral and coarse enough that Σv² fits a long. One grouped
    * agg + one tiny strata-frame window. Output:
    * (stratum, n_h, sd, n_alloc).
    */
  def neymanAllocation(df: DataFrame, strataCol: String,
      valueCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1)
    val mo = df.select(col(strataCol).as("stratum"),
        col(valueCol).cast("long").as("v"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_h"), sum("v").as("s1"),
        sum(col("v") * col("v")).as("s2"))
    val nd = col("n_h").cast("double")
    val sd = sqrt((nd * col("s2").cast("double")
      - col("s1").cast("double") * col("s1").cast("double")) / (nd * nd))
    val w = mo.select(col("stratum"), col("n_h"), sd.as("sd"),
      floor(nd * sd * lit(1e6) + lit(0.5)).cast("long").as("qw"))
    val tot = w.agg(sum("qw").as("sw"))
    val based = w.crossJoin(tot)
      .withColumn("base", expr(s"$budget * qw div sw"))
      .withColumn("rem", expr(s"$budget * qw - base * sw"))
    val leftover = based
      .withColumn("extra_rank", row_number().over(
        Window.orderBy(col("rem").desc, col("stratum"))))
      .withColumn("leftover",
        lit(budget) - sum("base").over(Window.partitionBy(lit(1))))
    leftover.select(col("stratum"), col("n_h"), round(col("sd"), 6).as("sd"),
      (col("base") + when(col("extra_rank") <= col("leftover"), 1L)
        .otherwise(0L)).as("n_alloc"))
      .orderBy("stratum")
  }
}
