package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in INTEGER-SCALED arithmetic: ranks are
  * longs scaled by 1e12; a node's contribution is `rank div outdeg`
  * and the damping update is `0.15*scale/n + (85 * sum) div 100` —
  * every step exact integer math, so the result is bit-identical
  * across engines, partitionings and retries (double-based PageRank
  * differs in the last ulps with summation order). Truncation loss per
  * step is < outdeg ulps of 1e-12 — noise relative to rank mass.
  *
  * Each iteration is one broadcast-sized join (outdeg), one join of
  * edges to ranks on src (both sides hash-partitioned on src — AQE
  * reuses the layout across iterations) and one groupBy dst: the
  * standard two-shuffle PageRank round. Dangling mass is dropped (the
  * simple-PageRank convention), so ranks sum to < scale.
  *
  * `iterations` is deliberately a parameter, not a convergence loop:
  * training-data graph jobs (dedup-cluster authority, citation rank)
  * run a fixed small number of rounds; unbounded driver loops over
  * 100 TB graphs belong to a checkpointed driver program like the
  * connected-components operator's.
  */
object Graph {

  /** Canonical undirected co-occurrence edges: items sharing at least
    * `minShared` groups (parts co-ordered in `minShared` orders, docs
    * sharing shingles, ...). One self equi-join on the group key, so
    * pair generation is O(size²) PER GROUP — bounded by the group
    * fan-out (order line count, shingle df), never corpus-sized; the
    * caller caps group size the same way the n-gram joins cap df.
    * Output: `src` < `dst`, distinct.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        minShared: Long): DataFrame =
    coOccurrencePairCounts(df, groupCol, itemCol)
      .where(col("shared") >= minShared)
      .select("src", "dst")

  /** The co-occurrence pair-count frame behind [[coOccurrenceEdges]]:
    * (`src` < `dst`, `shared` = number of common groups), distinct
    * pairs. Exposed so a caller needing SEVERAL minShared thresholds
    * of the same base relation (q349's weak-tie vs strong-tie graphs)
    * persists THIS frame once and filters per threshold.
    *
    * Shape: ONE shuffle on the group key builds per-group sorted
    * distinct item arrays (collect_set doubles as the distinct), and
    * every canonical pair is generated INSIDE the row — no self-join,
    * so the base relation is scanned once and the pair volume never
    * transits a join. Two shuffles total (group key, then pair key)
    * vs the textbook distinct + self-join + count's three. The k²
    * per-group blowup is the same either way; the in-row variant
    * additionally holds one group's items in one array, so callers
    * with UNBOUNDED group sizes (this repo's are order baskets, ≤ a
    * few dozen items) should cap or pre-split hot groups first.
    */
  def coOccurrencePairCounts(df: DataFrame, groupCol: String,
                             itemCol: String): DataFrame = {
    val baskets = df
      .select(col(groupCol).as("g"), col(itemCol).as("item"))
      .filter(col("g").isNotNull)
      .groupBy("g").agg(sort_array(collect_set(col("item"))).as("it"))
    baskets
      .select(explode(flatten(transform(col("it"), (x, i) =>
        transform(slice(col("it"), i + lit(2), size(col("it"))),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("shared"))
  }

  /** Per-node triangle count and local clustering coefficient via the
    * degree-ordered wedge join: orient each edge from its lower
    * (degree, id) endpoint to the higher, join directed edges on the
    * shared source to form wedges, close them against the directed
    * edge set. Each triangle materializes exactly once (at its
    * (degree, id)-minimal corner), and the orientation bounds the
    * out-degree by O(√m) — the standard skew-proof triangle recipe,
    * so a celebrity hub never builds deg² wedges. All counts are
    * integers; `clustering` = 2·tri / (deg·(deg−1)) is one double
    * division over exact operands, engine-portable.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = canonEdges(edges)
    val deg = symDegrees(e)
    val tris = enumTriangles(e, deg)
    val perNode = tris
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        round(when(col("deg") >= 2,
          lit(2.0) * coalesce(col("tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
  }

  /** Canonical undirected edge list: (a, b) with a < b, self-loops and
    * duplicates dropped.
    */
  private def canonEdges(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()

  private def symDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Each triangle exactly once as (u, v1, v2) via the degree-ordered
    * orientation: every edge points low→high (degree, id), wedges form
    * only at the minimal corner, and the closing edge is probed in the
    * oriented list — the standard O(m^1.5)-work enumeration that never
    * fans out on hubs.
    */
  private def enumTriangles(e: DataFrame, deg: DataFrame): DataFrame = {
    val wd = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val dir = wd.select(
      when(aLower, col("a")).otherwise(col("b")).as("u"),
      when(aLower, col("b")).otherwise(col("a")).as("v"),
      when(aLower, col("db")).otherwise(col("da")).as("dv"))
    val wedges = dir.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
      .join(dir.select(col("u"), col("v").as("v2"), col("dv").as("dv2")),
        Seq("u"))
      .where(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v1") < col("v2")))
    wedges
      .join(dir.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
  }

  /** Per-edge triangle SUPPORT — the k-truss building block: each
    * triangle (enumerated once, degree-ordered) explodes into its three
    * canonical edges; support(e) = triangles containing e; edges in no
    * triangle report 0. `in_truss` flags the k-truss edge condition
    * (support ≥ k−2) — one peel round's decision table. Cost: the
    * [[triangleStats]] enumeration plus one explode + one count shuffle
    * keyed by edge — no new quadratic surface at any scale.
    */
  def edgeSupport(edges: DataFrame, k: Long = 3L): DataFrame = {
    require(k >= 2)
    val e = canonEdges(edges)
    val deg = symDegrees(e)
    val tris = enumTriangles(e, deg)
    val triEdges = tris.select(explode(array(
        struct(least(col("u"), col("v1")).as("a"),
          greatest(col("u"), col("v1")).as("b")),
        struct(least(col("u"), col("v2")).as("a"),
          greatest(col("u"), col("v2")).as("b")),
        struct(least(col("v1"), col("v2")).as("a"),
          greatest(col("v1"), col("v2")).as("b")))).as("te"))
      .select(col("te.a").as("a"), col("te.b").as("b"))
    val sup = triEdges.groupBy("a", "b").agg(count(lit(1)).as("support"))
    e.join(sup, Seq("a", "b"), "left")
      .select(col("a").as("src"), col("b").as("dst"),
        coalesce(col("support"), lit(0L)).as("support"),
        (coalesce(col("support"), lit(0L)) >= lit(k - 2)).as("in_truss"))
  }

  /** Bounded-round k-TRUSS peel: `rounds` iterations of (count per-edge
    * triangle support, keep edges with support ≥ k−2), then the final
    * edge list with its residual support. With enough rounds this is
    * the exact k-truss; the FIXED round count keeps the result
    * deterministic and the job finite (same contract as [[kCorePeel]]).
    * Each round is one triangle enumeration over the SHRINKING survivor
    * set — the degree-ordered O(m^1.5) kernel, never an all-pairs
    * surface — cut per round by [[Iterate.rounds]].
    */
  def trussPeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1 && rounds <= 8)
    def support(e: DataFrame): DataFrame = {
      val tris = enumTriangles(e, symDegrees(e))
      val triEdges = tris.select(explode(array(
          struct(least(col("u"), col("v1")).as("a"),
            greatest(col("u"), col("v1")).as("b")),
          struct(least(col("u"), col("v2")).as("a"),
            greatest(col("u"), col("v2")).as("b")),
          struct(least(col("v1"), col("v2")).as("a"),
            greatest(col("v1"), col("v2")).as("b")))).as("te"))
        .select(col("te.a").as("a"), col("te.b").as("b"))
      e.join(triEdges.groupBy("a", "b").agg(count(lit(1)).as("c")),
          Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("c"), lit(0L)).as("support"))
    }
    def peel(e: DataFrame): DataFrame =
      support(e).where(col("support") >= lit(k - 2)).select("a", "b")
    // the final support() pass reads the last survivor set three times,
    // so that one frame is materialized eagerly
    val e = peel(Iterate.rounds(canonEdges(edges).localCheckpoint(false),
      rounds - 1)(peel)).localCheckpoint(true)
    support(e).select(col("a").as("src"), col("b").as("dst"),
      col("support"), (col("support") >= lit(k - 2)).as("in_truss"))
  }

  /** Bounded-round k-core peel: `rounds` iterations of (count degrees,
    * keep nodes with degree ≥ k, restrict edges to survivors), then
    * report each survivor's residual degree and whether it still meets
    * k. With enough rounds this converges to the exact k-core; a FIXED
    * round count keeps the lineage finite and the result deterministic
    * (same contract as [[pageRank]]'s fixed iterations — unbounded
    * convergence loops at 100 TB belong to a checkpointed driver
    * program). Each round is one aggregation plus two semi-shaped
    * joins on the shrinking survivor set. Isolated nodes never enter
    * (no incident edges). All-integer, engine-portable.
    */
  def kCorePeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 10)
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val sym0 = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(false)
    val sym = Iterate.rounds(sym0, rounds) { sym =>
      val alive = sym.groupBy("node").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("node")
      sym.join(alive, Seq("node"))
        .join(alive.withColumnRenamed("node", "nbr"), Seq("nbr"))
        .select("node", "nbr")
    }
    sym.groupBy("node").agg(count(lit(1)).as("deg"))
      .select(col("node"), col("deg"), (col("deg") >= k).as("in_core"))
  }

  /** Degree assortativity: the Pearson correlation between the degrees
    * at the two ends of each edge (both orientations, the undirected
    * convention). Because the symmetric edge list makes the two
    * marginals identical, r = (m·Σxy − (Σx)²) / (m·Σxx − (Σx)²) —
    * no square roots. Sums ride DECIMAL (exact at any scale, like
    * DuckDB's HUGEINT), are each < 2⁵³ so their double casts are
    * exact, and the final expression is one fixed-order double
    * computation — bit-identical across engines and partitionings.
    * Returns one row: `n_edges`, `assortativity` (6 dp; NaN on a
    * degree-regular graph, where the variance is zero — callers on
    * possibly-regular graphs guard the denominator).
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    val deg = sym.groupBy("node").agg(count(lit(1)).as("deg"))
    val pairs = sym
      .join(deg.select(col("node"), col("deg").as("dx")), "node")
      .join(deg.select(col("node").as("nbr"), col("deg").as("dy")), "nbr")
    val s = pairs.agg(
      count(lit(1)).as("m"),
      sum(col("dx").cast(dec)).as("sx"),
      sum((col("dx") * col("dy")).cast(dec)).as("sxy"),
      sum((col("dx") * col("dx")).cast(dec)).as("sxx"))
    val (m, sx, sxy, sxx) = (col("m").cast("double"),
      col("sx").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"))
    s.select(expr("m div 2").as("n_edges"),
      round((m * sxy - sx * sx) / (m * sxx - sx * sx), 6)
        .as("assortativity"))
  }

  /** Adamic–Adar link prediction: for each non-adjacent pair (u, v)
    * sharing at least one common neighbor w, score = Σ_w 1/ln(deg w),
    * reported with the raw common-neighbor count — the classic
    * "which parts will be co-ordered next" ranking.
    *
    * Scale shape: wedges come from one self-join of the adjacency list
    * on the CENTER node, so candidate generation is Σ_w deg(w)² — and
    * `maxDeg` caps the center degree, which bounds a celebrity hub's
    * wedge blowup the same way the n-gram joins cap df. The cap is
    * also principled: a high-degree center contributes the SMALLEST
    * 1/ln(deg) term, so dropping hubs prunes the least informative
    * evidence first (the cap must appear in any oracle replaying
    * this). Existing edges leave via one anti join; 1/ln(deg) terms
    * sum through DECIMAL (order-free), and the top-k ordering compares
    * the exact decimal score before any rounding.
    */
  def adamicAdar(edges: DataFrame, maxDeg: Long, topK: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().persist()
    val sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    val deg = sym.groupBy("node").agg(count(lit(1)).as("deg"))
    val ctr = sym.join(deg.where(col("deg") <= maxDeg), Seq("node"))
    val scored = ctr.select(col("node"), col("deg"), col("nbr").as("u"))
      .join(ctr.select(col("node"), col("nbr").as("v")), Seq("node"))
      .where(col("u") < col("v"))
      .select(col("u"), col("v"),
        (lit(1.0) / log(col("deg").cast("double"))).cast(dec).as("c"))
      .groupBy("u", "v")
      .agg(sum(col("c")).as("score"), count(lit(1)).as("common"))
      .join(e.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
    scored
      .orderBy(col("score").desc, col("u"), col("v"))
      .limit(topK)
      .select(col("u"), col("v"), col("common"),
        round(col("score").cast("double"), 6).as("score"))
  }

  /** Common-neighbors / Jaccard link prediction: for each non-adjacent
    * pair (u, v) with ≥ 1 common neighbor of degree ≤ `maxDeg`,
    * cn = #(capped) common neighbors and jaccard = cn/(dᵤ + dᵥ − cn).
    * Same wedge shape and hub cap as [[adamicAdar]] (candidate fan-out
    * Σ_w deg(w)², bounded by the cap; the cap must appear in any
    * oracle). Ranking is pinned WITHOUT floats: the top-k orders by
    * qj = cn·10⁹ div (dᵤ + dᵥ − cn) — an exact integer quotient — then
    * (u, v); the 6-dp double jaccard is display-only. Degrees are FULL
    * degrees; only the common-neighbor count is cap-restricted (the
    * hub-robust convention — a celebrity shared neighbor is weak
    * evidence AND a quadratic blowup).
    */
  def jaccardLinkPred(edges: DataFrame, maxDeg: Long, topK: Int)
      : DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().persist()
    val sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    val deg = sym.groupBy("node").agg(count(lit(1)).as("deg"))
    val ctr = sym.join(deg.where(col("deg") <= maxDeg), Seq("node"))
    val cn = ctr.select(col("node"), col("nbr").as("u"))
      .join(ctr.select(col("node"), col("nbr").as("v")), Seq("node"))
      .where(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("common"))
      .join(e.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
    val scored = cn
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .withColumn("un", col("du") + col("dv") - col("common"))
      .withColumn("qj", expr("common * 1000000000L div un"))
    scored.orderBy(col("qj").desc, col("u"), col("v")).limit(topK)
      .select(col("u"), col("v"), col("common"), col("un").as("union_size"),
        round(col("common").cast("double") / col("un").cast("double"), 6)
          .as("jaccard"))
  }

  /** Rich-club curve φ(k) = 2·E_k / (N_k·(N_k − 1)) for k = 1..maxK,
    * where the k-club is the subgraph of nodes with degree > k — "do
    * the hubs preferentially interconnect". Everything reduces to two
    * TINY histograms before the ladder ever materializes: the degree
    * histogram (N_k by cumulative count) and the per-edge min-degree
    * histogram (E_k by cumulative count) — so the k-explode touches
    * histogram rows, never edges. All counts exact; φ is the only
    * float. Output: (k, n_k, e_k, phi).
    */
  def richClub(edges: DataFrame, maxK: Int): DataFrame = {
    require(maxK >= 1 && maxK <= 64)
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().persist()
    val sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    val deg = sym.groupBy("node").agg(count(lit(1)).as("deg")).persist()
    val degHist = deg.groupBy("deg").agg(count(lit(1)).as("cnt"))
    val minHist = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(least(col("da"), col("db")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("cnt"))
    val ks = e.sparkSession.range(1, maxK + 1).select(col("id").as("k"))
    val nk = ks.join(degHist, col("deg") > col("k"))
      .groupBy("k").agg(sum("cnt").as("n_k"))
    val ek = ks.join(minHist, col("m") > col("k"))
      .groupBy("k").agg(sum("cnt").as("e_k"))
    ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"), coalesce(col("n_k"), lit(0L)).as("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"),
        round(when(coalesce(col("n_k"), lit(0L)) >= 2,
          lit(2.0) * coalesce(col("e_k"), lit(0L)).cast("double") /
            (col("n_k") * (col("n_k") - 1)).cast("double"))
          .otherwise(lit(0.0)), 6).as("phi"))
      .orderBy("k")
  }

  /** Directed-graph shape summary: reciprocity (the fraction of edges
    * whose reverse also exists — one self-join on the swapped key) and
    * the in/out-degree first moments — the 30-second "what kind of
    * graph is this" card before any iterative algorithm runs. All
    * counts exact; the ratios are the only floats. Output one row:
    * n_edges, n_nodes, reciprocal_edges, reciprocity, mean_out_deg,
    * max_out_deg, max_in_deg (6 dp where fractional).
    */
  def shapeSummary(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().persist()
    val recip = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .agg(count(lit(1)).as("reciprocal_edges"))
    val outd = e.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_out"), sum(col("d")).as("n_edges"),
        max(col("d")).as("max_out_deg"))
    val ind = e.groupBy("dst").agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("max_in_deg"))
    val nodes = e.select(col("src").as("n"))
      .union(e.select(col("dst").as("n"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    // all three sides are 1-row aggregates — no hint needed, AQE
    // broadcasts them at runtime (and this file stays hint-free for
    // the GraphScaleSpec source guard)
    outd.crossJoin(recip).crossJoin(ind)
      .crossJoin(nodes)
      .select(col("n_edges"), col("n_nodes"), col("reciprocal_edges"),
        round(col("reciprocal_edges").cast("double")
          / col("n_edges").cast("double"), 6).as("reciprocity"),
        round(col("n_edges").cast("double") / col("n_out").cast("double"),
          6).as("mean_out_deg"),
        col("max_out_deg"), col("max_in_deg"))
  }

  /** Fixed-round HITS (Kleinberg 1999) in integer-scaled arithmetic:
    * hub/authority scores are longs scaled by `scale`, each round
    * max-normalized — `score·scale div max(score)` through a
    * DECIMAL(38,0) product so the intermediate (≤ n·scale²) cannot
    * overflow a long (DuckDB mirrors it in HUGEINT). Like [[pageRank]],
    * every step is exact integer math, so results are bit-identical
    * across engines, partitionings and retries, and `rounds` is a
    * fixed parameter, not a float-sensitive convergence loop.
    *
    * Each round is two edge-sized hash joins + two groupBys (the
    * auth-gather on dst, the hub-gather on src) and two broadcast-sized
    * max() scalars — the same two-shuffle shape as a PageRank round;
    * AQE reuses the edge partitioning across rounds. Directed `edges`;
    * for a bipartite graph hubs are the src side, authorities the dst
    * side. Output: (node, hub, auth) — nodes never reached keep 0, not
    * null, so downstream ordering is total.
    */
  def hits(edges: DataFrame, rounds: Int,
           scale: Long = 1000000000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 20)
    // the edge frame feeds 2 gathers per round and each half-round's
    // max() scalar — cut it (and each half-round's gather, read by the
    // scalar and the normalization) or every consumer re-derives the
    // whole upstream lineage, turning r rounds into O(r²) recomputes
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    def maxNorm(raw: DataFrame, c: String): DataFrame = {
      val r = raw.localCheckpoint(false)
      val mx = r.agg(max(col(c)).as("mx"))
      // mx is a 1-row scalar; no hint needed — AQE broadcasts it
      r.crossJoin(mx)
        .select(col("node"),
          expr(s"CAST($c AS DECIMAL(38,0)) * $scale div mx")
            .cast("long").as(c))
    }
    var hub = nodes.withColumn("hub", lit(scale))
    var auth: DataFrame = null
    // rank frames are node-sized — they GROW with the graph, so no
    // broadcast() hint here: at 100× a forced broadcast OOMs the
    // driver. The shuffle hash join on the edge key is the plan you
    // want at scale, and AQE still converts to broadcast at runtime
    // whenever a rank frame is genuinely small.
    for (_ <- 1 to rounds) {
      auth = maxNorm(
        e.join(hub.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum("hub").as("auth")),
        "auth")
      hub = maxNorm(
        e.join(auth.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(sum("auth").as("hub")),
        "hub")
    }
    nodes
      .join(hub.withColumnRenamed("hub", "h"), Seq("node"), "left")
      .join(auth.withColumnRenamed("auth", "a"), Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
  }

  /** Personalized PageRank: the restart mass lands ONLY on the seed
    * set (`seeds`: one column `node`) instead of uniformly — the
    * "similar to these" retrieval primitive (seed-biased random walk
    * stationary measure). Same integer-scaled exact arithmetic and
    * two-shuffle round shape as [[pageRank]]: rank = 0.15·scale/|S|
    * on seeds + 0.85·gathered, every step integer math, fixed round
    * count. Seeds outside the graph still receive restart mass (the
    * standard convention — they are part of the walk's teleport set).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50)
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(seeds.select(col("node"))).distinct().localCheckpoint(false)
    val seed = seeds.select(col("node")).distinct()
      .withColumn("is_seed", lit(true)).localCheckpoint(false)
    val nSeeds = seed.count()
    require(nSeeds > 0, "personalizedPageRank needs a non-empty seed set")
    val base = 15L * scale / 100 / nSeeds
    val ranks0 = nodes.join(seed, Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed"), lit(scale / nSeeds)).otherwise(lit(0L))
          .as("rank"))
    // out-degree is loop-invariant: join it onto the edge frame ONCE —
    // each round then runs one join instead of two
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(false)
    val eDeg = e.join(outdeg, "src").localCheckpoint(false)
    Iterate.rounds(ranks0, iterations) { ranks =>
      val contribs = eDeg
        // rank-0 nodes contribute exactly 0 to every neighbor (and the
        // downstream coalesce already maps "no contribution" to 0), so
        // drop them BEFORE the join — in the early rounds the mass sits
        // on the seed set only and the join shrinks to the seeds' edges
        .join(ranks.filter(col("rank") =!= 0L)
          .withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("sum_c"))
      nodes.join(contribs, Seq("node"), "left")
        .join(seed, Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L))
            + expr("85 * coalesce(sum_c, 0L) div 100")).as("rank"))
    }
  }

  /** Bounded multi-source BFS: exact hop distance from the seed set,
    * capped at `maxHops` rounds (unreached nodes report −1). Each
    * round is one join of the edge frame against the CURRENT frontier
    * only (the newly-settled nodes) plus an anti-join against settled
    * — the textbook iterative frontier expansion, with the round count
    * a fixed parameter like every iterative operator here (an
    * unbounded loop over a 100 TB graph belongs to a checkpointed
    * driver program). Distances are exact integers; no floats
    * anywhere.
    *
    * Scale: the frontier is NOT broadcast-hinted — on a dense graph it
    * approaches the full node set within a few hops, and a forced
    * broadcast of a node-count-sized frame OOMs the driver at 100×.
    * The frontier join shuffles on src (edge partitioning reused
    * across hops); AQE still picks a broadcast join at runtime for the
    * early hops where the frontier is genuinely small.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(seeds.select(col("node"))).distinct().localCheckpoint(false)
    bfsDistancesOn(e, nodes, seeds, maxHops)
  }

  /** [[bfsDistances]] over CALLER-prepared frames: `e` must be the
    * distinct (src, dst) edge set and `nodes` the node universe, both
    * ideally checkpointed by the caller — so a query running BFS twice
    * over the same graph (e.g. a bow-tie census, forward + backward)
    * builds the graph once. Reversing direction is a column swap on the
    * SAME `e`, not a rebuild.
    *
    * Each hop cuts its two frames (frontier, settled) lazily, the
    * [[Iterate]] cadence: every hop references its predecessor twice
    * (frontier join + settled anti-join). The result is materialized
    * EAGERLY, so the traversal runs in the calling thread — q296 runs
    * its two directions from two threads and needs the work done there,
    * not in its final action.
    */
  def bfsDistancesOn(e: DataFrame, nodes: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 30)
    var settled = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(false)
    var frontier = settled
    for (hop <- 1 to maxHops) {
      val next = e.join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(settled.select(col("node"), lit(true).as("seen")),
          Seq("node"), "left")
        .filter(col("seen").isNull)
        .select(col("node"), lit(hop.toLong).as("dist"))
        .localCheckpoint(false)
      settled = settled.unionByName(next).localCheckpoint(false)
      frontier = next
    }
    nodes.join(settled, Seq("node"), "left")
      .select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .localCheckpoint()
  }

  def pageRank(edges: DataFrame, iterations: Int,
               scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50)
    // e and outdeg are read once per iteration and nodes twice — cut
    // them, or an expensive edge build (q252's token self-join) re-runs
    // every round inside the single final action
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(false)
    val n = nodes.count()
    val base = 15L * scale / 100 / n
    Iterate.rounds(nodes.withColumn("rank", lit(scale / n)), iterations) {
        ranks =>
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("sum_c"))
      nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("85 * coalesce(sum_c, 0L) div 100")).as("rank"))
    }
  }

  /** Newman modularity of a node partition: Q = Σ_c (m_c/m −
    * (d_c/2m)²) over communities c, with m_c = intra-community edge
    * count and d_c = total degree — "is this clustering better than
    * random". Exact integers everywhere (Q·(2m)² = Σ 4·m·m_c − d_c²
    * would overflow; instead each community term is one fixed-shape
    * double over exact ints, quantized to 1e-9 before the cross-
    * community sum). `communities`: (node, community).
    *
    * ONE pass over the edge frame: both membership legs equi-join
    * (`communities` MUST cover every edge endpoint — q349 constructs
    * it from the edge node set with singleton fallback, which is the
    * natural shape for any partition-quality measurement), then each
    * edge EXPLODES into its two endpoint contributions carrying an
    * intra flag, and a single groupBy yields d_c = count and
    * m_c = Σflag/2 (an intra edge flags both endpoints, so the
    * halving is exact). That replaces the three-consumer shape
    * (intra join + sym union join + their re-join) with two inner
    * joins — AQE/broadcast-eligible, unlike outer legs — and one
    * shuffle.
    */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    // EAGER: the m count below reads e once and the caller's action
    // again, so one job materializes it for both
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val m = e.count()
    // the membership frame feeds both join legs — materialize once so
    // its lineage (often a distinct + component join, as in q349)
    // doesn't re-run per leg
    val cm = communities.localCheckpoint(true)
    val withC = e
      .join(cm.select(col("node").as("a"),
        col("community").as("ca")), Seq("a"))
      .join(cm.select(col("node").as("b"),
        col("community").as("cb")), Seq("b"))
    val ii = when(col("ca") === col("cb"), lit(1L)).otherwise(lit(0L))
    val contrib = withC
      .select(explode(array(
        struct(col("ca").as("community"), ii.as("ii")),
        struct(col("cb").as("community"), ii.as("ii")))).as("x"))
      .select(col("x.community").as("community"), col("x.ii").as("ii"))
    val terms = contrib.groupBy("community")
      .agg(count(lit(1)).as("d_c"), (sum("ii") / 2).cast("long").as("m_c"))
      .select(col("community"), col("m_c"), col("d_c"),
        floor((coalesce(col("m_c"), lit(0L)).cast("double") / lit(m.toDouble)
          - (col("d_c").cast("double") / lit(2.0 * m))
            * (col("d_c").cast("double") / lit(2.0 * m))) * lit(1e9)
          + lit(0.5)).cast("long").as("qt"))
    terms.agg(count(lit(1)).as("n_communities"),
        sum("m_c").as("intra_edges"), sum("qt").as("sq"))
      .select(lit(m).as("n_edges"), col("n_communities"),
        col("intra_edges"),
        round(col("sq").cast("double") / lit(1e9), 6).as("modularity"))
  }

  /** Onion (layer) decomposition: iterative minimum-degree peel where
    * every round removes ALL nodes at the current minimum degree and
    * stamps them with the round number — the fine-grained refinement
    * of the k-core number (nodes of one core split into layers). A
    * FIXED `rounds` cap bounds the lineage like every iterative op
    * here; nodes surviving all rounds report layer = rounds + 1.
    * Each round: one degree agg + one semi/anti join pair.
    * Output: (node, layer, final_deg — degree at peel time).
    */
  def onionLayers(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 12)
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    // each round's minimum degree is a driver pick, so every round's
    // frames are materialized EAGERLY (the [[Iterate]] cut, made eager)
    var sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint()
    var out: DataFrame = null
    var done = false
    for (r <- 1 to rounds if !done) {
      val deg = sym.groupBy("node").agg(count(lit(1)).as("deg"))
      val mnRow = deg.agg(min("deg")).head()
      if (mnRow.isNullAt(0)) done = true
      else {
        val mn = mnRow.getLong(0)
        val peeled = deg.filter(col("deg") === mn)
          .select(col("node"), lit(r.toLong).as("layer"),
            col("deg").as("final_deg"))
          .localCheckpoint()
        out = if (out == null) peeled else out.unionByName(peeled)
        sym = sym
          .join(peeled.select("node"), Seq("node"), "leftanti")
          .join(peeled.select(col("node").as("nbr")), Seq("nbr"),
            "leftanti")
          .localCheckpoint()
      }
    }
    val rest = sym.groupBy("node").agg(count(lit(1)).as("final_deg"))
      .select(col("node"), lit(rounds + 1L).as("layer"), col("final_deg"))
    if (out == null) rest else out.unionByName(rest)
  }
}
