package graft.ops.ext

import graft.ops.Iterate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Spectral analysis of an embedding corpus: the dominant eigenvector
  * of the (uncentered) second-moment matrix M = (1/n)·Σ x·xᵀ by fixed-
  * round power iteration — the PCA-direction primitive under
  * whitening/compression decisions, made reproducible the same way
  * k-means and PageRank were:
  *
  *   - no RNG: v₀ = (1/√d, …, 1/√d) — one IEEE sqrt, identical in any
  *     engine (exactly 0.125 for the d = 64 corpus);
  *   - a fixed round count, not a float-sensitive convergence test;
  *   - the corpus-sized Gram sums use the split-long construction
  *     (the q124 rule — wide DECIMAL aggregation buffers are
  *     BigDecimal-backed and ~20× slower): each product shifts by +4
  *     (non-negative for |x| ≤ 2, the unit-ish embedding envelope),
  *     quantizes to `floor(q·10⁸ + 0.5)` as a long, and the `>>20` /
  *     `&0xFFFFF` halves sum as plain longs — order-independent
  *     exactness at native speed, recombined once per cell (DuckDB:
  *     HUGEINT). The tiny d-row matvec/norm sums stay DECIMAL(38,18).
  *
  * Scale shape: the Gram build is the only corpus-sized work, and it
  * runs as ONE native kernel — [[graft.expr.GramMoments]], a
  * TypedImperativeAggregate whose per-partition buffer holds the 3·d²
  * split-long cells, so the n·d² product stream never materializes as
  * rows (the previous explode → id-self-join → groupBy form streamed
  * 245 M rows through a hash aggregate at sf0.1 and was the entire
  * 5–9 s of q146; the kernel is the same arithmetic in a
  * register-resident loop, O(d²) traffic per partition independent of
  * n). Every iteration after that joins the d²-row matrix against a
  * d-row vector (both broadcast-sized for any practical d). Lineage
  * grows linearly in rounds.
  */
object Spectral {

  /** The d²-cell second-moment matrix (i, j, m) via the native
    * [[graft.expr.GramMoments]] kernel: shifted product
    * q = x·y + 4 ≥ 0, quantized to 1e-8 longs, hi/lo halves summed as
    * plain longs per partition; the -4·n un-shift uses the cell's
    * exact count (bit-identical to the explode/self-join form this
    * replaced — see GramMoments scaladoc). Persisted — every power
    * iteration re-joins it.
    */
  private def gramMatrix(df: DataFrame, vecCol: String,
      dims: Int): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge
    val cellsAgg = GraftExpressionBridge.column(
      graft.expr.GramMoments(
        GraftExpressionBridge.expression(
          col(vecCol).cast("array<double>")),
        dims).toAggregateExpression())
    df.groupBy().agg(cellsAgg.as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        (((col("c.hi").cast("decimal(38,0)") * lit(1048576L) + col("c.lo"))
          .cast("double") / lit(1e8) - lit(4.0) * col("c.n")) / col("c.n"))
          .as("m"))
      .persist()
  }

  private val dec = DecimalType(38, 18)

  /** w = M·v (DECIMAL matvec sums) as (i, w). */
  private def matvec(m: DataFrame, v: DataFrame): DataFrame =
    m.join(broadcast(v.select(col("i").as("j"), col("v").as("vj"))),
        Seq("j"))
      .groupBy(col("i"))
      .agg(sum((col("m") * col("vj")).cast(dec)).as("sw"))
      .select(col("i"), col("sw").cast("double").as("w"))

  /** ‖w‖ as a one-row frame (`nrm`). */
  private def norm(w: DataFrame): DataFrame =
    w.agg(
      sqrt(sum((col("w") * col("w")).cast(dec)).cast("double")).as("nrm"))

  /** v' = w/‖w‖ as (i, v). */
  private def unit(w: DataFrame, nrm: DataFrame): DataFrame =
    w.crossJoin(broadcast(nrm))
      .select(col("i"), (col("w") / col("nrm")).as("v"))

  private def unitStart(df: DataFrame, dims: Int): DataFrame =
    df.sparkSession.range(0, dims.toLong)
      .select(col("id").as("i"),
        lit(1.0 / math.sqrt(dims.toDouble)).as("v"))

  /** `iters` power rounds on `m` from the unit start: the last round's
    * w = M·v, each round cut by [[graft.ops.Iterate]] (w feeds both the
    * norm and the next vector).
    */
  private def powerIterate(m: DataFrame, df: DataFrame, dims: Int,
      iters: Int): DataFrame =
    Iterate.rounds(matvec(m, unitStart(df, dims)).localCheckpoint(false),
      iters - 1)(w => matvec(m, unit(w, norm(w))))

  /** `iters` power-iteration rounds on the d-dimensional second-moment
    * matrix of `vecCol`. Output: (dim, loading, eigenvalue) — the unit
    * dominant eigenvector and ‖M·v‖ from the last round (the Rayleigh
    * estimate for unit v), both rounded to 6 dp.
    */
  def dominantEigen(df: DataFrame, vecCol: String, idCol: String,
      dims: Int, iters: Int): DataFrame = {
    require(iters >= 1 && dims >= 1)
    val w = powerIterate(gramMatrix(df, vecCol, dims), df, dims, iters)
    val nrm = norm(w)
    unit(w, nrm).crossJoin(broadcast(nrm))
      .select(col("i").as("dim"), round(col("v"), 6).as("loading"),
        round(col("nrm"), 6).as("eigenvalue"))
      .orderBy("dim")
  }

  /** Top-TWO spectral directions by deflated power iteration: v₁ as in
    * [[dominantEigen]] (λ₁ = ‖M·v₁‖ from its last round), then the
    * second direction iterates u ← (M − λ₁·v₁v₁ᵀ)·u without ever
    * materializing the deflated matrix — each round computes
    * w = M·u − λ₁·(v₁ᵀu)·v₁ as the DECIMAL matvec minus a
    * rank-1 correction (v₁ᵀu is one DECIMAL dot; the per-dim
    * combination `w − λ₁·d·v₁ᵢ` is a fixed IEEE chain the oracle
    * replays). The start vector for u is the same deterministic
    * 1/√d — its v₁-component is removed by the deflation itself.
    *
    * Scale shape: identical to [[dominantEigen]] — the corpus-sized
    * work is the one GramMoments pass; both eigen loops run on the
    * d²-cell matrix and d-row vectors (broadcast-sized). Output per
    * dim: loading1, loading2, eig1, eig2 (6 dp), plus the v₁ᵀv₂
    * residual as a sanity column (6 dp, ~0).
    */
  def topTwoEigen(df: DataFrame, vecCol: String, dims: Int,
      iters: Int): DataFrame = {
    require(iters >= 1 && dims >= 1)
    val m = gramMatrix(df, vecCol, dims)
    // pass 1: dominant direction + lambda1
    val w1 = powerIterate(m, df, dims, iters)
    val nrm1 = norm(w1)
    val v1c = unit(w1, nrm1).localCheckpoint(false)
    val lam1 = nrm1.select(col("nrm").as("lam")).localCheckpoint(false)
    // pass 2: deflated iteration. Each round embeds THREE scalar
    // broadcast subplans (dot, λ₁, norm) over two frames (w, the
    // deflated w), so both are cut per round, lazily (the Iterate
    // cadence); uncut, every broadcast of round r re-executes round r−1
    var u = unitStart(df, dims)
    var nrm2: DataFrame = null
    for (_ <- 1 to iters) {
      val w = matvec(m, u).localCheckpoint(false)
      val d = u.join(v1c.select(col("i"), col("v").as("v1")), Seq("i"))
        .agg(sum((col("v") * col("v1")).cast(dec)).cast("double").as("d"))
      val wd = w.join(broadcast(v1c.select(col("i"), col("v").as("v1"))),
          Seq("i"))
        .crossJoin(broadcast(d)).crossJoin(broadcast(lam1))
        .select(col("i"),
          (col("w") - col("lam") * col("d") * col("v1")).as("w"))
        .localCheckpoint(false)
      nrm2 = norm(wd)
      u = unit(wd, nrm2)
    }
    val resid = u.join(v1c.select(col("i"), col("v").as("v1")), Seq("i"))
      .agg(sum((col("v") * col("v1")).cast(dec)).cast("double").as("resid"))
    v1c.select(col("i"), col("v").as("l1"))
      .join(u.select(col("i"), col("v").as("l2")), Seq("i"))
      .crossJoin(broadcast(lam1)).crossJoin(broadcast(nrm2))
      .crossJoin(broadcast(resid))
      .select(col("i").as("dim"),
        round(col("l1"), 6).as("loading1"),
        round(col("l2"), 6).as("loading2"),
        round(col("lam"), 6).as("eig1"),
        round(col("nrm"), 6).as("eig2"),
        round(col("resid"), 6).as("v1_dot_v2"))
      .orderBy("dim")
  }

  /** Uncentered linear CKA between two SLICES of the same embedding —
    * dims [0, splitAt) as view X, [splitAt, dims) as view Y:
    * CKA = ‖Mxy‖²_F / (‖Mxx‖_F · ‖Myy‖_F) over the second-moment
    * blocks. The "are these two representation halves measuring the
    * same thing" number a compression/truncation decision reads before
    * dropping half the dims (CKA ≈ 1 → the halves are redundant;
    * ≈ 0 → truncation loses signal). Uncentered by design — the same
    * one-pass [[graft.expr.GramMoments]] kernel the eigen family uses
    * provides all three blocks of the d×d moment matrix at once, and
    * the Frobenius ratios are scale-invariant, so no second
    * mean-subtraction pass is needed (documented divergence from the
    * centered-HSIC form).
    *
    * Scale shape: identical to [[dominantEigen]] — the corpus-sized
    * work is ONE GramMoments aggregation (O(d²) state per partition,
    * no n·d² row stream); everything after runs on the d²-cell frame.
    */
  def linearCkaSplit(df: DataFrame, vecCol: String, dims: Int,
      splitAt: Int): DataFrame = {
    require(splitAt > 0 && splitAt < dims)
    val m = gramMatrix(df, vecCol, dims)
    val blocks = m.select(col("m"),
        when(col("i") < splitAt && col("j") < splitAt, "xx")
          .when(col("i") >= splitAt && col("j") >= splitAt, "yy")
          .when(col("i") < splitAt && col("j") >= splitAt, "xy")
          .otherwise("yx").as("blk"))
      .filter(col("blk") =!= "yx")
      .groupBy("blk")
      .agg(sum((col("m") * col("m")).cast(dec)).cast("double").as("ss"))
    val row = blocks.groupBy()
      .pivot("blk", Seq("xx", "yy", "xy")).agg(first("ss"))
    row.select(lit(dims.toLong).as("d"), lit(splitAt.toLong).as("split_at"),
      round(col("xy") / (sqrt(col("xx")) * sqrt(col("yy"))), 6).as("cka"),
      round(sqrt(col("xx")), 6).as("fro_xx"),
      round(sqrt(col("yy")), 6).as("fro_yy"),
      round(sqrt(col("xy")), 6).as("fro_xy"))
  }
}
