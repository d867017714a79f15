package graft.ops.ext

import graft.ops.Iterate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Geometric median of an embedding corpus by fixed-round Weiszfeld
  * iteration — the L1-robust center (outlier documents barely move it,
  * unlike the mean), used for robust centroids and anomaly baselines.
  *
  * Reproducibility, the repo's iterative-numeric recipe:
  *   - start at the exact corpus mean (DECIMAL per-dim sums / n);
  *   - fixed `iters` rounds, no float-sensitive convergence test;
  *   - per-row distance = √(Σ (x−y)² summed in DECIMAL(38,18)) —
  *     order-free exactness, so no sequential fold is needed;
  *   - the weighted-mean update quantizes every per-row term
  *     (x_i/dist and 1/dist) to 1e-9 longs BEFORE the cross-row sums
  *     (the house rule), then y'_i = Σq(x_i/d) / Σq(1/d) as one
  *     division of exact longs.
  *
  * Scale shape: each round is one broadcast of the d-row center onto
  * the exploded corpus, one hash aggregation back to d rows — no
  * corpus-sized shuffle grows with rounds. Rows at exactly the current
  * center (dist 0) drop from that round's update (the standard
  * Weiszfeld convention).
  */
object GeoMedian {

  def geometricMedian(df: DataFrame, vecCol: String, idCol: String,
      dims: Int, iters: Int): DataFrame = {
    require(iters >= 1 && dims >= 1)
    val dec = DecimalType(38, 18)
    val e = df.select(col(idCol).as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
      .select(col("id"), col("i").cast("long").as("i"), col("x"))
      .persist()
    val n = df.count()
    val y0 = e.groupBy("i")
      .agg(sum(col("x").cast(dec)).as("s"))
      .select(col("i"),
        (col("s").cast("double") / lit(n.toDouble)).as("y"))
      .localCheckpoint(false)
    val y = Iterate.rounds(y0, iters) { y =>
      val dist = e.join(broadcast(y), Seq("i"))
        .groupBy("id")
        .agg(sqrt(sum(((col("x") - col("y")) * (col("x") - col("y")))
          .cast(dec)).cast("double")).as("d"))
        .filter(col("d") > 0)
      val parts = e.join(broadcast(y), Seq("i")).join(dist, Seq("id"))
        .groupBy("i")
        .agg(sum(floor(col("x") / col("d") * lit(1e9) + lit(0.5))
            .cast("long")).as("numq"),
          sum(floor(lit(1.0) / col("d") * lit(1e9) + lit(0.5))
            .cast("long")).as("denq"))
      parts.select(col("i"),
        (col("numq").cast("double") / col("denq").cast("double")).as("y"))
    }
    y.select(col("i").as("dim"), round(col("y"), 6).as("coord"))
      .orderBy("dim")
  }
}
