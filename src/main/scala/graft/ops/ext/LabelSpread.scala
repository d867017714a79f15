package graft.ops.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation over a cosine kNN graph — the
  * "label the unlabeled 99% of the corpus from a small seed set"
  * step of weak supervision pipelines. A fixed number of majority-
  * vote rounds; each round labels exactly the still-unlabeled nodes
  * that have ≥1 labeled kNN neighbor (majority by count, ties to the
  * smallest label — fully deterministic).
  *
  * Determinism: cosine ranking tie-breaks by neighbor id; sqrt and
  * division are correctly-rounded IEEE ops, identical on any engine.
  * Votes are integer counts; no float accumulations anywhere.
  *
  * Scale shape: [[knnEdges]] is the brute-force O(n²) baseline (one
  * self-join, top-k window per node — same envelope as the q16
  * brute-force cosine, the verify-scale arm only); [[ivfKnnEdges]]
  * is the corpus-scale builder (IVF cells, O(n^1.5)). The propagation
  * rounds downstream are bounded joins on the (node, neighbor) edge
  * frame, which is k·n rows regardless of how it was built.
  */
object LabelSpread {

  /** kNN edge frame: (id, nb, rank) — top `k` neighbors by cosine
    * (desc), neighbor-id tie-break. `df`: (idCol, vecCol).
    */
  def knnEdges(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val base = Similarity.vectors(df, idCol, vecCol)
    val w = Window.partitionBy("id")
      .orderBy(col("cos").desc, col("nb"))
    base.as("a").crossJoin(base.as("b")).filter(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nb"),
        Similarity.cosineOf("a", "b").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("id", "nb", "rank")
  }

  /** kNN edge frame via IVF cells — the scale path [[knnEdges]]'s
    * scaladoc promises: (id, nb, rank), top `k` by exact cosine among
    * the members of the node's `nprobe` nearest cells only.
    *
    * The coarse quantizer is the [[Similarity.ivfTopK]] discipline
    * (centroids = every spacing-th id — no RNG, no run-dependent
    * k-means) with spacing = ceil(sqrt(n)), so both the assignment
    * crossJoin (n × sqrt(n) cosines against a broadcast centroid set)
    * and the celled candidate join (n × nprobe·sqrt(n) pairs, shuffled
    * on cent_id, cells ~sqrt(n) balanced) are O(n^1.5) — vs the exact
    * builder's O(n²), which is why this is the graph-construction arm
    * a corpus-scale label spread must use. The one n × nprobe
    * assignment frame feeds both the member (rank-1 cell) and probe
    * (rank ≤ nprobe) sides, so the quantizer runs once (Spark reuses
    * the canonicalized exchange). Every step is id-tie-broken and
    * hash-free, so a SQL engine reproduces the graph bit-for-bit.
    */
  def ivfKnnEdges(df: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 2): DataFrame = {
    val base = Similarity.vectors(df, idCol, vecCol)
      .withColumn("id", col("id").cast("long"))
    val spacing = math.ceil(math.sqrt(base.count().toDouble)).toLong
    val assigned = Similarity.cells(base,
      Similarity.centroids(base, spacing), nprobe)
    val members = assigned.filter(col("cell_rank") === 1)
      .select(col("cent_id"), col("id").as("nb"), col("vec").as("wv"),
        col("nrm").as("wnrm"))
    val probes = assigned.select(col("id"), col("cent_id"), col("vec"),
      col("nrm"))
    val w = Window.partitionBy("id").orderBy(col("cos").desc, col("nb"))
    probes.join(members, "cent_id")
      .filter(col("id") =!= col("nb"))
      .withColumn("cos", Similarity.dot(col("vec"), col("wv"))
        / (col("nrm") * col("wnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("id", "nb", "rank")
  }

  /** One majority-vote round: label every unlabeled node with ≥1
    * labeled neighbor. `labels`: (id, lab); returns the NEW
    * assignments only.
    */
  private def voteRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val w = Window.partitionBy("id")
      .orderBy(col("cnt").desc, col("lab"))
    edges.join(labels.select(col("id").as("u")), col("id") === col("u"),
        "left_anti")
      .join(labels.select(col("id").as("nb"), col("lab")), "nb")
      .groupBy("id", "lab").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("lab"))
  }

  /** Propagate `seeds` (id, lab) over `edges` for `rounds` rounds;
    * output (id, lab, round) where round 0 = seed, r ≥ 1 = the round
    * the node was labeled in.
    */
  def propagate(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    var all = seeds.select(col("id"), col("lab"), lit(0).as("round"))
    for (r <- 1 to rounds) {
      val fresh = voteRound(edges, all.select("id", "lab"))
        .withColumn("round", lit(r))
      all = all.unionByName(fresh)
    }
    all
  }
}
