package graft.ops.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic dedup — the SemDeDup recipe (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication"): cluster the embedding space, then WITHIN each
  * cluster drop every vector whose cosine similarity to a lower-id
  * member exceeds a threshold. Near-semantic duplicates land in the
  * same cluster, so the quadratic pair search runs per-cluster, never
  * corpus-wide.
  *
  * The quantizer is the same deterministic one the IVF index uses
  * (centroids = every `centroidEvery`-th vector, no RNG — see
  * Similarity.ivfTopK): centroids broadcast to the assignment scan, one
  * shuffle on the cluster id for the per-cluster self-join. Cluster
  * sizes are ~centroidEvery in expectation, so per-cluster pair work is
  * bounded; the keep-decision (∃ lower-id cluster-mate above τ) is a
  * pure function of the data — no iteration order, no tie ambiguity.
  *
  * Cosines reuse Similarity.dot's sequential fold over double-cast
  * arrays — bit-identical across engines, so the τ comparison itself is
  * portable and the result is DuckDB-oracle-checkable.
  */
object SemDedup {

  /** Cluster assignment: (id, cent_id, vec, nrm) for every vector —
    * nearest centroid by cosine, ties broken by centroid id.
    */
  def assign(df: DataFrame, vecCol: String, idCol: String,
      centroidEvery: Int): DataFrame = {
    val vecs = Similarity.vectors(df, idCol, vecCol)
    Similarity.cells(vecs, Similarity.centroids(vecs, centroidEvery), 1)
      .select(col("id"), col("cent_id"), col("vec"), col("nrm"))
  }

  /** Kept vectors after semantic dedup: (id, cent_id) for every vector
    * with NO lower-id cluster-mate at cosine > tau.
    */
  def semDedup(df: DataFrame, vecCol: String, idCol: String,
      centroidEvery: Int, tau: Double): DataFrame = {
    // the assignment feeds three consumers (both self-join sides + the
    // final anti-join left); without a stage persist the centroid
    // broadcast + assignment window recomputes once per consumer —
    // same stage-boundary rule as Curation.curate
    val assigned = assign(df, vecCol, idCol, centroidEvery).persist()
    val dropped = assigned.as("b")
      .join(assigned.as("a"),
        col("a.cent_id") === col("b.cent_id") && col("a.id") < col("b.id"))
      .filter(Similarity.cosineOf("a", "b") > tau)
      .select(col("b.id").as("id")).distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cent_id"))
  }
}
