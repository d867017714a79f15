package graft.ops.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prototype-based embedding pruning — the D4-family recipe (SemDeDup
  * then drop the most *prototypical* points per cluster): cluster the
  * corpus into IVF cells, rank each cell's members by similarity to
  * their centroid, and drop the top `dropNum/dropDen` fraction —
  * the points nearest the centroid carry the least marginal
  * information once the cluster is represented at all, so pruning them
  * keeps the diverse shell and sheds the redundant core.
  *
  * Scale shape (the [[Similarity.ivfTopK]] contract): only the
  * centroid set is broadcast — the corpus never self-joins; assignment
  * is a corpus × centroids broadcast product and the per-cell ranking
  * is a window PARTITIONED BY the cell id (bounded by the largest
  * cell, never global). Centroids are the deterministic every-Nth-id
  * sample, so results are reproducible and SQL-portable (no iterative
  * k-means floats in the contract; swap in trained centroids at
  * deployment without changing the plan shape).
  *
  * The drop count per cell is integer math — `floor(n * dropNum /
  * dropDen)` — so the engine and any oracle agree exactly, and a
  * 1-member cell is never emptied.
  */
object ProtoPrune {

  /** Per-vector pruning verdicts: (id, cent_id, cosine, rank_in_cell,
    * dropped). `cosine` is the similarity to the assigned centroid,
    * 1e-6-quantized in the OUTPUT only (ranking uses the raw double).
    * Ties: assignment prefers the smaller cent_id, in-cell rank the
    * smaller id — both total orders.
    */
  def prune(emb: DataFrame, vecCol: String, idCol: String,
            centroidEvery: Int = 50,
            dropNum: Int = 1, dropDen: Int = 4): DataFrame = {
    require(dropDen > 0 && dropNum >= 0 && dropNum < dropDen,
      "drop fraction must be in [0, 1)")
    val c = Similarity.vectors(emb, idCol, vecCol)
    val assigned = Similarity
      .cells(c, Similarity.centroids(c, centroidEvery), 1)
      .select(col("id"), col("cent_id"), col("cell_cos").as("cos"))
    val cell = Window.partitionBy("cent_id")
      .orderBy(col("cos").desc, col("id"))
    assigned
      .withColumn("rank_in_cell", row_number().over(cell).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("cent_id")))
      .withColumn("dropped",
        col("rank_in_cell") <= floor(col("__n") * dropNum / dropDen))
      .select(col("id"), col("cent_id"), round(col("cos"), 6).as("cosine"),
        col("rank_in_cell"), col("dropped"))
  }
}
