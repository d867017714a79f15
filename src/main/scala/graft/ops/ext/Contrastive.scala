package graft.ops.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contrastive-training pair mining over an embedding corpus: for
  * each anchor, the nearest same-label positive and the top-k
  * nearest WRONG-label hard negatives — the examples that actually
  * move a contrastive loss, unlike random negatives which are
  * trivially separated. Margin = cos(anchor, positive) −
  * cos(anchor, negative): near-zero or negative margins flag label
  * noise or genuinely hard confusions.
  *
  * Determinism: cosine ranks tie-break by candidate id; cosine itself
  * is VecDot + correctly-rounded sqrt/division (identical IEEE on any
  * engine). No float aggregations — only per-pair scalars and
  * integer ranks.
  *
  * Scale shape: anchors broadcast onto ONE corpus scan (the q234
  * pattern); the per-anchor top-k is a rank window partitioned by
  * anchor — parallel across anchors, never global. At corpus scale
  * the candidate set narrows through [[Similarity]]'s LSH/IVF
  * buckets; the ranking stage downstream is unchanged.
  */
object Contrastive {

  /** (anchor_id, pos_id, pos_cos, neg_rank, neg_id, neg_cos, margin)
    * — one row per (anchor, hard negative), kNeg rows per anchor.
    * Anchors lacking any same-label peer are dropped (no positive).
    * `anchorPred` selects the anchors over the columns `id` and `lab`.
    */
  def hardNegatives(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, anchorPred: Column, kNeg: Int): DataFrame = {
    val base = Similarity.vectors(df, idCol, vecCol, col(labelCol).as("lab"))
    val pairs = base.as("b")
      .crossJoin(broadcast(base.filter(anchorPred).as("a")))
      .filter(col("b.id") =!= col("a.id"))
      .select(col("a.id").as("aid"), col("a.lab").as("alab"),
        col("b.id").as("id"), col("b.lab").as("lab"),
        Similarity.cosineOf("a", "b").as("cos"))
    val wPos = Window.partitionBy("aid")
      .orderBy(col("cos").desc, col("id"))
    val pos = pairs.filter(col("lab") === col("alab"))
      .withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
      .select(col("aid"), col("id").as("pos_id"), col("cos").as("pos_cos"))
    val negs = pairs.filter(col("lab") =!= col("alab"))
      .withColumn("neg_rank", row_number().over(wPos))
      .filter(col("neg_rank") <= kNeg)
      .select(col("aid"), col("neg_rank").cast("long").as("neg_rank"),
        col("id").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(negs, "aid")
      .select(col("aid").as("anchor_id"), col("pos_id"),
        round(col("pos_cos"), 6).as("pos_cos"), col("neg_rank"),
        col("neg_id"), round(col("neg_cos"), 6).as("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
  }
}
