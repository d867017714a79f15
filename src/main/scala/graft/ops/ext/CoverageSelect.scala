package graft.ops.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage subset selection (the (1−1/e)-approximate
  * facility-location greedy): pick `k` documents that together cover
  * the most distinct elements (shingles, topics, vocabulary) — the
  * data-curation move for "a small seed set that spans the corpus"
  * (active-learning seeds, eval-set construction, dedup exemplars).
  *
  * Each round scores every candidate by its MARGINAL coverage (one
  * anti-join against the covered set + one count aggregation), picks
  * the max (ties by id), and folds the winner's elements into the
  * covered set. Rounds are k driver iterations of bounded jobs — the
  * covered set lives as a (element)-keyed frame, localCheckpointed per
  * round so lineage stays flat; nothing corpus-sized ever collects.
  * All counts exact integers.
  */
object CoverageSelect {

  /** `df` columns: idCol, `tokCol` array. Output per round:
    * (round, id, new_elements, total_covered). */
  def greedy(df: DataFrame, idCol: String, tokCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64)
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol).as("id"),
        explode(array_distinct(col(tokCol))).as("w"))
      .persist()
    var covered = spark.emptyDataset[String].toDF("w")
      .localCheckpoint(false)
    var total = 0L
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    for (r <- 1 to k) {
      val marginal = toks
        .join(covered.withColumn("__c", lit(true)), Seq("w"), "left")
        .filter(col("__c").isNull)
        .groupBy("id").agg(count(lit(1)).as("gain"))
      val pick = Window.orderBy(col("gain").desc, col("id"))
      val winner = marginal.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("id"), col("gain")).collect()
      if (winner.nonEmpty) {
        val id = winner(0).getLong(0)
        val gain = winner(0).getLong(1)
        total += gain
        picks += ((r.toLong, id, gain, total))
        covered = covered
          .unionByName(toks.filter(col("id") === id).select(col("w")))
          .distinct()
          .localCheckpoint(false) // next round's winner collect reads it
      }
    }
    picks.toSeq.toDF("round", "id", "new_elements", "total_covered")
  }
}
