package graft.ops

import graft.TestSpark
import graft.ops.ext.{KMeans, PqSearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PQ encode + ADC search semantics on a hand-checkable fixture. */
class PqSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 8 vectors in 4 dims = 2 subspaces × 2 dims. Ids 0 and 25 seed the
    * codebooks (every-25th rule) and sit at opposite corners, so both
    * subspaces split the corpus into two clean cells.
    */
  private def corpus = Seq(
    (0L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.9f, 0.1f)),
    (2L, Seq(0.8f, 0.0f, 1.0f, 0.2f)),
    (25L, Seq(0.0f, 1.0f, 0.0f, 1.0f)),
    (26L, Seq(0.1f, 0.9f, 0.1f, 0.9f)),
    (27L, Seq(0.0f, 0.8f, 0.2f, 1.0f)),
    (28L, Seq(0.2f, 1.0f, 0.0f, 0.8f)),
    (29L, Seq(1.0f, 0.0f, 0.0f, 1.0f)) // split loyalty: sub0 -> cell 0, sub1 -> cell 25
  ).toDF("vec_id", "embedding")

  test("encode assigns each subspace slice to its nearest codebook cell") {
    val cb = KMeans.pqTrain(corpus, "embedding", "vec_id",
      subspaces = 2, subDim = 2, centroidEvery = 25, iters = 2)
    val cents = PqSearch.codebookArrays(cb)
    assert(cents.count() == 4, "2 subspaces x 2 cells")
    val codes = PqSearch.encode(corpus, "embedding", "vec_id", cents, 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(codes.size == 16, "8 vectors x 2 subspaces")
    // the mixed vector 29 splits: x-like on subspace 0, y-like on 1
    assert(codes((29L, 0L)) == 0L)
    assert(codes((29L, 1L)) == 25L)
    // cluster-mates follow their seeds on both subspaces
    assert(codes((1L, 0L)) == 0L && codes((1L, 1L)) == 0L)
    assert(codes((26L, 0L)) == 25L && codes((26L, 1L)) == 25L)
  }

  test("ADC top-k ranks within-cell candidates above cross-cell ones") {
    val emb = corpus
    val out = PqSearch.adcTopK(emb, emb.filter(col("vec_id") === 0L),
      "embedding", "vec_id", subspaces = 2, subDim = 2,
      centroidEvery = 25, iters = 2, k = 8)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // ADC cannot tell cell-mates apart (same codes -> same score), but
    // every x-corner vector must outrank every y-corner vector
    val rankOf = out.map(_.swap)
    assert(Seq(0L, 1L, 2L).map(rankOf).max <
      Seq(25L, 26L, 27L, 28L).map(rankOf).min)
    // the mixed vector scores between the pure cells
    assert(rankOf(29L) > Seq(0L, 1L, 2L).map(rankOf).max)
    assert(rankOf(29L) < Seq(25L, 26L).map(rankOf).min)
  }

  test("ADC scores are exact integer sums of quantized partials") {
    val out = PqSearch.adcTopK(corpus, corpus.filter(col("vec_id") === 0L),
      "embedding", "vec_id", subspaces = 2, subDim = 2,
      centroidEvery = 25, iters = 2, k = 8)
    // cell-mates (identical codes) must tie EXACTLY — integer scores
    val scores = out.collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(scores(0L) == scores(1L) && scores(1L) == scores(2L))
  }

  test("encode refuses a cents frame that misses a subspace") {
    val cb = KMeans.pqTrain(corpus, "embedding", "vec_id",
      subspaces = 2, subDim = 2, centroidEvery = 25, iters = 2)
    val cents = PqSearch.codebookArrays(cb)
    val onlySub0 = cents.filter(col("subspace") === 0L)
    val e = intercept[Exception] {
      PqSearch.encode(corpus, "embedding", "vec_id", onlySub0, 2, 2)
        .collect()
    }
    assert(e.getMessage.contains("no centroid for subspace 1"),
      e.getMessage)
    // extra subspaces beyond `subspaces` are not a gap: still accepted
    assert(PqSearch.encode(corpus, "embedding", "vec_id", cents, 2, 1)
      .count() == 8)
  }
}
