package graft.ops.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ENCODE + ADC (asymmetric-distance) search on
  * top of [[KMeans.pqTrain]]'s codebooks — the classic IVF-PQ memory
  * path: the corpus is stored as m small codes per vector instead of d
  * doubles, and a query scores candidates from an m × k lookup table
  * of partial dot products, never touching the raw vectors.
  *
  * Why this matters at 100 TB: with d = 64 doubles → m = 4 codes, the
  * scan the search pays is ~16× smaller than the raw embedding column,
  * and the LUT join is a broadcast (queries × subspaces × centroids —
  * constant-sized by contract). The shuffle carries (corpus_id,
  * subspace, code) triples only; nothing vector-sized moves after
  * encode. Compose the deterministic id-hash samplers in front for
  * codebook training, and [[Similarity.ivfTopK]]-style cells in front
  * of the scan for sub-linear candidate generation.
  *
  * Determinism contract (what the oracle replays): centroids are the
  * 1e-6-quantized output of the deterministic Lloyd; encode distance
  * uses the `xx − 2·x·c + cc` expansion (one canonical float path on
  * both engines), ties to the smaller cid; LUT partials are
  * 1e-6-quantized to integers so ADC scores are exact integer sums.
  */
object PqSearch {

  /** Codebook long form (subspace, cid, dim, n, centroid) →
    * (subspace, cid, centv array<double>, cc = centv·centv).
    */
  def codebookArrays(cb: DataFrame): DataFrame =
    cb.groupBy("subspace", "cid")
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("centroid")))),
        e => e.getField("centroid")).as("centv"))
      .withColumn("cc", Similarity.dot(col("centv"), col("centv")))

  /** PQ-encode the corpus: per (vector, subspace), the cid of the
    * nearest codebook centroid on that subspace's slice (L2 via the
    * canonical expansion, smaller-cid ties). Output: (corpus_id,
    * subspace, code).
    */
  def encode(corpus: DataFrame, vecCol: String, idCol: String,
             cents: DataFrame, subDim: Int, subspaces: Int): DataFrame = {
    // subspaces <= 0 would make the sequence() below DESCEND (e.g.
    // [0,-1]) instead of failing, and `cents` must cover subspaces
    // 0..subspaces-1 (the codebookArrays contract): an inner centroid
    // join would drop every vector's row for a missing subspace and
    // silently produce partial codes. The join below is a left join
    // and a (vector, subspace) row without centroids raises in the
    // argmin aggregation — enforced in the one job encode already
    // runs, not by an extra check job.
    require(subspaces >= 1, s"subspaces must be >= 1 (got $subspaces)")
    require(subDim >= 1, s"subDim must be >= 1 (got $subDim)")
    val v = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("vec"))
    // one (subspace, slice, self-dot) row per vector × SUBSPACE before
    // the centroid join: the previous crossJoin-then-slice form
    // re-sliced the full vector and re-computed subv·subv once per
    // (vector × CENTROID) scored row — with 4×|codebook| centroids
    // that was ~|codebook|× redundant allocation + dot work per row.
    val subs = v
      .select(col("corpus_id"),
        explode(sequence(lit(0L), lit(subspaces - 1L))).as("subspace"),
        col("vec"))
      .select(col("corpus_id"), col("subspace"),
        slice(col("vec"), (col("subspace") * subDim + 1).cast("int"),
          lit(subDim)).as("subv"))
      .withColumn("xx", Similarity.dot(col("subv"), col("subv")))
    val scored = subs.join(broadcast(cents), Seq("subspace"), "left")
      .withColumn("d2", col("xx")
        - lit(2.0) * Similarity.dot(col("subv"), col("centv"))
        + col("cc"))
    val cid = coalesce(col("cid"), raise_error(concat(
      lit("PqSearch.encode: cents has no centroid for subspace "),
      col("subspace").cast("string"),
      lit(s"; it must cover subspaces 0..${subspaces - 1}"))))
    // argmin via MIN(struct) — map-side-combined aggregate instead of
    // a window sort over every (vector × centroid) scored row; same
    // (d2, cid) winner (see KMeans.assign)
    scored.groupBy("corpus_id", "subspace")
      .agg(min(struct(col("d2"), cid.as("cid"))).as("__m"))
      .select(col("corpus_id"), col("subspace"), col("__m.cid").as("code"))
  }

  /** End-to-end ADC top-k: train codebooks on the corpus, encode it,
    * build each query's (subspace, cid) partial-dot LUT
    * (1e-6-quantized), and rank candidates by the exact integer sum of
    * partials — the asymmetric inner-product approximation. Queries
    * broadcast by contract (the [[Similarity.bruteForceTopK]] rule).
    * Output: (query_id, rank, corpus_id, adot_micro).
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, subspaces: Int, subDim: Int,
              centroidEvery: Int, iters: Int, k: Int): DataFrame = {
    require(subspaces >= 1, s"subspaces must be >= 1 (got $subspaces)")
    val cb = KMeans.pqTrain(corpus, vecCol, idCol, subspaces, subDim,
      centroidEvery, iters)
    val cents = codebookArrays(cb)
    val codes = encode(corpus, vecCol, idCol, cents, subDim, subspaces)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qvec"))
    val lut = q.crossJoin(broadcast(cents))
      .withColumn("subq", slice(col("qvec"),
        (col("subspace") * subDim + 1).cast("int"), lit(subDim)))
      .withColumn("pq",
        floor(Similarity.dot(col("subq"), col("centv")) * 1e6 + 0.5)
          .cast("long"))
      .select(col("query_id"), col("subspace"), col("cid"), col("pq"))
    // Kept deliberately in the LONG form (round-10 A/B, DevPqAb,
    // interleaved in one session at sf0.1 AND the 10× step): a "wide
    // codes + one broadcast LUT join per subspace + inline sum" rewrite
    // that avoids this aggregation exchange measured ~35% SLOWER at
    // both scales — the scored stream is map-side partial-aggregated
    // here (the shuffle carries (query, corpus) partials, not the
    // subspaces× join output), while the wide form paid `subspaces`
    // chained joins over the full pair stream plus a codes pivot.
    val scored = codes
      .join(broadcast(lut),
        codes("subspace") === lut("subspace") && codes("code") === lut("cid"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("pq")).as("adot_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adot_micro").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("adot_micro"))
  }
}
