package graft.ops.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sparse TF-IDF cosine similarity join (the all-pairs / ssjoin
  * primitive): find every document pair whose TF-IDF cosine ≥ t —
  * lexical near-dup detection that, unlike MinHash (set jaccard) or
  * SimHash (hamming), weighs RARE shared vocabulary: two docs sharing
  * distinctive terms score high even when their boilerplate differs.
  *
  * Scale shape: cosine over sparse vectors decomposes per shared term,
  * so the join is an inverted-index join — candidates meet only on
  * terms they share, pair partials aggregate in one shuffle keyed on
  * (id_a, id_b). The document-frequency cap (`maxDf`) drops
  * stop-terms, whose Σdf² pair blowup would otherwise dominate at
  * corpus scale while contributing ~0 weight (idf ≈ 0) — the same
  * web-scale knob as the containment join. No all-pairs product
  * anywhere; with the cap, work is Σ_term df² over RARE terms only.
  *
  * Determinism: weights and norms round to 6 dp, pair dot products sum
  * through DECIMAL, final cosine re-rounds — ln/sqrt sub-ulp engine
  * differences cannot flip a pair across the threshold boundary.
  */
object SparseSim {

  /** Pairs (id_a < id_b) with TF-IDF cosine ≥ threshold. `ngram` > 1
    * uses count-preserving token n-grams as the vocabulary — on small
    * vocabularies low-order grams saturate (every doc shares every
    * word, Σdf² explodes), so the default is trigrams: the index
    * stays sparse and the candidate join touches only genuinely
    * shared phrases. The `maxDf` cap is the belt to that suspender at
    * corpus scale.
    *
    * CACHE CONTRACT: the returned frame is LAZY and reads two internal
    * `persist`ed intermediates (tf, weights), which stay cached after
    * the caller's action. Run the call and its action inside
    * [[graft.exec.Scope.run]] to free them (Bench, Verify and the dev
    * timers run every query in one).
    */
  def cosineJoin(docs: DataFrame, textCol: String, idCol: String,
                 threshold: Double, maxDf: Long = 100000L,
                 ngram: Int = 3): DataFrame = {
    require(ngram >= 1, s"ngram must be >= 1 (got $ngram)")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1] (got $threshold)")
    require(maxDf >= 1, s"maxDf must be >= 1 (got $maxDf)")
    // tokens materialize ONCE per row behind a projection boundary —
    // referencing the tokenizer expression inside the window lambda
    // would re-run split+filter per element_at (measured: the whole
    // tf stage was ~7 s of q109's 8.6 s at sf0.1 from exactly that)
    val withToks = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val toks = col("toks")
    // the term IDENTITY is a per-window xxhash64 over the n tokens as
    // separate hash fields — no window string is ever built, token
    // boundaries stay exact (each token hashes with its own length),
    // and every downstream shuffle keys on 8 bytes. A cross-term
    // collision is ~2^-64 per vocabulary pair — the same trade the
    // MinHash path makes for its shingle hashes.
    val terms = if (ngram == 1) transform(toks, t => xxhash64(t)) else
      when(size(toks) >= ngram,
        transform(sequence(lit(1), size(toks) - (ngram - 1)),
          i => xxhash64((0 until ngram).map(o => element_at(toks, i + o)): _*)))
        .otherwise(array().cast("array<long>"))
    // persisted: dfreq AND the weights join both consume tf — without
    // the persist the whole tokenize+trigram-hash+explode+aggregate
    // pipeline runs twice inside the weights job (measured: the
    // weights stage was ~3.2 s of q109's 5 s at sf0.1, ~half of it
    // the second tf pass). The frame is the post-aggregate (id, term
    // hash, tf) triple — digest-narrow at any corpus scale.
    val tf = withToks
      .select(col("id"), explode(terms).as("th"))
      .groupBy("id", "th").agg(count(lit(1)).as("tf"))
      .persist()

    val nDocs = docs.count()
    val dfreq = tf.groupBy("th").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= maxDf)

    // idf-weighted term weights, rounded so both engines agree bit-wise;
    // persisted — the norms aggregate and BOTH sides of the pair join
    // read it (3 consumers)
    val weights = tf.join(dfreq, "th")
      .withColumn("w", round(col("tf").cast("double") *
        log(lit(nDocs + 1.0) / (col("dfreq") + lit(1.0))), 6))
      .persist()

    // per-doc L2 norm over the SAME capped vocabulary, decimal-summed
    val norms = weights.groupBy("id")
      .agg(round(sqrt(sum((col("w") * col("w")).cast(DecimalType(28, 12)))
        .cast("double")), 6).as("nrm"))

    val a = weights.select(col("th"), col("id").as("id_a"), col("w").as("wa"))
    val b = weights.select(col("th"), col("id").as("id_b"), col("w").as("wb"))
    val pairDot = a.join(b, Seq("th"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum((round(col("wa") * col("wb"), 6))
        .cast(DecimalType(28, 6))).cast("double").as("dot"))

    pairDot
      .join(norms.select(col("id").as("id_a"), col("nrm").as("na")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
