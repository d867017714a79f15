package graft.ops.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** BM25 ranked retrieval over a document corpus — the scoring half of
  * the inverted-index story (the index itself is `ops/ext` q70): given
  * a bag of query terms, rank documents by Okapi BM25.
  *
  * Scale shape: the corpus is tokenized ONCE; postings are filtered to
  * the query's terms BEFORE the (doc, term) aggregation, so the only
  * shuffle carries query-term postings — |Q| terms × matching docs, not
  * the corpus vocabulary. Document frequencies for |Q| terms are a
  * tiny aggregate joined back by broadcast; corpus stats (N, avgdl)
  * reduce to one row. No full-vocabulary state anywhere, so the plan
  * is unchanged at 100 TB — it reads the corpus once and shuffles only
  * postings that can match.
  *
  * Determinism contract (cross-engine oracle): avgdl is computed as
  * exact integer sum / count divided once in double; each per-term
  * score is rounded to 6 dp, summed through DECIMAL (order-free), and
  * the final score re-rounded; ranks tie-break by doc id.
  */
object Retrieval {

  /** BM25 scores for `query` terms; one row per (doc, rank<=k). */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               query: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query terms must be non-empty")
    require(k >= 1, s"k must be >= 1 (got $k)")
    val s = docs.sparkSession
    import org.apache.spark.sql.expressions.Window

    val toks = TextAnalysis.tokens(col(textCol))
    val withLen = docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .withColumn("dl", size(col("toks")))

    // one-row corpus stats: exact integer sum/count, single double division
    val stats = withLen.agg(
      sum(col("dl").cast("long")).as("sum_dl"),
      count(lit(1)).as("n_docs"))

    // postings restricted to the query terms BEFORE the shuffle: a row
    // filter after the explode, so the tf projection stays in
    // whole-stage codegen (a higher-order array filter would not)
    val tf = withLen
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(query))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

    // |query|-row document frequencies — broadcast back onto postings
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))

    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)))
      .withColumn("term_score",
        round(col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))), 6))

    val perDoc = scored.groupBy("doc_id")
      .agg(round(sum(col("term_score").cast(DecimalType(28, 6)))
        .cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms"))

    // global top-k via TakeOrderedAndProject (per-partition heads +
    // driver merge — never a full sort); rank assigned AFTER the limit
    // so the window only ever sees k rows
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    perDoc.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "doc_id", "score", "n_terms")
  }

  /** [[bm25TopK]] for SEVERAL queries in ONE corpus pass: the corpus is
    * tokenized once, postings are filtered to the union of all query
    * terms, and each query picks up its own terms through a broadcast
    * (query, term) join — where N sequential bm25TopK calls re-tokenize
    * and re-aggregate the corpus N times (q471 ran three needle passes
    * over the same persisted chunk table). Per-query scores, ranks and
    * tie-breaks are identical to the sequential calls: dfreq is a
    * per-term property independent of the query set, every per-term
    * score rounds before the DECIMAL (order-free) per-doc sum, and the
    * per-query top-k window orders exactly like the single-query
    * orderBy + limit. Output: (query_key, rank, doc_id, score,
    * n_terms), one block of ≤ k rows per query.
    */
  def bm25TopKMulti(docs: DataFrame, textCol: String, idCol: String,
                    queries: Seq[(Long, Seq[String])], k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "every query's terms must be non-empty")
    require(k >= 1, s"k must be >= 1 (got $k)")
    val s = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val qterms = queries.flatMap { case (q, ts) => ts.distinct.map((q, _)) }
      .toDF("query_key", "term")

    val toks = TextAnalysis.tokens(col(textCol))
    val withLen = docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = withLen.agg(
      sum(col("dl").cast("long")).as("sum_dl"),
      count(lit(1)).as("n_docs"))
    val tf = withLen
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(allTerms))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))

    val scored = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)))
      .withColumn("term_score",
        round(col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))), 6))

    val perDoc = scored.groupBy("query_key", "doc_id")
      .agg(round(sum(col("term_score").cast(DecimalType(28, 6)))
        .cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("query_key")
      .orderBy(col("score").desc, col("doc_id"))
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_key", "rank", "doc_id", "score", "n_terms")
  }

  /** Ranking-quality metrics for a retrieved list: DCG@k, ideal DCG,
    * NDCG@k and MRR against a `(doc_id, rel)` graded-relevance table.
    * DCG terms ((2^rel − 1)/log2(rank+1)) sum through DECIMAL(38,18)
    * (the LmScore ln-sum rule) so the rollup is order-independent and
    * cross-engine exact. The ideal ordering takes top-k BY
    * (rel desc, doc_id) via orderBy+limit — TakeOrdered, never a
    * global sort — and ranks the surviving k rows only. The relevance
    * join is keyed on doc_id; everything after operates on ≤ k rows.
    */
  def rankingMetrics(ranked: DataFrame, relevance: DataFrame, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    def dcgTerm(rel: Column, rank: Column): Column =
      ((pow(lit(2.0), rel) - lit(1.0)) / log2(rank + lit(1)))
        .cast(DecimalType(38, 18))
    val j = ranked.filter(col("rank") <= k)
      .join(relevance, Seq("doc_id"), "left")
      .select(col("rank"), coalesce(col("rel"), lit(0)).as("rel"))
    val d = j.agg(
      sum(dcgTerm(col("rel"), col("rank"))).cast("double").as("dcg"),
      min(when(col("rel") > 0, col("rank"))).as("first_rel"))
    val wIdeal = Window.orderBy(col("rel").desc, col("doc_id"))
    val ideal = relevance.filter(col("rel") > 0)
      .orderBy(col("rel").desc, col("doc_id")).limit(k)
      .withColumn("irank", row_number().over(wIdeal))
    val i = ideal.agg(
      sum(dcgTerm(col("rel"), col("irank"))).cast("double").as("idcg"))
    d.crossJoin(i).select(lit(k).as("k"),
      round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
      round(col("dcg") / col("idcg"), 6).as("ndcg"),
      round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"))
  }

  /** Query-likelihood language-model retrieval with Dirichlet
    * smoothing (Zhai & Lafferty 2001): score(q, d) =
    * Σ_t ln((tf_{t,d} + μ·cf_t/T) / (dl_d + μ)) — the probabilistic
    * classic beside BM25. Every ln term quantizes to a 1e-9 long
    * BEFORE the per-doc sum (|query| terms — exact, order-free), and
    * the ranking compares those integer sums with doc-id tie-breaks;
    * the reported score is the only float. Zero-tf terms still score
    * (the smoothing's whole point), via a query-term × doc frame
    * (|q|·n rows, linear). Output: (rank, doc_id, score, n_hit_terms).
    */
  def queryLikelihoodTopK(docs: DataFrame, textCol: String,
      idCol: String, query: Seq[String], mu: Double = 2000.0,
      k: Int = 10): DataFrame = {
    require(query.nonEmpty && k >= 1)
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col(textCol))
    val withLen = docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val corpus = withLen
      .select(col("doc_id"), col("dl"),
        explode(col("toks")).as("term"))
    val cf = corpus.filter(col("term").isInCollection(query))
      .groupBy("term").agg(count(lit(1)).as("cf"))
    val total = corpus.agg(count(lit(1)).as("tt"))
    val tf = corpus.filter(col("term").isInCollection(query))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val s = docs.sparkSession
    import s.implicits._
    val qterms = query.toDF("term")
    val grid = withLen.select(col("doc_id"), col("dl"))
      .crossJoin(broadcast(qterms))
      .join(tf, Seq("doc_id", "term"), "left")
      .join(broadcast(cf), Seq("term"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("dl"),
        coalesce(col("tf"), lit(0L)).as("tf"),
        coalesce(col("cf"), lit(0L)).as("cf"), col("tt"))
      // an out-of-vocabulary query term (cf = 0) has ln(0) everywhere —
      // drop it for ALL docs (rank-neutral), the standard OOV handling
      .filter(col("cf") > 0)
    val term = log((col("tf").cast("double")
        + lit(mu) * col("cf").cast("double") / col("tt").cast("double"))
      / (col("dl").cast("double") + lit(mu)))
    val perDoc = grid
      .withColumn("q", floor(term * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(sum("q").as("sq"),
        sum(when(col("tf") > 0, 1L).otherwise(0L)).as("n_hit_terms"))
    val w = Window.orderBy(col("sq").desc, col("doc_id"))
    perDoc.orderBy(col("sq").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"),
        round(col("sq").cast("double") / lit(1e9), 6).as("score"),
        col("n_hit_terms"))
  }

  /** Min-max score fusion of two ranked lists: each list's scores
    * quantize to exact millionths, min-max normalize to [0, 10⁶] in
    * INTEGER arithmetic ((s − min)·10⁶ div max(max − min, 1)), and
    * fuse as the integer mean — the normalized-score counterpart to
    * reciprocal-rank fusion (q118), which ignores score magnitudes.
    * Docs missing from one list contribute 0 from that side. Inputs:
    * two (doc_id, score) frames (top-k lists — tiny). Output:
    * (rank, doc_id, fused, in_a, in_b).
    */
  def minMaxFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def norm(df: DataFrame, out: String): DataFrame = {
      val q = df.select(col("doc_id"),
        floor(col("score") * lit(1e6) + lit(0.5)).cast("long").as("sq"))
      val mm = q.agg(min("sq").as("mn"), max("sq").as("mx"))
      q.crossJoin(mm).select(col("doc_id"),
        expr("(sq - mn) * 1000000L div greatest(mx - mn, 1L)").as(out))
    }
    norm(a, "na").join(norm(b, "nb"), Seq("doc_id"), "full")
      .select(col("doc_id"),
        col("na").isNotNull.as("in_a"), col("nb").isNotNull.as("in_b"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L)))
          .as("ss"))
      .withColumn("fusedq", expr("ss div 2"))
      .orderBy(col("fusedq").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("fusedq").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"),
        round(col("fusedq").cast("double") / lit(1e6), 6).as("fused"),
        col("in_a"), col("in_b"))
  }
}
