package graft.ops.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY §2.12 X5): language
  * ID (stopword-hit heuristic), quality scoring (length / punctuation /
  * stopword ratios), token counting, and document fingerprinting.
  *
  * Everything is a per-row expression pipeline — narrow, no shuffle, full
  * scan parallelism; the only shuffles appear in the term-frequency
  * aggregations (one groupBy on the token).
  */
object TextAnalysis {

  /** Word tokens: lowercase, split on non-alphanumerics, drop empties. */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Tiny per-language stopword lists for the n-gram/stopword language
    * heuristic. Deliberately small + high-frequency — language ID at
    * pipeline scale wants cheap expressions, not models.
    */
  val StopwordSets: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "que", "pour", "une", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "en", "que", "por", "una", "con"))

  /** Count of tokens present in `words` (repeats counted — a frequency
    * signal, not set membership).
    */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Predicted language = argmax of stopword hits; `und` (undetermined)
    * when no list scores > 0. Ties break by language code order for
    * determinism.
    */
  def langId(text: Column): Column = langIdOfTokens(tokens(text))

  /** [[langId]] over an ALREADY-tokenized array — the shared-scan form:
    * identical verdicts (the token array of a rebuilt text equals the
    * array itself), without re-materializing and re-splitting a string
    * per language list.
    */
  def langIdOfTokens(toks: Column): Column = {
    val scored = StopwordSets.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(toks, words).as("hits"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality features + a [0,1] score: length, token stats, punctuation
    * ratio, stopword ratio, mean word length. The score is a transparent
    * linear gate (each factor clamped), not a model — cheap and auditable.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nChars = length(t).cast("double")
    val nToks = size(toks).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "[\\p{Punct}]", "")))
      .cast("double")
    val stops = stopwordHits(toks, StopwordSets("en")).cast("double")
    df.withColumn("n_chars_m", nChars)
      .withColumn("n_tokens", nToks)
      .withColumn("punct_ratio",
        when(nChars > 0, punct / nChars).otherwise(0.0))
      .withColumn("stopword_ratio",
        when(nToks > 0, stops / nToks).otherwise(0.0))
      .withColumn("mean_token_len",
        when(nToks > 0, (nChars - (nToks - 1)) / nToks).otherwise(0.0))
      .withColumn("quality_score",
        round(least(lit(1.0), nToks / 20.0) * 0.4
          + least(lit(1.0), col("stopword_ratio") * 5.0) * 0.3
          + (lit(1.0) - least(lit(1.0), col("punct_ratio") * 4.0)) * 0.3, 6))
  }

  /** Logistic quality classifier — the fastText-classifier stage of a
    * curation pipeline reduced to its deterministic core: a fixed
    * linear model over the quality features, squashed by a sigmoid.
    * The weights are configuration (a real deployment drops in its
    * trained coefficients); the default set rewards stopword density
    * and length, penalizes punctuation soup — the same directions the
    * transparent q19 gate uses, but as a calibrated probability.
    *
    * Pure per-row expressions (no shuffle); the sigmoid's exp() is the
    * only transcendental, rounded to 6 dp at the boundary per the
    * repo-wide cross-engine float contract.
    */
  def logisticQuality(df: DataFrame, textCol: String,
      bias: Double = -1.0, wStop: Double = 4.0, wPunct: Double = -6.0,
      wLen: Double = 0.5): DataFrame = {
    val feats = qualityFeatures(df, textCol)
    val z = lit(bias) + col("stopword_ratio") * wStop +
      col("punct_ratio") * wPunct + log(col("n_tokens") + 1) * wLen
    feats.withColumn("p_keep", round(lit(1.0) / (lit(1.0) + exp(-z)), 6))
      .withColumn("keep", col("p_keep") > 0.5)
      .drop("n_chars_m", "n_tokens", "punct_ratio", "stopword_ratio",
        "mean_token_len", "quality_score")
  }

  /** Intra-document repetition signals (the RefinedWeb-style quality
    * gates): distinct-token ratio and duplicated n-gram ratios. A
    * templated/spammy doc repeats its n-grams, so
    * 1 - distinct_windows/total_windows spikes — cheap narrow
    * expressions, no shuffle, and fully portable to the SQL oracle
    * (window counts only, via the same sliding-window construction).
    */
  def repetitionFeatures(df: DataFrame, textCol: String,
                         ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    val toks = tokens(col(textCol))
    val nToks = size(toks).cast("double")
    val base = df
      .withColumn("n_tokens", nToks)
      .withColumn("distinct_token_ratio",
        when(nToks > 0,
          round(size(array_distinct(toks)) / nToks, 6)).otherwise(1.0))
    ns.foldLeft(base) { (acc, n) =>
      val total = greatest(size(toks) - (n - 1), lit(1)).cast("double")
      acc.withColumn(s"dup_${n}gram_ratio",
        round(lit(1.0) - size(Dedup.shingles(col(textCol), n)) / total, 6))
    }
  }

  /** Polynomial rolling-hash fingerprint over the document's characters:
    * h = (h * 31 + codepoint) mod 1e9+7. A native fold expression —
    * deterministic, engine-portable (same recurrence is expressible in
    * any SQL dialect), no 64-bit overflow (31 * (1e9+6) + cp < 2^63).
    */
  def fingerprint(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (h, c) => (h * 31L + ascii(c).cast("long")) % 1000000007L)

  /** Term frequency over a corpus: (token, count), one shuffle. */
  def termFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").count()

  /** Per-document n-gram duplication EXPOSURE, rolled up as a decile
    * census: for each document, the share of its distinct n-gram
    * shingles that occur in at least one other document — the
    * memorization-risk profile (Lee et al. 2022 measure substring
    * duplication corpus-wide; this is the per-document view a removal
    * policy actually thresholds on). Output: one row per exposure
    * decile with the doc count and the exact mean share (per-doc
    * shares 1e-6-quantized before the mean).
    *
    * Scale shape: shingles are the codegen'd [[graft.ops.ext.Dedup
    * .shinglesOfTokens]] xxhash64 longs, distinct within a doc by
    * construction — so the document frequency is ONE groupBy over
    * (shingle) and the exposure is one join back + one per-doc
    * aggregate. Strictly linear: two shuffles of (8-byte hash, id)
    * rows, no pair enumeration anywhere.
    */
  def ngramExposure(df: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(Dedup.shinglesOfTokens(tokens(col(textCol)), n)).as("h"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val per = sh.join(dfreq, Seq("h"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select((col("n_dup").cast("double") / col("n_sh").cast("double"))
        .as("share"))
    per.select(
        least(floor(col("share") * 10).cast("long"), lit(9L)).as("decile"),
        floor(col("share") * 1000000.0 + 0.5).cast("long").as("q"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("q").as("sq"))
      .select(col("decile"), col("n_docs"),
        round(col("sq").cast("double") / 1e6 / col("n_docs").cast("double"),
          6).as("mean_share"))
      .orderBy("decile")
  }

  /** Top-n tokens by frequency, ties broken lexicographically. */
  def topTokens(df: DataFrame, textCol: String, n: Int): DataFrame =
    termFrequencies(df, textCol)
      .orderBy(col("count").desc, col("token")).limit(n)

  /** TF-IDF top-k terms per document: tf = in-doc term count, idf =
    * ln((N+1)/(df+1)) with N = corpus size, score = tf * idf, top-k by
    * (score desc, term) per doc.
    *
    * Scale shape: two shuffles — (doc, term) for tf, (term) for df —
    * then the per-term document frequency joins back by term
    * (vocabulary-sized right side: AQE broadcasts it when it fits) and
    * one window pass ranks within each doc. N is a scalar (one
    * metadata-cheap count job), never a crossJoin.
    *
    * Determinism: ranking compares the ROUNDED score (6 dp) with a term
    * tie-break, so a sub-ulp ln() difference between engines cannot
    * flip a rank boundary.
    */
  def tfIdfTopTerms(df: DataFrame, textCol: String, idCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count()
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val score = round(col("tf").cast("double") *
      log((lit(nDocs + 1.0)) / (col("dfreq") + lit(1.0))), 6)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("score"))
  }

  /** Sharded inverted index: token -> sorted posting list of doc ids,
    * split into `nShards` rows per token by doc_id so no single row
    * ever holds a whole stopword's postings (at corpus scale "the"
    * appears in ~every document — an unsharded collect would be one
    * multi-GB row on one task; sharded, each row is bounded by
    * |postings|/nShards and shards build in parallel). `df` carries the
    * token's TOTAL document frequency on every shard row (window sum
    * over the token — the rows are already token-partitioned after the
    * groupBy, so the window adds no extra shuffle); `minDf` drops the
    * hapax tail, which at crawl scale is most of the vocabulary.
    *
    * Postings are emitted as a comma-joined string: a parquet-friendly
    * scalar the downstream intersect/lookup reader splits lazily.
    *
    * The total df comes from a separate tiny aggregate (token, df) —
    * vocabulary-sized, no postings payload — broadcast-joined back, so
    * the heavy posting rows are shuffled exactly once (the groupBy); a
    * token-partitioned window here would re-exchange the postings
    * strings a second time just to annotate them with their sum.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    nShards: Int, minDf: Long): DataFrame = {
    val tok = df
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
    val post = tok
      .groupBy("token", "shard")
      .agg(count(lit(1)).as("df_shard"),
        array_join(array_sort(collect_list(col("doc_id"))), ",")
          .as("postings"))
    val totals = tok.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    post.join(broadcast(totals), "token")
      .select("token", "shard", "df", "df_shard", "postings")
  }

  /** Word n-grams as SPACE-JOINED STRINGS — identity-preserving
    * (unlike the hashed [[Dedup.shingles]]) so n-gram sets can be
    * compared across engines and corpus slices. Empty array below n
    * tokens (no partial windows). Pure narrow expressions.
    *
    * PERF: `toks` is referenced inside the transform lambda, and there
    * is no CSE across lambda boundaries — pass a MATERIALIZED token
    * column (a prior `.select(tokens(...).as("toks"))` projection),
    * or the tokenizer re-runs once per n-gram element. The
    * text-convenience overload below is for small frames/tests only.
    */
  def wordNgramsFromTokens(toks: Column, n: Int): Column = {
    require(n >= 1)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsFromTokens(tokens(text), n)

  /** Per-group Shannon entropy of the token distribution (nats):
    * H = ln(n) − Σ c·ln(c) / n over per-token counts c — the lexical-
    * diversity metric for corpus slices. Two hash aggregations
    * ((group, token) counts, then per-group rollup); every ln() input
    * is an integer count, so both engines take ln of bit-identical
    * doubles, and the order-sensitive Σ c·ln(c) goes through
    * DECIMAL(38,18) (the q84 rule).
    * Output: (group, n_tokens, distinct_tokens, entropy).
    */
  def tokenEntropy(df: DataFrame, textCol: String, groupCol: String)
      : DataFrame = {
    val cnt = df
      .select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col(groupCol))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum((col("c") * log(col("c")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 18))).as("__s"))
      .select(col(groupCol), col("n_tokens"), col("distinct_tokens"),
        round(log(col("n_tokens"))
          - col("__s").cast("double") / col("n_tokens"), 6).as("entropy"))
  }

  /** Flesch reading-ease features per document: sentence count
    * (terminal-punctuation runs, floored at 1), word count (the shared
    * tokenizer), syllable count (vowel-group runs per word — the
    * standard cheap heuristic), and
    * flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    * words). All counts are exact integers from codegen'd regexps; the
    * score is one fixed IEEE chain per row — engine-portable, so the
    * per-language roll-up can quantize-and-sum as usual. Rows with
    * zero words report null flesch.
    */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    val sentences = greatest(
      regexp_count(col(textCol), lit("[.!?]+")), lit(1)).cast("long")
    val words = tokenCount(col(textCol)).cast("long")
    val syllables = aggregate(
      transform(tokens(col(textCol)),
        w => regexp_count(w, lit("[aeiouy]+")).cast("long")),
      lit(0L), (acc, x) => acc + x)
    df.withColumn("n_sentences", sentences)
      .withColumn("n_words", words)
      .withColumn("n_syllables", syllables)
      .withColumn("flesch",
        when(col("n_words") > 0,
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double")
              / col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double")
              / col("n_words").cast("double")), 6)))
  }

  /** Heaps'-law vocabulary-growth fit: V(n) ≈ K·n^β estimated from
    * `nPoints` corpus prefixes (by `idCol` order) via log-log OLS —
    * the data-scaling diagnostic for "how much new vocabulary does
    * more data buy". ONE pass computes each token's first-occurrence
    * id (a hash aggregation); a prefix checkpoint then counts docs
    * and first-occurrences ≤ its threshold — no per-checkpoint
    * rescan of the corpus. The OLS runs on `nPoints` rows: logs are
    * fixed IEEE chains over exact integer counts, the four moment
    * sums quantize each term to 1e-9 first (house rule), and β/K/R²
    * are closed-form over those exact longs. Output per checkpoint:
    * (pt, docs, vocab) with the fitted `beta`, `k`, `r2` repeated
    * (scalar broadcast, the diffInDiff convention).
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  nPoints: Int): DataFrame = {
    require(nPoints >= 3 && nPoints <= 200)
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    val firstSeen = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(min(col("id")).as("fid")).persist()
    val bounds = df.agg(min(col(idCol)).as("lo"), max(col(idCol)).as("hi"))
    val pts = spark.range(1, nPoints + 1L).select(col("id").as("pt"))
      .crossJoin(broadcast(bounds))
      .select(col("pt"),
        (col("lo") + expr(s"(hi - lo) * pt div $nPoints")).as("thr"))
    val docsAt = pts.join(df.select(col(idCol).as("id")),
        col("id") <= col("thr"))
      .groupBy("pt", "thr").agg(count(lit(1)).as("docs"))
    val vocabAt = pts.join(firstSeen, col("fid") <= col("thr"))
      .groupBy(col("pt").as("p2")).agg(count(lit(1)).as("vocab"))
    val points = docsAt.join(vocabAt, col("pt") === col("p2"))
      .select(col("pt"), col("docs"), col("vocab")).persist()
    val lx = log(col("docs").cast("double"))
    val ly = log(col("vocab").cast("double"))
    def q(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e9) + lit(0.5)).cast("long")
    val mom = points.agg(count(lit(1)).as("np"),
      sum(q(lx)).as("sx"), sum(q(ly)).as("sy"),
      sum(q(lx * lx)).as("sxx"), sum(q(lx * ly)).as("sxy"),
      sum(q(ly * ly)).as("syy"))
    // un-quantize to double space FIRST (the q-sums carry one 1e9
    // factor for linear terms and would mismatch in products), then
    // the closed forms are fixed IEEE chains over exact longs
    val fit = mom.select(col("np").cast("double").as("nd"),
        (col("sx").cast("double") / lit(1e9)).as("mx"),
        (col("sy").cast("double") / lit(1e9)).as("my"),
        (col("sxx").cast("double") / lit(1e9)).as("mxx"),
        (col("sxy").cast("double") / lit(1e9)).as("mxy"),
        (col("syy").cast("double") / lit(1e9)).as("myy"))
      .select(col("nd"), col("mx"), col("my"),
        (col("nd") * col("mxy") - col("mx") * col("my")).as("bn"),
        (col("nd") * col("mxx") - col("mx") * col("mx")).as("bd"),
        (col("nd") * col("myy") - col("my") * col("my")).as("dy"))
      .select(
        round(col("bn") / col("bd"), 6).as("beta"),
        round(exp((col("my") - (col("bn") / col("bd")) * col("mx"))
          / col("nd")), 6).as("k"),
        round(col("bn") * col("bn") / (col("bd") * col("dy")), 6)
          .as("r2"))
    points.crossJoin(broadcast(fit)).orderBy("pt")
  }

  /** Character-bigram entropy per `groupCol` corpus: the cheap
    * compressibility proxy one level below token entropy (q143) —
    * low char-bigram entropy flags machine-generated or repetitive
    * text a tokenizer-level audit misses. Text is lowercased and
    * non-alphanumeric runs collapse to single spaces; the per-group
    * H = ln N − (Σ c·ln c)/N runs over the bigram counts with each
    * c·ln c term quantized to 1e-9 before the sum (the l-diversity
    * recipe). One fan-out pass (|text| bigrams per row) + one hash
    * aggregation. Output per group: n_bigrams, n_distinct, entropy
    * (nats, 6 dp).
    */
  def charBigramEntropy(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val cleaned = regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " ")
    // one split pass + an index-free zip of the char array with its
    // tail — NOT substr(t, i, 2) per position: UTF8 substring seeks
    // from byte 0 every call, which turns per-document cost quadratic
    // in text length (measured 1.6× over linear at the sf1 step)
    val counts = df.select(col(groupCol).as("g"), cleaned.as("t"))
      .filter(length(col("t")) >= 2)
      .withColumn("cs", split(col("t"), ""))
      .select(col("g"), explode(expr(
        "zip_with(slice(cs, 1, size(cs) - 1), slice(cs, 2, size(cs) - 1)," +
          " (a, b) -> concat(a, b))"))
        .as("bg"))
      .groupBy("g", "bg").agg(count(lit(1)).as("c"))
    counts.groupBy(col("g").as(groupCol))
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        sum(floor(col("c").cast("double") * log(col("c").cast("double"))
          * lit(1e9) + lit(0.5)).cast("long")).as("slq"))
      .select(col(groupCol), col("n_bigrams"), col("n_distinct"),
        round(log(col("n_bigrams").cast("double"))
          - col("slq").cast("double") / lit(1e9)
            / col("n_bigrams").cast("double"), 6).as("entropy"))
      .orderBy(groupCol)
  }

  /** Token burstiness (variance-to-mean ratio of per-document counts)
    * for the `topN` highest-df tokens: VMR ≈ 1 means Poisson-like
    * scatter, VMR >> 1 means the token clumps into few documents —
    * the corpus-linguistics dispersion diagnostic TF-IDF statistics
    * miss. Zero counts matter: the moments use the FULL document
    * count (absent (doc, token) pairs contribute exact zeros via the
    * closed form, not materialized rows). All moments are exact
    * integers; VMR = (N·Σc² − (Σc)²) / ((N−1)·Σc) is one fixed chain.
    * Output per token: df, total, mean (6 dp), vmr (6 dp).
    */
  def burstiness(df: DataFrame, textCol: String, idCol: String,
      topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count()
    val perDoc = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("w", "id").agg(count(lit(1)).as("c"))
    val tok = perDoc.groupBy("w")
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tot"),
        sum(col("c") * col("c")).as("ss"))
    val top = tok.withColumn("r", row_number().over(
        Window.orderBy(col("df").desc, col("w"))))
      .filter(col("r") <= topN)
    top.select(col("w").as("token"), col("df"), col("tot").as("total"),
      round(col("tot").cast("double") / lit(nDocs.toDouble), 6)
        .as("mean"),
      round((lit(nDocs) * col("ss") - col("tot") * col("tot"))
        .cast("double")
        / (lit(nDocs - 1) * col("tot")).cast("double"), 6).as("vmr"))
      .orderBy(col("df").desc, col("token"))
  }

  /** Jensen–Shannon divergence between every pair of `groupCol`
    * corpora over their token unigram distributions —
    * JSD(P,Q) = (KL(P‖M) + KL(Q‖M))/2 with M = (P+Q)/2, the bounded
    * (≤ ln 2) symmetric drift measure that PSI (q166) and KL
    * approximate from binned numerics, here on the full vocabulary.
    *
    * The token self-join on the word key yields only SHARED tokens;
    * tokens private to one side contribute exactly p·ln 2, so their
    * total is ln 2 · (1 − shared-mass) per side — a closed form over
    * the exact integer shared-count sums, no outer join over the
    * vocabulary union needed. Per-token terms quantize to 1e-9 longs
    * before the cross-token sum (house rule); the ln calls are the
    * shared-libm ones every entropy oracle already relies on.
    * Output per pair: n_a, n_b (token masses), shared_tokens, jsd
    * (6 dp), ordered.
    */
  def jsDivergence(df: DataFrame, textCol: String, groupCol: String)
      : DataFrame = {
    val cnt = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
      .persist()
    val tot = cnt.groupBy("g").agg(sum(col("c")).as("n"))
    val a = cnt.join(tot, "g")
      .select(col("g").as("ga"), col("w"), col("c").as("ca"),
        col("n").as("na"))
    val b = cnt.join(tot, "g")
      .select(col("g").as("gb"), col("w"), col("c").as("cb"),
        col("n").as("nb"))
    val shared = a.join(b, Seq("w")).filter(col("ga") < col("gb"))
    val p = col("ca").cast("double") / col("na").cast("double")
    val q = col("cb").cast("double") / col("nb").cast("double")
    val m = (p + q) / lit(2.0)
    val term = (p * log(p / m) + q * log(q / m)) / lit(2.0)
    val sharedAgg = shared.groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("shared_tokens"),
        sum(col("ca")).as("sca"), sum(col("cb")).as("scb"),
        sum(floor(term * lit(1e9) + lit(0.5)).cast("long")).as("tq"))
    // pair spine from the group totals, so fully-disjoint corpora
    // still report (their jsd is exactly ln 2), instead of silently
    // vanishing with the empty shared join
    val ta = tot.select(col("g").as("ga"), col("n").as("na"))
    val tb = tot.select(col("g").as("gb"), col("n").as("nb"))
    val agg = ta.join(tb, col("ga") < col("gb"))
      .join(sharedAgg, Seq("ga", "gb"), "left")
      .na.fill(0L, Seq("shared_tokens", "sca", "scb", "tq"))
    agg.select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("na").as("n_a"), col("nb").as("n_b"), col("shared_tokens"),
        round(col("tq").cast("double") / lit(1e9)
          + log(lit(2.0)) * ((lit(1.0)
              - col("sca").cast("double") / col("na").cast("double"))
            + (lit(1.0)
              - col("scb").cast("double") / col("nb").cast("double")))
            / lit(2.0), 6).as("jsd"))
      .orderBy("group_a", "group_b")
  }

  /** MSTTR (mean segmental type-token ratio, window `w`): tokens split
    * into consecutive FULL w-token chunks (trailing partial dropped —
    * TTR is length-sensitive, so only equal-length segments compare),
    * TTR per chunk = distinct/w, averaged per group over all chunks.
    * The lexical-diversity metric that, unlike raw TTR, does not decay
    * with document length. Per-chunk TTRs are exact rationals
    * (distinct · 10⁶ div w — integers end to end); the group mean is
    * the only division. One explode + two groupBys, all narrow before
    * the (doc, chunk, token) distinct. Output per group:
    * (group, n_docs, n_chunks, msttr).
    */
  def msttr(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, w: Int): DataFrame = {
    require(w >= 2)
    val toks = df.select(col(groupCol).as("g"), col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val chunks = toks.withColumn("chunk", expr(s"pos div $w"))
      .groupBy("g", "id", "chunk")
      .agg(count(lit(1)).as("n"), count_distinct(col("tok")).as("d"))
      .filter(col("n") === w)
      .select(col("g"), col("id"),
        expr(s"d * 1000000L div $w").as("qt"))
    chunks.groupBy("g")
      .agg(count_distinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_chunks"), sum("qt").as("sq"))
      .select(col("g"), col("n_docs"), col("n_chunks"),
        round(col("sq").cast("double") / col("n_chunks").cast("double")
          / lit(1e6), 6).as("msttr"))
  }

  /** Pairwise cosine between groups' stopword-frequency profiles (the
    * fixed `words` vocabulary — a shared literal list, so any engine
    * replays it): style/register similarity that is CONTENT-blind,
    * the cheap authorship/domain-shift signal. Counts are exact
    * integers; cosine = dot / sqrt(n_a · n_b) is one fixed-shape
    * double expression. The profile frame is |groups|×|words| — tiny —
    * so the pair join never touches the corpus. Output:
    * (group_a < group_b, dot, cosine).
    */
  def stopwordProfileCosine(df: DataFrame, groupCol: String,
      textCol: String, words: Seq[String]): DataFrame = {
    val toks = df.select(col(groupCol).as("g"),
      explode(tokens(col(textCol))).as("tok"))
    val prof = toks.filter(col("tok").isInCollection(words))
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
    val norms = prof.groupBy("g")
      .agg(sum(col("c") * col("c")).as("nn"))
    val dots = prof.as("a")
      .join(prof.as("b"),
        col("a.tok") === col("b.tok") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    dots
      .join(norms.select(col("g").as("ga"), col("nn").as("na")), "ga")
      .join(norms.select(col("g").as("gb"), col("nn").as("nb")), "gb")
      .select(col("ga").as("group_a"), col("gb").as("group_b"), col("dot"),
        // norms multiply as doubles — the long product nₐ·n_b overflows
        // once per-group token mass passes ~3e9
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .as("cosine"))
      .orderBy("group_a", "group_b")
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; word score = deg(w)/freq(w)
    * with deg = Σ phrase length over the word's occurrences and freq =
    * occurrence count; a phrase scores the sum of its words' scores.
    * Corpus-level: word stats aggregate over ALL phrase occurrences,
    * then each DISTINCT phrase text scores once. Ranking is pinned on
    * integers: qscore = Σ_w (deg_w · 10⁶ div freq_w) — exact integer
    * division per word, exact sum — tie-broken by phrase text. The
    * islands come from one per-doc window (pos − rank-among-nonstop);
    * everything after is token-keyed groupBys. Output: top `k`
    * (phrase, n_words, score 6 dp).
    */
  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], k: Int, maxPhraseLen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("stop", col("tok").isInCollection(stopwords))
    val wd = Window.partitionBy("id").orderBy("pos")
    val runs = toks
      .withColumn("nsr", count(when(!col("stop"), 1)).over(wd))
      .filter(!col("stop"))
      .withColumn("grp", col("pos") - col("nsr"))
    val phrases = runs.groupBy("id", "grp")
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", transform(array_sort(
          collect_list(struct(col("pos"), col("tok")))), s => s("tok")))
          .as("phrase"))
      .filter(col("plen") <= maxPhraseLen)
      .select(col("phrase"), col("plen"))
    val words = phrases
      .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
    val stats = words.groupBy("w")
      .agg(sum("plen").as("deg"), count(lit(1)).as("freq"))
      .withColumn("qs", expr("deg * 1000000L div freq"))
    val scored = phrases.select(col("phrase"), col("plen")).distinct()
      .select(col("phrase"), col("plen"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(stats.select(col("w"), col("qs")), "w")
      .groupBy("phrase", "plen").agg(sum("qs").as("qscore"))
    scored.orderBy(col("qscore").desc, col("phrase")).limit(k)
      .select(col("phrase"), col("plen").as("n_words"),
        round(col("qscore").cast("double") / lit(1e6), 6).as("score"))
  }

  /** Corpus n-gram duplication-rate curve: for each n in 1..`maxN`,
    * the fraction of n-gram OCCURRENCES whose gram appears more than
    * once corpus-wide — the memorization-risk dial (Lee et al. 2022)
    * as a single curve instead of one fixed n. Occurrences, not
    * distinct grams: the question is how much of the TOKEN MASS is
    * repeated. One explode + one gram-keyed groupBy per n (the tokens
    * frame is shared); all counts exact. Output: (n, total_grams,
    * dup_grams, dup_rate).
    */
  def dupRateCurve(df: DataFrame, textCol: String, maxN: Int)
      : DataFrame = {
    require(maxN >= 1 && maxN <= 8)
    val toks = df.select(tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0).persist()
    val perN = (1 to maxN).map { n =>
      val grams = toks.select(explode(transform(
        sequence(lit(1), greatest(size(col("toks")) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(col("toks"), i, lit(n))))).as("g"))
      grams.groupBy("g").agg(count(lit(1)).as("c"))
        .agg(sum("c").as("total_grams"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_grams"))
        .select(lit(n.toLong).as("n"), col("total_grams"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
    }
    perN.reduce(_ unionByName _)
      .select(col("n"), col("total_grams"), col("dup_grams"),
        round(col("dup_grams").cast("double")
          / col("total_grams").cast("double"), 6).as("dup_rate"))
      .orderBy("n")
  }

  /** Per-group unigram cross-entropy and KL against the whole corpus:
    * H(P_g, P_C) = −Σ_t P_g(t)·ln P_C(t) and
    * KL(P_g ‖ P_C) = H(P_g, P_C) − H(P_g) — "how atypical is this
    * source", the directional sharpening of the pairwise JSD matrix.
    * Every c·ln(...) term quantizes to a 1e-6 long before the
    * per-group sum (order-free, engine-exact); no smoothing is needed
    * because every group term exists in the corpus by construction.
    * Output: (group, n_tokens, vocab, cross_entropy, entropy, kl).
    */
  def sourceCrossEntropy(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(groupCol).as("g"),
      explode(tokens(col(textCol))).as("t"))
    val gc = tok.groupBy("g", "t").agg(count(lit(1)).as("c"))
    val corpus = gc.groupBy("t").agg(sum("c").as("cc"))
    val totals = gc.groupBy("g").agg(sum("c").as("ng"),
      count(lit(1)).as("vocab"))
    val tt = corpus.agg(sum("cc").as("tt"))
    val terms = gc.join(corpus, Seq("t")).crossJoin(tt)
      .join(totals, Seq("g"))
      .select(col("g"), col("ng"), col("vocab"),
        floor(-col("c").cast("double")
          * log(col("cc").cast("double") / col("tt").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("qx"),
        floor(-col("c").cast("double")
          * log(col("c").cast("double") / col("ng").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("qs"))
    terms.groupBy("g", "ng", "vocab")
      .agg(sum("qx").as("sx"), sum("qs").as("ss"))
      .select(col("g").as(groupCol), col("ng").as("n_tokens"),
        col("vocab"),
        round(col("sx").cast("double") / lit(1e6)
          / col("ng").cast("double"), 6).as("cross_entropy"),
        round(col("ss").cast("double") / lit(1e6)
          / col("ng").cast("double"), 6).as("entropy"),
        round((col("sx") - col("ss")).cast("double") / lit(1e6)
          / col("ng").cast("double"), 6).as("kl"))
      .orderBy(groupCol)
  }
  /** Gopher-style quality-rule bundle (Rae et al. 2021, appendix A —
    * the public heuristic filter set), restricted to rules with signal
    * on plain text: word-count window, mean-word-length window, core-
    * stopword presence, alphabetic-token fraction, top-token dominance
    * cap, and a type-token-ratio floor. Per-document booleans roll up
    * to a per-`byCol` census (docs, per-rule pass counts, pass_all).
    *
    * Shape at scale: the length/stopword/alpha rules are narrow
    * expressions; the two frequency rules (dominance, TTR) cost ONE
    * explode + per-(doc, token) count + per-doc max — shuffles keyed by
    * doc id, linear in corpus tokens, no cross-document state. The
    * rollup is one small aggregation by `byCol`.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      byCol: String,
      minWords: Int = 30, maxWords: Int = 500,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      coreStops: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minStopHits: Int = 2, minAlphaFrac: Double = 0.8,
      maxTopFrac: Double = 0.1, minTtr: Double = 0.5): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(byCol).as("grp"),
      tokens(col(textCol)).as("toks"))
    val doc = base.select(col("id"), col("grp"),
      size(col("toks")).cast("double").as("n"),
      length(concat_ws("", col("toks"))).cast("double").as("chars"),
      size(array_intersect(array_distinct(col("toks")),
        array(coreStops.map(lit): _*))).as("stop_hits"),
      size(filter(col("toks"), t => t.rlike("[a-z]")))
        .cast("double").as("alpha"))
    val tf = base.select(col("id"), explode(col("toks")).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("c"))
    val freq = tf.groupBy("id")
      .agg(max("c").cast("double").as("topc"),
        count(lit(1)).cast("double").as("ndist"))
    val rules = doc.join(freq, Seq("id"), "left").select(col("grp"),
      (col("n") >= minWords && col("n") <= maxWords).as("r_words"),
      (col("n") > 0 &&
        col("chars") / col("n") >= minMeanLen &&
        col("chars") / col("n") <= maxMeanLen).as("r_mean_len"),
      (col("stop_hits") >= minStopHits).as("r_stopwords"),
      (col("n") > 0 && col("alpha") / col("n") >= minAlphaFrac)
        .as("r_alpha"),
      (col("n") > 0 && coalesce(col("topc"), lit(0.0)) / col("n")
        <= maxTopFrac).as("r_top_frac"),
      (col("n") > 0 && coalesce(col("ndist"), lit(0.0)) / col("n")
        >= minTtr).as("r_ttr"))
    val ruleCols = Seq("r_words", "r_mean_len", "r_stopwords", "r_alpha",
      "r_top_frac", "r_ttr")
    val aggs = ruleCols.map(r =>
      sum(when(col(r), 1L).otherwise(0L)).as(s"pass_${r.stripPrefix("r_")}")) :+
      sum(when(ruleCols.map(col).reduce(_ && _), 1L).otherwise(0L))
        .as("pass_all")
    rules.groupBy(col("grp").as(byCol))
      .agg(count(lit(1)).as("docs"), aggs: _*)
      .orderBy(byCol)
  }

  /** Code-switching (language-mix) detection per document: the token
    * stream splits into four contiguous quarters, each quarter gets
    * the stopword-argmax [[langId]] verdict, and a document is MIXED
    * when two or more quarters disagree on a determined language.
    * Catches concatenation artifacts (two documents glued at crawl
    * time), boilerplate in a second language, and genuine
    * code-switching — all of which poison monolingual training sets
    * that per-document language ID alone admits.
    *
    * Narrow per-row expressions only (slice + the stopword
    * membership counts, four times) — no shuffle, no UDF; linear at
    * any corpus scale.
    */
  def codeSwitch(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = tokens(col(textCol))
    // (n+3) div 4 — the `/` is double division on Columns, so cast back
    val base = df.select(col(idCol), toks.as("__toks"),
      ((size(toks) + 3) / 4).cast("int").as("__qlen"))
    // language-score the token SLICES directly: the previous form
    // rebuilt each quarter as a string (concat_ws) and re-tokenized it
    // inside langId — and because the stopword-hit filters are
    // higher-order functions (CodegenFallback, no subexpression
    // elimination), the rebuild+re-split ran once per language per
    // quarter: ~16 extra splits of the document per row. A quarter's
    // token array IS tokens(its rebuilt text) — the slices hold
    // non-empty lowercase alnum tokens, so joining on spaces and
    // re-splitting on non-alnum is the identity — hence identical
    // verdicts by construction.
    val quartered = (0 until 4).foldLeft(base) { (d, i) =>
      d.withColumn(s"lang_q${i + 1}",
        langIdOfTokens(
          slice(col("__toks"), col("__qlen") * i + 1, col("__qlen"))))
    }
    val langs = array((1 to 4).map(i => col(s"lang_q$i")): _*)
    quartered.select(
      (Seq(col(idCol)) ++ (1 to 4).map(i => col(s"lang_q$i")) ++ Seq(
        size(array_distinct(filter(langs, l => l =!= "und")))
          .cast("long").as("n_langs"))): _*)
      .withColumn("is_mixed", col("n_langs") >= 2)
  }

  /** Vocabulary-richness estimators per `byCol` — the "how much MORE
    * vocabulary would a bigger crawl of this source surface" table
    * that sizes tokenizer vocabularies and flags near-exhausted
    * sources. From the token-frequency spectrum alone: observed
    * distinct D, singletons f1, doubletons f2 →
    *
    *  - Chao1 richness (bias-corrected): D + f1(f1−1)/(2(f2+1)) — a
    *    lower bound on the true vocabulary size (Chao 1984),
    *  - Good–Turing unseen mass f1/N — the probability the NEXT token
    *    drawn is a previously unseen type,
    *  - sample coverage 1 − f1/N (Turing's estimator).
    *
    * One explode + per-(group, token) count + one small per-group
    * rollup; shuffles keyed by (group, token) then group — linear in
    * corpus tokens at any scale. All-integer until the final ratios.
    */
  def vocabRichness(df: DataFrame, textCol: String,
      byCol: String): DataFrame = {
    val tf = df.select(col(byCol).as("grp"),
        explode(tokens(col(textCol))).as("t"))
      .groupBy("grp", "t").agg(count(lit(1)).as("c"))
    tf.groupBy("grp").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("grp").as(byCol), col("n_tokens"), col("n_distinct"),
        col("f1"), col("f2"),
        round(col("n_distinct")
          + col("f1").cast("double") * (col("f1") - 1).cast("double")
            / (lit(2.0) * (col("f2") + 1).cast("double")), 4).as("chao1"),
        round(col("f1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("unseen_mass"),
        round(lit(1.0) - col("f1").cast("double")
          / col("n_tokens").cast("double"), 6).as("coverage"))
      .orderBy(byCol)
  }
}
