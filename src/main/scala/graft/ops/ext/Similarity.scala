package graft.ops.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over an embedding column (SURVEY §2.12 X3).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * one pass over the corpus, per-query top-k via window. The dot product
  * is `aggregate(zip_with(...))`, a native fold expression: sequential,
  * deterministic summation order, no UDF.
  *
  * Scale path: deterministic random-hyperplane LSH (sign buckets). The
  * hyperplanes are derived from salted xxhash64 of (plane, dim) — no RNG,
  * so buckets are stable across runs and executors. Probing compares only
  * vectors in the query's bucket: corpus shuffles once on the bucket key,
  * and a 100 TB corpus is searched by touching 1/2^bits of it per probe
  * (with multi-probe for recall).
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns, as the
    * native codegen'd [[graft.expr.VecDot]] expression — bit-identical
    * to the composed `aggregate(zip_with(...))` fold (same add order;
    * equivalence property-asserted in VecDotSpec) but a primitive loop
    * in whole-stage codegen instead of two interpreted lambdas.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.expr.VecDot(
      GraftExpressionBridge.expression(a.cast("array<double>")),
      GraftExpressionBridge.expression(b.cast("array<double>"))))
  }

  /** sqrt of the self dot product — same fold order as the historical
    * `aggregate(transform(a, x => x*x), ...)` form.
    */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** The normalised-vector frame every cosine operator starts from:
    * (id, any `carry` columns, vec = `vecCol` as array<double>, nrm =
    * its [[l2norm]]) — the norm is computed once per row, never once
    * per pair.
    */
  private[graft] def vectors(df: DataFrame, idCol: String, vecCol: String,
      carry: Column*): DataFrame =
    df.select((col(idCol).as("id") +: carry :+
        col(vecCol).cast("array<double>").as("vec")): _*)
      .withColumn("nrm", l2norm(col("vec")))

  /** Cosine between the rows of two [[vectors]] frames joined under the
    * aliases `a` and `b`, from their precomputed norms.
    */
  private[ext] def cosineOf(a: String, b: String): Column =
    dot(col(s"$a.vec"), col(s"$b.vec")) / (col(s"$a.nrm") * col(s"$b.nrm"))

  /** The deterministic coarse quantizer: every `every`-th row of a
    * [[vectors]] frame by id — no RNG, no iterative k-means whose float
    * reductions would be run-dependent, so cells are reproducible and
    * SQL-portable.
    */
  private[ext] def centroids(v: DataFrame, every: Long): DataFrame =
    v.filter(col("id") % every === 0)

  /** Nearest-cell assignment: every row of the [[vectors]] frame `side`
    * paired with its `n` nearest centroids (any [[vectors]]-shaped
    * frame, usually [[centroids]]) by cosine. Returns `side`'s columns
    * plus `cent_id`, the cell cosine `cell_cos` and the cell rank
    * `cell_rank` (1 = nearest, ties to the smaller `cent_id`). The
    * centroid set is tiny and broadcast; the side is scanned once and
    * never shuffled against itself.
    */
  private[graft] def cells(side: DataFrame, cents: DataFrame,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cell_cos").desc, col("cent_id"))
    side.crossJoin(broadcast(cents.select(col("id").as("cent_id"),
        col("vec").as("centv"), col("nrm").as("centnorm"))))
      .withColumn("cell_cos",
        dot(col("vec"), col("centv")) / (col("nrm") * col("centnorm")))
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= n)
      .drop("centv", "centnorm")
  }

  /** Per-query cosine top-k over candidate pairs of two [[vectors]]
    * frames joined under the aliases `c` (corpus) and `q` (queries): a
    * query never matches its own id, ties break by corpus id. Output
    * (query_id, rank, corpus_id, cosine).
    */
  private def topKByCosine(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    pairs.filter(col("q.id") =!= col("c.id"))
      .select(col("c.id").as("corpus_id"), col("q.id").as("query_id"),
        cosineOf("c", "q").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  /** Random-projection dimensionality reduction, emitted in LONG form
    * (id, proj_dim, value): value[d] = <x, w_d> with deterministic
    * pseudo-random hyperplanes w_d[i] = lehmer(d*dims+i+1)/m - 0.5
    * (Lehmer step, integer arithmetic — portable to any SQL engine, no
    * RNG state). The whole mat-vec is narrow expressions per row
    * (`zip_with` multiply + sequential `aggregate` fold): NO shuffle,
    * no UDF, embarrassingly parallel over the corpus — the projection
    * that feeds coarse ANN or visualization at 100 TB.
    */
  def randomProjectLong(df: DataFrame, vecCol: String, idCol: String,
                        nProj: Int, dims: Int): DataFrame = {
    val xs = transform(col(vecCol), x => x.cast("double"))
    val weight = (d: Column, i: Column) =>
      ((d * dims + i + 1) * 48271L % 2147483647L).cast("double") /
        2147483647.0 - 0.5
    val projections = transform(sequence(lit(0), lit(nProj - 1)), d =>
      aggregate(
        zip_with(xs, transform(sequence(lit(0), lit(dims - 1)),
          i => weight(d, i)), (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v))
    df.select(col(idCol), posexplode(projections).as(Seq("proj_dim", "value")))
      .select(col(idCol), col("proj_dim").cast("long").as("proj_dim"),
        round(col("value"), 6).as("value"))
  }

  /** Brute-force cosine top-k: for each row of `queries`, the k nearest
    * corpus rows. Query side is broadcast (it is the small side by
    * contract); the corpus is scanned once, norms computed one time per
    * side. Ties break by corpus id for determinism.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame =
    topKByCosine(vectors(corpus, idCol, vecCol).as("c")
      .crossJoin(broadcast(vectors(queries, idCol, vecCol).as("q"))), k)

  /** Matryoshka truncation audit: exact top-k overlap between search
    * on the first `d'` dimensions and search on the full vector, per
    * query and per candidate width — the table that decides how many
    * dimensions an embedding store actually has to keep (MRL-trained
    * embeddings front-load information; this measures how much YOUR
    * corpus's ranking survives each truncation).
    *
    * Scale shape: one [[bruteForceTopK]] per width over the same
    * broadcast query set — the corpus side is scanned |dims| times but
    * each pass is the standard crossJoin-free broadcast pattern, and
    * the overlap join is k-row-per-query tiny. Swap [[ivfTopK]] in
    * per width at corpus scale; the audit logic is width-agnostic.
    * Queries missing from a truncated top-k entirely (overlap 0) stay
    * in the output — recall audits must surface total misses, not
    * drop them.
    */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame,
                       vecCol: String, idCol: String,
                       dims: Seq[Int], k: Int): DataFrame = {
    def trunc(df: DataFrame, d: Int): DataFrame =
      df.select(col(idCol),
        slice(col(vecCol).cast("array<double>"), 1, d).as("__tv"))
    val dMax = dims.max
    val full = bruteForceTopK(trunc(corpus, dMax), trunc(queries, dMax),
      "__tv", idCol, k).select(col("query_id"), col("corpus_id"))
    dims.map { d =>
      val top = bruteForceTopK(trunc(corpus, d), trunc(queries, d),
        "__tv", idCol, k).select(col("query_id"), col("corpus_id"))
      val ov = top.join(full, Seq("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("overlap_at_k"))
      full.select("query_id").distinct()
        .join(ov, Seq("query_id"), "left")
        .select(lit(d.toLong).as("d_prime"), col("query_id"),
          coalesce(col("overlap_at_k"), lit(0L)).as("overlap_at_k"))
    }.reduce(_.unionByName(_))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (centroids = every
    * `centroidEvery`-th corpus vector by id — no RNG, no iterative
    * k-means whose float reductions would be run-dependent), corpus
    * inverted by nearest centroid, queries probing their `nprobe`
    * nearest centroid lists only.
    *
    * Scale shape: the centroid set is tiny and broadcast twice; the
    * corpus is scanned once for assignment and shuffled once on the
    * centroid id; each probe touches ~nprobe/|centroids| of the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, centroidEvery: Int = 50,
              nprobe: Int = 2): DataFrame = {
    val c = vectors(corpus, idCol, vecCol)
    val cents = centroids(c, centroidEvery)
    val inverted = cells(c, cents, 1).as("c")
    val probes = cells(vectors(queries, idCol, vecCol), cents, nprobe).as("q")
    topKByCosine(inverted.join(broadcast(probes),
      col("c.cent_id") === col("q.cent_id")), k)
  }

  /** Mutual-best-match alignment between two embedding collections —
    * the bitext/parallel-corpus mining primitive: a pair (a, b) aligns
    * when b is a's cosine-nearest candidate AND a is b's, with the
    * top1−top2 margin as the standard alignment-confidence signal.
    * Output is the one-row census: collection sizes, candidate pair
    * count, mutual count, mutual share of side A, and the mean margin
    * over mutual pairs (1e-6-quantized per pair before the mean).
    *
    * Scale shape: BOTH sides can be corpus-sized, so — unlike
    * [[ivfTopK]], whose query side broadcasts by contract — only the
    * deterministic centroid set broadcasts (every `centroidEvery`-th
    * id of side B). Side A probes its `nprobe` nearest cells, side B
    * inverts into its single nearest cell, and candidates come from
    * the cell equi-join; each direction's best is a per-key top-k over
    * the SAME scored candidate frame (eagerly checkpointed — two
    * window consumers, one materialization). Nothing all-pairs,
    * nothing data-sized on the driver.
    */
  def mutualBestMatch(a: DataFrame, b: DataFrame, vecCol: String,
      idCol: String, centroidEvery: Int, nprobe: Int): DataFrame = {
    val av = vectors(a, idCol, vecCol)
    val bv = vectors(b, idCol, vecCol)
    val cents = centroids(bv, centroidEvery)
    val scored = cells(av, cents, nprobe).as("a")
      .join(cells(bv, cents, 1).as("b"), col("a.cent_id") === col("b.cent_id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        cosineOf("a", "b").as("cosine"))
      .distinct()
      // LAZY cut: scored feeds both direction windows; the blocks
      // persist at first compute inside the caller's single action —
      // the eager form spent a separate materialization job
      .localCheckpoint(false)
    val wa = Window.partitionBy("a_id")
      .orderBy(col("cosine").desc, col("b_id"))
    val bestA = scored.withColumn("r", row_number().over(wa))
      .filter(col("r") <= 2)
      .groupBy("a_id")
      .agg(max(when(col("r") === 1, col("b_id"))).as("b_id"),
        max(when(col("r") === 1, col("cosine"))).as("cos1"),
        max(when(col("r") === 2, col("cosine"))).as("cos2"))
    val wb = Window.partitionBy("b_id")
      .orderBy(col("cosine").desc, col("a_id"))
    val bestB = scored.withColumn("r", row_number().over(wb))
      .filter(col("r") === 1).select(col("a_id"), col("b_id"))
    val mutual = bestA.join(bestB, Seq("a_id", "b_id"), "left_semi")
      .select(col("a_id"),
        when(col("cos2").isNotNull,
          floor((col("cos1") - col("cos2")) * 1e6 + 0.5).cast("long"))
          .as("mq"))
    val nA = av.agg(count(lit(1)).as("n_a"))
    val nB = bv.agg(count(lit(1)).as("n_b"))
    val nCand = scored.agg(count(lit(1)).as("n_candidates"))
    val mAgg = mutual.agg(count(lit(1)).as("n_mutual"),
      count(col("mq")).as("n_margin"), sum(col("mq")).as("smq"))
    nA.crossJoin(broadcast(nB)).crossJoin(broadcast(nCand))
      .crossJoin(broadcast(mAgg))
      .select(col("n_a"), col("n_b"), col("n_candidates"), col("n_mutual"),
        round(col("n_mutual").cast("double") / col("n_a").cast("double"),
          6).as("mutual_share"),
        round(col("smq").cast("double") / 1e6
          / col("n_margin").cast("double"), 6).as("mean_margin"))
  }

  /** Semantic decontamination census: how much of an eval set has a
    * near-identical semantic twin in the training corpus — the
    * embedding-space counterpart of the n-gram decontamination gate
    * (q42/q66), catching paraphrase-level leakage n-grams miss. Returns
    * the one-row census: eval/train sizes, how many eval items matched
    * any candidate, how many are flagged (top-1 cosine ≥ `threshold`),
    * the flagged share, and the mean top-1 cosine over matched items
    * (1e-6-quantized per item before the mean).
    *
    * Scale shape: BOTH sides are corpus-sized, so — like
    * [[mutualBestMatch]] — only the deterministic centroid set (every
    * `centroidEvery`-th train id) broadcasts. Train inverts into its
    * single nearest cell, eval probes its `nprobe` nearest cells, and
    * candidates come from the cell equi-join — never eval×train. The
    * per-eval top-1 is one window over the scored frame; the census is
    * a handful of one-row aggregates crossJoined back.
    */
  def decontaminationCensus(train: DataFrame, evalSet: DataFrame,
      vecCol: String, idCol: String, threshold: Double,
      centroidEvery: Int = 50, nprobe: Int = 2): DataFrame = {
    val tv = vectors(train, idCol, vecCol)
    val ev = vectors(evalSet, idCol, vecCol)
    val cents = centroids(tv, centroidEvery)
    val top1 = cells(ev, cents, nprobe).as("e")
      .join(cells(tv, cents, 1).as("t"), col("e.cent_id") === col("t.cent_id"))
      .select(col("e.id").as("e_id"), col("t.id").as("t_id"),
        cosineOf("e", "t").as("cosine"))
      .distinct()
      .groupBy("e_id")
      .agg(max(col("cosine")).as("top1"))
      .select(col("e_id"),
        floor(col("top1") * 1e6 + 0.5).cast("long").as("q1"))
    val nE = ev.agg(count(lit(1)).as("n_eval"))
    val nT = tv.agg(count(lit(1)).as("n_train"))
    val mAgg = top1.agg(count(lit(1)).as("n_matched"),
      sum(when(col("q1") >= math.round(threshold * 1e6), 1L).otherwise(0L))
        .as("n_flagged"),
      sum(col("q1")).as("sq1"))
    nE.crossJoin(broadcast(nT)).crossJoin(broadcast(mAgg))
      .select(col("n_eval"), col("n_train"), col("n_matched"),
        col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_eval").cast("double"),
          6).as("flagged_share"),
        round(col("sq1").cast("double") / 1e6
          / col("n_matched").cast("double"), 6).as("mean_top1"))
  }

  /** Sign-bucket key from hyperplanes [fromPlane, toPlane), as the
    * native codegen'd [[graft.expr.SignLsh]] expression — bit-exact
    * twin of the composed per-plane fold (same hash-derived
    * hyperplanes, same fold order, same sign test; equivalence
    * property-asserted in SignLshSpec), with the component matrix
    * computed once per shape instead of (planes × dims) string hashes
    * per row.
    */
  def lshBucketRange(vec: Column, fromPlane: Int, toPlane: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.expr.SignLsh(
      GraftExpressionBridge.expression(vec.cast("array<double>")),
      fromPlane, toPlane))
  }

  /** Sign-bucket key from `bits` random hyperplanes. */
  def lshBucket(vec: Column, bits: Int): Column = lshBucketRange(vec, 0, bits)

  /** Banded sign-LSH bucket array: `bands` independent (band, key)
    * buckets of `rowsPerBand` hyperplanes each. Two vectors at cosine c
    * share >= 1 band with probability 1 - (1 - (1 - acos(c)/pi)^r)^B —
    * the OR-of-ANDs construction that keeps recall high where a single
    * wide bucket would split near-identical vectors ~bits*acos(c)/pi of
    * the time.
    */
  def lshBandBuckets(vec: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        lshBucketRange(vec, b * rowsPerBand, (b + 1) * rowsPerBand)
          .as("key"))
    }: _*)

  /** LSH-bucketed cosine top-k: candidates limited to the query's sign
    * bucket, then exact cosine + window top-k. Approximate (recall < 1);
    * the 100 TB path. `bits` trades recall for candidate-set size.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, bits: Int = 8): DataFrame = {
    def bucketed(df: DataFrame): DataFrame = vectors(df, idCol, vecCol)
      .select(col("id"), col("vec"), lshBucket(col("vec"), bits).as("bucket"),
        col("nrm"))
    topKByCosine(bucketed(corpus).as("c")
      .join(broadcast(bucketed(queries).as("q")),
        col("c.bucket") === col("q.bucket")), k)
  }

  /** Embedding anisotropy (Ethayarajh 2019): the mean pairwise cosine
    * of the unit-normalized corpus, per group — high anisotropy means
    * the embeddings cram into a narrow cone and cosine similarity
    * stops discriminating, THE standard health check before trusting
    * an ANN index. Closed form — mean_{i≠j} cos = (‖Σx̂‖² − n) /
    * (n(n−1)) — so one pass computes it: per-dim sums of the
    * normalized components (each x̂ᵢ term quantized to 1e-9 before
    * the cross-row sum, house rule), then the d-term ‖·‖² folds the
    * exact quantized sums through DECIMAL. No pairwise join ever
    * materializes. Output per group: n, anisotropy (6 dp).
    */
  def anisotropy(df: DataFrame, vecCol: String, groupCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 18)
    val e = df.select(col(groupCol).as("g"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .select(col("g"), col("nrm"), posexplode(col("v")).as(Seq("i", "x")))
      .withColumn("q", floor(col("x") / col("nrm") * lit(1e9) + lit(0.5))
        .cast("long"))
    val dims = e.groupBy(col("g"), col("i"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
    dims.groupBy(col("g"))
      .agg(max(col("cnt")).as("n"),
        sum(((col("sq").cast("double") / lit(1e9))
          * (col("sq").cast("double") / lit(1e9))).cast(dec)).as("ss"))
      .select(col("g").as(groupCol), col("n"),
        round((col("ss").cast("double") - col("n").cast("double"))
          / (col("n").cast("double") * (col("n") - 1).cast("double")), 6)
          .as("anisotropy"))
      .orderBy(groupCol)
  }

  /** Sign-bit binary quantization of a float vector into two longs
    * (bits 0–31 → `lo`, 32–63 → `hi`; dims past 64 unsupported by
    * design — stack more words for wider vectors). Bit i set iff
    * component i > 0. 32× smaller than fp32 and hamming-comparable
    * with two xors + popcounts — the 1-bit rerank-filter layout
    * vector stores ship at scale.
    */
  def signBitWords(vec: Column): Column = {
    def word(from: Int): Column =
      aggregate(
        transform(sequence(lit(0), lit(31)),
          i => when(element_at(vec, i + from + 1) > 0,
            call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
        lit(0L), (a, x) => a.bitwiseOR(x))
    struct(word(0).as("lo"), word(32).as("hi"))
  }

  /** Recall@k of sign-bit hamming search against exact cosine over the
    * same query set: per query, |top-k(hamming) ∩ top-k(cosine)| / k —
    * the acceptance test before a corpus commits to 1-bit vectors.
    * Hamming ranks are pure integers (popcount of two xors, ties by
    * id); the exact arm is [[bruteForceTopK]]. Both arms are
    * brute-force BY DESIGN — this is an evaluation harness on a query
    * sample, not the serving path (that is the LSH/IVF family).
    * Output per query: (query_id, n_overlap, recall).
    */
  def binaryQuantRecall(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, vecCol, idCol, k)
      .select(col("query_id"), col("corpus_id"))
    def bits(df: DataFrame, prefix: String): DataFrame =
      df.select(col(idCol).as(s"${prefix}_id"),
        signBitWords(col(vecCol)).as("w"))
        .select(col(s"${prefix}_id"), col("w.lo").as(s"${prefix}_lo"),
          col("w.hi").as(s"${prefix}_hi"))
    val cb = bits(corpus, "corpus")
    val qb = bits(queries, "query")
    val ham = cb.crossJoin(qb)
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("dist",
        bit_count(col("corpus_lo").bitwiseXOR(col("query_lo"))) +
          bit_count(col("corpus_hi").bitwiseXOR(col("query_hi"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist"), col("corpus_id"))
    val hamTop = ham.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"))
    exact.join(hamTop, Seq("query_id", "corpus_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      .join(exact.select("query_id").distinct(), Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double")
          / lit(k.toDouble), 6).as("recall"))
      .orderBy("query_id")
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick `k` results balancing relevance against redundancy,
    * score = (λn·rel − λd·maxSimToSelected) over a top-`poolSize`
    * relevance pool. The DISTRIBUTED part is the corpus scoring
    * (brute cosine here; the LSH/IVF family at scale); the greedy
    * re-rank runs on the driver over the k-bounded pool (the
    * CoverageSelect discipline — poolSize rows, not the corpus).
    * Determinism: relevance and pairwise cosines quantize to exact
    * millionths BEFORE any argmax, λ is the rational λn/(λn+λd), so
    * every selection compares integers with id tie-breaks — no float
    * ordering anywhere. Output: (rank, doc_id, relevance, mmr).
    */
  def mmrTopK(corpus: DataFrame, queryId: Long, vecCol: String,
      idCol: String, k: Int, lambdaNum: Int, lambdaDen: Int,
      poolSize: Int): DataFrame = {
    require(k >= 1 && poolSize >= k && lambdaNum > 0 &&
      lambdaDen > lambdaNum)
    val qv = corpus.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("v"))
    val pool = bruteForceTopK(corpus,
        corpus.filter(col(idCol) === queryId), vecCol, idCol, poolSize)
      .select(col("corpus_id").as("id"),
        floor(col("cosine") * lit(1e6) + lit(0.5)).cast("long").as("relq"))
    val vecs = corpus.join(pool, col(idCol) === pool("id"))
      .select(col("id"), col(vecCol).cast("array<double>").as("v"),
        col("relq"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
      .sortBy(_._1)
    def cosq(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5).toLong
    }
    val byId = vecs.map(v => v._1 -> v).toMap
    var selected = Vector.empty[(Long, Long, Long)] // (id, relq, mmrq)
    var remaining = vecs.map(v => (v._1, v._3)).toVector
    for (_ <- 1 to math.min(k, vecs.length)) {
      val scored = remaining.map { case (id, relq) =>
        val maxDiv =
          if (selected.isEmpty) 0L
          else selected.map(s => cosq(byId(id)._2, byId(s._1)._2)).max
        // floorDiv, not /: scores go negative and any SQL oracle's
        // `//` floors while Scala's / truncates toward zero
        val mmrq = Math.floorDiv(lambdaNum * relq -
          (lambdaDen - lambdaNum) * maxDiv, lambdaDen.toLong)
        (id, relq, mmrq)
      }
      val best = scored.minBy { case (id, _, mmrq) => (-mmrq, id) }
      selected :+= best
      remaining = remaining.filterNot(_._1 == best._1)
    }
    val s = corpus.sparkSession
    import s.implicits._
    selected.zipWithIndex.map { case ((id, relq, mmrq), i) =>
      ((i + 1).toLong, id, relq / 1e6, mmrq / 1e6)
    }.toDF("rank", "doc_id", "relevance", "mmr")
      .select(col("rank"), col("doc_id"),
        round(col("relevance"), 6).as("relevance"),
        round(col("mmr"), 6).as("mmr"))
  }
}
