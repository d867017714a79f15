package graft.ops.ext

import graft.ops.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for LLM training-data pipelines (SURVEY §2.12
  * X1/X2). All paths are pure `functions._` pipelines (whole-stage
  * codegen, no UDFs) and shuffle only on the keys that define the dedup —
  * the layout that survives 100 TB.
  *
  * Exact:   content hash (sha2-256) -> one shuffle on the hash.
  * MinHash: shingle -> k salted xxhash64 minima -> LSH bands -> bucket
  *          join -> jaccard verify. Candidate generation touches only
  *          colliding buckets, never the full n^2 pair space.
  * SimHash: 64-bit fingerprint = sign-aggregate of per-token hash bits;
  *          near-dups share fingerprints (or differ in few bits).
  */
object Dedup {

  /** Pin the partition count AND layout of a band/bucket frame, hashed
    * on its bucket `keys`, before its membership-cap window + self-join.
    *
    * The frame upstream is a per-doc aggregate (signatures/fingerprints
    * — a few longs per doc), so its exchange is tiny even for a large
    * corpus, and AQE's partition coalescing — which only sees map
    * output SIZE, never join fan-out — would collapse it to one
    * partition, putting the ~1000x bucket-join fan-out inside a
    * ONE-TASK stage (measured: q38 at 219 s single-task vs ~7 s
    * repartitioned). An explicit NUMBERED repartition is exempt from
    * AQE coalescing (REPARTITION_BY_NUM), and hashing ON the bucket
    * key means the cap window, the small-bucket self-join and the
    * star expansion all reuse this single exchange. Hash-by-bucket
    * cannot stall the hottest bucket into one task precisely BECAUSE
    * of the cap: per-bucket pairwise work is bounded by maxBucket²
    * and anything larger degrades to a linear star.
    */
  private[ext] def pinBucketParallelism(df: DataFrame,
      keys: String*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      keys.map(col): _*)

  /** Candidate pairs of a banded bucket frame (id, bucket, payload…)
    * under the PER-BUCKET MEMBERSHIP CAP, the one bucket self-join of
    * the MinHash, embedding and Hamming paths. The frame is pinned with
    * [[pinBucketParallelism]] on the bucket; a bucket of at most
    * `maxBucket` members self-joins (id_a < id_b), and a larger one —
    * mass near-duplicated boilerplate, an embedding pile-up, a flood of
    * all-zero fingerprint slices — degrades to a linear STAR around its
    * (id, payload)-minimal member: every member pairs with that rep
    * only, so the dup CLUSTER stays connected (what downstream
    * connected components consume) while member×member pairs of the
    * oversized bucket surface only via their other, uncontended, bands.
    * Count and rep come from ONE window over the bucket partitioning
    * the join reuses. Each pair carries every payload column `p` of
    * both members as `p_a`/`p_b`. Not deduplicated: a pair sharing
    * several buckets appears once per bucket, and each caller places
    * its own per-pair filter before or after its `dropDuplicates`.
    */
  private def cappedBucketPairs(buckets: DataFrame, maxBucket: Int,
      payload: String*): DataFrame = {
    val wB = Window.partitionBy("bucket")
    // the rep as a struct (id, payload…); an id-only rep is a plain min
    // wrapped after the window, since a min over a struct needs the
    // struct projected first and so a Window node of its own
    val rep =
      if (payload.isEmpty) struct(min(col("id")).over(wB).as("id"))
      else min(struct(("id" +: payload).map(col): _*)).over(wB)
    val counted = pinBucketParallelism(buckets, "bucket")
      .withColumn("__bn", count(lit(1)).over(wB))
      .withColumn("__rep", rep)
    def pair(a: String, b: String): Seq[Column] =
      col(s"${a}id").as("id_a") +: col(s"${b}id").as("id_b") +:
        payload.flatMap(p =>
          Seq(col(s"$a$p").as(s"${p}_a"), col(s"$b$p").as(s"${p}_b")))
    val small = counted.filter(col("__bn") <= maxBucket)
    val allPairs = small.as("x")
      .join(small.as("y"), col("x.bucket") === col("y.bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(pair("x.", "y."): _*)
    // rep has the bucket-minimal id, so id_a < id_b by construction
    val starPairs = counted.filter(col("__bn") > maxBucket)
      .filter(col("id") =!= col("__rep.id"))
      .select(pair("__rep.", ""): _*)
    allPairs.unionByName(starPairs)
  }

  /** Exact dedup on a content hash: keeps the row with the smallest `idCol`
    * per identical `textCol` (deterministic winner — `dropDuplicates` picks
    * an arbitrary row, which breaks result reproducibility across runs).
    * One hash-shuffle; at scale this is the minimal possible plan.
    */
  def exactByHash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental exact dedup — the corpus-append pattern: dedup a new
    * `batch` internally (min-id winner, as exactByHash), then drop
    * everything whose content already exists in `history`, and return
    * history ∪ survivors. The anti-join keys on the content digest
    * only, so the history side shuffles 32-byte digests, never text;
    * at a 100 TB history the digest projection is the difference
    * between re-shuffling the corpus and re-shuffling 0.03% of it
    * (and a persisted digest table makes the history scan one column).
    */
  def incremental(history: DataFrame, batch: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val seen = history.select(sha2(col(textCol), 256).as("__h")).distinct()
    val fresh = exactByHash(batch, textCol, idCol)
      .withColumn("__h", sha2(col(textCol), 256))
      .join(seen, Seq("__h"), "left_anti").drop("__h")
    history.unionByName(fresh)
  }

  /** Word shingles of size n (lowercased, split on non-alphanumerics),
    * HASHED: each sliding window maps to one hash long instead of a
    * concatenated string — long arrays make array_distinct/intersect/
    * union cheap and shuffled shingle frames ~8x narrower. Windowing +
    * hashing + dedup run in the native [[graft.expr.ShingleHashes]]
    * Catalyst expression (zero per-window allocations, whole-stage
    * codegen) — the composed transform/slice/concat_ws form measured
    * 3.7 s at sf0.1 and the per-window string allocation was most of
    * it. Distinct windows collide with probability ~2^-64, so every set
    * cardinality downstream (jaccard, overlap counts) matches the
    * string-shingle construction the DuckDB oracles use — shingle
    * VALUES never surface in any result.
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOfTokens(split(lower(text), "[^a-z0-9]+"), n)

  /** Shingle hashes over a PRE-SPLIT token array — the shared-scan form:
    * the near-dup paths tokenize the corpus once ([[prepTokens]]) and
    * derive shingles from the persisted token arrays instead of
    * re-splitting the text per path.
    */
  def shinglesOfTokens(toks: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    // no higher-order filter here: empty tokens are skipped inside the
    // kernel, keeping the whole expression tree codegen-able
    // (ArrayFilter would push the enclosing Project out of
    // whole-stage codegen — plan-asserted in PlanSpec)
    GraftExpressionBridge.column(
      graft.expr.ShingleHashes(GraftExpressionBridge.expression(toks), n))
  }

  /** ONE text scan shared by every near-dup path: (id, content digest,
    * token array). Callers persist this frame and derive routing counts,
    * exact-dup classes, shingles, and simhash votes from it — round-3's
    * hybrid path re-read and re-tokenized the corpus ~6x per run because
    * each sub-path started from the raw text.
    */
  private[ext] def prepTokens(df: DataFrame, textCol: String,
                              idCol: String): DataFrame =
    df.select(col(idCol).as("id"), sha2(col(textCol), 256).as("__h"),
      split(lower(col(textCol)), "[^a-z0-9]+").as("__toks"))

  /** Non-empty token count of a prepped frame's row ([[prepTokens]]) —
    * same value as size(filter(split(lower(text)))) on the raw text.
    */
  private[ext] def prepTokenCount: Column =
    size(array_remove(col("__toks"), ""))

  /** Containment near-dup pairs — the ASYMMETRIC dedup signal (doc A
    * wholesale-included in doc B: quotes, mirrors, supersets — pairs
    * jaccard misses when |B| ≫ |A|): (id_a, id_b, containment) with
    * containment = |sh(A) ∩ sh(B)| / |sh(A)| ≥ tau, directional, a ≠ b.
    *
    * Candidates come from shingle co-occurrence (the inverted-index
    * pattern: explode → self-join on the shingle hash), verified
    * exactly on the full arrays. `maxDf` caps a shingle's document
    * frequency before the self-join — the standard guard against the
    * Σdf² blowup of stop-shingles. EXACTNESS CONTRACT: any true pair at
    * tau > 0 shares ≥ 1 shingle, so with maxDf ≥ the corpus's max df
    * the candidate set is complete and the result is exhaustive-exact
    * (what the q92 oracle checks); a tighter cap at web scale trades
    * only pairs ALL of whose shared shingles are stop-shingles.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, tau: Double = 0.9,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleSize).as("sh"))
    val ex = sh.select(col("id"), explode(col("sh")).as("h"))
    val rare = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= maxDf).drop("df")
    val cand = rare.as("a")
      .join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    evalOnce(cand
        .join(sh.select(col("id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
        .join(sh.select(col("id").as("id_b"), col("sh").as("shb")), Seq("id_b")),
        "__ci", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("containment", col("__ci") / size(col("sha")))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6)
        .as("containment"))
  }

  /** Exact pairwise Jaccard over two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** Evaluate `e` exactly ONCE per row into column `name`, immune to
    * Catalyst re-inlining. A threshold filter above a plain Project is
    * pushed below it — and, when the expression references both join
    * sides, into the join condition — with the FULL expression body
    * re-inlined (the round-9 advice finding on [[Oph.nearDups]]), and
    * whole-stage codegen's subexpression elimination does not span the
    * Filter/Project operator pair, so the array set ops of a verify
    * join ran 2–3× per candidate pair. A one-element explode is a
    * Generate node: a predicate on generator output cannot be pushed
    * below the Generate, so the expression runs once there and the
    * filter plus the output projection read the materialized column.
    * Interleaved same-session A/B on the q445 verify (OPTIMIZATION_r10.md,
    * 381k candidate pairs): barrier 0.9–1.1 s vs pushed/re-inlined
    * 1.7–1.9 s.
    */
  private[ext] def evalOnce(df: DataFrame, name: String,
      e: Column): DataFrame =
    df.withColumn(name, explode(array(e)))

  /** The exact-jaccard verify of every shingle near-dup path: the
    * candidate pairs (id_a, id_b, sh_a, sh_b) whose jaccard over the two
    * DISTINCT-element shingle-hash arrays (the
    * [[graft.expr.ShingleHashes]] kernel dedups by construction) reaches
    * `threshold`, as (id_a, id_b, jaccard). |a ∩ b| is computed ONCE
    * behind the [[evalOnce]] Generate barrier and the union size
    * derived by set arithmetic (|a ∪ b| = |a| + |b| − |a ∩ b|), so a
    * verify pays ONE set operation per candidate pair where the re-inlined
    * intersect + union shape paid two set ops 2–3 times each
    * (measured on the q445 verify stage at sf0.1: 5.7 → ~1 s, the two
    * effects combined). The doubles are bit-identical to the
    * intersect/union form — the integer union size is equal by set
    * identity, so both divisions see the same operands (and the
    * union-0 ⇔ both-empty guard is preserved). The threshold filter
    * reads the materialized column above the barrier. Each caller
    * keeps its own candidate↔shingle joins: their broadcast placement
    * differs by design (self-join, broadcast batch, broadcast
    * candidates).
    */
  private[ext] def verifyJaccard(pairs: DataFrame,
      threshold: Double): DataFrame = {
    val (a, b) = (col("sh_a"), col("sh_b"))
    val uni = size(a) + size(b) - col("__ji")
    evalOnce(pairs, "__ji", size(array_intersect(a, b)))
      .withColumn("jaccard", when(uni === 0, lit(0.0))
        .otherwise(col("__ji").cast("double") / uni.cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash-LSH near-duplicate pairs: (id_a, id_b, jaccard) for pairs
    * sharing >= 1 LSH band bucket AND exact shingle-jaccard >= threshold,
    * id_a < id_b.
    *
    * Signature plan (the 100 TB-shaped one, all whole-stage codegen):
    * explode shingles -> ONE xxhash64 per shingle string -> k derived
    * hashes via xxhash64(h, seed) (two-word hashing, no per-seed string
    * rehash, ANSI-safe) -> single groupBy(id) with k
    * min() partial aggregations (map-side combine shrinks the shuffle to
    * k longs per doc). Band keys hash signature slices; the bucket
    * self-join shuffles on (band, key) only, so candidate generation
    * never touches the n^2 pair space; exact jaccard runs on candidates
    * alone. Buckets over `maxBucket` members degrade to a linear star
    * around the bucket-minimal member (see the cap comment in
    * [[minhashNearDupsPrepped]]), so no single degenerate bucket can
    * ever reintroduce a quadratic stage.
    */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      shingleSize: Int = 3, k: Int = 32, bands: Int = 16,
                      threshold: Double = 0.8,
                      includeExactDuplicates: Boolean = false,
                      maxBucket: Int = 4096): DataFrame =
    minhashNearDupsPrepped(prepTokens(df, textCol, idCol).persist(),
      shingleSize, k, bands, threshold, includeExactDuplicates, maxBucket)

  /** MinHash band buckets for a shingle frame (id, sh): k derived hash
    * minima (xxhash64 of base-hash + seed index — two-word hashing,
    * codegen'd, no per-seed string rehash), banded into (band, key)
    * bucket structs, one exploded row per band. The shuffle after the
    * per-id min aggregation carries k longs per doc (map-side combine),
    * never shingles. Shared by the self-join path and the incremental
    * cross-corpus path — identical hash family, so signatures computed
    * today keep matching a history computed last month.
    */
  private[ext] def bandSignatures(sh: DataFrame, k: Int,
                                  bands: Int): DataFrame = {
    val rows = k / bands
    // shingles are already xxhash64 longs — they ARE the base hashes
    val hashed = sh.select(col("id"), explode(col("sh")).as("h"))
    val aggs = (0 until k).map { i =>
      min(xxhash64(col("h"), lit(i))).as(s"m$i")
    }
    val sigs = hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val bucketArr = array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64((bnd * rows until (bnd + 1) * rows)
          .map(i => col(s"m$i")): _*).as("key"))
    }: _*)
    val sigArr = array((0 until k).map(i => col(s"m$i")): _*)
    sigs.select(col("id"), sigArr.as("sig"), explode(bucketArr).as("bucket"))
  }

  /** Matching-position fraction of two k-long signature arrays
    * (columns `sig_a`, `sig_b`) — the unbiased jaccard estimator used
    * as the candidate prefilter.
    */
  private[ext] def sigEstimate(k: Int): Column =
    aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / k

  /** [[minhashNearDups]] over an already-persisted [[prepTokens]] frame —
    * the entry [[hybridNearDups]] uses so both routes share one scan.
    */
  private[ext] def minhashNearDupsPrepped(prep: DataFrame,
      shingleSize: Int, k: Int, bands: Int, threshold: Double,
      includeExactDuplicates: Boolean, maxBucket: Int = 4096): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // EXACT-DUPLICATE PRE-PASS: identical texts share every band, so a
    // thousand-way exact-duplicate class (routine in crawl corpora) makes
    // the band self-join quadratic in the class size. Collapse each class
    // to its min-id representative before any signature work — LSH then
    // sees each distinct text once. The window runs on the SLIM (id,
    // digest) projection — 40-byte rows through the shuffle, never token
    // arrays — and the representative set joins back to the persisted
    // prep frame by id for its tokens. The representative carries its
    // class; `includeExactDuplicates = true` re-expands pairs to all
    // members (cross-class pairs inherit the representative jaccard —
    // the texts are identical — and within-class pairs are jaccard 1.0
    // by construction).
    val wExact = Window.partitionBy(col("__h"))
    val memb = prep.select(col("id"), col("__h"))
      .withColumn("rep", min(col("id")).over(wExact))
      .select(col("id"), col("rep"))
    // persisted: feeds the signature path AND both sides of the exact-
    // jaccard verify join — without it the shingling runs 3x
    val sh = prep.join(memb.filter(col("id") === col("rep"))
        .select(col("id")), Seq("id"))
      .select(col("id"),
        shinglesOfTokens(col("__toks"), shingleSize).as("sh"))
      .persist()
    // Capped band join (the exact-dup pre-pass removes identical
    // texts, but templated pages and license headers can still flood
    // one band bucket). Candidate pairs carry both signatures; the
    // ESTIMATE PREFILTER (matching signature positions / k >=
    // threshold/2) kills the junk candidates r=2 banding admits — a 5+
    // sigma margin below any true pair at `threshold`, so recall stays
    // with the banding (which at r=2 misses j>=0.8 pairs with
    // probability ~1e-7) while exact jaccard runs only on plausible
    // pairs.
    val cand = cappedBucketPairs(bandSignatures(sh, k, bands), maxBucket,
        "sig")
      .dropDuplicates("id_a", "id_b")
      .filter(sigEstimate(k) >= threshold / 2)
      .select(col("id_a"), col("id_b"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val repPairs = verifyJaccard(
      cand.join(a, Seq("id_a")).join(b, Seq("id_b")), threshold)
    if (!includeExactDuplicates) repPairs
    else {
      val cross = repPairs
        .join(memb.as("ma"), col("ma.rep") === col("id_a"))
        .join(memb.as("mb"), col("mb.rep") === col("id_b"))
        .select(least(col("ma.id"), col("mb.id")).as("id_a"),
          greatest(col("ma.id"), col("mb.id")).as("id_b"), col("jaccard"))
      val within = memb.as("m1")
        .join(memb.as("m2"), col("m1.rep") === col("m2.rep"))
        .filter(col("m1.id") < col("m2.id"))
        .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"),
          lit(1.0).as("jaccard"))
      cross.unionByName(within)
    }
  }

  /** INCREMENTAL MinHash near-dup: (history_id, batch_id, jaccard) pairs
    * between an existing corpus and an incoming batch — the append-only
    * production shape ([[incremental]]'s fuzzy twin): a nightly batch is
    * screened against the accumulated corpus WITHOUT re-pairing the
    * corpus against itself. Band keys come from the same
    * [[bandSignatures]] hash family as the self-join path, so a
    * persisted history signature table keeps matching batches computed
    * later; here both sides compute from text.
    *
    * Scale shape: the batch side (signatures + shingles) is broadcast —
    * a nightly increment is orders of magnitude smaller than the
    * corpus, and broadcasting it means the history side is ONE streamed
    * scan: no shuffle of history signatures, no shuffle of history
    * shingles, no self-join anywhere. For batch ≈ history, union the
    * frames and use [[minhashNearDups]] instead. Exact duplicates
    * WITHIN either side are out of scope by contract (run
    * [[exactByHash]]/[[incremental]] first — the standard pipeline
    * order); identical batch-vs-history texts surface here as
    * jaccard-1.0 pairs.
    */
  def minhashNearDupsAcross(history: DataFrame, batch: DataFrame,
                            textCol: String, idCol: String,
                            shingleSize: Int = 3, k: Int = 32,
                            bands: Int = 16, threshold: Double = 0.8)
      : DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    def shOf(df: DataFrame) = prepTokens(df, textCol, idCol)
      .select(col("id"), shinglesOfTokens(col("__toks"), shingleSize)
        .as("sh"))
    val shH = shOf(history).persist()
    val shB = shOf(batch).persist()
    val bH = bandSignatures(shH, k, bands)
    val bB = bandSignatures(shB, k, bands)
    val cand = bH.as("x")
      .join(broadcast(bB).as("y"), col("x.bucket") === col("y.bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .filter(sigEstimate(k) >= threshold / 2)
      .select(col("id_a"), col("id_b"))
    // candidates are tiny post-prefilter: broadcast them through the
    // history probe so the wide shingle frame streams in place
    verifyJaccard(broadcast(cand)
        .join(shH.select(col("id").as("id_a"), col("sh").as("sh_a")),
          Seq("id_a"))
        .join(broadcast(shB.select(col("id").as("id_b"),
          col("sh").as("sh_b"))), Seq("id_b")),
      threshold)
  }

  /** Embedding-cosine near-duplicate pairs: pairs of rows whose embedding
    * cosine >= threshold, id_a < id_b.
    *
    * Banded sign-LSH candidate generation (the 100 TB shape): each
    * vector lands in `bands` (band, key) buckets of `rowsPerBand`
    * hyperplanes; the self-join runs per bucket, never the n^2 pair
    * space; exact cosine verifies candidates only. Recall for a pair at
    * cosine c is 1 - (1 - (1 - acos(c)/pi)^r)^B — at the near-dup
    * regime (c >= 0.99, defaults B=8 r=4) the miss probability is
    * ~1e-9.
    */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
                        threshold: Double, bands: Int = 8,
                        rowsPerBand: Int = 4,
                        maxBucket: Int = 4096): DataFrame = {
    val v = Similarity.vectors(df, idCol, vecCol)
    // candidate ids only through the capped band join (no vector
    // payload replication per band; an embedding pile-up stars around
    // the bucket-min id); vectors re-attached to the surviving distinct
    // pairs
    val cand = cappedBucketPairs(v.select(col("id"),
        explode(Similarity.lshBandBuckets(col("vec"), bands, rowsPerBand))
          .as("bucket")), maxBucket)
      .dropDuplicates("id_a", "id_b")
    val scored = cand.join(v.as("a"), col("id_a") === col("a.id"))
      .join(v.as("b"), col("id_b") === col("b.id"))
    evalOnce(scored, "cosine", Similarity.cosineOf("a", "b"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** 64-bit SimHash fingerprint over word tokens: for each bit position,
    * sum +1/-1 votes of each token's xxhash64 bit; fingerprint bit = sign.
    * Pure expressions (explode + groupBy) — two shuffles on the id.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashPrepped(prepTokens(df, textCol, idCol))

  /** [[simhash]] over a [[prepTokens]] frame — identical fingerprints
    * (same per-token xxhash64 votes), no text re-scan.
    */
  private[ext] def simhashPrepped(prep: DataFrame): DataFrame = {
    val toks = prep.select(col("id"), explode(col("__toks")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$bit")
    }
    val agg = toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val fp = (0 until 64).map { bit =>
      when(col(s"b$bit") > 0, shiftleft(lit(1L), bit)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agg.select(col("id"), fp.as("simhash"))
  }

  /** Connected components over a near-duplicate pair graph — the step
    * that turns PAIRS into duplicate CLUSTERS (pairwise winner-picking
    * is not transitive: a~b, b~c must collapse to one canonical doc
    * even when a~c was never emitted). Deterministic min-label
    * propagation: every node's label converges to the smallest id in
    * its component, so the canonical representative is reproducible.
    *
    * Scale shape: each iteration is one join + min-aggregation on the
    * edge list; iterations needed = graph diameter in label-hops
    * (near-dup clusters are shallow — crawl dup classes are stars, not
    * chains). Labels persist per iteration and the loop exits on a
    * converged count of zero label changes; `maxIter` bounds the
    * pathological chain. The driver only sees one Boolean per
    * iteration (the changed-count), never the data.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter > 0)
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    val labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint(true)
    // convergence probe: labels are monotonically non-increasing per
    // node (least(own, neighbor-min)), so the label SUM is strictly
    // decreasing until the fixpoint — an unchanged sum IS convergence,
    // with one aggregate per round instead of a self-join diff.
    // Decimal sum: at extreme id x node counts a long sum could wrap.
    // null sum = zero nodes (empty pair graph): already converged
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast(DecimalType(38, 0)))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    Iterate.untilStable(labels, maxIter, labelSum) { labels =>
      // each node adopts the min of (its label, neighbors' labels)
      val neighborMin = sym
        .join(labels.select(col("id").as("src"),
          col("component").as("src_comp")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_comp")).as("neighbor_comp"))
      labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"),
            coalesce(col("neighbor_comp"), col("component")))
            .as("component"))
    }
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the O(log^2 n)-round alternative to [[connectedComponents]]'
    * O(diameter) min-label propagation. Same output contract: (id,
    * component = smallest id in the component) for every node of the
    * pair graph.
    *
    * Why it exists alongside label propagation: near-dup clusters are
    * shallow stars, where label prop already converges in 2–3 rounds —
    * but a 100 TB crawl corpus contains pathological CHAINS (mirror-of-
    * mirror series), and label prop pays one full edge shuffle per hop
    * of the longest chain. Star contraction collapses chains
    * exponentially: each round rewires every node to (towards) its
    * neighborhood minimum, so round count is logarithmic in component
    * size regardless of diameter.
    *
    * Per round each phase is one window-min + filter over the edge
    * frame — no per-node neighbor lists are ever collected (the window
    * runs partitioned by node; a giant hub is a big partition but never
    * a driver-side or single-row aggregate). Edges stay strictly
    * (child > parent)-oriented after the first large-star, the edge
    * count never grows (each input row emits at most one output row per
    * phase), and convergence is probed with a deterministic count +
    * hash-sum fingerprint — one tiny aggregate per round, same pattern
    * as [[connectedComponents]]' label-sum probe.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 15)
      : DataFrame = {
    require(maxIter > 0)
    val w = Window.partitionBy(col("u"))
    // large-star over an UNDIRECTED neighborhood: m = min(N(u) ∪ {u});
    // emit (v, m) for the larger neighbors only
    def largeStar(dir: DataFrame): DataFrame = dir
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
    // small-star over (child > parent)-oriented edges: m = min parent;
    // each edge row emits exactly one edge — the min-parent row rewires
    // u itself, every other row rewires its parent v
    def smallStar(e: DataFrame): DataFrame = e
      .withColumn("m", min(col("v")).over(w))
      .select(when(col("v") === col("m"), col("u")).otherwise(col("v"))
          .as("u"),
        col("m").as("v"))
      .distinct()
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0)))).head()
      (r.getLong(0),
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    val start = pairs
      .select(col("id_a").cast("long").as("u"),
        col("id_b").cast("long").as("v"))
      .localCheckpoint(true)
    // node set from the CHECKPOINTED edges — deriving it from `pairs`
    // would re-run the (possibly expensive) upstream pair generation a
    // second time at the final join
    val nodes = start.select(col("u").as("id"))
      .unionByName(start.select(col("v").as("id"))).distinct()
    // one fingerprint job per round: pairing two rounds per probe was
    // measured SLOWER on this corpus — near-dup components are shallow
    // stars converging in 2-3 rounds, and the extra confirm-pair's two
    // full contraction shuffles cost more than the probes they replace
    val edges = Iterate.untilStable(start, maxIter, fingerprint) { edges =>
      smallStar(largeStar(edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v"))).distinct()))
    }
    // at the fixpoint the edge set IS the star forest (node -> root);
    // roots themselves carry their own id
    nodes.join(edges.select(col("u").as("id"), col("v").as("__c")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs: (id_a, id_b, hamming) for pairs with
    * fingerprint hamming distance <= maxHamming.
    *
    * Candidate generation by the pigeonhole band trick: split the
    * 64-bit fingerprint into `bands` equal bit-slices; two fingerprints
    * within hamming h < bands must agree on >= 1 slice, so the
    * self-join runs on (band index, slice value) buckets — never the
    * n^2 pair space. Requires maxHamming < bands for exactness
    * (8 bands of 8 bits covers h <= 7).
    */
  /** SimHash candidates + exact-jaccard verification: the engine-portable
    * near-dup pair set. SimHash banding only *generates* candidates
    * (hamming <= maxHamming, exact by pigeonhole); the exact shingle
    * jaccard then decides membership, so the result is checkable against
    * an exhaustive-jaccard oracle — and at scale the verify join still
    * touches only candidate pairs, never n^2.
    *
    * SCOPE: documents with >= `minTokens` tokens. A simhash bit flips
    * when its token-vote margin crosses zero, and margins scale with
    * sqrt(n_tokens) — so the fingerprint distance of a true
    * jaccard-0.8 pair is bounded ONLY for long-enough docs (measured on
    * the gate corpus at sf0.1: max hamming 6 at >= 50 tokens, but 16 —
    * unbounded in principle — below 25 tokens). Restricting to long
    * docs is what makes a tight `maxHamming` honest, and a tight
    * maxHamming is what allows few WIDE bands: 8 bands of 8 bits sees
    * 2^-8 of each corpus side per bucket vs 2^-4 for the 16x4 split a
    * hamming-15 envelope would force — 32x fewer junk pairs enumerated.
    * Short docs belong on the MinHash path ([[hybridNearDups]]), whose
    * recall does not depend on document length.
    */
  def simhashNearDupsVerified(df: DataFrame, textCol: String, idCol: String,
                              shingleSize: Int = 3, maxHamming: Int = 7,
                              bands: Int = 8, threshold: Double = 0.8,
                              minTokens: Int = 50)
      : DataFrame =
    simhashVerifiedPrepped(prepTokens(df, textCol, idCol).persist(),
      shingleSize, maxHamming, bands, threshold, minTokens)

  /** [[simhashNearDupsVerified]] over an already-persisted
    * [[prepTokens]] frame (shared-scan entry for [[hybridNearDups]]).
    */
  private[ext] def simhashVerifiedPrepped(prep: DataFrame,
      shingleSize: Int, maxHamming: Int, bands: Int, threshold: Double,
      minTokens: Int): DataFrame = {
    val long = prep.filter(prepTokenCount >= minTokens)
    // the candidate set is orders of magnitude smaller than the corpus:
    // broadcast it through both verify joins so the wide shingle frame
    // is probed in place (never shuffle-sorted with its arrays)
    val cand = broadcast(
      hammingNearDups(simhashPrepped(long), "simhash", "id",
        maxHamming, bands)
      .select(col("id_a"), col("id_b")))
    // persisted: both sides of the verify join probe it — without the
    // persist the shingling runs twice
    val sh = long.select(col("id"),
      shinglesOfTokens(col("__toks"), shingleSize).as("sh")).persist()
    verifyJaccard(broadcast(cand
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a")))
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b")),
      threshold)
  }

  /** Full-corpus near-duplicate pairs by LENGTH-ROUTED candidate
    * generation: long docs (>= minTokens tokens) through the wide-band
    * simhash path, short docs through MinHash-LSH (recall independent
    * of length). The routing is lossless for the pair set: jaccard >=
    * `threshold` bounds the shingle-count ratio by `threshold`, so a
    * pair whose smaller doc is short has BOTH docs under
    * minTokens/threshold tokens — the short path's input includes that
    * slack band, and pairs falling in both paths (both docs inside
    * [minTokens, minTokens/threshold)) collapse in the final distinct.
    * Both paths verify with the same exact jaccard, so the union equals
    * the exhaustive-jaccard pair set (up to the documented ~1e-7
    * banding miss), whichever generator found the pair.
    */
  def hybridNearDups(df: DataFrame, textCol: String, idCol: String,
                     shingleSize: Int = 3, threshold: Double = 0.8,
                     minTokens: Int = 50): DataFrame = {
    // ONE persisted token-prep frame feeds both routes: the corpus text
    // is scanned and tokenized once, and the routing count, MinHash
    // shingles, simhash votes, and both verify joins all derive from it
    // (round-3's independent per-path scans were most of q46's cost).
    val prep = prepTokens(df, textCol, idCol).persist()
    // shingle counts are n-(shingleSize-1); the ratio bound plus the
    // shingle/token offset gives the short path's upper cutoff
    val shortCutoff = ((minTokens - (shingleSize - 1)) / threshold).toInt +
      shingleSize // tokens strictly below this go short
    val short = prep.filter(prepTokenCount < shortCutoff)
    val shortPairs = minhashNearDupsPrepped(short, shingleSize, k = 32,
        bands = 16, threshold = threshold, includeExactDuplicates = true)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val longPairs = simhashVerifiedPrepped(prep, shingleSize,
      maxHamming = 7, bands = 8, threshold = threshold,
      minTokens = minTokens)
    shortPairs.unionByName(longPairs).dropDuplicates("id_a", "id_b")
  }

  /** Hamming-ball pair join over ANY 64-bit fingerprint frame
    * (`idCol`, `fpCol`) — the shared engine under text simhash and
    * perceptual image hashes: split the fingerprint into `bands` equal
    * bit-slices, self-join on (band, slice) buckets (pigeonhole: two
    * fingerprints within hamming h < bands agree on >= 1 slice — never
    * the n^2 pair space), exact bit_count verify inside the join stage.
    */
  def hammingNearDups(fp: DataFrame, fpCol: String, idCol: String,
                      maxHamming: Int, bands: Int,
                      maxBucket: Int = 4096): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands ($maxHamming >= $bands)")
    require(64 % bands == 0, s"bands must divide 64: $bands")
    val width = 64 / bands
    val base = fp.select(col(idCol).as("id"), col(fpCol).as("__fp"))
    val mask = (1L << width) - 1
    val bucketArr = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("__fp"), b * width).bitwiseAND(mask).as("key"))
    }: _*)
    // capped band join: band keys are only 64/bands bits, so a skewed
    // fingerprint population (all-zero slices from blank images,
    // boilerplate simhashes) can flood one (band, key) bucket
    val dist = hamming(col("__fp_a"), col("__fp_b"))
    cappedBucketPairs(base.select(col("id"), col("__fp"),
        explode(bucketArr).as("bucket")), maxBucket, "__fp")
      // hamming BEFORE the pair-dedup: generous maxHamming needs short
      // band keys (64/bands bits), so the band join enumerates a large
      // junk-collision stream; the codegen'd bit_count filter is pushed
      // into both union branches and kills it inside the join stage —
      // deduping first would shuffle ALL of it.
      .filter(dist <= maxHamming)
      .select(col("id_a"), col("id_b"), dist.as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }
}
