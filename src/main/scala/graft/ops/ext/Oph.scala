package graft.ops.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** One-Permutation Hashing MinHash (Li, Owen & Zhang, NIPS 2012): the
  * k-hash MinHash signature from ONE hash evaluation per shingle —
  * each shingle hashes once, the hash space is split into k bins by
  * `hash mod k`, and the signature is the per-bin minimum. Classic
  * MinHash evaluates k independent hashes per shingle; OPH is k×
  * cheaper on the scan side, which is the difference that matters when
  * the corpus is 100 TB and the signature pass is a full-data scan.
  *
  * Empty bins (short documents) are left NULL and similarity is
  * estimated over the bins BOTH signatures define — the "no
  * densification" estimator, unbiased for the matched-bin count and
  * honest about its reduced precision on short docs (callers gate on
  * token count; [[Dedup.minhashNearDups]] remains the
  * high-precision path where exact verification follows anyway).
  *
  * The underlying hash is Spark's xxhash64 — engine-native and not
  * SQL-portable, so query-level checks use the INVARIANT-oracle
  * pattern (the q14 SimHash precedent): assert what makes the sketch
  * useful (mutated near-copies estimate high similarity) rather than
  * replaying bits in the oracle engine.
  */
object Oph {

  /** k-bin OPH signature of `textCol`'s `shingleSize`-gram set:
    * `array<bigint>` of length k, NULL where a bin saw no shingle.
    * Pure expression tree (codegen'd) — no shuffle, no UDF. NOTE: the
    * expression form walks the shingle array k times (O(k·|sh|) per
    * row) — fine for ad-hoc column use; corpus-scale signature passes
    * should use [[signatures]], whose grouped form is single-pass.
    */
  def signature(text: Column, shingleSize: Int, k: Int): Column = {
    require(k >= 2)
    val hashes = transform(Dedup.shingles(text, shingleSize),
      s => xxhash64(s))
    transform(sequence(lit(0), lit(k - 1)),
      b => array_min(filter(hashes, h => pmod(h, lit(k)) === b)))
  }

  /** Corpus-scale OPH signature pass: (id, sig) with the same values
    * as [[signature]], built the
    * [[Dedup.bandSignatures]] way — explode shingles, ONE xxhash64 per
    * shingle, k conditional `min` aggregations in a single
    * map-side-combined groupBy (the shuffle carries k longs per doc,
    * and each shingle is touched once instead of k times). Documents
    * whose shingle set is empty do not appear (no bins defined —
    * [[simEstimate]] would be NULL against anything anyway).
    */
  def signatures(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, shingleSize: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 2)
    val hashed = df
      .select(col(idCol).as("id"),
        explode(Dedup.shingles(col(textCol), shingleSize)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
    val aggs = (0 until k).map(i =>
      min(when(pmod(col("h"), lit(k)) === i, col("h"))).as(s"m$i"))
    hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** OPH-LSH near-duplicate pairs — the same output contract as
    * [[Dedup.minhashNearDups]] (id_a < id_b, exact shingle-jaccard ≥
    * threshold, jaccard rounded 6 dp) discovered through the k×
    * cheaper signatures. Candidate generation:
    *
    *  - LONG docs: two ids are candidates when any bin holds the same
    *    minimum (r = 1 banding over k bins). With ~k mutually-defined
    *    bins the miss probability at j ≥ 0.8 is (1−j)^~k ≈ 1e-22 —
    *    deterministic in practice.
    *  - SHORT docs (< `shortDocShingles` shingles — too few to define
    *    enough bins for that bound): every shingle is its own
    *    candidate key (a bounded inverted index — short docs carry few
    *    keys by definition). Any true pair shares ≥ 1 shingle, so
    *    recall over the short slice is exact. The default threshold
    *    (k/2) keeps ≥ ~12 mutually-defined bins on the bin path —
    *    miss ≤ (1−0.8)^12 ≈ 4e-9, the q13 banding class — while
    *    routing only genuinely tiny docs through the inverted index
    *    (a generous threshold quietly turns the whole corpus into a
    *    shingle-posting join: measured 4× slower at sf0.1).
    *
    * Buckets over `maxBucket` members are dropped whole (boilerplate
    * hubs; at any tested scale no legitimate bucket approaches it).
    * This is a different contract from the [[Dedup]] cap, which keeps
    * an oversized bucket connected as a star around its minimal member:
    * every key here is ONE shingle hash (a bin minimum or a short-doc
    * shingle), so a hub is a stop-shingle rather than a duplicate
    * cluster. Exact jaccard verification runs on candidates only; the
    * pair space is never materialized.
    */
  def nearDups(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, shingleSize: Int = 3, k: Int = 32,
      threshold: Double = 0.8, shortDocShingles: Int = 16,
      maxBucket: Int = 4096): org.apache.spark.sql.DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      Dedup.shingles(col(textCol), shingleSize).as("sh")).persist()
    // per-(doc, bin) minima straight off the persisted shingle frame —
    // one tokenize+shingle pass total, shared with the verify join
    val hashed = sh.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
    val minAggs = (0 until k).map(i =>
      min(when(pmod(col("h"), lit(k)) === i, col("h"))).as(s"m$i"))
    val sigRows = hashed.groupBy("id").agg(minAggs.head, minAggs.tail: _*)
    val binKeys = sigRows.select(col("id"),
      explode(filter(array((0 until k).map(i =>
          struct(lit(i.toLong).as("bin"), col(s"m$i").as("key"))): _*),
        st => st.getField("key").isNotNull)).as("bk"))
      .select(col("id"), col("bk.bin").as("bin"), col("bk.key").as("key"))
    val shortKeys = sh.filter(size(col("sh")) < shortDocShingles)
      .select(col("id"), explode(col("sh")).as("key"))
      .withColumn("bin", lit(-1L))
      .select(col("id"), col("bin"), col("key"))
    val keys = binKeys.unionByName(shortKeys)
    // hub cap via a bucket-partitioned window — one PINNED shuffle
    // (Dedup.pinBucketParallelism: AQE would fold the slim keys frame
    // to ~1 partition and put the bucket join's ~fan-out² inside a
    // one-task stage), reused by the cap window AND the self-join.
    val pinned = Dedup.pinBucketParallelism(keys, "bin", "key")
    val capped = pinned.withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bin", "key")))
      .filter(col("__n") <= maxBucket).drop("__n")
    val l = capped.select(col("bin"), col("key"), col("id").as("id_a"))
    val r = capped.select(col("bin"), col("key"), col("id").as("id_b"))
    val cand = l.join(r, Seq("bin", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verify via Dedup.verifyJaccard: |a ∩ b| once behind the
    // Generate barrier, union by set arithmetic — the round-9 advice finding
    // (threshold predicate re-inlined into the join condition, set ops
    // run 2-3x per candidate) fixed for real this time; interleaved A/B
    // in OPTIMIZATION_r10.md: this verify stage 5.7 → ~1 s at sf0.1.
    Dedup.verifyJaccard(cand
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b"),
        threshold)
      .withColumn("jaccard", round(col("jaccard"), 6))
  }

  /** Estimated jaccard from two OPH signatures: matched bins over
    * mutually-defined bins; NULL when no bin is defined on both sides.
    */
  def simEstimate(a: Column, b: Column): Column = {
    val both = zip_with(a, b, (x, y) => x.isNotNull && y.isNotNull)
    val eq = zip_with(a, b,
      (x, y) => x.isNotNull && y.isNotNull && x === y)
    val defined = size(filter(both, v => v))
    when(defined > 0,
      size(filter(eq, v => v)).cast("double") / defined.cast("double"))
  }
}
