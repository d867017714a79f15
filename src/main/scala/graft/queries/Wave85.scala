package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 85" query set (q443–q444): compositions of the new
  * wave-84 operators with the rest of the engine —
  *
  *  - q443: DSIR bucket counts maintained O(delta) off the table log's
  *    change feed (the q434 incremental-MV pattern applied to the
  *    importance-model sufficient statistic), proven equal to the full
  *    recompute.
  *  - q444: OPH-LSH recall audit (the q208 pattern for the
  *    one-permutation signatures): single-bin bucket candidates must
  *    catch every exact-jaccard ≥ 0.8 pair on a bounded exhaustive
  *    slice — r = 1 banding's miss probability at that similarity is
  *    ~(1−j)^bins ≈ 1e-20, so asserting recall 1.0 is safe, and a
  *    broken signature (bin misassignment, wrong min) collapses
  *    recall and fails the hash.
  */
object Wave85Queries {
  import CoreQueries.{T, rmTree}

  private val bucketSql =
    "(instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16 + " +
      "instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1"

  // ---------------------------------------------------------------- q443
  /** Incremental importance-model maintenance: documents land in the
    * table log in two commits; the 256-bucket token-count table (the
    * DSIR sufficient statistic) is seeded from v1 and folded forward
    * with the v1→v2 change feed — each refresh scans ONLY the appended
    * directories. The census proves the incremental table equals the
    * full v2 recompute bucket-for-bucket, count-for-count.
    */
  def q443(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.ext.Dsir
    val table = CoreQueries.fixDir(dir) + "/txlog_dsir"
    rmTree(table)
    val docs = T(s, dir, "documents").select("doc_id", "text")
    graft.io.TxLog.commit(s, table, docs.filter(col("doc_id") % 3 =!= 0))
    graft.io.TxLog.commit(s, table, docs.filter(col("doc_id") % 3 === 0))
    val seed = Dsir.bucketCounts(
      graft.io.TxLog.read(s, table, Some(1)), "text")
    val delta = Dsir.bucketCounts(
      graft.io.TxLog.readChanges(s, table, 1, 2), "text")
    val inc = seed.unionByName(delta)
      .groupBy("__b").agg(sum("cnt").as("cnt"))
    val full = Dsir.bucketCounts(graft.io.TxLog.read(s, table), "text")
    val matches =
      full.join(inc, Seq("__b", "cnt")).count() == full.count()
    val tot = full.agg(count(lit(1)), sum("cnt")).head()
    Seq((tot.getLong(0), matches, tot.getLong(1)))
      .toDF("n_buckets", "inc_matches_full", "total_tokens")
  }
  val q443Sql: String =
    s"""WITH tok AS (SELECT $bucketSql AS b FROM
       |  (SELECT unnest(list_filter(string_split_regex(lower(text),
       |     '[^a-z0-9]+'), t -> len(t)>0)) AS tok FROM documents))
       |SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_buckets,
       |  CAST(1 AS BOOLEAN) AS inc_matches_full,
       |  CAST(count(*) AS BIGINT) AS total_tokens
       |FROM tok""".stripMargin

  // ---------------------------------------------------------------- q444
  /** OPH-LSH recall audit on the bounded slice (originals and mutated
    * copies with doc_id % 1e6 < 2000): exhaustive exact pairs vs the
    * single-bin bucket-join candidates. Output one row
    * (n_true, n_caught, recall).
    */
  def q444(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.ext.{Dedup, Oph}
    val slice = ExtQueries.nearDupCorpus(s, dir)
      .filter(pmod(col("doc_id"), lit(1000000L)) < 2000)
    val sh = slice.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh")).persist()
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    // exhaustive truth via the inverted-index candidate join (the
    // q92 exactness contract: any pair at jaccard ≥ 0.8 > 0 shares
    // ≥ 1 shingle, so shared-shingle candidates + exact verification
    // IS the exhaustive pair set) — the literal |slice|² crossJoin
    // this replaces computed full-array jaccard on every one of the
    // ~2.4M ordered pairs and was 36.2 s of bench time at sf0.1;
    // candidates here are Σdf² over the bounded slice's shingles
    val ex = sh.select(col("id"), explode(col("sh")).as("h"))
    val candTruth = ex.as("ta").join(ex.as("tb"),
        col("ta.h") === col("tb.h") && col("ta.id") < col("tb.id"))
      .select(col("ta.id").as("id_a"), col("tb.id").as("id_b"))
      .distinct()
    val truth = candTruth
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
      .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.8)
      .select("id_a", "id_b").persist()
    val base = Oph.signatures(slice, "text", "doc_id",
      shingleSize = 3, k = 32)
    val cand = base.select(col("id"),
      explode(filter(transform(sequence(lit(0), lit(31)),
          i => struct(i.as("bin"), get(col("sig"), i).as("key"))),
        st => st.getField("key").isNotNull)).as("bk"))
      .select(col("id"), col("bk.bin").as("bin"), col("bk.key").as("key"))
    val pairs = cand.as("x").join(cand.as("y"),
        col("x.bin") === col("y.bin") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val nTrue = truth.count()
    val nCaught = truth.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
    val recall =
      if (nTrue == 0) 1.0
      else math.rint(nCaught.toDouble / nTrue * 1e6) / 1e6
    Seq((nTrue, nCaught, recall)).toDF("n_true", "n_caught", "recall")
  }
  val q444Sql: String =
    s"""WITH corpus AS (${ExtQueries.nearDupCorpusSql}),
       |slice AS (SELECT * FROM corpus WHERE doc_id % 1000000 < 2000),
       |sh AS (SELECT doc_id, ${ExtQueries.shinglesSql} AS sh
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |            t -> len(t)>0) AS toks
       |        FROM slice)),
       |t AS (SELECT count(*)::BIGINT AS n_true
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
       |        >= 0.8)
       |SELECT n_true, n_true AS n_caught, 1.0e0 AS recall FROM t""".stripMargin

  // ---------------------------------------------------------------- q445
  /** The full OPH near-dup pipeline against the SAME exhaustive truth
    * as q13: [[graft.ops.ext.Oph.nearDups]] must reproduce the exact
    * jaccard ≥ 0.8 pair set discovered by classic MinHash-LSH — a
    * second, k×-cheaper engine path value-checked by the identical
    * oracle (short-doc inverted-index fallback makes its recall exact
    * where r = 1 banding alone would be probabilistic).
    */
  def q445(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Oph.nearDups(ExtQueries.nearDupCorpus(s, dir),
        "text", "doc_id", shingleSize = 3, k = 32, threshold = 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy("id_a", "id_b")
  val q445Sql: String = ExtQueries.q13Sql

  // ---------------------------------------------------------------- q446
  /** Per-source DSIR mixture diagnostic: the corpus-wide importance
    * scores rolled up by source — the table a mixture designer reads
    * to decide which sources to up/down-sample toward the target
    * distribution. Exact integer micro-nat sums; the mean is one
    * fixed-shape division rounded 6 dp.
    */
  def q446(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Dsir
    val docs = T(s, dir, "documents")
    val scores = Dsir.importanceScores(docs,
      docs.filter(col("lang") === "en"), "text", "doc_id")
    docs.select(col("doc_id"), col("source")).join(scores, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("score_micro").as("sum_micro"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("sum_micro"),
        round(col("sum_micro").cast("double") / lit(1e6)
          / col("n_docs").cast("double"), 6).as("mean_nats"))
      .orderBy("source")
  }
  val q446Sql: String = {
    val bucket =
      "(instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16 + " +
        "instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1"
    s"""WITH ctoks AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |      t -> len(t)>0)) AS tok
       |  FROM documents),
       |cb AS (SELECT doc_id, $bucket AS b FROM ctoks),
       |cs AS (SELECT b, CAST(count(*) AS BIGINT) AS cs FROM cb GROUP BY 1),
       |tb AS (SELECT $bucket AS b FROM
       |  (SELECT unnest(list_filter(string_split_regex(lower(text),
       |     '[^a-z0-9]+'), t -> len(t)>0)) AS tok
       |   FROM documents WHERE lang = 'en')),
       |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb GROUP BY 1),
       |w AS (SELECT r.range AS b,
       |    CAST(floor(round(ln((coalesce(ct.ct, 0) + 1)::DOUBLE /
       |      (coalesce(cs.cs, 0) + 1)::DOUBLE), 6) * 1000000.0e0 + 0.5e0)
       |      AS BIGINT) AS w
       |  FROM range(0, 256) r
       |  LEFT JOIN cs ON cs.b = r.range LEFT JOIN ct ON ct.b = r.range),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(w) AS BIGINT) AS score_micro
       |  FROM cb JOIN w USING (b) GROUP BY 1)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(sc.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(sc.score_micro) AS BIGINT) AS sum_micro,
       |  round(CAST(sum(sc.score_micro) AS DOUBLE) / 1000000.0e0
       |    / CAST(count(*) AS DOUBLE), 6) AS mean_nats
       |FROM sc JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q443_dsir_incremental", q443, q443Sql),
    Query("q444_oph_recall", q444, q444Sql),
    Query("q445_oph_neardup", q445, q445Sql),
    Query("q446_dsir_mixture", q446, q446Sql))
}
