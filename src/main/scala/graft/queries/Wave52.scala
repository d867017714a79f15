package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 52" query set (q361–q364): estimation theory —
  * capture-recapture population estimates, vocabulary coverage
  * (Chao1 / Good–Turing), Simpson diversity, and a birthday-bound
  * hash-collision audit. Same contract as every wave: DuckDB oracle
  * per query, exact integer counts into one final fixed-shape double.
  */
object Wave52Queries {
  import CoreQueries.T

  private val tokSql =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> len(t)>0)"

  // ---------------------------------------------------------------- q361
  /** Capture-recapture population estimate: users active in the first
    * half-month are the marked sample, second-half actives the
    * recapture; Lincoln–Petersen n₁n₂/m and the bias-corrected
    * Chapman (n₁+1)(n₂+1)/(m+1) − 1 estimate the total population —
    * the mark-recapture trick a pipeline uses to estimate TOTAL
    * distinct entities from two overlapping observation windows
    * (including dedup-universe sizing). True N reported beside for
    * the error column.
    */
  def q361(s: SparkSession, dir: String): DataFrame = {
    val act = ExtQueries.events(s, dir).select(col("user_id"),
      (datediff(date_trunc("day", col("ts")).cast("date"),
        lit("2024-01-01").cast("date"))).cast("long").as("d0"))
    val a = act.filter(col("d0") < 15).select("user_id").distinct()
    val b = act.filter(col("d0") >= 15).select("user_id").distinct()
    val m = a.join(b, Seq("user_id")).agg(count(lit(1)).as("m"))
    val n1 = a.agg(count(lit(1)).as("n1"))
    val n2 = b.agg(count(lit(1)).as("n2"))
    val truth = act.select("user_id").distinct()
      .agg(count(lit(1)).as("n_true"))
    n1.crossJoin(n2).crossJoin(m).crossJoin(truth)
      .select(col("n1"), col("n2"), col("m"), col("n_true"),
        round(col("n1").cast("double") * col("n2").cast("double")
          / col("m").cast("double"), 6).as("lincoln_petersen"),
        round((col("n1") + 1).cast("double") * (col("n2") + 1)
          .cast("double") / (col("m") + 1).cast("double") - 1.0, 6)
          .as("chapman"))
  }
  val q361Sql: String =
    """WITH act AS (SELECT user_id,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS d0
      |  FROM events),
      |a AS (SELECT DISTINCT user_id FROM act WHERE d0 < 15),
      |b AS (SELECT DISTINCT user_id FROM act WHERE d0 >= 15),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m
      |  FROM a JOIN b USING (user_id)),
      |nn1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM a),
      |nn2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM b),
      |tr AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
      |  FROM act)
      |SELECT n1, n2, m, n_true,
      |  round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |    / CAST(m AS DOUBLE), 6) AS lincoln_petersen,
      |  round(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
      |    / CAST(m + 1 AS DOUBLE) - 1.0e0, 6) AS chapman
      |FROM nn1, nn2, mm, tr""".stripMargin

  // ---------------------------------------------------------------- q362
  /** Vocabulary coverage card: V, singletons f₁, doubletons f₂, Chao1
    * richness V + f₁²/(2f₂) and the Good–Turing unseen-mass estimate
    * f₁/N — "how much vocabulary has this corpus NOT seen yet", the
    * open-vocabulary companion to Heaps' law (q267) and the OOV rate
    * (q94). All counts exact; two final divisions.
    */
  def q362(s: SparkSession, dir: String): DataFrame = {
    val freq = T(s, dir, "documents")
      .select(explode(graft.ops.ext.TextAnalysis.tokens(col("text")))
        .as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    freq.agg(count(lit(1)).as("v"), sum("c").as("n"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("v"), col("n"), col("f1"), col("f2"),
        round(col("v").cast("double")
          + when(col("f2") > 0, col("f1").cast("double")
              * col("f1").cast("double")
              / (lit(2.0) * col("f2").cast("double")))
            .otherwise(col("f1").cast("double")
              * (col("f1") - 1).cast("double") / lit(2.0)), 6)
          .as("chao1"),
        round(col("f1").cast("double") / col("n").cast("double"), 6)
          .as("gt_unseen_mass"))
  }
  val q362Sql: String =
    s"""WITH freq AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest($tokSql) AS t FROM documents) GROUP BY t),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS v,
       |    CAST(sum(c) AS BIGINT) AS n,
       |    CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS f1,
       |    CAST(count(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS f2
       |  FROM freq)
       |SELECT v, n, f1, f2,
       |  round(CAST(v AS DOUBLE) + CASE WHEN f2 > 0
       |    THEN CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE)
       |      / (2.0e0 * CAST(f2 AS DOUBLE))
       |    ELSE CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE) / 2.0e0 END,
       |    6) AS chao1,
       |  round(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
       |    AS gt_unseen_mass
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------- q363
  /** Simpson diversity per source: the unbiased Σc(c−1)/(n(n−1)) —
    * EXACT integers until one division — with Gini–Simpson (1−D),
    * effective vocabulary 1/D, and Berger–Parker dominance max(c)/n —
    * the concentration card beside Shannon entropy (q143) and the
    * balance card (q356).
    */
  def q363(s: SparkSession, dir: String): DataFrame = {
    val gc = T(s, dir, "documents")
      .select(col("source"),
        explode(graft.ops.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    gc.groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("c").as("n"),
        sum(col("c") * (col("c") - 1)).as("scc"), max("c").as("cmax"))
      .select(col("source"), col("vocab"), col("n"),
        round(col("scc").cast("double")
          / (col("n").cast("double") * (col("n") - 1).cast("double")), 6)
          .as("simpson_d"),
        round(lit(1.0) - col("scc").cast("double")
          / (col("n").cast("double") * (col("n") - 1).cast("double")), 6)
          .as("gini_simpson"),
        round((col("n").cast("double") * (col("n") - 1).cast("double"))
          / col("scc").cast("double"), 6).as("effective_vocab"),
        round(col("cmax").cast("double") / col("n").cast("double"), 6)
          .as("berger_parker"))
      .orderBy("source")
  }
  val q363Sql: String =
    s"""WITH gc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($tokSql) AS t FROM documents)
       |  GROUP BY source, t),
       |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(c * (c - 1)) AS BIGINT) AS scc,
       |    CAST(max(c) AS BIGINT) AS cmax
       |  FROM gc GROUP BY source)
       |SELECT source, vocab, n,
       |  round(CAST(scc AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) AS simpson_d,
       |  round(1.0e0 - CAST(scc AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6)
       |    AS gini_simpson,
       |  round((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
       |    / CAST(scc AS DOUBLE), 6) AS effective_vocab,
       |  round(CAST(cmax AS DOUBLE) / CAST(n AS DOUBLE), 6)
       |    AS berger_parker
       |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q364
  /** Birthday-bound hash-collision audit: order keys hashed to a
    * 24-bit md5 prefix — observed colliding keys (n − distinct
    * buckets) beside the birthday approximation n(n−1)/2^25 — the
    * "is this hash width wide enough" pre-flight before any
    * hash-keyed layout (feature hashing q223, shard routing q304)
    * commits to a width. Counts exact; the expectation is the only
    * float.
    */
  def q364(s: SparkSession, dir: String): DataFrame = {
    val h = T(s, dir, "orders").select(col("o_orderkey"))
      .withColumn("h",
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 6),
          16, 10).cast("long"))
    h.agg(count(lit(1)).as("n"), count_distinct(col("h")).as("distinct_h"))
      .select(col("n"), lit(16777216L).as("space"), col("distinct_h"),
        (col("n") - col("distinct_h")).as("colliding"),
        round(col("n").cast("double") * (col("n") - 1).cast("double")
          / lit(33554432.0), 6).as("expected_collisions"))
  }
  val q364Sql: String =
    """WITH h AS (SELECT o_orderkey,
      |    ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 6))::BIGINT AS h
      |  FROM orders),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT h) AS BIGINT) AS distinct_h
      |  FROM h)
      |SELECT n, 16777216::BIGINT AS space, distinct_h,
      |  n - distinct_h AS colliding,
      |  round(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
      |    / 33554432.0e0, 6) AS expected_collisions
      |FROM agg""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q361_capture_recapture", q361, q361Sql),
    Query("q362_vocab_coverage", q362, q362Sql),
    Query("q363_simpson_diversity", q363, q363Sql),
    Query("q364_hash_collision_audit", q364, q364Sql))
}
