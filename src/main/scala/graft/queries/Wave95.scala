package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 95" query set (q472–q474): tokenizer sizing, threshold
  * selection, and index-maintenance health —
  *
  *  - q472 BPE merge-count sweep ([[graft.ops.ext.Bpe]]): one 8-round
  *    training chain, censused at 0/2/4/8 merges — the
  *    subwords-per-word and chars-per-subword curves that size a
  *    tokenizer vocabulary before committing to a full train.
  *  - q473 Youden-J threshold ([[graft.ops.ScaleWindows]] prefix
  *    sums): the optimal operating point argmax_t (TPR−FPR) on the
  *    exact ROC walk — integer-scaled J so the argmax is
  *    engine-portable; thresholds taken at every rank (ties broken by
  *    id, the repo's rank convention).
  *  - q474 IVF assignment drift: assign a held-out "new batch" of
  *    vectors to BASE-trained prototypes and compare per-cell counts
  *    against the base distribution (χ² terms) — the health check that
  *    says when an ANN index needs re-training.
  */
object Wave95Queries {
  import CoreQueries.T

  private val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)"

  // ---------------------------------------------------------------- q472
  /** Corpus-weighted BPE compression curve at 0/2/4/8 merges. */
  def q472(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Bpe
    val words = Bpe.wordFreqs(T(s, dir, "documents"), "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the 8-row merge table IS the tokenizer artifact (driver state by
    // design — same contract as q190); one train, four encode prefixes
    val merges = Bpe.train(words, rounds = 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Seq(0, 2, 4, 8).map { n =>
      Bpe.encode(words.select("word"), merges.take(n))
        .join(words, Seq("word"))
        .agg(lit(n.toLong).as("n_merges"),
          sum(col("freq")).as("total_words"),
          sum(col("freq") * col("n_subwords")).as("total_subwords"),
          sum(col("freq") * length(col("word"))).as("total_chars"))
    }.reduce(_ unionByName _)
      .select(col("n_merges"), col("total_words").cast("long")
          .as("total_words"),
        col("total_subwords").cast("long").as("total_subwords"),
        round(col("total_subwords").cast("double")
          / col("total_words").cast("double"), 6).as("subwords_per_word"),
        round(col("total_chars").cast("double")
          / col("total_subwords").cast("double"), 6)
          .as("chars_per_subword"))
      .orderBy("n_merges")
  }
  val q472Sql: String = {
    def pairs(seg: String) =
      s"""SELECT z[1] AS lhs, z[2] AS rhs, sum(freq) AS cnt FROM (
         |  SELECT freq, unnest(list_zip(list_slice(syms, 1, len(syms)-1),
         |                               list_slice(syms, 2, len(syms)))) AS z
         |  FROM $seg)
         |GROUP BY 1, 2""".stripMargin
    def top(p: String, r: Int) =
      s"""SELECT $r AS round, lhs, rhs, lhs || rhs AS merged, cnt
         |FROM $p ORDER BY cnt DESC, lhs, rhs LIMIT 1""".stripMargin
    def reseg(prev: String, t: String) =
      s"""SELECT word, freq, list_reduce(list_transform(syms, x -> [x]),
         |  (acc, x) -> CASE WHEN acc[-1] = $t.lhs AND x[1] = $t.rhs
         |              THEN list_append(list_slice(acc, 1, len(acc)-1), $t.merged)
         |              ELSE list_concat(acc, x) END) AS syms
         |FROM $prev, $t""".stripMargin
    val chain = (1 to 8).map { r =>
      s"""p$r AS (${pairs(s"seg${r - 1}")}),
         |t$r AS MATERIALIZED (${top(s"p$r", r)}),
         |seg$r AS MATERIALIZED (${reseg(s"seg${r - 1}", s"t$r")})""".stripMargin
    }.mkString(",\n")
    def census(n: Int) =
      s"""SELECT CAST($n AS BIGINT) AS n_merges,
         |  sum(freq)::BIGINT AS total_words,
         |  sum(freq * len(syms))::BIGINT AS total_subwords,
         |  round(sum(freq * len(syms))::DOUBLE / sum(freq), 6)
         |    AS subwords_per_word,
         |  round(sum(freq * length(word))::DOUBLE
         |    / sum(freq * len(syms)), 6) AS chars_per_subword
         |FROM seg$n""".stripMargin
    s"""WITH w AS (SELECT word, count(*) AS freq FROM (
       |    SELECT unnest($toksSql) AS word FROM documents) GROUP BY 1),
       |seg0 AS (SELECT word, freq, string_split(word, '') AS syms FROM w),
       |$chain
       |${Seq(0, 2, 4, 8).map(census).mkString("\nUNION ALL\n")}
       |ORDER BY n_merges""".stripMargin
  }

  // ---------------------------------------------------------------- q473
  /** Youden-J optimal threshold for "is this document English" from
    * the English-stopword ratio: exact ROC walk with thresholds at
    * every rank, J scaled to integers (tp·N − fp·P) so the argmax is
    * exact; prefix sums ride [[graft.ops.ScaleWindows]] (two-level
    * above the small gate — no unbounded global window at any scale).
    */
  def q473(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val enWords = TextAnalysis.StopwordSets("en")
    val toks = TextAnalysis.tokens(col("text"))
    val base = T(s, dir, "documents").select(col("doc_id"),
      (col("lang") === "en").as("pos"),
      round(TextAnalysis.stopwordHits(toks, enWords).cast("double")
        / greatest(size(toks), lit(1)).cast("double"), 6).as("score"))
      .withColumn("negscore", -col("score"))
      .withColumn("p", when(col("pos"), 1L).otherwise(0L))
      .withColumn("n", when(col("pos"), 0L).otherwise(1L))
    val cum = graft.ops.ScaleWindows.globalPrefixSums(base, "negscore",
      Seq("doc_id"), Seq("p" -> "tp", "n" -> "fp"))
    val tot = base.agg(sum("p").as("np"), sum("n").as("nn"))
    cum.crossJoin(broadcast(tot))
      .withColumn("j2", col("tp") * col("nn") - col("fp") * col("np"))
      .orderBy(col("j2").desc, col("negscore"), col("doc_id"))
      .limit(1)
      .select(col("score").as("threshold"), col("tp"), col("fp"),
        round(col("tp").cast("double") / col("np").cast("double"), 6)
          .as("tpr"),
        round(col("fp").cast("double") / col("nn").cast("double"), 6)
          .as("fpr"),
        round(col("tp").cast("double") / col("np").cast("double")
          - col("fp").cast("double") / col("nn").cast("double"), 6)
          .as("youden_j"))
  }
  val q473Sql: String = {
    val en = graft.ops.ext.TextAnalysis.StopwordSets("en")
      .map(w => s"'$w'").mkString(",")
    s"""WITH d AS (SELECT doc_id, lang = 'en' AS pos,
       |    round(len(list_filter(toks, t -> list_contains([$en], t)))::DOUBLE
       |      / greatest(len(toks), 1), 6) AS score
       |  FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)),
       |c AS (SELECT doc_id, score,
       |    sum(CASE WHEN pos THEN 1 ELSE 0 END) OVER w AS tp,
       |    sum(CASE WHEN pos THEN 0 ELSE 1 END) OVER w AS fp
       |  FROM d WINDOW w AS (ORDER BY score DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |tot AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
       |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nn FROM d)
       |SELECT score AS threshold, tp::BIGINT AS tp, fp::BIGINT AS fp,
       |  round(tp::DOUBLE / np, 6) AS tpr,
       |  round(fp::DOUBLE / nn, 6) AS fpr,
       |  round(tp::DOUBLE / np - fp::DOUBLE / nn, 6) AS youden_j
       |FROM c, tot
       |ORDER BY tp * nn - fp * np DESC, score DESC, doc_id LIMIT 1""".stripMargin
  }

  // ---------------------------------------------------------------- q474
  /** Per-cell IVF drift: prototypes from the BASE split (every-50th
    * id offset 1 — all base by construction), both splits assigned,
    * χ² drift terms against base-proportional expectations. Only the
    * prototype set broadcasts.
    */
  def q474(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Similarity
    val c = Similarity.vectors(T(s, dir, "embeddings"), "vec_id", "embedding")
      .withColumn("id", col("id").cast("long"))
      .withColumn("is_new", col("id") % 5 === 0)
    val assigned = Similarity.cells(c, c.filter(col("id") % 50 === 1), 1)
    val cells = assigned.groupBy("cent_id")
      .agg(sum(when(col("is_new"), 0L).otherwise(1L)).as("n_base"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
    val tot = cells.agg(sum("n_base").as("tb"), sum("n_new").as("tn"))
    cells.crossJoin(broadcast(tot))
      .withColumn("expected",
        col("tn").cast("double") * col("n_base").cast("double")
          / col("tb").cast("double"))
      .select(col("cent_id"), col("n_base"), col("n_new"),
        round(col("expected"), 6).as("expected_new"),
        round((col("n_new").cast("double") - col("expected"))
          * (col("n_new").cast("double") - col("expected"))
          / col("expected"), 6).as("chi2_term"))
      .orderBy("cent_id")
  }
  val q474Sql: String =
    """WITH v AS (SELECT vec_id AS id,
      |    [x::DOUBLE for x in embedding] AS vec, vec_id % 5 = 0 AS is_new
      |  FROM embeddings),
      |n AS (SELECT id, vec, is_new,
      |    sqrt(list_reduce(list_transform(vec, x -> x*x), (a,b) -> a+b))
      |      AS nrm FROM v),
      |cents AS (SELECT id AS cent_id, vec AS cv, nrm AS cnrm
      |  FROM n WHERE id % 50 = 1),
      |assign AS (SELECT id, is_new, cent_id FROM (
      |    SELECT n.id, n.is_new, c.cent_id,
      |      row_number() OVER (PARTITION BY n.id ORDER BY
      |        list_reduce(list_transform(range(1, len(n.vec) + 1),
      |          i -> n.vec[i] * c.cv[i]), (x,y) -> x + y)
      |          / (n.nrm * c.cnrm) DESC, c.cent_id) AS r
      |    FROM n, cents c) WHERE r = 1),
      |cells AS (SELECT cent_id,
      |    sum(CASE WHEN is_new THEN 0 ELSE 1 END)::BIGINT AS n_base,
      |    sum(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS n_new
      |  FROM assign GROUP BY 1),
      |tot AS (SELECT sum(n_base) AS tb, sum(n_new) AS tn FROM cells)
      |SELECT cent_id, n_base, n_new,
      |  round(tn::DOUBLE * n_base / tb, 6) AS expected_new,
      |  round((n_new::DOUBLE - tn::DOUBLE * n_base / tb)
      |    * (n_new::DOUBLE - tn::DOUBLE * n_base / tb)
      |    / (tn::DOUBLE * n_base / tb), 6) AS chi2_term
      |FROM cells, tot ORDER BY cent_id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q472_bpe_sweep", q472, q472Sql),
    Query("q473_youden_threshold", q473, q473Sql),
    Query("q474_ivf_drift", q474, q474Sql))
}
