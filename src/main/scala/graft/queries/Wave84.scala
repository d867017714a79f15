package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 84" query set (q440–q442): three training-data
  * curation operators —
  *
  *  - q440 DSIR importance resampling ([[graft.ops.ext.Dsir]]): score
  *    the corpus against a target distribution with hashed-bucket
  *    unigram models; top-100 by exact integer micro-nat score.
  *  - q441 unicode normalization census ([[graft.ops.ext.TextClean
  *    .normalize]]): deterministic typographic noise injected into
  *    every 5th doc, then the rule-by-rule cleanup accounting.
  *  - q442 one-permutation-hashing MinHash ([[graft.ops.ext.Oph]]):
  *    the k×-cheaper signature pass, gated by the q14-pattern
  *    invariant (mutated near-copies must estimate similar).
  */
object Wave84Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q440
  /** DSIR against the English slice as the target: which documents
    * look most target-like under hashed unigram models. Exact integer
    * micro-nat scores (see [[graft.ops.ext.Dsir]] determinism notes),
    * rank tie-broken by doc id.
    */
  def q440(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.ops.ext.Dsir.importanceTopN(docs,
        docs.filter(col("lang") === "en"), "text", "doc_id", topN = 100)
      .orderBy("rank")
  }
  val q440Sql: String = {
    val bucket = (t: String) =>
      s"(instr('0123456789abcdef', substr(md5($t), 1, 1)) - 1) * 16 + " +
        s"instr('0123456789abcdef', substr(md5($t), 2, 1)) - 1"
    s"""WITH ctoks AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |      t -> len(t)>0)) AS tok
       |  FROM documents),
       |cb AS (SELECT doc_id, ${bucket("tok")} AS b FROM ctoks),
       |cs AS (SELECT b, CAST(count(*) AS BIGINT) AS cs FROM cb GROUP BY 1),
       |tb AS (SELECT ${bucket("tok")} AS b FROM
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
       |  FROM cb JOIN w USING (b) GROUP BY 1),
       |ranked AS (SELECT doc_id, n_tokens, score_micro,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
       |      AS BIGINT) AS rank
       |  FROM sc)
       |SELECT doc_id, n_tokens, score_micro, rank FROM ranked
       |WHERE rank <= 100 ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- q441
  /** Normalization census: every 5th doc gets deterministic
    * typographic noise (curly quotes, ellipsis, zero-width space,
    * en-dash, a tab run), then [[graft.ops.ext.TextClean.normalize]]
    * cleans the corpus and the census sums per-rule match counts and
    * the cleaned length — one row, all exact integers.
    */
  private val noisePrefix = "\u201Cq\u201D \u2026 "
  private val noiseSuffix = "  x\u200B \u2013\ty"
  def q441(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextClean
    val noisy = T(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit(noisePrefix), col("text"), lit(noiseSuffix)))
        .otherwise(col("text")).as("text"))
    val perDoc = noisy.select(
      (TextClean.normCounts(col("text")) :+
        length(TextClean.normalize(col("text"))).cast("long")
          .as("norm_len")): _*)
    val sums = graft.ops.ext.TextClean.NormRules.map { case (r, _, _) =>
      sum(col(s"n_$r")).cast("long").as(s"n_$r")
    } :+ sum(col("norm_len")).cast("long").as("total_norm_len")
    perDoc.agg(count(lit(1)).cast("long").as("n_docs"), sums: _*)
      .select((col("n_docs") +: graft.ops.ext.TextClean.NormRules.map {
        case (r, _, _) => col(s"n_$r") } :+ col("total_norm_len")): _*)
  }
  val q441Sql: String = {
    import graft.ops.ext.TextClean
    def sqlLit(v: String) = "'" + v.replace("'", "''") + "'"
    // progressively-normalized stages, mirroring normCounts
    val stages = TextClean.NormRules.scanLeft("text") {
      case (acc, (_, pat, repl)) =>
        s"regexp_replace($acc, ${sqlLit(pat)}, ${sqlLit(repl)}, 'g')"
    }
    val countCols = TextClean.NormRules.zip(stages).map {
      case ((rule, pat, _), stageIn) =>
        s"CAST(sum(len(regexp_extract_all($stageIn, ${sqlLit(pat)})))" +
          s" AS BIGINT) AS n_$rule"
    }
    val normChain = stages.last
    s"""WITH noisy AS (SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN
       |      ${sqlLit(noisePrefix)} || text || ${sqlLit(noiseSuffix)}
       |    ELSE text END AS text
       |  FROM documents)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  ${countCols.mkString(",\n  ")},
       |  CAST(sum(length($normChain)) AS BIGINT) AS total_norm_len
       |FROM noisy""".stripMargin
  }

  // ---------------------------------------------------------------- q442
  /** OPH INVARIANT gate (the q14 SimHash pattern — xxhash64 bits are
    * not SQL-portable): every injected near-dup pair (doc vs
    * doc-minus-2-tokens, originals with ≥ 20 tokens so the mutation
    * is real and enough of the 32 bins are defined) must estimate
    * jaccard ≥ 0.3 from the one-permutation signatures. True jaccard
    * of these pairs is ≥ ~0.7; a broken OPH (bin misassignment, bad
    * min, misaligned zip) collapses the estimate to ~0 and flips the
    * rows to false.
    */
  def q442(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.{Oph, TextAnalysis}
    val corpus = ExtQueries.nearDupCorpus(s, dir)
    // single-pass grouped signature build (the corpus-scale form; the
    // expression form costs k array walks per row — measured 8.9 s vs
    // ~1 s at sf0.1)
    val fp = Oph.signatures(corpus, "text", "doc_id",
        shingleSize = 3, k = 32)
      .join(corpus.select(col("doc_id").as("id"),
        TextAnalysis.tokenCount(col("text")).as("nt")), "id")
    fp.as("a").join(fp.as("b"), col("b.id") === col("a.id") + 1000000L)
      .filter(col("a.nt") >= 20)
      .select(col("a.id").as("doc_id"),
        (Oph.simEstimate(col("a.sig"), col("b.sig")) >= 0.3).as("close"))
      .orderBy("doc_id")
  }
  val q442Sql: String =
    """SELECT doc_id, CAST(1 AS BOOLEAN) AS close
      |FROM documents
      |WHERE doc_id % 10 = 0
      |  AND len(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |        t -> len(t)>0)) >= 20
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q440_dsir_importance", q440, q440Sql),
    Query("q441_normalize_census", q441, q441Sql),
    Query("q442_oph_minhash", q442, q442Sql))
}
