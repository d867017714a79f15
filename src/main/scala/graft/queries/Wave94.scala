package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 94" query set (q469–q471): composite layout keys,
  * language-mix detection, and an end-to-end retrieval needle test —
  *
  *  - q469 3-column Morton layout ([[graft.io.Layout.zorderKeyN]]):
  *    round-robin interleave over (price, quantity, discount) buckets;
  *    the per-run bounding-BOX census shows pruning power extends to a
  *    third filter column.
  *  - q470 code-switching census ([[graft.ops.ext.TextAnalysis
  *    .codeSwitch]]): per-document quarter-wise language ID — the gate
  *    that catches glued documents and second-language boilerplate
  *    that whole-document langid admits.
  *  - q471 RAG needle eval: chunk the corpus ([[graft.ops.ext.Chunking
  *    .fixedTokenChunks]]), retrieve with BM25 ([[graft.ops.ext
  *    .Retrieval.bm25TopK]]) using an 8-token verbatim excerpt of a
  *    known document, score with exact average precision
  *    ([[graft.ops.ext.Eval.averagePrecision]]) against "chunk comes
  *    from the needle's document" — the standard passage-retrieval
  *    sanity test, composed end-to-end from the suite's own operators.
  */
object Wave94Queries {
  import CoreQueries.T

  private val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)"

  // ---------------------------------------------------------------- q469
  /** 3-D Morton runs over (price, quantity, discount-cents) buckets:
    * 4096-key runs; per-curve file count and total/max box volume.
    */
  def q469(s: SparkSession, dir: String): DataFrame = {
    val pa = least(floor(col("l_extendedprice") / lit(1000.0)), lit(255.0))
      .cast("long")
    val qb = least(floor(col("l_quantity")), lit(255.0)).cast("long")
    val db = least(floor(col("l_discount") * 100.0), lit(255.0))
      .cast("long")
    val key = graft.io.Layout.zorderKeyN(Seq(col("pa"), col("qb"),
      col("db")), bits = 8)
    T(s, dir, "lineitem").select(pa.as("pa"), qb.as("qb"), db.as("db"))
      .select(shiftright(key, 12).as("file"), col("pa"), col("qb"),
        col("db"))
      .groupBy("file")
      .agg(count(lit(1)).as("rows"),
        ((max("pa") - min("pa") + 1) * (max("qb") - min("qb") + 1)
          * (max("db") - min("db") + 1)).as("vol"))
      .agg(count(lit(1)).as("n_files"), sum("rows").as("n_rows"),
        sum("vol").as("sum_vol"), max("vol").as("max_vol"))
  }
  val q469Sql: String = {
    val terms = (0 until 8).flatMap { i =>
      Seq(s"(((pa >> $i) & 1) * ${1L << (3 * i)})",
        s"(((qb >> $i) & 1) * ${1L << (3 * i + 1)})",
        s"(((db >> $i) & 1) * ${1L << (3 * i + 2)})")
    }.mkString(" + ")
    s"""WITH m AS (
       |  SELECT CAST(least(floor(l_extendedprice / 1000.0e0), 255.0e0)
       |           AS BIGINT) AS pa,
       |         CAST(least(floor(l_quantity), 255.0e0) AS BIGINT) AS qb,
       |         CAST(least(floor(l_discount * 100.0e0), 255.0e0)
       |           AS BIGINT) AS db
       |  FROM lineitem),
       |f AS (SELECT ($terms) >> 12 AS file, pa, qb, db FROM m),
       |r AS (SELECT file, count(*) AS rows,
       |    (max(pa) - min(pa) + 1) * (max(qb) - min(qb) + 1)
       |      * (max(db) - min(db) + 1) AS vol
       |  FROM f GROUP BY 1)
       |SELECT count(*)::BIGINT AS n_files, sum(rows)::BIGINT AS n_rows,
       |  sum(vol)::BIGINT AS sum_vol, max(vol)::BIGINT AS max_vol
       |FROM r""".stripMargin
  }

  // ---------------------------------------------------------------- q470
  /** Quarter-wise language ID per document + mix flag. */
  def q470(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.codeSwitch(
      T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  val q470Sql: String = {
    import graft.ops.ext.TextAnalysis.StopwordSets
    def hits(lang: String, listExpr: String): String = {
      val words = StopwordSets(lang).map(w => s"'$w'").mkString(",")
      s"len(list_filter($listExpr, t -> list_contains([$words], t)))"
    }
    def langCase(q: String): String = {
      val all = Seq("en", "de", "fr", "es").map(hits(_, q)).mkString(", ")
      s"""CASE WHEN greatest($all) = 0 THEN 'und'
         |  WHEN ${hits("fr", q)} = greatest($all) THEN 'fr'
         |  WHEN ${hits("es", q)} = greatest($all) THEN 'es'
         |  WHEN ${hits("en", q)} = greatest($all) THEN 'en'
         |  ELSE 'de' END""".stripMargin
    }
    val quarters = (0 until 4).map { i =>
      s"${langCase(s"toks[qlen * $i + 1 : qlen * ($i + 1)]")} AS lang_q${i + 1}"
    }.mkString(",\n")
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |q AS (SELECT doc_id, toks, (len(toks) + 3) // 4 AS qlen FROM tok),
       |l AS (SELECT doc_id,
       |$quarters
       |FROM q)
       |SELECT doc_id, lang_q1, lang_q2, lang_q3, lang_q4,
       |  len(list_distinct(list_filter([lang_q1, lang_q2, lang_q3,
       |    lang_q4], x -> x <> 'und')))::BIGINT AS n_langs,
       |  len(list_distinct(list_filter([lang_q1, lang_q2, lang_q3,
       |    lang_q4], x -> x <> 'und'))) >= 2 AS is_mixed
       |FROM l ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q471
  /** Needle-passage retrieval eval: 32-token chunks with stride 16;
    * for each of three needle documents, BM25 with its verbatim
    * 8-token excerpt (tokens 9–16) must surface that document's own
    * chunks — AP@10 per needle. The three excerpt lookups are bounded
    * collects BY CONSTRUCTION (one 8-token row each).
    */
  def q471(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // chunked once, scored three times (one BM25 pass per needle) —
    // without the persist each pass re-runs tokenize+chunk+explode
    val chunkDocs = graft.ops.ext.Chunking
      .fixedTokenChunks(docs, "text", chunkSize = 32, stride = 16)
      .select((col("doc_id") * 1000 + col("chunk_id")).as("uid"),
        col("chunk_text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val needles = Seq(10L, 20L, 30L)
    // one corpus pass scoring all three needles (bm25TopKMulti): the
    // per-needle loop re-tokenized and re-aggregated the persisted
    // chunk table once per needle; per-needle scores/ranks identical
    // (see bm25TopKMulti's determinism note)
    val termsByNeedle = needles.map { d =>
      d -> docs.filter(col("doc_id") === d)
        .select(slice(graft.ops.ext.TextAnalysis.tokens(col("text")),
          9, 8).as("t"))
        .collect()(0).getSeq[String](0)
    }
    val ranked = graft.ops.ext.Retrieval
      .bm25TopKMulti(chunkDocs, "chunk_text", "uid", termsByNeedle, k = 10)
      .withColumnRenamed("query_key", "needle")
      .withColumn("rel", expr("doc_id div 1000") === col("needle"))
    graft.ops.ext.Eval.averagePrecision(ranked, "needle", "score",
        "doc_id", "rel")
      .orderBy("needle")
  }
  val q471Sql: String = {
    def block(d: Long): String =
      s"""SELECT CAST($d AS BIGINT) AS needle,
         |  count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN rel THEN 1 ELSE 0 END)::BIGINT AS n_rel,
         |  CASE WHEN sum(CASE WHEN rel THEN 1 ELSE 0 END) = 0 THEN 0.0
         |    ELSE round(CAST(sum(CASE WHEN rel
         |        THEN CAST(cumrel::DOUBLE / rank AS DECIMAL(38,18))
         |        ELSE CAST(0.0 AS DECIMAL(38,18)) END) AS DOUBLE)
         |      / sum(CASE WHEN rel THEN 1 ELSE 0 END), 6) END AS ap
         |FROM (
         |  SELECT rank, (uid // 1000 = $d) AS rel,
         |    sum(CASE WHEN uid // 1000 = $d THEN 1 ELSE 0 END)
         |      OVER (ORDER BY rank
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cumrel
         |  FROM (
         |    SELECT uid, row_number() OVER (ORDER BY score DESC, uid)
         |      AS rank
         |    FROM (
         |      SELECT uid,
         |        round(CAST(sum(CAST(term_score AS DECIMAL(28,6)))
         |          AS DOUBLE), 6) AS score
         |      FROM (
         |        SELECT tf.uid,
         |          round(ln(1.0e0 + (n_docs - dfreq + 0.5e0)
         |              / (dfreq + 0.5e0)) * (tf * 2.2e0)
         |            / (tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl
         |              / (sum_dl::DOUBLE / n_docs))), 6) AS term_score
         |        FROM (
         |          SELECT uid, dl, term, count(*) AS tf FROM (
         |            SELECT uid, dl, unnest(ctoks) AS term FROM clen)
         |          WHERE term IN (SELECT term FROM (
         |            SELECT DISTINCT unnest(toks[9:16]) AS term
         |            FROM tok WHERE doc_id = $d))
         |          GROUP BY 1, 2, 3) tf
         |        JOIN (SELECT term, count(*) AS dfreq FROM (
         |            SELECT uid, dl, term, count(*) AS tf FROM (
         |              SELECT uid, dl, unnest(ctoks) AS term FROM clen)
         |            WHERE term IN (SELECT term FROM (
         |              SELECT DISTINCT unnest(toks[9:16]) AS term
         |              FROM tok WHERE doc_id = $d))
         |            GROUP BY 1, 2, 3)
         |          GROUP BY term) df ON tf.term = df.term,
         |          stats)
         |      GROUP BY uid)
         |    ORDER BY score DESC, uid LIMIT 10))""".stripMargin
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |ch AS (SELECT doc_id, toks,
       |    unnest(generate_series(0,
       |      CAST(ceil(greatest(len(toks) - 32, 0) / 16.0e0) AS INT)))
       |      AS chunk_id
       |  FROM tok),
       |clen AS (SELECT doc_id * 1000 + chunk_id AS uid,
       |    toks[chunk_id * 16 + 1 : chunk_id * 16 + 32] AS ctoks,
       |    len(toks[chunk_id * 16 + 1 : chunk_id * 16 + 32]) AS dl
       |  FROM ch),
       |stats AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM clen)
       |${Seq(10L, 20L, 30L).map(block).mkString("\nUNION ALL\n")}
       |ORDER BY needle""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q469_zorder3", q469, q469Sql),
    Query("q470_code_switch", q470, q470Sql),
    Query("q471_rag_needle", q471, q471Sql))
}
