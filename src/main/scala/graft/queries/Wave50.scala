package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.ext.{LmScore, PrefixJoin, Sharding, TextAnalysis}

/** Round-5 "wave 50" query set (q353–q356): training-data economics —
  * context-window packing efficiency, the dedup ROI curve, a
  * perplexity-gate threshold sweep, and the corpus balance card. Same
  * contract as every wave: DuckDB oracle per query, exact integers to
  * every decision, rank-pinned quantile picks.
  */
object Wave50Queries {
  import CoreQueries.T

  private val tokSql =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> len(t)>0)"

  // ---------------------------------------------------------------- q353
  /** Context-window packing efficiency
    * ([[graft.ops.ext.Sharding.nextFitAudit]], capacity 512, 16
    * shards): whole-document next-fit in arrival order vs
    * longest-first — how many window-tokens each policy wastes, the
    * economics behind the zero-waste-but-splitting concat packer
    * (q50). Both policies fold exact integers shard-locally.
    */
  def q353(s: SparkSession, dir: String): DataFrame = {
    val lens = T(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("len"))
    Sharding.nextFitAudit(lens, "doc_id", "len", 512L,
        byLengthDesc = false, shards = 16, strategy = "arrival")
      .unionByName(Sharding.nextFitAudit(lens, "doc_id", "len", 512L,
        byLengthDesc = true, shards = 16, strategy = "length_desc"))
      .orderBy("strategy")
  }
  val q353Sql: String = {
    def arm(strategy: String, ord: String): String =
      s"""SELECT '$strategy' AS strategy, n_docs, n_oversize, n_bins,
         |  used_tokens, n_bins * 512 - used_tokens AS waste_tokens,
         |  round(CAST(n_bins * 512 - used_tokens AS DOUBLE)
         |    / CAST(n_bins * 512 AS DOUBLE), 6) AS waste_share
         |FROM (SELECT
         |    CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |    (SELECT CAST(count(*) AS BIGINT) FROM base WHERE len > 512)
         |      AS n_oversize,
         |    CAST(sum(bins) AS BIGINT) AS n_bins,
         |    CAST(sum(used) AS BIGINT) AS used_tokens
         |  FROM (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |      CAST(sum(len) AS BIGINT) AS used,
         |      list_reduce(list_prepend([0::BIGINT, 512::BIGINT],
         |        list([len] ORDER BY $ord)),
         |        (acc, x) -> CASE WHEN acc[2] + x[1] <= 512
         |          THEN [acc[1], acc[2] + x[1]]
         |          ELSE [acc[1] + 1, x[1]] END)[1] AS bins
         |    FROM fit GROUP BY shard))""".stripMargin
    s"""WITH base AS (SELECT doc_id AS id,
       |    CAST(len($tokSql) AS BIGINT) AS len,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 16
       |      AS shard
       |  FROM documents),
       |fit AS (SELECT * FROM base WHERE len <= 512)
       |SELECT * FROM (
       |  ${arm("arrival", "id")}
       |  UNION ALL
       |  ${arm("length_desc", "len DESC, id")})
       |ORDER BY strategy""".stripMargin
  }

  // ---------------------------------------------------------------- q354
  /** Dedup ROI curve: one prefix-filter jaccard join at threshold 1/2
    * provides every pair's EXACT (inter, na, nb); the ladder
    * t ∈ {50..90%} then re-thresholds by cross-multiplied integers
    * (den·inter ≥ num·union — no float) and counts the min-id-keeps
    * removal set and its token mass — "what does each extra 10% of
    * strictness buy", computed from ONE pair materialization.
    */
  def q354(s: SparkSession, dir: String): DataFrame = {
    val corpus = ExtQueries.nearDupCorpus(s, dir)
    // persisted: each of the 5 ladder arms joins this frame and the
    // corpus total reads it once more — without the persist the
    // tokenize pass over the raw corpus replays 6 times
    val toks = corpus.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      .persist()
    val sh = corpus.select(col("doc_id"),
      graft.ops.ext.Dedup.shinglesOfTokens(
        TextAnalysis.tokens(col("text")), 5).as("toks"))
    val pairs = PrefixJoin.jaccardJoin(sh, "doc_id", "toks", 1, 2)
      .persist()
    val tot = toks.agg(sum("n_tok").as("corpus_tokens"))
    val ladder = Seq(5, 6, 7, 8, 9).map { num =>
      val qual = pairs.filter(lit(10) * col("inter") >=
        lit(num) * (col("na") + col("nb") - col("inter")))
      val removed = qual.select(col("b").as("doc_id")).distinct()
      val np = qual.agg(count(lit(1)).as("n_pairs"))
      removed.join(toks, Seq("doc_id"))
        .agg(count(lit(1)).as("n_removed"),
          sum("n_tok").as("tokens_removed"))
        .crossJoin(np).crossJoin(tot)
        .select(lit(num * 10L).as("threshold_pct"), col("n_pairs"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
          round(coalesce(col("tokens_removed"), lit(0L)).cast("double")
            / col("corpus_tokens").cast("double"), 6).as("token_share"))
    }
    ladder.reduce(_ unionByName _).orderBy("threshold_pct")
  }
  val q354Sql: String = {
    def arm(num: Int): String =
      s"""SELECT ${num * 10}::BIGINT AS threshold_pct,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pairs
         |    WHERE 10 * i >= $num * (na + nb - i)) AS n_pairs,
         |  CAST(count(*) AS BIGINT) AS n_removed,
         |  CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tokens_removed,
         |  round(CAST(coalesce(sum(n_tok), 0) AS DOUBLE)
         |    / (SELECT CAST(sum(n_tok) AS DOUBLE) FROM tk), 6)
         |    AS token_share
         |FROM (SELECT DISTINCT id_b FROM pairs
         |      WHERE 10 * i >= $num * (na + nb - i)) r
         |JOIN tk ON tk.doc_id = r.id_b""".stripMargin
    s"""WITH corpus AS MATERIALIZED (${ExtQueries.nearDupCorpusSql}),
       |tk AS MATERIALIZED (SELECT doc_id,
       |    CAST(len($tokSql) AS BIGINT) AS n_tok
       |  FROM corpus),
       |sh AS MATERIALIZED (SELECT doc_id,
       |    list_distinct([array_to_string(toks[i:i+4], ' ')
       |      for i in range(1, greatest(len(toks)-4, 1)+1)]) AS toks
       |  FROM (SELECT doc_id, $tokSql AS toks FROM corpus)),
       |g AS MATERIALIZED (SELECT doc_id, unnest(toks) AS g FROM sh),
       |sz AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |  FROM g GROUP BY 1),
       |pairs AS MATERIALIZED (SELECT s.id_a, s.id_b, s.i, a.n AS na,
       |    b.n AS nb
       |  FROM (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |      CAST(count(*) AS BIGINT) AS i
       |    FROM g x JOIN g y ON x.g = y.g AND x.doc_id < y.doc_id
       |    GROUP BY 1, 2) s
       |  JOIN sz a ON a.doc_id = s.id_a JOIN sz b ON b.doc_id = s.id_b
       |  WHERE 2 * s.i >= (a.n + b.n - s.i))
       |SELECT * FROM (${(5 to 9).map(arm).mkString("\nUNION ALL\n")})
       |ORDER BY threshold_pct""".stripMargin
  }

  // ---------------------------------------------------------------- q355
  /** Perplexity-gate threshold sweep: the q84 unigram NLL per doc,
    * thresholds at its exact 25/50/75% ranks (nearest-rank lower,
    * pinned by (nllq, doc_id)) — for each gate, kept docs and kept
    * token mass. The quality-filter tuning curve, from one scoring
    * pass.
    */
  def q355(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nll = LmScore.unigramNll(T(s, dir, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        floor(col("nll") * 1e6 + 0.5).cast("long").as("nllq"))
      .persist()
    // exact rank two-level (ScaleWindows) — no unpartitioned window
    val ranked = graft.ops.ScaleWindows
      .globalRowNumber(nll, "nllq", Seq("doc_id"), "rn")
      .crossJoin(broadcast(nll.agg(count(lit(1)).as("nn"))))
    val tot = nll.agg(count(lit(1)).as("n_all"),
      sum("n_tokens").as("tok_all"))
    val arms = Seq(25, 50, 75).map { pct =>
      val thr = ranked
        .filter(col("rn") === expr(s"greatest(($pct * nn) div 100, 1L)"))
        .select(col("nllq").as("thr"))
      nll.crossJoin(thr).filter(col("nllq") <= col("thr"))
        .agg(count(lit(1)).as("n_kept"), sum("n_tokens").as("tokens_kept"),
          max("thr").as("thrq"))
        .crossJoin(tot)
        .select(lit(pct.toLong).as("pct"),
          round(col("thrq").cast("double") / 1e6, 6).as("thr_nll"),
          col("n_kept"), col("tokens_kept"),
          round(col("tokens_kept").cast("double")
            / col("tok_all").cast("double"), 6).as("token_share"))
    }
    arms.reduce(_ unionByName _).orderBy("pct")
  }
  val q355Sql: String = {
    def arm(pct: Int): String =
      s"""SELECT ${pct}::BIGINT AS pct,
         |  round(CAST((SELECT nllq FROM ranked
         |    WHERE rn = greatest(($pct * nn) // 100, 1)) AS DOUBLE)
         |    / 1000000.0e0, 6) AS thr_nll,
         |  CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
         |  round(CAST(sum(n_tokens) AS DOUBLE)
         |    / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM nll), 6)
         |    AS token_share
         |FROM nll WHERE nllq <= (SELECT nllq FROM ranked
         |  WHERE rn = greatest(($pct * nn) // 100, 1))""".stripMargin
    s"""WITH tok AS (SELECT doc_id,
       |    unnest($tokSql) AS token
       |  FROM documents),
       |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
       |tot AS (SELECT sum(c) AS n, count(*) AS v FROM freq),
       |agg AS (SELECT t.doc_id, count(*) AS n_tokens,
       |    sum(CAST(ln(f.c + 1) AS DECIMAL(38,18))) AS s
       |  FROM tok t JOIN freq f USING (token) GROUP BY t.doc_id),
       |nll AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    CAST(floor(round(ln(n + v) - CAST(s AS DOUBLE) / n_tokens, 6)
       |      * 1000000.0e0 + 0.5e0) AS BIGINT) AS nllq
       |  FROM agg, tot),
       |ranked AS (SELECT nllq, doc_id,
       |    row_number() OVER (ORDER BY nllq, doc_id) AS rn,
       |    count(*) OVER () AS nn
       |  FROM nll)
       |SELECT * FROM (${Seq(25, 50, 75).map(arm).mkString("\nUNION ALL\n")})
       |ORDER BY pct""".stripMargin
  }

  // ---------------------------------------------------------------- q356
  /** Corpus balance card: per-language doc and token shares plus the
    * corpus's normalized language entropy H/ln(k) — the one-line
    * "how balanced is this mixture" number beside the rebalancers
    * (q85, q216). Entropy terms quantize to 1e-9 before the sum.
    */
  def q356(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    val per = d.groupBy("lang").agg(count(lit(1)).as("n_docs"),
      sum("n_tok").as("tokens"))
    val tot = per.agg(sum("n_docs").as("td"), sum("tokens").as("tt"),
      count(lit(1)).as("k"))
    val terms = per.crossJoin(tot)
      .withColumn("qe", floor(-(col("tokens").cast("double")
        / col("tt").cast("double"))
        * log(col("tokens").cast("double") / col("tt").cast("double"))
        * lit(1e9) + lit(0.5)).cast("long"))
    val ent = terms.agg(sum("qe").as("se"), max("k").as("k"))
      .select((col("se").cast("double") / lit(1e9) /
        log(col("k").cast("double"))).as("balance"))
    terms.crossJoin(ent)
      .select(col("lang"), col("n_docs"), col("tokens"),
        round(col("n_docs").cast("double") / col("td").cast("double"), 6)
          .as("doc_share"),
        round(col("tokens").cast("double") / col("tt").cast("double"), 6)
          .as("token_share"),
        round(col("balance"), 6).as("balance_entropy"))
      .orderBy("lang")
  }
  val q356Sql: String =
    s"""WITH d AS (SELECT lang, CAST(len($tokSql) AS BIGINT) AS n_tok
       |  FROM documents),
       |per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS tokens
       |  FROM d GROUP BY lang),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
       |    CAST(sum(tokens) AS BIGINT) AS tt,
       |    CAST(count(*) AS BIGINT) AS k
       |  FROM per),
       |terms AS (SELECT per.*, tot.td, tot.tt, tot.k,
       |    CAST(floor(-(CAST(tokens AS DOUBLE) / CAST(tt AS DOUBLE))
       |      * ln(CAST(tokens AS DOUBLE) / CAST(tt AS DOUBLE))
       |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS qe
       |  FROM per, tot),
       |ent AS (SELECT CAST(sum(qe) AS DOUBLE) / 1000000000.0e0
       |    / ln(CAST(max(k) AS DOUBLE)) AS balance
       |  FROM terms)
       |SELECT lang, n_docs, tokens,
       |  round(CAST(n_docs AS DOUBLE) / CAST(td AS DOUBLE), 6)
       |    AS doc_share,
       |  round(CAST(tokens AS DOUBLE) / CAST(tt AS DOUBLE), 6)
       |    AS token_share,
       |  round(balance, 6) AS balance_entropy
       |FROM terms, ent ORDER BY lang""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q353_packing_audit", q353, q353Sql),
    Query("q354_dedup_roi", q354, q354Sql),
    Query("q355_ppl_gate_sweep", q355, q355Sql),
    Query("q356_balance_card", q356, q356Sql))
}
