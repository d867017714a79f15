package graft.queries

import graft.ops.{Diff, Funnel, FuzzyJoin, GroupStats, Winsorize}
import graft.ops.ext.{CorpusClean, Retrieval, SparseSim, TrainOrder, WebUrl}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 query set (q101+): ranked retrieval (BM25), URL
  * canonicalization, corpus-structural cleaning (paragraph dedup,
  * boilerplate strip), deterministic training order, exact group order
  * statistics, snapshot diff, and equi-depth length bucketing. Same
  * contract as Core/Ext/Pipe: every query paired with a DuckDB oracle,
  * floats rounded to 6 dp, sums through DECIMAL, ranks tie-broken by
  * id.
  */
object Wave4Queries {
  import CoreQueries.T

  /** Shared DuckDB token expression (the TextAnalysis.tokens twin). */
  private val toksSql =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> len(t)>0)"

  // ---------------------------------------------------------------- q101
  /** BM25 ranked retrieval: top-20 documents for a 3-term query.
    * Postings are filtered to the query terms BEFORE the shuffle —
    * the plan reads the corpus once and aggregates |Q|-term postings
    * only (see Retrieval scaladoc for the 100 TB shape).
    */
  val Bm25Query = Seq("spark", "query", "window")

  def q101(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(T(s, dir, "documents").select("doc_id", "text"),
      "text", "doc_id", Bm25Query, k = 20)
  private[queries] def bm25Sql(k: Int): String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |stats AS (SELECT sum(len(toks)) AS sum_dl, count(*) AS n_docs FROM tok),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
       |         SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
       |       WHERE term IN ('spark','query','window')
       |       GROUP BY doc_id, dl, term),
       |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
       |scored AS (
       |  -- e0 suffixes force DOUBLE literals (DuckDB defaults 2.2 to
       |  -- DECIMAL, which would change the arithmetic vs Spark)
       |  SELECT doc_id,
       |    round(ln(1.0e0 + (n_docs - dfreq + 0.5e0) / (dfreq + 0.5e0))
       |          * (tf * 2.2e0)
       |          / (tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl
       |                           / (sum_dl::DOUBLE / n_docs))), 6)
       |      AS term_score
       |  FROM tf, dfreq, stats WHERE tf.term = dfreq.term),
       |per_doc AS (
       |  SELECT doc_id,
       |    round(CAST(sum(CAST(term_score AS DECIMAL(28,6))) AS DOUBLE), 6)
       |      AS score,
       |    count(*) AS n_terms
       |  FROM scored GROUP BY doc_id)
       |SELECT rank, doc_id, score, n_terms FROM (
       |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM per_doc)
       |WHERE rank <= $k""".stripMargin
  val q101Sql: String = bm25Sql(20)

  // ---------------------------------------------------------------- q102
  /** URL canonicalization: synthesize a messy-but-deterministic URL per
    * document (mixed case, www, default port, tracking params, unsorted
    * query, fragment, trailing slash), normalize it, extract the
    * registrable domain. Narrow per-row expression chain — no shuffle.
    */
  def q102(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("HTTPS://WWW."), col("source"),
      lit(".Example.COM:443/"), col("lang"), lit("/doc/"), col("doc_id"),
      lit("/?utm_source=feed&b=2&ref="), col("lang"), lit("&a=1#frag"))
    val norm = WebUrl.normalize(url)
    T(s, dir, "documents")
      .select(col("doc_id"), norm.as("url_norm"),
        WebUrl.domain(norm).as("domain"))
  }
  /** DuckDB twin of WebUrl.normalize over a `raw(id, url)` CTE —
    * produces parts/norm/built CTEs ending in `built(id, url_norm,
    * host)`. Shared by q102 and the crawl-dedup composite.
    */
  private val urlNormSql: String =
    """parts AS (
      |  SELECT id,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      |          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hostport,
      |    regexp_extract(regexp_replace(url, '#.*$', ''),
      |          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1) AS path0,
      |    regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1) AS query
      |  FROM raw),
      |norm AS (
      |  SELECT id, scheme,
      |    regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''),
      |                   '^www\.', '') AS host,
      |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(path0, '/$', '') AS path,
      |    list_sort(list_filter(string_split(query, '&'),
      |      p -> NOT regexp_matches(p, '^(utm_[a-z]+|gclid|fbclid|ref)=')
      |           AND len(p) > 0)) AS params
      |  FROM parts),
      |built AS (
      |  SELECT id,
      |    scheme || '://' || host ||
      |    (CASE WHEN port = '' THEN ''
      |          WHEN scheme = 'http'  AND port = '80'  THEN ''
      |          WHEN scheme = 'https' AND port = '443' THEN ''
      |          ELSE ':' || port END) ||
      |    path ||
      |    (CASE WHEN len(params) > 0
      |          THEN '?' || array_to_string(params, '&') ELSE '' END)
      |      AS url_norm,
      |    host
      |  FROM norm)""".stripMargin

  val q102Sql: String =
    s"""WITH raw AS (
       |  SELECT doc_id AS id,
       |    'HTTPS://WWW.' || source || '.Example.COM:443/' || lang ||
       |    '/doc/' || doc_id || '/?utm_source=feed&b=2&ref=' || lang ||
       |    '&a=1#frag' AS url
       |  FROM documents),
       |$urlNormSql
       |SELECT id AS doc_id, url_norm,
       |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
       |FROM built""".stripMargin

  // -------------------------------------------------- paragraph fixture
  /** Paragraph corpus for q103/q104: each doc re-laid-out as a
    * per-source boilerplate header plus 8-token paragraphs; every 10th
    * doc also appears as a partial copy (its first two paragraphs) —
    * the duplicated-paragraph population. Built identically in the SQL
    * oracle.
    */
  private[queries] def paraCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select("doc_id", "source", "text")
    val toks = graft.ops.ext.TextAnalysis.tokens(col("text"))
    val nChunks = greatest(ceil(size(toks) / lit(8.0)).cast("int"), lit(1))
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * 8 + 1, lit(8)), " "))
    val header = concat(lit("shared header "), col("source"))
    val withChunks = docs.select(col("doc_id"), header.as("header"),
      chunks.as("chunks"))
    val base = withChunks.select(col("doc_id"),
      concat(col("header"), lit("\n"), array_join(col("chunks"), "\n"))
        .as("text"))
    val copies = withChunks.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("header"), lit("\n"),
          array_join(slice(col("chunks"), 1, 2), "\n")).as("text"))
    base.unionByName(copies)
  }

  private val paraCorpusSql: String =
    s"""chunked AS (
       |  SELECT doc_id, 'shared header ' || source AS header,
       |    [array_to_string(toks[i*8+1:i*8+8], ' ')
       |     for i in range(0, greatest(CAST(ceil(len(toks)/8.0) AS INT), 1))]
       |      AS chunks
       |  FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)),
       |corpus AS (
       |  SELECT doc_id, header || chr(10) || array_to_string(chunks, chr(10))
       |           AS text
       |  FROM chunked
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    header || chr(10) || array_to_string(chunks[1:2], chr(10))
       |  FROM chunked WHERE doc_id % 10 = 0),
       |splits AS (SELECT doc_id, string_split(text, chr(10)) AS lst FROM corpus),
       |paras AS (
       |  SELECT doc_id, pos, lst[pos] AS para FROM (
       |    SELECT doc_id, unnest(range(1, len(lst)+1)) AS pos, lst FROM splits)
       |  WHERE len(trim(lst[pos])) > 0)""".stripMargin

  /** Oracle twin of CorpusClean.rebuild over a `kept(doc_id,pos,para,keep)`
    * CTE: kept-paragraph reassembly + counts, empty-doc preserving.
    */
  private val rebuildSql: String =
    """agg AS (
      |  SELECT doc_id,
      |    array_to_string(list(para ORDER BY pos) FILTER (WHERE keep),
      |                    chr(10)) AS text_clean,
      |    count(*) FILTER (WHERE keep) AS n_kept,
      |    count(*) FILTER (WHERE NOT keep) AS n_removed
      |  FROM kept GROUP BY doc_id),
      |ids AS (SELECT DISTINCT doc_id FROM corpus)
      |SELECT ids.doc_id,
      |  coalesce(text_clean, '') AS text_clean,
      |  coalesce(n_kept, 0) AS n_kept,
      |  coalesce(n_removed, 0) AS n_removed
      |FROM ids LEFT JOIN agg USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- q103
  /** Corpus-wide exact paragraph dedup (CCNet stage): global first
    * occurrence (doc_id, pos) keeps each paragraph; every later copy is
    * removed and documents are reassembled order-exact.
    */
  def q103(s: SparkSession, dir: String): DataFrame =
    CorpusClean.paragraphDedup(paraCorpus(s, dir), "text", "doc_id")
  val q103Sql: String =
    s"""WITH $paraCorpusSql,
       |kept AS (
       |  SELECT doc_id, pos, para,
       |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1
       |      AS keep
       |  FROM paras),
       |$rebuildSql""".stripMargin

  // ---------------------------------------------------------------- q104
  /** Boilerplate-line strip: a line present in ≥10 distinct documents
    * (here: the per-source headers, each in ~25 docs) is template
    * chrome — removed from every document.
    */
  def q104(s: SparkSession, dir: String): DataFrame =
    CorpusClean.boilerplateStrip(paraCorpus(s, dir), "text", "doc_id",
      minDocs = 10)
  val q104Sql: String =
    s"""WITH $paraCorpusSql,
       |freq AS (SELECT para, count(DISTINCT doc_id) AS n_docs
       |         FROM paras GROUP BY para),
       |kept AS (
       |  SELECT p.doc_id, p.pos, p.para, f.n_docs < 10 AS keep
       |  FROM paras p JOIN freq f USING (para)),
       |$rebuildSql""".stripMargin

  // ---------------------------------------------------------------- q105
  /** Deterministic global training order: seeded LCG sort key, 8-way
    * shard assignment, within-shard positions — the reproducible
    * "shuffle the corpus for this epoch" primitive.
    */
  def q105(s: SparkSession, dir: String): DataFrame =
    TrainOrder.shuffled(T(s, dir, "documents").select("doc_id"), "doc_id")
  val q105Sql: String =
    """WITH ordd AS (
      |  SELECT doc_id,
      |    (doc_id * 1103515245 + 12345) % 2147483648 AS ord
      |  FROM documents)
      |SELECT doc_id, ord, ord % 8 AS shard,
      |  row_number() OVER (PARTITION BY ord % 8 ORDER BY ord, doc_id)
      |    AS position
      |FROM ordd""".stripMargin

  // ---------------------------------------------------------------- q106
  /** Exact per-group order statistics: median (continuous percentile)
    * of quantity and deterministic mode (count desc, value asc) of the
    * line number, per return flag.
    */
  def q106(s: SparkSession, dir: String): DataFrame =
    GroupStats.medianMode(T(s, dir, "lineitem"), "l_returnflag",
      "l_quantity", "l_linenumber")
      .select(col("l_returnflag"), round(col("median_val"), 6).as("median_val"),
        col("n"), col("mode_val"), col("mode_count"))
  val q106Sql: String =
    """WITH med AS (
      |  SELECT l_returnflag, round(median(l_quantity), 6) AS median_val,
      |    count(*) AS n
      |  FROM lineitem GROUP BY l_returnflag),
      |cnts AS (
      |  SELECT l_returnflag, l_linenumber, count(*) AS cnt
      |  FROM lineitem GROUP BY l_returnflag, l_linenumber),
      |modes AS (
      |  SELECT l_returnflag, l_linenumber AS mode_val, cnt AS mode_count
      |  FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY cnt DESC, l_linenumber) AS rn FROM cnts)
      |  WHERE rn = 1)
      |SELECT l_returnflag, median_val, n, mode_val, mode_count
      |FROM med JOIN modes USING (l_returnflag)""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Snapshot diff: v2 = orders with deterministic deletes (%11),
    * status+price mutations (%7), and inserts (%13 re-keyed) — classify
    * every key as added / removed / changed in one full-outer join.
    */
  def q107(s: SparkSession, dir: String): DataFrame = {
    val v1 = T(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val k = col("o_orderkey")
    val v2 = v1.filter(k % 11 =!= 0)
      .select(k,
        when(k % 7 === 0, lit("X")).otherwise(col("o_orderstatus"))
          .as("o_orderstatus"),
        when(k % 7 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .unionByName(v1.filter(k % 13 === 0)
        .select((k + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice")))
    Diff.snapshots(v1, v2, "o_orderkey",
      Seq("o_orderstatus", "o_totalprice"))
  }
  val q107Sql: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |v2 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
      |      AS o_orderstatus,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0e0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM v1 WHERE o_orderkey % 11 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'N', 1.0e0
      |  FROM v1 WHERE o_orderkey % 13 = 0),
      |j AS (
      |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS key,
      |    a.o_orderstatus AS old_o_orderstatus,
      |    a.o_totalprice AS old_o_totalprice,
      |    b.o_orderstatus AS new_o_orderstatus,
      |    b.o_totalprice AS new_o_totalprice,
      |    a.o_orderkey IS NOT NULL AS in_old,
      |    b.o_orderkey IS NOT NULL AS in_new
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
      |SELECT key, old_o_orderstatus, old_o_totalprice, new_o_orderstatus,
      |  new_o_totalprice,
      |  CASE WHEN NOT in_old THEN 'added'
      |       WHEN NOT in_new THEN 'removed'
      |       ELSE 'changed' END AS change_type
      |FROM j
      |WHERE NOT in_old OR NOT in_new
      |   OR old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
      |   OR old_o_totalprice IS DISTINCT FROM new_o_totalprice""".stripMargin

  // ---------------------------------------------------------------- q108
  /** Equi-depth length bucketing (curriculum/batching prep): decile of
    * n_chars within each language, bucket boundary stats. Windows
    * partition by language — parallel across groups; at web scale the
    * same layout comes from approx-quantile boundaries instead.
    */
  def q108(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    T(s, dir, "documents")
      .withColumn("bucket", ntile(10).over(w).cast("long"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  }
  val q108Sql: String =
    """SELECT lang, bucket, count(*) AS n, min(n_chars) AS min_chars,
      |  max(n_chars) AS max_chars
      |FROM (SELECT lang, doc_id, n_chars,
      |        ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
      |          AS bucket
      |      FROM documents)
      |GROUP BY lang, bucket""".stripMargin

  // ---------------------------------------------------------------- q109
  /** Sparse TF-IDF cosine similarity join (all-pairs ssjoin) on trigram
    * vectors over the mutated-copy corpus: copies share nearly all
    * trigrams (cosine ≈ 1), unrelated docs nearly none. The inverted-
    * index join + df cap is the scale story (see SparseSim scaladoc);
    * trigrams keep the index sparse on this small-vocabulary corpus
    * (bigrams saturate: every bigram becomes a stop-term and Σdf²
    * explodes — measured 98 s vs ~2 s at sf0.1).
    */
  def q109(s: SparkSession, dir: String): DataFrame =
    SparseSim.cosineJoin(ExtQueries.nearDupCorpus(s, dir), "text", "doc_id",
      threshold = 0.8, maxDf = 500L)
  val q109Sql: String =
    s"""WITH corpus AS (${ExtQueries.nearDupCorpusSql}),
       |tok AS (SELECT doc_id, $toksSql AS toks FROM corpus),
       |grams AS (
       |  SELECT doc_id AS id,
       |    unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |            for i in range(1, greatest(len(toks) - 1, 1))]) AS term
       |  FROM tok),
       |tf AS (SELECT id, term, count(*) AS tf FROM grams GROUP BY id, term),
       |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term
       |          HAVING count(*) <= 500),
       |weights AS (
       |  SELECT id, term,
       |    round(tf::DOUBLE * ln(((SELECT count(*) FROM corpus) + 1.0e0)
       |                          / (dfreq + 1.0e0)), 6) AS w
       |  FROM tf JOIN dfreq USING (term)),
       |norms AS (
       |  SELECT id,
       |    round(sqrt(CAST(sum(CAST(w*w AS DECIMAL(28,12))) AS DOUBLE)), 6)
       |      AS nrm
       |  FROM weights GROUP BY id),
       |dots AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(sum(CAST(round(a.w * b.w, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      AS dot
       |  FROM weights a JOIN weights b USING (term)
       |  WHERE a.id < b.id GROUP BY a.id, b.id)
       |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
       |FROM dots
       |JOIN norms na ON dots.id_a = na.id
       |JOIN norms nb ON dots.id_b = nb.id
       |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.8e0""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Winsorized robust group stats: exact p05/p95 clip bounds per
    * return flag, clipped mean through DECIMAL, clip counts.
    */
  def q110(s: SparkSession, dir: String): DataFrame =
    Winsorize.stats(T(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
  val q110Sql: String =
    """WITH bounds AS (
      |  SELECT l_returnflag,
      |    round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
      |    round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
      |  FROM lineitem GROUP BY l_returnflag),
      |c AS (
      |  SELECT l.l_returnflag, lo, hi, l_extendedprice,
      |    least(greatest(l_extendedprice, lo), hi) AS v
      |  FROM lineitem l JOIN bounds USING (l_returnflag))
      |SELECT l_returnflag, lo, hi,
      |  round(CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
      |    AS winsor_mean,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE l_extendedprice < lo OR l_extendedprice > hi)
      |    AS n_clipped
      |FROM c GROUP BY l_returnflag, lo, hi""".stripMargin

  // ---------------------------------------------------------------- q111
  /** Blocked fuzzy (Levenshtein) join: typo'd entity names resolved
    * back to the reference list — prefix blocking + length tolerance
    * generate candidates, the thresholded edit distance verifies, best
    * match (dist, id tie-break) wins per query.
    */
  def q111(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents")
      .select(col("doc_id").as("match_id"),
        concat(col("source"), lit("-"), col("lang"), lit("-"), col("doc_id"))
          .as("m_name"))
    // typo corpus: every 10th name with its 7th character dropped
    val queries = base.filter(col("match_id") % 10 === 0)
      .select((col("match_id") + 1000000L).as("query_id"),
        concat(substring(col("m_name"), 1, 6), substring(col("m_name"), 8, 100))
          .as("q_name"))
    val matches = FuzzyJoin.join(queries, base, "query_id", "q_name",
      "match_id", "m_name", maxDist = 1, blockPrefix = 4)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("match_id"))
    matches.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("query_id", "match_id", "q_name", "m_name", "dist")
  }
  val q111Sql: String =
    """WITH base AS (
      |  SELECT doc_id AS match_id,
      |    source || '-' || lang || '-' || doc_id AS m_name
      |  FROM documents),
      |q AS (
      |  SELECT match_id + 1000000 AS query_id,
      |    substr(m_name, 1, 6) || substr(m_name, 8) AS q_name
      |  FROM base WHERE match_id % 10 = 0),
      |cand AS (
      |  SELECT query_id, match_id, q_name, m_name,
      |    CAST(levenshtein(q_name, m_name) AS BIGINT) AS dist
      |  FROM q JOIN base
      |    ON substr(q_name, 1, 4) = substr(m_name, 1, 4)
      |   AND abs(len(q_name) - len(m_name)) <= 1)
      |SELECT query_id, match_id, q_name, m_name, dist FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dist, match_id) AS rn
      |  FROM cand WHERE dist <= 1)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- q112
  /** Strictly-ordered funnel over the event stream: view -> click ->
    * purchase, earliest qualifying event per stage per user.
    */
  def q112(s: SparkSession, dir: String): DataFrame =
    Funnel.stages(ExtQueries.events(s, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
  val q112Sql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL SELECT '2_click', count(*) FROM c
      |UNION ALL SELECT '3_purchase', count(*) FROM p""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Cohort retention: users bucketed by first-seen day, counted per
    * later active day (distinct user-days).
    */
  def q113(s: SparkSession, dir: String): DataFrame =
    Funnel.cohortRetention(ExtQueries.events(s, dir), "user_id", "ts")
  val q113Sql: String =
    """WITH cohort AS (
      |  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      |  FROM events GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
      |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
      |  date_diff('day', cohort_day, day) AS day_offset,
      |  count(*) AS n_users
      |FROM active JOIN cohort USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Crawl dedup composite: two deterministic fetches of every 5th
    * page differ in case/www/port/param order/tracking/fragment — the
    * canonical URL collapses them. One narrow normalization pass, one
    * groupBy on the canonical key.
    */
  def q114(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val base = docs.select(col("doc_id").as("fetch_id"),
      concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/"),
        col("lang"), lit("/doc/"), col("doc_id"),
        lit("/?utm_source=feed&b=2&ref="), col("lang"), lit("&a=1#frag"))
        .as("url"))
    val recrawl = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("fetch_id"),
        concat(lit("https://"), col("source"), lit(".example.com/"),
          col("lang"), lit("/doc/"), col("doc_id"),
          lit("?b=2&a=1&utm_campaign=x#top")).as("url"))
    base.unionByName(recrawl)
      .withColumn("url_norm", WebUrl.normalize(col("url")))
      .groupBy("url_norm")
      .agg(count(lit(1)).as("n_fetches"), min("fetch_id").as("first_fetch"))
  }
  val q114Sql: String =
    s"""WITH raw AS (
       |  SELECT doc_id AS id,
       |    'HTTPS://WWW.' || source || '.Example.COM:443/' || lang ||
       |    '/doc/' || doc_id || '/?utm_source=feed&b=2&ref=' || lang ||
       |    '&a=1#frag' AS url
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    'https://' || source || '.example.com/' || lang ||
       |    '/doc/' || doc_id || '?b=2&a=1&utm_campaign=x#top'
       |  FROM documents WHERE doc_id % 5 = 0),
       |$urlNormSql
       |SELECT url_norm, count(*) AS n_fetches, min(id) AS first_fetch
       |FROM built GROUP BY url_norm""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Interval union (gaps-and-islands): each event opens a 5-minute
    * activity interval; merged per user into islands — active session
    * count and total covered wall-clock in micros.
    */
  def q115(s: SparkSession, dir: String): DataFrame = {
    val iv = ExtQueries.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + 300000000L)
    graft.ops.Intervals.unionPerKey(iv, "user_id", "s", "e")
  }
  val q115Sql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      |  FROM events),
      |m AS (
      |  SELECT user_id, s, e,
      |    CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
      |         THEN 1 ELSE 0 END AS ni
      |  FROM iv
      |  WINDOW w AS (PARTITION BY user_id ORDER BY s, e
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |isl AS (
      |  SELECT user_id, s, e,
      |    sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS island
      |  FROM m),
      |g AS (SELECT user_id, island, min(s) AS ms, max(e) AS me
      |      FROM isl GROUP BY user_id, island)
      |SELECT user_id, count(*) AS n_islands,
      |  CAST(sum(me - ms) AS BIGINT) AS covered
      |FROM g GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- q116
  /** Data-quality expectations: three single-pass row checks plus a
    * referential orphan count — the promote-gate validation report.
    */
  def q116(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    graft.ops.Expectations.check(li, Seq(
      "null_quantity" -> col("l_quantity").isNull,
      "qty_gt_30" -> (col("l_quantity") > 30.0),
      "price_le_0" -> (col("l_extendedprice") <= 0.0)))
      .unionByName(graft.ops.Expectations.orphans(li, T(s, dir, "orders"),
        "l_orderkey", "o_orderkey", "orphan_lineitem"))
  }
  val q116Sql: String =
    """WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
      |SELECT 'null_quantity' AS check_name,
      |  (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL)
      |    AS n_violations, n_rows FROM n
      |UNION ALL SELECT 'qty_gt_30',
      |  (SELECT count(*) FROM lineitem WHERE l_quantity > 30.0), n_rows FROM n
      |UNION ALL SELECT 'price_le_0',
      |  (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0.0),
      |  n_rows FROM n
      |UNION ALL SELECT 'orphan_lineitem',
      |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
      |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL),
      |  n_rows FROM n""".stripMargin

  // ---------------------------------------------------------------- q117
  /** Mergeable-sketch profiling (the re-aggregatable pattern 100 TB
    * rollups need): per-(lang, source) DataSketches HLL partials union
    * into per-lang estimates WITHOUT re-scanning the data. Checked by
    * the q52 invariant-oracle pattern: the merged estimate must track
    * the single-pass estimate within 3% of the exact count (identical
    * at small cardinality, but once sketches leave sparse mode the
    * union's register state can differ slightly from a single-pass
    * build — measured ≤1.3% at sf0.1) and land within a generous
    * error bound of the exact count the oracle computes.
    */
  def q117(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val partials = docs.groupBy("lang", "source")
      .agg(hll_sketch_agg(col("doc_id")).as("sk"))
    val merged = partials.groupBy("lang")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    val single = docs.groupBy("lang")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("doc_id"))).as("est_single"),
        countDistinct(col("doc_id")).as("exact_docs"))
    single.join(merged, "lang")
      .select(col("lang"), col("exact_docs"),
        (abs(col("est_merged") - col("est_single")) <=
          greatest(lit(1L), (col("exact_docs") * 0.03).cast("long")))
          .as("merge_consistent"),
        (abs(col("est_merged") - col("exact_docs")) <=
          col("exact_docs") * 0.1).as("within_bound"))
  }
  val q117Sql: String =
    """SELECT lang, count(DISTINCT doc_id) AS exact_docs,
      |  CAST(1 AS BOOLEAN) AS merge_consistent,
      |  CAST(1 AS BOOLEAN) AS within_bound
      |FROM documents GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Reciprocal-rank fusion: the standard way to combine heterogeneous
    * rankings (here BM25 relevance ⊕ quality prior) without score
    * calibration — score = Σ 1/(60 + rank) over the lists a doc
    * appears in. Both candidate lists are top-50 TakeOrdered heads
    * (never a global sort); the fusion is a keyed full-outer join of
    * two 50-row frames.
    */
  def q118(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val bm = Retrieval.bm25TopK(docs.select("doc_id", "text"),
      "text", "doc_id", Bm25Query, k = 50)
      .select(col("doc_id"), col("rank").as("r_bm"))
    val wq = Window.orderBy(col("p_keep").desc, col("doc_id"))
    val qtop = graft.ops.ext.TextAnalysis.logisticQuality(docs, "text")
      .select("doc_id", "p_keep")
      .orderBy(col("p_keep").desc, col("doc_id")).limit(50)
      .withColumn("r_q", row_number().over(wq).cast("long"))
      .select("doc_id", "r_q")
    val fused = bm.join(qtop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60L) + col("r_bm")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60L) + col("r_q")), lit(0.0)), 6))
    val wf = Window.orderBy(col("rrf").desc, col("doc_id"))
    fused.orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(wf).cast("long"))
      .select("rank", "doc_id", "rrf")
  }
  val q118Sql: String =
    s"""WITH bm AS (
       |  SELECT doc_id, rank AS r_bm FROM (${bm25Sql(50)}) t),
       |ql AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY p_keep DESC, doc_id) AS r_q
       |  FROM (SELECT * FROM (${PipeQueries.q93Sql}) s
       |        ORDER BY p_keep DESC, doc_id LIMIT 50) u),
       |fused AS (
       |  SELECT coalesce(bm.doc_id, ql.doc_id) AS doc_id,
       |    round(coalesce(1.0e0 / (60 + r_bm), 0.0e0) +
       |          coalesce(1.0e0 / (60 + r_q), 0.0e0), 6) AS rrf
       |  FROM bm FULL OUTER JOIN ql ON bm.doc_id = ql.doc_id)
       |SELECT rank, doc_id, rrf FROM (
       |  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= 20""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Streaming crawl-frontier dedup: canonical URLs deduped AT INGEST
    * (the crawl-frontier "have we fetched this page" check) — messy
    * per-doc index-page URLs collapse to one canonical per
    * (source, lang). Key-only output keeps the result independent of
    * micro-batch slicing; dropDuplicates state holds one row per
    * canonical URL (watermark-evictable in an unbounded deployment).
    */
  def q119(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    StreamOps.streamDistinct(s, s"$dir/documents.parquet", df =>
      df.select(WebUrl.normalize(
        concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/"),
          col("lang"), lit("/index/?utm_source=feed&b=2&ref="), col("lang"),
          lit("&a=1#frag"))).as("url_norm")),
      "q119_stream_urls")
  }
  val q119Sql: String =
    s"""WITH raw AS (
       |  SELECT doc_id AS id,
       |    'HTTPS://WWW.' || source || '.Example.COM:443/' || lang ||
       |    '/index/?utm_source=feed&b=2&ref=' || lang || '&a=1#frag' AS url
       |  FROM documents),
       |$urlNormSql
       |SELECT DISTINCT url_norm FROM built""".stripMargin

  // ---------------------------------------------------------------- q120
  /** GROUPING SETS — the general form completing the cube (q62) /
    * rollup (q39) family: two one-dimension slices plus the grand
    * total in ONE pass (Expand feeds a single hash aggregation —
    * never N scans), with grouping_id disambiguating the all-null
    * rows. Decimal sums keep the totals merge-order exact.
    */
  def q120(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")
          .as("total_qty"))
      .select("l_returnflag", "l_linestatus", "gid", "n", "total_qty")
  val q120Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Event-transition matrix: counts of consecutive event-type pairs
    * per user stream — the empirical Markov matrix behind the q112
    * funnel.
    */
  def q121(s: SparkSession, dir: String): DataFrame =
    Funnel.transitions(ExtQueries.events(s, dir), "user_id", "event_type",
      "ts", "event_id")
  val q121Sql: String =
    """WITH p AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |FROM p WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q101_bm25", q101, q101Sql),
    Query("q102_url_normalize", q102, q102Sql),
    Query("q103_paragraph_dedup", q103, q103Sql),
    Query("q104_boilerplate_strip", q104, q104Sql),
    Query("q105_train_order", q105, q105Sql),
    Query("q106_median_mode", q106, q106Sql),
    Query("q107_snapshot_diff", q107, q107Sql),
    Query("q108_length_buckets", q108, q108Sql),
    Query("q109_sparse_cosine", q109, q109Sql),
    Query("q110_winsorize", q110, q110Sql),
    Query("q111_fuzzy_join", q111, q111Sql),
    Query("q112_funnel", q112, q112Sql),
    Query("q113_cohorts", q113, q113Sql),
    Query("q114_crawl_dedup", q114, q114Sql),
    Query("q115_interval_union", q115, q115Sql),
    Query("q116_expectations", q116, q116Sql),
    Query("q117_sketch_merge", q117, q117Sql),
    Query("q118_rrf_fusion", q118, q118Sql),
    Query("q119_stream_urls", q119, q119Sql),
    Query("q120_grouping_sets", q120, q120Sql),
    Query("q121_event_paths", q121, q121Sql))
}
