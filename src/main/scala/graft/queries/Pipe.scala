package graft.queries

import graft.ops.Cdc
import graft.ops.ext.{LmScore, Mixture, SemDedup, Sharding, SpanDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Round-3 pipeline query set (q81+): interchange formats beyond
  * parquet/ORC/JSONL (Avro, XML), substring-level dedup, corpus-LM
  * scoring, mixture rebalancing, semantic dedup, token-budget sharding,
  * and changelog (CDC) application. Same contract as Core/Ext: every
  * query paired with a DuckDB oracle, floats rounded to 6 dp, sums
  * through DECIMAL, ranks tie-broken by id.
  */
object PipeQueries {
  import CoreQueries.{T, sfName, fixDir}
  import ExtQueries.{nearDupCorpus, nearDupCorpusSql, shinglesSql}

  /** Spark's Avro source isn't service-registered in this distribution
    * (jars-only layout), so address the provider class directly — the
    * documented fallback for `Failed to find data source: avro`.
    */
  val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  // ---------------------------------------------------------------- q81
  /** Avro source/sink round trip (row-major interchange): all-scalar
    * schema, lossless; base table as oracle. Same construction as
    * q74's ORC twin.
    */
  def q81(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${fixDir(dir)}/q81_avro"
    if (!Files.exists(Paths.get(s"$tmp/_SUCCESS")))
      T(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite").format(AvroFormat).save(tmp)
    s.read.format(AvroFormat).load(tmp)
      .select("doc_id", "lang", "source", "n_chars", "text")
  }
  val q81Sql: String =
    "SELECT doc_id, lang, source, n_chars, text FROM documents"

  // ---------------------------------------------------------------- q82
  /** XML ingest (Spark 4's built-in XML source): dump nation rows as
    * XML records, read back with schema inference, join-shape check
    * against the base table. XML infers integers as long — cast to the
    * base types explicitly (the reader's documented widening).
    */
  def q82(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${fixDir(dir)}/q82_xml"
    if (!Files.exists(Paths.get(s"$tmp/_SUCCESS")))
      T(s, dir, "nation")
        .write.mode("overwrite").option("rowTag", "nation")
        .format("xml").save(tmp)
    s.read.option("rowTag", "nation").format("xml").load(tmp)
      .select(col("n_nationkey").cast("int"), col("n_name"),
        col("n_regionkey").cast("int"))
  }
  val q82Sql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  // ---------------------------------------------------------------- q83
  /** Substring-level exact dedup (Lee et al. 2022 recipe, hashed
    * sliding windows): per-doc duplicated-span stats over the
    * mutated-copy corpus — the mutated copies share almost all their
    * 20-token spans with their originals.
    */
  def q83(s: SparkSession, dir: String): DataFrame =
    SpanDedup.spanStats(nearDupCorpus(s, dir), "text", "doc_id", w = 20)
  val q83Sql: String =
    s"""WITH corpus AS ($nearDupCorpusSql),
       |tok AS (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks
       |        FROM corpus),
       |spans AS (SELECT doc_id,
       |            unnest(list_distinct([array_to_string(toks[i:i+19],' ')
       |              for i in range(1, greatest(len(toks)-19,1)+1)])) AS span
       |          FROM tok),
       |cnt AS (SELECT doc_id,
       |          count(*) OVER (PARTITION BY span) AS docs
       |        FROM spans)
       |SELECT doc_id, count(*) AS n_spans,
       |  count(CASE WHEN docs > 1 THEN 1 END) AS n_dup_spans,
       |  round(count(CASE WHEN docs > 1 THEN 1 END) / count(*), 6) AS dup_frac
       |FROM cnt GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Corpus-LM quality scoring: add-one-smoothed unigram NLL per doc
    * (the order-0 CCNet perplexity gate). ln() terms sum through
    * DECIMAL(38,18); every ln() input is an integer, so both engines
    * take ln of bit-identical doubles.
    */
  def q84(s: SparkSession, dir: String): DataFrame =
    LmScore.unigramNll(T(s, dir, "documents"), "text", "doc_id")
  val q84Sql: String =
    """WITH tok AS (SELECT doc_id,
      |        unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                           t -> len(t)>0)) AS token
      |      FROM documents),
      |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
      |tot AS (SELECT sum(c) AS n, count(*) AS v FROM freq),
      |agg AS (SELECT t.doc_id, count(*) AS n_tokens,
      |          sum(CAST(ln(f.c + 1) AS DECIMAL(38,18))) AS s
      |        FROM tok t JOIN freq f USING (token) GROUP BY t.doc_id)
      |SELECT doc_id, n_tokens,
      |  round(ln(n + v) - CAST(s AS DOUBLE) / n_tokens, 6) AS nll
      |FROM agg, tot""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Mixture rebalancing: downsample to the largest corpus matching the
    * target language mixture exactly (en 40% / de 25% / fr 20% /
    * es 15%; zh dropped), deterministic md5-rank selection per stratum.
    */
  def q85(s: SparkSession, dir: String): DataFrame =
    Mixture.rebalance(T(s, dir, "documents"), "doc_id", "lang",
      Map("en" -> 0.40, "de" -> 0.25, "fr" -> 0.20, "es" -> 0.15))
      .select("doc_id", "lang", "source")
  val q85Sql: String =
    """WITH counts AS (
      |  SELECT lang, count(*) AS cnt,
      |    (CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.25
      |               WHEN 'fr' THEN 0.20 WHEN 'es' THEN 0.15 END)::DOUBLE AS w
      |  FROM documents GROUP BY lang),
      |budget AS (SELECT min(floor(cnt / w)) AS t FROM counts WHERE w IS NOT NULL),
      |takes AS (SELECT lang, CAST(floor(w * t) AS BIGINT) AS take
      |          FROM counts, budget WHERE w IS NOT NULL),
      |ranked AS (SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY substr(md5(doc_id::VARCHAR),1,8), doc_id) AS rn
      |  FROM documents)
      |SELECT r.doc_id, r.lang, r.source
      |FROM ranked r JOIN takes k USING (lang) WHERE r.rn <= k.take""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Semantic dedup (SemDeDup): IVF-style deterministic clusters, drop
    * any vector with a lower-id cluster-mate at cosine > 0.9; output
    * the kept ids with their cluster. The synthetic embeddings have no
    * natural semantic dups (max in-cluster cosine ~0.45), so the corpus
    * plants them: every 10th vector re-enters at id+1,000,000 with
    * +0.05 on its first component (cosine to its original ~0.998) —
    * the same planted-duplicate construction the text near-dup queries
    * use.
    */
  def q86(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val mutated = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + 0.05).otherwise(x)).as("embedding"))
    SemDedup.semDedup(base.unionByName(mutated), "embedding", "vec_id",
      centroidEvery = 25, tau = 0.9)
  }
  val q86Sql: String =
    """WITH base AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS vec FROM embeddings),
      |v AS (SELECT vec_id, vec FROM base
      |      UNION ALL
      |      SELECT vec_id + 1000000 AS vec_id,
      |        [CASE WHEN i = 1 THEN vec[i] + 0.05 ELSE vec[i] END
      |         for i in range(1, len(vec)+1)] AS vec
      |      FROM base WHERE vec_id % 10 = 0),
      |n AS (SELECT vec_id, vec,
      |        sqrt(list_reduce(list_transform(vec, x -> x*x), (a,b) -> a+b)) AS nrm
      |      FROM v),
      |cents AS (SELECT vec_id AS cent_id, vec AS centv, nrm AS centnorm
      |          FROM n WHERE vec_id % 25 = 0),
      |assign AS (
      |  SELECT vec_id, cent_id, vec, nrm FROM (
      |    SELECT n.vec_id, c.cent_id, n.vec, n.nrm,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_reduce(list_transform(range(1, len(n.vec)+1), i -> n.vec[i]*c.centv[i]),
      |                    (x,y) -> x+y) / (n.nrm*c.centnorm) DESC, c.cent_id) AS r
      |    FROM n, cents c) WHERE r = 1),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assign a JOIN assign b
      |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      |  WHERE list_reduce(list_transform(range(1, len(a.vec)+1), i -> a.vec[i]*b.vec[i]),
      |                    (x,y) -> x+y) / (a.nrm*b.nrm) > 0.9)
      |SELECT vec_id, cent_id FROM assign
      |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Token-budget sharding: md5 global order, cut every 20k tokens,
    * emit the shard manifest. Two-level prefix sum (16 hash buckets in
    * parallel + broadcast offsets) — integer-exact, window-parallel.
    */
  def q87(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"),
        graft.ops.ext.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
    Sharding.shardManifest(docs, "doc_id", "n_tokens", budget = 20000L)
  }
  val q87Sql: String =
    """WITH docs AS (SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                    t -> len(t)>0))::BIGINT AS n_tokens,
      |    substr(md5(doc_id::VARCHAR),1,8) AS key
      |  FROM documents),
      |cum AS (SELECT doc_id, n_tokens,
      |    sum(n_tokens) OVER (ORDER BY key, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM docs)
      |SELECT CAST((c - n_tokens) // 20000 AS BIGINT) AS shard,
      |  count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
      |FROM cum GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Changelog application (MERGE INTO semantics): orders snapshot +
    * synthetic CDC log — every 7th key an upsert doubling the price at
    * seq 1, every 11th key a delete at seq 2 (so keys divisible by 77
    * are updated then deleted). Latest seq wins in one window pass.
    */
  def q88(s: SparkSession, dir: String): DataFrame = {
    val snap = T(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val ups = snap.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val dels = snap.filter(col("o_orderkey") % 11 === 0)
      .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
    Cdc.applyChangelog(snap, ups.unionByName(dels),
      "o_orderkey", "seq", "op")
  }
  val q88Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice * 2, 2)
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 11 <> 0""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Bigram-LM quality scoring: mean NLL under the corpus's add-one
    * bigram model — the order-1 deepening of q84's gate (a doc can be
    * unigram-plausible but bigram-garbled; this is the signal
    * perplexity filters actually use).
    */
  def q89(s: SparkSession, dir: String): DataFrame =
    LmScore.bigramNll(T(s, dir, "documents"), "text", "doc_id")
  val q89Sql: String =
    """WITH tok AS (SELECT doc_id,
      |        list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                    t -> len(t)>0) AS toks
      |      FROM documents),
      |pairs AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |          FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |                FROM tok)),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
      |pre AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
      |voc AS (SELECT count(DISTINCT token) AS v
      |        FROM (SELECT unnest(toks) AS token FROM tok)),
      |agg AS (SELECT p.doc_id, count(*) AS n_bigrams,
      |          sum(CAST(ln(b.c12 + 1) AS DECIMAL(38,18))
      |              - CAST(ln(pr.c1 + voc.v) AS DECIMAL(38,18))) AS s
      |        FROM pairs p JOIN big b USING (w1, w2)
      |        JOIN pre pr USING (w1), voc
      |        GROUP BY p.doc_id)
      |SELECT doc_id, n_bigrams,
      |  round(-CAST(s AS DOUBLE) / n_bigrams, 6) AS nll FROM agg""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Schema evolution across epochs: epoch 1 writes (doc_id, lang),
    * epoch 2 adds (source, n_chars); a mergeSchema read presents the
    * union schema with nulls backfilled and the epoch as a partition
    * column — the lakehouse widening pattern.
    */
  def q90(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${fixDir(dir)}/q90_epochs"
    if (!Files.exists(Paths.get(s"$tmp/epoch=2/_SUCCESS"))) {
      val docs = T(s, dir, "documents")
      docs.select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$tmp/epoch=1")
      docs.select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/epoch=2")
    }
    s.read.option("mergeSchema", "true").parquet(tmp)
      .select("doc_id", "lang", "source", "n_chars", "epoch")
  }
  val q90Sql: String =
    """SELECT doc_id, lang, NULL AS source, NULL::BIGINT AS n_chars,
      |  1 AS epoch FROM documents
      |UNION ALL
      |SELECT doc_id, lang, source, n_chars, 2 AS epoch FROM documents""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Incremental corpus append: history (docs with id % 3 <> 0) grows
    * by a batch (id % 3 = 0) deduped internally and against history by
    * content digest — only digests shuffle, never the history text.
    */
  def q91(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Dedup
    val docs = T(s, dir, "documents")
    Dedup.incremental(
      history = docs.filter(col("doc_id") % 3 =!= 0),
      batch = docs.filter(col("doc_id") % 3 === 0),
      "text", "doc_id")
  }
  val q91Sql: String =
    """WITH old AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
      |neu AS (SELECT * FROM documents WHERE doc_id % 3 = 0)
      |SELECT * FROM old
      |UNION ALL
      |SELECT * FROM neu
      |WHERE text NOT IN (SELECT text FROM old)
      |  AND doc_id IN (SELECT min(doc_id) FROM neu GROUP BY text)""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Containment (asymmetric) near-dup pairs over the mutated-copy
    * corpus: the mutated copies (last 2 tokens dropped) are fully
    * contained in their originals (containment 1.0 in that direction;
    * the reverse direction passes only for long docs). maxDf left at
    * its exhaustive-exact default — the corpus's shingle df is tiny;
    * the cap is the documented web-scale knob.
    */
  def q92(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Dedup
    Dedup.containmentPairs(nearDupCorpus(s, dir), "text", "doc_id",
      shingleSize = 3, tau = 0.9)
  }
  val q92Sql: String =
    s"""WITH corpus AS ($nearDupCorpusSql),
       |sh AS (SELECT doc_id,
       |         $shinglesSql AS shingles
       |       FROM (SELECT doc_id,
       |               list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                           t -> len(t)>0) AS toks
       |             FROM corpus))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(len(list_intersect(a.shingles, b.shingles))
       |        / len(a.shingles), 6) AS containment
       |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
       |WHERE len(list_intersect(a.shingles, b.shingles))
       |      / len(a.shingles) >= 0.9""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Logistic quality classifier: fixed-coefficient sigmoid over the
    * q19 feature set — the deterministic core of the fastText-style
    * keep/drop gate.
    */
  def q93(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.logisticQuality(
      T(s, dir, "documents"), "text")
      .select("doc_id", "p_keep", "keep")
  val q93Sql: String = {
    val stop = graft.ops.ext.TextAnalysis.StopwordSets("en")
      .map(w => s"'$w'").mkString(",")
    s"""WITH f AS (SELECT doc_id,
       |    len(toks)::DOUBLE AS nt,
       |    CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END AS pr,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, t -> list_contains([$stop], t)))::DOUBLE / len(toks)
       |      ELSE 0.0 END AS sr
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks,
       |          length(text)::DOUBLE AS nc,
       |          (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE AS np
       |        FROM documents)),
       |sc AS (SELECT doc_id,
       |    round(1.0 / (1.0 + exp(-(-1.0 + sr * 4.0 + pr * (-6.0)
       |                             + ln(nt + 1) * 0.5))), 6) AS p_keep
       |  FROM f)
       |SELECT doc_id, p_keep, p_keep > 0.5 AS keep FROM sc""".stripMargin
  }

  // ---------------------------------------------------------------- q94
  /** Tokenizer-coverage signal: per-doc OOV rate against the corpus's
    * own count>=5 vocabulary.
    */
  def q94(s: SparkSession, dir: String): DataFrame =
    LmScore.oovRate(T(s, dir, "documents"), "text", "doc_id", minCount = 5L)
  val q94Sql: String =
    """WITH tok AS (SELECT doc_id,
      |        unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                           t -> len(t)>0)) AS token
      |      FROM documents),
      |voc AS (SELECT token FROM
      |          (SELECT token, count(*) AS c FROM tok GROUP BY token)
      |        WHERE c >= 5)
      |SELECT t.doc_id, count(*) AS n_tokens,
      |  count(CASE WHEN v.token IS NULL THEN 1 END) AS n_oov,
      |  round(count(CASE WHEN v.token IS NULL THEN 1 END) / count(*), 6)
      |    AS oov_rate
      |FROM tok t LEFT JOIN voc v ON t.token = v.token
      |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Dataset card: per (lang, source) doc counts, token totals and the
    * exact median length — the summary block a corpus release ships.
    */
  def q95(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.ops.ext.TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("n_tokens"),
        percentile(col("n_chars"), lit(0.5)).as("median_chars"))
  val q95Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  sum(len(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                      t -> len(t)>0)))::BIGINT AS n_tokens,
      |  quantile_cont(n_chars, 0.5) AS median_chars
      |FROM documents GROUP BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Rank-function depth (§2.5): length deciles per language via ntile,
    * percent_rank and cume_dist over a total (id-tie-broken) order —
    * the curriculum-bucketing shape (route short docs early, long docs
    * late).
    */
  def q96(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        ntile(10).over(w).as("decile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
  }
  val q96Sql: String =
    """SELECT doc_id, lang, n_chars,
      |  ntile(10) OVER w AS decile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM documents
      |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Deterministic Lloyd k-means, 2 rounds over the embeddings (see
    * KMeans.lloyd for the reproducibility construction). Output = the
    * final per-(cluster, dimension) component table, so the oracle
    * checks the actual centroids, not a summary.
    */
  def q97(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.KMeans.lloyd(T(s, dir, "embeddings"), "embedding",
      "vec_id", centroidEvery = 25, iters = 2)
  val q97Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (x,y) -> x+y)"
    val rounds = 2
    val parts = new StringBuilder
    parts ++= s"""WITH v AS (SELECT vec_id AS id, [x::DOUBLE for x in embedding] AS vec
                 |          FROM embeddings),
                 |vx AS (SELECT id, vec, ${dot("vec", "vec")} AS xx FROM v),
                 |cents0 AS (SELECT id AS cid, vec AS centv FROM v WHERE id % 25 = 0)""".stripMargin
    for (r <- 1 to rounds) {
      parts ++= s""",
        |cc${r - 1} AS (SELECT cid, centv, ${dot("centv", "centv")} AS cc
        |        FROM cents${r - 1}),
        |a$r AS (SELECT id, cid, vec FROM (
        |    SELECT t.id, c.cid, t.vec,
        |      row_number() OVER (PARTITION BY t.id ORDER BY
        |        t.xx - 2 * ${dot("t.vec", "c.centv")} + c.cc ASC, c.cid) AS rn
        |    FROM vx t, cc${r - 1} c) WHERE rn = 1),
        |comps$r AS (SELECT cid, CAST(o - 1 AS BIGINT) AS dim, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m
        |  FROM (SELECT cid, unnest(vec) AS x, generate_subscripts(vec, 1) AS o
        |        FROM a$r)
        |  GROUP BY cid, dim)""".stripMargin
      if (r < rounds) parts ++= s""",
        |cents$r AS (SELECT cid, list(m ORDER BY dim) AS centv
        |        FROM comps$r GROUP BY cid)""".stripMargin
    }
    parts ++= s"""
      |SELECT cid, dim, n, round(m, 6) AS centroid FROM comps$rounds""".stripMargin
    parts.toString
  }

  // ---------------------------------------------------------------- q98
  /** Curation at ingest: the deterministic md5-threshold sample as a
    * STATELESS streaming filter (StreamOps.streamHashSample) — the
    * kept set is independent of micro-batch slicing and re-delivery,
    * so the batch rule is the oracle.
    */
  def q98(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.streamHashSample(s,
      s"$dir/documents.parquet", "doc_id", rate = 0.35,
      queryName = "q98_stream_sample")
      .select("doc_id", "lang", "source")
  val q98Sql: String =
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE substr(md5(doc_id::VARCHAR), 1, 8) <
       |  '${graft.ops.ext.Sampling.thresholdHex(0.35)}'""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Federated multi-format union: the same table served from parquet,
    * ORC, Avro and JSONL unioned in ONE plan — the mixed-lake shape
    * (per-format source provenance kept as a column).
    */
  def q99(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${fixDir(dir)}/q99_federated"
    val base = T(s, dir, "documents").select("doc_id", "lang", "n_chars")
    if (!Files.exists(Paths.get(s"$tmp/jsonl/_SUCCESS"))) {
      base.write.mode("overwrite").orc(s"$tmp/orc")
      base.write.mode("overwrite").format(AvroFormat).save(s"$tmp/avro")
      base.write.mode("overwrite").json(s"$tmp/jsonl")
    }
    val frames = Seq(
      base.withColumn("fmt", lit("parquet")),
      s.read.orc(s"$tmp/orc").withColumn("fmt", lit("orc")),
      s.read.format(AvroFormat).load(s"$tmp/avro")
        .withColumn("fmt", lit("avro")),
      s.read.schema(base.schema).json(s"$tmp/jsonl")
        .withColumn("fmt", lit("jsonl")))
    frames.reduce(_.unionByName(_))
      .groupBy("fmt")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
  }
  val q99Sql: String =
    """SELECT fmt, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |FROM (SELECT doc_id, n_chars, unnest(['parquet','orc','avro','jsonl']) AS fmt
      |      FROM documents)
      |GROUP BY fmt""".stripMargin

  // ---------------------------------------------------------------- q100
  /** The corpus-release pipeline, end to end in ONE declarative plan:
    * logistic quality gate → exact dedup → mixture rebalance → token-
    * budget shard manifest. Each stage is a round-3 operator; composing
    * them keeps Catalyst free to pipeline the narrow stages — the same
    * single-plan philosophy as q44's curation composite.
    */
  def q100(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.{Dedup, TextAnalysis}
    val docs = T(s, dir, "documents")
    val kept = TextAnalysis.logisticQuality(docs, "text")
      .filter(col("keep")).drop("p_keep", "keep")
    val ded = Dedup.exactByHash(kept, "text", "doc_id")
    val mixed = Mixture.rebalance(ded, "doc_id", "lang",
      Map("en" -> 0.40, "de" -> 0.25, "fr" -> 0.20, "es" -> 0.15))
    val withToks = mixed.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    Sharding.shardManifest(withToks, "doc_id", "n_tokens", budget = 5000L)
  }
  val q100Sql: String = {
    val stop = graft.ops.ext.TextAnalysis.StopwordSets("en")
      .map(w => s"'$w'").mkString(",")
    s"""WITH f AS (SELECT doc_id,
       |    len(toks)::DOUBLE AS nt,
       |    CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END AS pr,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, t -> list_contains([$stop], t)))::DOUBLE / len(toks)
       |      ELSE 0.0 END AS sr
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks,
       |          length(text)::DOUBLE AS nc,
       |          (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE AS np
       |        FROM documents)),
       |kept AS (SELECT d.* FROM documents d JOIN f ON d.doc_id = f.doc_id
       |  WHERE round(1.0 / (1.0 + exp(-(-1.0 + sr * 4.0 + pr * (-6.0)
       |                                 + ln(nt + 1) * 0.5))), 6) > 0.5),
       |ded AS (SELECT * FROM kept
       |  WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY text)),
       |counts AS (SELECT lang, count(*) AS cnt,
       |    (CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.25
       |               WHEN 'fr' THEN 0.20 WHEN 'es' THEN 0.15 END)::DOUBLE AS w
       |  FROM ded GROUP BY lang),
       |budget AS (SELECT min(floor(cnt / w)) AS t FROM counts WHERE w IS NOT NULL),
       |takes AS (SELECT lang, CAST(floor(w * t) AS BIGINT) AS take
       |          FROM counts, budget WHERE w IS NOT NULL),
       |ranked AS (SELECT doc_id, lang, text,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY substr(md5(doc_id::VARCHAR),1,8), doc_id) AS rn
       |  FROM ded),
       |mixed AS (SELECT r.doc_id, r.text
       |  FROM ranked r JOIN takes k USING (lang) WHERE r.rn <= k.take),
       |toks AS (SELECT doc_id,
       |    len(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                    t -> len(t)>0))::BIGINT AS n_tokens,
       |    substr(md5(doc_id::VARCHAR),1,8) AS key
       |  FROM mixed),
       |cum AS (SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY key, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM toks)
       |SELECT CAST((c - n_tokens) // 5000 AS BIGINT) AS shard,
       |  count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
       |FROM cum GROUP BY 1""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("q98_stream_sample", q98, q98Sql),
    Query("q99_federated_union", q99, q99Sql),
    Query("q100_release_pipeline", q100, q100Sql),
    Query("q97_kmeans", q97, q97Sql),
    Query("q96_rank_deciles", q96, q96Sql),
    Query("q93_quality_classifier", q93, q93Sql),
    Query("q94_oov_rate", q94, q94Sql),
    Query("q95_dataset_card", q95, q95Sql),
    Query("q89_bigram_lm", q89, q89Sql),
    Query("q90_schema_evolution", q90, q90Sql),
    Query("q91_incremental_dedup", q91, q91Sql),
    Query("q92_containment", q92, q92Sql),
    Query("q81_avro_roundtrip", q81, q81Sql),
    Query("q82_xml_ingest", q82, q82Sql),
    Query("q83_span_dedup", q83, q83Sql),
    Query("q84_unigram_lm", q84, q84Sql),
    Query("q85_mixture", q85, q85Sql),
    Query("q86_semdedup", q86, q86Sql),
    Query("q87_shard_pack", q87, q87Sql),
    Query("q88_cdc_apply", q88, q88Sql))
}
