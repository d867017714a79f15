package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 23" query set (q245-q248): stratified-propensity ATE,
  * greedy mRMR feature selection, per-language tokenizer fertility,
  * and a streaming exact leaderboard. Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave23Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q245
  /** Stratified ATE ([[graft.ops.Experiment.stratifiedAte]]): user
    * pre-period value quintiles as propensity strata, arm by parity,
    * post-period value as the metric — the blocked causal estimate
    * that closes the q231-CUPED / q238-DiD trio.
    */
  def q245(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Experiment
    val ev = ExtQueries.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 10.0 + 0.5).cast("long").as("qv"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val units = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") < col("cut"), col("qv")).otherwise(0L))
          .as("x"),
        sum(when(col("us") >= col("cut"), col("qv")).otherwise(0L))
          .as("y"))
      .select(col("user_id").as("unit"),
        (pmod(col("user_id"), lit(2L)) === 1).as("treated"),
        col("x"), col("y"))
    Experiment.stratifiedAte(units, nStrata = 5, scale = 10.0)
      .orderBy("stratum")
  }
  val q245Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
      |    CAST(floor(value * 10.0e0 + 0.5e0) AS BIGINT) AS qv
      |  FROM events),
      |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
      |units AS (SELECT user_id AS unit, user_id % 2 = 1 AS treated,
      |    CAST(sum(CASE WHEN us < cut THEN qv ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN us >= cut THEN qv ELSE 0 END) AS BIGINT) AS y
      |  FROM ev, cut GROUP BY user_id, 2),
      |st AS (SELECT *, CAST(ntile(5) OVER (ORDER BY x, unit) AS BIGINT)
      |    AS stratum FROM units),
      |arms AS (SELECT stratum, treated, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS sy
      |  FROM st GROUP BY 1, 2),
      |j AS (SELECT t.stratum, t.n AS n_treat, t.sy AS sy_t,
      |    c.n AS n_ctrl, c.sy AS sy_c,
      |    (CAST(t.sy AS DOUBLE) / CAST(t.n AS DOUBLE)
      |     - CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE)) / 10.0e0 AS diff
      |  FROM (SELECT * FROM arms WHERE treated) t
      |  JOIN (SELECT * FROM arms WHERE NOT treated) c USING (stratum)),
      |tot AS (SELECT CAST(sum(n_treat + n_ctrl) AS BIGINT) AS nn FROM j),
      |wq AS (SELECT j.*, CAST(floor(CAST(n_treat + n_ctrl AS DOUBLE)
      |    / CAST(nn AS DOUBLE) * diff * 1000000000.0e0 + 0.5e0) AS BIGINT)
      |    AS tq
      |  FROM j, tot),
      |ate AS (SELECT CAST(sum(tq) AS BIGINT) AS sq FROM wq)
      |SELECT stratum, n_treat, n_ctrl,
      |  round(CAST(sy_t AS DOUBLE) / CAST(n_treat AS DOUBLE) / 10.0e0, 6)
      |    AS mean_treat,
      |  round(CAST(sy_c AS DOUBLE) / CAST(n_ctrl AS DOUBLE) / 10.0e0, 6)
      |    AS mean_ctrl,
      |  round(diff, 6) AS diff,
      |  round(CAST(sq AS DOUBLE) / 1000000000.0e0, 6) AS ate
      |FROM wq, ate ORDER BY stratum""".stripMargin

  // ---------------------------------------------------------------- q246
  /** Greedy mRMR ([[graft.ops.ext.FeatureSelect.mrmr]]): 3 rounds of
    * max-relevance-min-redundancy over five categorical order
    * features against order status, every pairwise MI from one melted
    * self-join — the feature-selection screen that q230's univariate
    * IV can't do (it never sees redundancy).
    */
  def q246(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.FeatureSelect
    val base = T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
    def f(name: String, value: org.apache.spark.sql.Column) =
      base.select(col("o_orderkey").as("row_id"), lit(name).as("feature"),
        value.cast("string").as("value"))
    val long = f("segment", col("c_mktsegment"))
      .unionByName(f("nation", col("n_name")))
      .unionByName(f("priority", col("o_orderpriority")))
      .unionByName(f("month", month(col("o_orderdate"))))
      .unionByName(f("price_band",
        expr("CAST(floor(o_totalprice / 50000.0) AS BIGINT)")))
      .unionByName(f("_target", col("o_orderstatus")))
    FeatureSelect.mrmr(long, "_target", k = 3).orderBy("rank")
  }
  val q246Sql: String =
    """WITH base AS (SELECT o_orderkey AS row_id, c_mktsegment, n_name,
      |    o_orderpriority, month(o_orderdate) AS mon,
      |    CAST(floor(o_totalprice / 50000.0e0) AS BIGINT) AS pband,
      |    o_orderstatus
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |m AS (
      |  SELECT row_id, 'segment' AS feature,
      |    CAST(c_mktsegment AS VARCHAR) AS value FROM base
      |  UNION ALL SELECT row_id, 'nation', CAST(n_name AS VARCHAR)
      |    FROM base
      |  UNION ALL SELECT row_id, 'priority',
      |    CAST(o_orderpriority AS VARCHAR) FROM base
      |  UNION ALL SELECT row_id, 'month', CAST(mon AS VARCHAR) FROM base
      |  UNION ALL SELECT row_id, 'price_band', CAST(pband AS VARCHAR)
      |    FROM base
      |  UNION ALL SELECT row_id, '_target', CAST(o_orderstatus AS VARCHAR)
      |    FROM base),
      |nn AS (SELECT CAST(count(DISTINCT row_id) AS BIGINT) AS n FROM m),
      |marg AS (SELECT feature, value, CAST(count(*) AS BIGINT) AS c
      |  FROM m GROUP BY 1, 2),
      |cells AS (SELECT a.feature AS fa, b.feature AS fb,
      |    a.value AS va, b.value AS vb, CAST(count(*) AS BIGINT) AS c
      |  FROM m a JOIN m b ON a.row_id = b.row_id AND a.feature < b.feature
      |  GROUP BY 1, 2, 3, 4),
      |mi0 AS (SELECT fa, fb, CAST(sum(CAST(floor(
      |      CAST(cells.c AS DOUBLE) / CAST(n AS DOUBLE)
      |      * ln(CAST(cells.c AS DOUBLE) * CAST(n AS DOUBLE)
      |        / (CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)))
      |      * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sq
      |  FROM cells
      |  JOIN marg ma ON ma.feature = cells.fa AND ma.value = cells.va
      |  JOIN marg mb ON mb.feature = cells.fb AND mb.value = cells.vb,
      |  nn GROUP BY 1, 2),
      |mi AS (SELECT fa, fb, sq, CAST(sq AS DOUBLE) / 1000000000.0e0 AS mi
      |  FROM mi0
      |  UNION ALL
      |  SELECT fb, fa, sq, CAST(sq AS DOUBLE) / 1000000000.0e0 FROM mi0),
      |rel AS (SELECT fa AS feature, mi AS rel FROM mi
      |  WHERE fb = '_target'),
      |p1 AS (SELECT feature, rel, 0.0e0 AS red, rel AS score,
      |    CAST(1 AS BIGINT) AS rank
      |  FROM rel ORDER BY score DESC, feature LIMIT 1),
      |p2 AS (SELECT r.feature, r.rel, d.red, r.rel - d.red AS score,
      |    CAST(2 AS BIGINT) AS rank
      |  FROM rel r JOIN (SELECT fa AS feature,
      |      CAST(sum(sq) AS DOUBLE) / 1000000000.0e0 / 1.0e0 AS red
      |    FROM mi WHERE fb IN (SELECT feature FROM p1) GROUP BY 1) d
      |    ON r.feature = d.feature
      |  WHERE r.feature NOT IN (SELECT feature FROM p1)
      |  ORDER BY score DESC, r.feature LIMIT 1),
      |p3 AS (SELECT r.feature, r.rel, d.red, r.rel - d.red AS score,
      |    CAST(3 AS BIGINT) AS rank
      |  FROM rel r JOIN (SELECT fa AS feature,
      |      CAST(sum(sq) AS DOUBLE) / 1000000000.0e0 / 2.0e0 AS red
      |    FROM mi WHERE fb IN (SELECT feature FROM p1
      |      UNION ALL SELECT feature FROM p2) GROUP BY 1) d
      |    ON r.feature = d.feature
      |  WHERE r.feature NOT IN (SELECT feature FROM p1
      |    UNION ALL SELECT feature FROM p2)
      |  ORDER BY score DESC, r.feature LIMIT 1)
      |SELECT rank, feature, round(rel, 6) AS rel, round(red, 6) AS red,
      |  round(score, 6) AS score
      |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
      |  UNION ALL SELECT * FROM p3)
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q247
  /** Tokenizer fertility per language: train q129's 3-merge BPE on
    * the corpus, encode the vocabulary once ([[graft.ops.ext.Bpe
    * .encode]]), and report words, subwords, fertility
    * (subwords/word) and chars/subword per lang — the tokenizer-
    * efficiency audit that decides whether a tokenizer taxes some
    * languages more than others.
    */
  def q247(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.{Bpe, TextAnalysis}
    val docs = T(s, dir, "documents")
    val merges = Bpe.train(Bpe.wordFreqs(docs, "text"), rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val docWords = docs.select(col("lang"),
      explode(TextAnalysis.tokens(col("text"))).as("word"))
    val vocab = Bpe.encode(docWords.select("word").distinct(), merges)
    docWords.join(vocab, Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_subwords")).cast("long").as("n_subwords"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double")
          / col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double")
          / col("n_subwords").cast("double"), 6).as("chars_per_subword"))
      .orderBy("lang")
  }
  val q247Sql: String = {
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
    s"""WITH tok AS (SELECT lang, list_filter(
       |    string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)
       |    AS toks FROM documents),
       |dw AS (SELECT lang, unnest(toks) AS word FROM tok),
       |w AS (SELECT word, count(*) AS freq FROM dw GROUP BY 1),
       |seg0 AS (SELECT word, freq, string_split(word, '') AS syms FROM w),
       |p1 AS (${pairs("seg0")}),
       |t1 AS (${top("p1", 1)}),
       |seg1 AS (${reseg("seg0", "t1")}),
       |p2 AS (${pairs("seg1")}),
       |t2 AS (${top("p2", 2)}),
       |seg2 AS (${reseg("seg1", "t2")}),
       |p3 AS (${pairs("seg2")}),
       |t3 AS (${top("p3", 3)}),
       |seg3 AS (${reseg("seg2", "t3")}),
       |enc AS (SELECT word, len(syms) AS n_subwords FROM seg3)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
       |  round(CAST(CAST(sum(n_subwords) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS fertility,
       |  round(CAST(CAST(sum(len(word)) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(n_subwords) AS BIGINT) AS DOUBLE), 6)
       |    AS chars_per_subword
       |FROM dw JOIN enc USING (word) GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q248
  /** Streaming exact leaderboard ([[graft.streaming.Stateful
    * .runningLeaderboard]]): cumulative per-user value totals per
    * event type in flatMapGroupsWithState, each batch re-emitting the
    * versioned top-5; the final standings (max version per key) match
    * the batch groupBy + rank oracle under any batch slicing.
    */
  def q248(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    val f = s"$dir/events.parquet"
    val src = StreamOps.fileStream(s, f)
      .select(col("event_type").as("key"), col("user_id"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("qv"))
      .as[Stateful.ValueEvent]
    val out = StreamOps.runBounded(s, f, "q248_lb", "update")(
      Stateful.runningLeaderboard(s, src, k = 5))
    val w = Window.partitionBy("key")
    out
      .withColumn("vmax", max("version").over(w))
      .filter(col("version") === col("vmax"))
      .select(col("key").as("event_type"), col("rank"), col("user_id"),
        round(col("total").cast("double") / 100.0, 6).as("value_total"),
        col("version").as("n_events"))
      .orderBy("event_type", "rank")
  }
  val q248Sql: String =
    """WITH ev AS (SELECT event_type AS key, user_id,
      |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS qv
      |  FROM events),
      |tot AS (SELECT key, user_id, CAST(sum(qv) AS BIGINT) AS total
      |  FROM ev GROUP BY 1, 2),
      |vc AS (SELECT key, CAST(count(*) AS BIGINT) AS n_events
      |  FROM ev GROUP BY 1)
      |SELECT key AS event_type, rank, user_id,
      |  round(CAST(total AS DOUBLE) / 100.0e0, 6) AS value_total,
      |  n_events
      |FROM (SELECT key, user_id, total,
      |        CAST(row_number() OVER (PARTITION BY key
      |          ORDER BY total DESC, user_id) AS BIGINT) AS rank
      |      FROM tot) r JOIN vc USING (key)
      |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q245_strat_ate" -> (q245 _),
    "q246_mrmr" -> (q246 _),
    "q247_fertility" -> (q247 _),
    "q248_stream_leaderboard" -> (q248 _))

  val oracles: Map[String, String] = Map(
    "q245_strat_ate" -> q245Sql,
    "q246_mrmr" -> q246Sql,
    "q247_fertility" -> q247Sql,
    "q248_stream_leaderboard" -> q248Sql)
}
