package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 9" query set (q191-q196): positional fingerprinting
  * (winnowing minimizers), shift-resistant chunk dedup (content-defined
  * chunking via the [[graft.expr.CdcChunks]] native expression),
  * order-free exact streaming moments, crawl-frontier politeness
  * scheduling, cross-source quantile normalization, and a Hill
  * tail-index estimator. Same contract as every wave: DuckDB oracle
  * per query, doubles round to 6 dp, integer sums BIGINT-cast in the
  * oracle, deterministic tie-breaks everywhere.
  */
object Wave9Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q191
  /** Winnowing (minimizer) fingerprint overlap over the near-dup
    * corpus ([[graft.ops.ext.Winnow]]): md5-keyed 3-token grams, local
    * minima within radius 3 selected, hub fingerprints (>50 docs)
    * dropped, pairs sharing >=2 fingerprints reported. The MOSS-style
    * complement to MinHash (q13): fingerprints are positional and
    * ~2/(w+1)-dense, so the candidate join touches a constant fraction
    * of shingle volume and survives corpora where signature matrices
    * are too wide.
    */
  def q191(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Winnow.overlapPairs(
      ExtQueries.nearDupCorpus(s, dir), "text", "doc_id",
      gramSize = 3, window = 4, maxDf = 50, minShared = 2, limit = 200)
  val q191Sql: String =
    s"""WITH corpus AS (${ExtQueries.nearDupCorpusSql}),
       |tk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                t -> len(t)>0) AS toks
       |  FROM corpus),
       |g0 AS (SELECT doc_id, toks,
       |    unnest(range(1, len(toks)-1)) AS p
       |  FROM tk WHERE len(toks) >= 3),
       |g AS (SELECT doc_id, p,
       |    md5(array_to_string(toks[p:p+2], ' ')) AS k
       |  FROM g0),
       |sel AS (SELECT doc_id, k FROM (
       |    SELECT doc_id, p, k,
       |      min(k) OVER (PARTITION BY doc_id ORDER BY p
       |                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS kmin
       |    FROM g)
       |  WHERE k = kmin),
       |fp AS (SELECT DISTINCT doc_id, k FROM sel),
       |hubs AS (SELECT k FROM fp GROUP BY k HAVING count(*) > 50),
       |fpk AS (SELECT * FROM fp WHERE k NOT IN (SELECT k FROM hubs))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  count(*)::BIGINT AS n_shared
       |FROM fpk a JOIN fpk b ON a.k = b.k AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY n_shared DESC, id_a, id_b LIMIT 200""".stripMargin

  // ---------------------------------------------------------------- q192
  /** Content-defined chunk dedup ([[graft.ops.ext.CdcDedup]] over the
    * [[graft.expr.CdcChunks]] expression): the corpus plus
    * PREFIX-SHIFTED copies of every 7th doc — the banner-injection case
    * where fixed-size chunking shares zero blocks but CDC re-aligns one
    * boundary past the edit. Output = the top duplicated chunks. The
    * oracle replays the identical rolling-window boundary rule
    * character-by-character with 7 lag() windows (weights = CdcChunks.W;
    * change both or neither).
    */
  def q192(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select("doc_id", "text")
    val shifted = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("mirror prefix pad: "), col("text")).as("text"))
    graft.ops.ext.CdcDedup.duplicatedChunks(
      docs.unionByName(shifted), "text", "doc_id", limit = 50)
  }
  val q192Sql: String = {
    val w = Seq(506952113L, 447114515L, 387276917L, 327439319L,
      267601721L, 207764123L, 147926525L, 88088927L)
    val hexpr = w.zipWithIndex.map { case (c, j) =>
      if (j == 0) s"cp * $c" else s"lag(cp, $j) OVER w * $c"
    }.mkString(" + ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id,
       |    'mirror prefix pad: ' || text AS text
       |  FROM documents WHERE doc_id % 7 = 0),
       |pos AS (SELECT doc_id, text, unnest(range(1, len(text)+1)) AS i
       |  FROM corpus),
       |ch AS (SELECT doc_id, i, substr(text, i, 1) AS c,
       |    ascii(substr(text, i, 1))::BIGINT AS cp
       |  FROM pos),
       |h AS (SELECT doc_id, i, c,
       |    CASE WHEN i >= 8 THEN ($hexpr) % 64 = 0 ELSE FALSE END AS boundary
       |  FROM ch WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |cid AS (SELECT doc_id, i, c,
       |    coalesce(sum(CASE WHEN boundary THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY i
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_id
       |  FROM h),
       |chunks AS (SELECT doc_id, chunk_id,
       |    string_agg(c, '' ORDER BY i) AS chunk
       |  FROM cid GROUP BY doc_id, chunk_id)
       |SELECT md5(chunk) AS digest, count(*)::BIGINT AS n_occurrences,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  min(len(chunk))::BIGINT AS chunk_len
       |FROM chunks GROUP BY digest HAVING count(*) > 1
       |ORDER BY n_occurrences DESC, digest LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------- q193
  /** Streaming exact per-user moments ([[graft.streaming.Stateful
    * .runningMoments]]): n, Σq, Σq² in 1e-4 fixed point accumulated in
    * flatMapGroupsWithState. Integer sums commute, so the final state
    * is independent of batch slicing AND arrival order — the oracle is
    * a plain batch GROUP BY, no replay needed (contrast q151's
    * order-sensitive EWMA fold). Mean/variance reconstruct from the
    * exact sums in one identical double expression on both sides.
    */
  def q193(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    val f = s"$dir/events.parquet"
    val src = ExtQueries.tsAsMicros(StreamOps.fileStream(s, f))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Stateful.TimedEvent]
    val out = StreamOps.runBounded(s, f, "q193_moments", "update")(
      Stateful.runningMoments(s, src))
    val m = col("s1").cast("double") / col("n")
    out
      .select(col("user_id"), col("n").as("n_events"),
        round(m / 10000.0, 6).as("mean_value"),
        round((col("s2").cast("double") / col("n") - m * m) / 100000000.0, 6)
          .as("var_value"))
      .orderBy("user_id")
  }
  val q193Sql: String =
    """WITH q AS (SELECT user_id,
      |    CAST(floor(value * 10000.0e0 + 0.5e0) AS BIGINT) AS qv
      |  FROM events),
      |g AS (SELECT user_id, count(*)::BIGINT AS n_events,
      |    CAST(sum(qv) AS BIGINT) AS s1,
      |    CAST(sum(qv * qv) AS BIGINT) AS s2
      |  FROM q GROUP BY user_id)
      |SELECT user_id, n_events,
      |  round((s1::DOUBLE / n_events) / 10000.0e0, 6) AS mean_value,
      |  round((s2::DOUBLE / n_events
      |         - (s1::DOUBLE / n_events) * (s1::DOUBLE / n_events))
      |        / 100000000.0e0, 6) AS var_value
      |FROM g ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q194
  /** Crawl-frontier politeness schedule: round-robin interleave by
    * domain — fetch round r holds each domain's r-th URL, so no domain
    * is hit twice before every domain with pending work is hit once
    * (the frontier discipline every crawler-scale ingest needs). One
    * per-domain window, no global rank: the schedule key is
    * (round, domain), which at scale is a range-partitioned WRITE SORT,
    * never a materialized global row number.
    */
  def q194(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
      .select(col("doc_id"),
        concat(lower(col("source")), lit(".example.com")).as("domain"))
    d.withColumn("round",
        row_number().over(Window.partitionBy("domain").orderBy("doc_id"))
          .cast("long"))
      .orderBy("round", "domain", "doc_id")
  }
  val q194Sql: String =
    """SELECT doc_id, lower(source) || '.example.com' AS domain,
      |  row_number() OVER (PARTITION BY lower(source) || '.example.com'
      |                     ORDER BY doc_id) AS round
      |FROM documents
      |ORDER BY round, domain, doc_id""".stripMargin

  // ---------------------------------------------------------------- q195
  /** Cross-source quantile normalization of doc length: each doc's
    * n_chars maps to the pooled corpus value at its within-lang
    * quantile (nearest-rank, exact integer arithmetic) — the
    * distribution-matching move before mixing sources so no source's
    * length profile dominates. The pooled rank is a global window over
    * ONE ROW PER DOC of (n_chars, doc_id) — at scale this becomes an
    * approx-quantile lookup table (q80's sketch) instead of an exact
    * global sort; the exact form here is what the sketch is checked
    * against.
    */
  def q195(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select("doc_id", "lang", "n_chars")
    val wl = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    val ranked = d
      .withColumn("r", row_number().over(wl).cast("long"))
      .withColumn("nl", count(lit(1)).over(Window.partitionBy("lang")))
    val total = d.agg(count(lit(1)).as("n_total"))
    // pooled rank two-level (ScaleWindows) — the scaladoc's "at scale
    // this becomes a sketch" caveat no longer needs the exact form to
    // serialize onto one partition either
    val pooled = graft.ops.ScaleWindows
      .globalRowNumber(d, "n_chars", Seq("doc_id"), "g")
      .select(col("n_chars").as("norm_chars"), col("g"))
    ranked.crossJoin(broadcast(total))
      .withColumn("g",
        expr("(r * n_total + nl - 1) div nl"))
      .join(broadcast(pooled), "g")
      .select("doc_id", "lang", "n_chars", "norm_chars")
      .orderBy("doc_id")
  }
  val q195Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
      |t AS (SELECT count(*)::BIGINT AS n_total FROM d),
      |rl AS (SELECT doc_id, lang, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS r,
      |    count(*) OVER (PARTITION BY lang) AS nl
      |  FROM d),
      |p AS (SELECT n_chars AS norm_chars,
      |    row_number() OVER (ORDER BY n_chars, doc_id) AS g
      |  FROM d)
      |SELECT rl.doc_id, rl.lang, rl.n_chars, p.norm_chars
      |FROM rl, t
      |JOIN p ON p.g = (rl.r * t.n_total + rl.nl - 1) // rl.nl
      |ORDER BY rl.doc_id""".stripMargin

  // ---------------------------------------------------------------- q196
  /** Hill tail-index estimator of the event-value distribution per
    * event type: alpha = (k-1) / Σ_{i<k} ln(v_i / v_k) over the top
    * k=100 order statistics — the tail-only MLE of a power-law
    * exponent (q178's Zipf OLS is a whole-curve fit; Hill isolates the
    * tail, and their disagreement is itself a distribution-shift
    * detector for reward/score columns). Each ln-ratio quantizes to
    * 1e-4 fixed point PER ROW, so the sum is an order-free BIGINT and
    * engine/oracle agree bit-exactly despite libm ulp differences.
    */
  def q196(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    val ev = ExtQueries.events(s, dir).select("event_type", "event_id", "value")
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id"))
    val top = ev.withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .withColumn("vk",
        max(when(col("r") === k, col("value")))
          .over(Window.partitionBy("event_type")))
      .filter(col("vk").isNotNull)
    top.select(col("event_type"),
        floor((log(col("value")) - log(col("vk"))) * 10000.0 + 0.5)
          .cast("long").as("d"))
      .groupBy("event_type").agg(sum(col("d")).as("sd"))
      .filter(col("sd") > 0)
      .select(col("event_type"),
        round(lit((k - 1) * 10000.0) / col("sd").cast("double"), 6)
          .as("hill_alpha"))
      .orderBy("event_type")
  }
  val q196Sql: String =
    """WITH rk AS (SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id) AS r
      |  FROM events),
      |top AS (SELECT event_type, value, r,
      |    max(CASE WHEN r = 100 THEN value END)
      |      OVER (PARTITION BY event_type) AS vk
      |  FROM rk WHERE r <= 100),
      |d AS (SELECT event_type,
      |    CAST(floor((ln(value) - ln(vk)) * 10000.0e0 + 0.5e0) AS BIGINT)
      |      AS d
      |  FROM top WHERE vk IS NOT NULL),
      |sd AS (SELECT event_type, CAST(sum(d) AS BIGINT) AS sd
      |  FROM d GROUP BY event_type HAVING sum(d) > 0)
      |SELECT event_type, round(990000.0e0 / sd::DOUBLE, 6) AS hill_alpha
      |FROM sd ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_winnowing" -> (q191 _),
    "q192_cdc_chunks" -> (q192 _),
    "q193_stream_moments" -> (q193 _),
    "q194_frontier_interleave" -> (q194 _),
    "q195_quantile_normalize" -> (q195 _),
    "q196_hill_tail" -> (q196 _))

  val oracles: Map[String, String] = Map(
    "q191_winnowing" -> q191Sql,
    "q192_cdc_chunks" -> q192Sql,
    "q193_stream_moments" -> q193Sql,
    "q194_frontier_interleave" -> q194Sql,
    "q195_quantile_normalize" -> q195Sql,
    "q196_hill_tail" -> q196Sql)
}
