package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 13" query set (q211-q215): sequential pattern mining,
  * sequential A/B testing (SPRT), streaming CDC upsert
  * materialization, TextTiling topic segmentation, and a k-anonymity
  * governance audit. Same contract as every wave: DuckDB oracle per
  * query, doubles round to 6 dp, integer sums BIGINT-cast in the
  * oracle, deterministic tie-breaks everywhere.
  */
object Wave13Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q211
  /** Sequential patterns (SPADE-style existential support): for every
    * ordered type pair (a, b), the number of users with SOME a-event
    * strictly before SOME b-event — which reduces to min_ts(a) <
    * max_ts(b) per user, so support needs only one per-(user, type)
    * min/max aggregate and a ≤|types|² pair join per user. No
    * per-occurrence pair explosion, unlike q121's adjacent-transition
    * counts. Confidence = support / users-having-a.
    */
  def q211(s: SparkSession, dir: String): DataFrame = {
    val ut = ExtQueries.events(s, dir)
      .groupBy("user_id", "event_type")
      .agg(min("ts").as("mn"), max("ts").as("mx"))
    val sup = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.mn") < col("b.mx"))
      .groupBy(col("a.event_type").as("from_type"),
        col("b.event_type").as("to_type"))
      .agg(count(lit(1)).as("support"))
    val havingA = ut.groupBy(col("event_type").as("from_type"))
      .agg(count(lit(1)).as("n_from"))
    sup.join(havingA, "from_type")
      .select(col("from_type"), col("to_type"), col("support"),
        round(col("support").cast("double") / col("n_from"), 6)
          .as("confidence"))
      .orderBy("from_type", "to_type")
  }
  val q211Sql: String =
    """WITH ut AS (SELECT user_id, event_type, min(ts) AS mn, max(ts) AS mx
      |  FROM events GROUP BY 1, 2),
      |sup AS (SELECT a.event_type AS from_type, b.event_type AS to_type,
      |    count(*)::BIGINT AS support
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.mn < b.mx
      |  GROUP BY 1, 2),
      |ha AS (SELECT event_type AS from_type, count(*)::BIGINT AS n_from
      |  FROM ut GROUP BY 1)
      |SELECT from_type, to_type, support,
      |  round(support::DOUBLE / n_from, 6) AS confidence
      |FROM sup JOIN ha USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q212
  /** Sequential A/B test (Wald SPRT): users arrive in first-event
    * order; each converts or not (any event over 200); the cumulative
    * log-likelihood ratio against H0 p=0.5 vs H1 p=0.65 walks until it
    * crosses ±ln(19) (α=β=0.05). The per-user LLR increments are
    * constants, so the walk is one running integer sum — the constants
    * are the 1e-6-scaled logs HARDCODED identically in both engines
    * (262364 = ⌊ln(1.3)·10⁶⌉ etc.), keeping libm away from decision
    * boundaries. Output per variant: final n and LLR, the decision,
    * and the earliest n at which the test could have stopped — the
    * "how much traffic did we waste" number sequential testing exists
    * to answer.
    */
  def q212(s: SparkSession, dir: String): DataFrame = {
    val (s1, s0, bound) = (262364L, -356675L, 2944439L)
    val users = ExtQueries.events(s, dir)
      .groupBy("user_id")
      .agg(min("ts").as("t0"),
        max((col("value") > 200.0).cast("long")).as("y"))
      .withColumn("variant", (col("user_id") % 2).cast("long"))
    val wv = Window.partitionBy("variant").orderBy("t0", "user_id")
    val walk = users
      .withColumn("n", row_number().over(wv).cast("long"))
      .withColumn("llr",
        sum(when(col("y") === 1, s1).otherwise(s0)).over(wv))
    val last = walk.groupBy("variant")
      .agg(max(struct(col("n"), col("llr"))).as("m"))
      .select(col("variant"), col("m.n").as("n_users"),
        col("m.llr").as("llr_end"))
    val firstCross = walk.filter(abs(col("llr")) >= bound)
      .groupBy("variant")
      .agg(min(struct(col("n"), col("llr"))).as("c"))
      .select(col("variant"), col("c.n").as("n_decide"),
        col("c.llr").as("llr_decide"))
    last.join(firstCross, Seq("variant"), "left")
      .select(col("variant"), col("n_users"),
        round(col("llr_end").cast("double") / 1000000.0, 6).as("llr_final"),
        coalesce(col("n_decide"), lit(0L)).as("n_decide"),
        when(col("n_decide").isNull, "continue")
          .when(col("llr_decide") > 0, "accept_h1")
          .otherwise("accept_h0").as("decision"))
      .orderBy("variant")
  }
  val q212Sql: String =
    """WITH u AS (SELECT user_id, min(ts) AS t0,
      |    max(CASE WHEN value > 200.0e0 THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY 1),
      |w AS (SELECT user_id % 2 AS variant,
      |    row_number() OVER wv AS n,
      |    CAST(sum(CASE WHEN y = 1 THEN 262364 ELSE -356675 END) OVER wv
      |         AS BIGINT) AS llr
      |  FROM u WINDOW wv AS (PARTITION BY user_id % 2 ORDER BY t0, user_id)),
      |last AS (SELECT variant, max(n)::BIGINT AS n_users,
      |    arg_max(llr, n) AS llr_end
      |  FROM w GROUP BY 1),
      |fc AS (SELECT variant, min(n)::BIGINT AS n_decide,
      |    arg_min(llr, n) AS llr_decide
      |  FROM w WHERE abs(llr) >= 2944439 GROUP BY 1)
      |SELECT l.variant, l.n_users,
      |  round(l.llr_end::DOUBLE / 1000000.0e0, 6) AS llr_final,
      |  coalesce(fc.n_decide, 0)::BIGINT AS n_decide,
      |  CASE WHEN fc.n_decide IS NULL THEN 'continue'
      |       WHEN fc.llr_decide > 0 THEN 'accept_h1'
      |       ELSE 'accept_h0' END AS decision
      |FROM last l LEFT JOIN fc ON fc.variant = l.variant
      |ORDER BY l.variant""".stripMargin

  // ---------------------------------------------------------------- q213
  /** Streaming CDC upsert materialization ([[graft.streaming.Stateful
    * .runningLatest]]): per key, the record with max (ts, event_id) —
    * max over a total order commutes, so the materialized view is
    * batch-slicing- and arrival-order-independent (the q193 state
    * discipline applied to q88's batch latest-wins). This is the
    * stream half of CDC: q88 applies a change batch, q213 maintains
    * the live table.
    */
  def q213(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    val f = s"$dir/events.parquet"
    val src = ExtQueries.tsAsMicros(StreamOps.fileStream(s, f))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Stateful.TimedEvent]
    StreamOps.runBounded(s, f, "q213_upsert", "update")(
      Stateful.runningLatest(s, src))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("value").as("last_value"))
      .orderBy("user_id")
  }
  val q213Sql: String =
    """SELECT user_id, event_id AS last_event_id, value AS last_value
      |FROM (SELECT user_id, event_id, value,
      |        row_number() OVER (PARTITION BY user_id
      |                           ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q214
  /** TextTiling-style topic segmentation: 10-token blocks per doc,
    * adjacent-block jaccard over distinct tokens, a segment boundary
    * where similarity dips under 0.1. The threshold compare is
    * integer-exact (10·shared < union ⇔ jaccard < 0.1), and shared
    * counts come from a token equi-join on adjacent blocks — the
    * count-based set-similarity discipline (q208), never array
    * intersections over a shuffle. This is the chunking-boundary
    * refinement pass a RAG/packing pipeline runs after q45's fixed
    * windows.
    */
  def q214(s: SparkSession, dir: String): DataFrame = {
    val bt = T(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.ops.ext.TextAnalysis.tokens(col("text")))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), expr("pos div 10").cast("long").as("blk"),
        col("tok"))
      .distinct()
    val sizes = bt.groupBy("doc_id", "blk").agg(count(lit(1)).as("nt"))
    val shared = bt.as("a").join(bt.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.blk") === col("a.blk") + 1 && col("a.tok") === col("b.tok"))
      .groupBy(col("a.doc_id").as("doc_id"), col("a.blk").as("blk"))
      .agg(count(lit(1)).as("shared"))
    val gaps = sizes.as("s1").join(sizes.as("s2"),
        col("s1.doc_id") === col("s2.doc_id") &&
          col("s2.blk") === col("s1.blk") + 1)
      .select(col("s1.doc_id").as("doc_id"), col("s1.blk").as("blk"),
        col("s1.nt").as("na"), col("s2.nt").as("nb"))
      .join(shared, Seq("doc_id", "blk"), "left")
      .withColumn("sh", coalesce(col("shared"), lit(0L)))
      .withColumn("boundary",
        col("sh") * 10 < col("na") + col("nb") - col("sh"))
    val nblocks = sizes.groupBy("doc_id").agg(count(lit(1)).as("n_blocks"))
    nblocks.join(gaps.groupBy("doc_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("boundary").cast("long")).as("n_boundaries")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
        coalesce(col("n_boundaries"), lit(0L)).as("n_boundaries"))
      .orderBy("doc_id")
  }
  val q214Sql: String =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                t -> len(t)>0) AS toks
      |  FROM documents),
      |bt AS (SELECT DISTINCT doc_id, (p - 1) // 10 AS blk, toks[p] AS tok
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
      |        FROM tk)),
      |sizes AS (SELECT doc_id, blk, count(*)::BIGINT AS nt
      |  FROM bt GROUP BY 1, 2),
      |shared AS (SELECT a.doc_id, a.blk, count(*)::BIGINT AS sh
      |  FROM bt a JOIN bt b ON a.doc_id = b.doc_id AND b.blk = a.blk + 1
      |    AND a.tok = b.tok
      |  GROUP BY 1, 2),
      |gaps AS (SELECT s1.doc_id, s1.blk, s1.nt AS na, s2.nt AS nb,
      |    coalesce(sh.sh, 0)::BIGINT AS sh
      |  FROM sizes s1 JOIN sizes s2 ON s1.doc_id = s2.doc_id
      |    AND s2.blk = s1.blk + 1
      |  LEFT JOIN shared sh ON sh.doc_id = s1.doc_id AND sh.blk = s1.blk),
      |nb AS (SELECT doc_id, count(*)::BIGINT AS n_blocks
      |  FROM sizes GROUP BY 1),
      |gg AS (SELECT doc_id, count(*)::BIGINT AS n_gaps,
      |    CAST(sum(CASE WHEN sh * 10 < na + nb - sh THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_boundaries
      |  FROM gaps GROUP BY 1)
      |SELECT nb.doc_id, nb.n_blocks,
      |  coalesce(gg.n_gaps, 0)::BIGINT AS n_gaps,
      |  coalesce(gg.n_boundaries, 0)::BIGINT AS n_boundaries
      |FROM nb LEFT JOIN gg ON gg.doc_id = nb.doc_id
      |ORDER BY nb.doc_id""".stripMargin

  // ---------------------------------------------------------------- q215
  /** k-anonymity audit over quasi-identifiers (lang, source, coarse
    * length bucket): per lang, how many QI groups fall under k=5 and
    * what fraction of docs would need suppression before release —
    * the governance gate a dataset card (q95) cites. One groupBy
    * cascade, all integer.
    */
  def q215(s: SparkSession, dir: String): DataFrame = {
    val qi = T(s, dir, "documents")
      .select(col("lang"), col("source"),
        expr("n_chars div 100").cast("long").as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("cnt"))
    qi.groupBy("lang")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("cnt") < 5, 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("cnt") < 5, col("cnt")).otherwise(lit(0L)))
          .as("n_risky_docs"),
        sum("cnt").as("n_docs"))
      .select(col("lang"), col("n_groups"), col("n_risky_groups"),
        col("n_risky_docs"),
        round(col("n_risky_docs").cast("double") / col("n_docs"), 6)
          .as("suppression_rate"))
      .orderBy("lang")
  }
  val q215Sql: String =
    """WITH qi AS (SELECT lang, source, n_chars // 100 AS len_bucket,
      |    count(*)::BIGINT AS cnt
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT lang, count(*)::BIGINT AS n_groups,
      |  CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_risky_groups,
      |  CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
      |    AS n_risky_docs,
      |  round(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END)::DOUBLE
      |        / sum(cnt), 6) AS suppression_rate
      |FROM qi GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q211_seq_patterns", q211, q211Sql),
    Query("q212_sprt", q212, q212Sql),
    Query("q213_stream_upsert", q213, q213Sql),
    Query("q214_texttiling", q214, q214Sql),
    Query("q215_k_anonymity", q215, q215Sql))
}
