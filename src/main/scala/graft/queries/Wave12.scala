package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 12" query set (q206-q210): temporal-correct streaming
  * enrichment (stream × SCD2 as-of join), rolling-origin forecast
  * backtesting, LSH precision/recall evaluation against exhaustive
  * truth, sketch-merged 2-hop graph reach, and CART Gini split
  * finding. Same contract as every wave: DuckDB oracle per query,
  * doubles round to 6 dp, integer sums BIGINT-cast in the oracle,
  * deterministic tie-breaks everywhere.
  */
object Wave12Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q206
  /** Stream × SCD2 dimension AS-OF enrich: each click joins the
    * purchase-derived dimension VERSION valid at the click's event
    * time (valid_from <= ts < valid_to) — the temporally correct
    * stream enrichment q49's latest-only lookup cannot express
    * (late-arriving clicks must see the OLD segment). Stream-static
    * inner join: the dim builds once per micro-batch planning, no
    * state store, no watermark needed; at scale the dim is a broadcast
    * or bucketed side, and the range predicate prunes versions at the
    * join.
    */
  def q206(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val ev = ExtQueries.events(s, dir)
    val wd = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    val dim = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("valid_from"), col("event_id"),
        floor(col("value") / 100.0).cast("long").as("tier"))
      .withColumn("valid_to", lead("valid_from", 1).over(wd))
      .drop("event_id")
    val f = s"$dir/events.parquet"
    val clicks = ExtQueries.normalizeTs(StreamOps.fileStream(s, f))
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val joined = clicks.join(dim,
      clicks("user_id") === dim("user_id") &&
        col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("click_id"), clicks("user_id").as("user_id"), col("tier"))
    StreamOps.runBounded(s, f, "q206_scd2_enrich", "append")(joined)
      .orderBy("click_id")
  }
  val q206Sql: String =
    """WITH dim AS (SELECT user_id, ts AS valid_from,
      |    CAST(floor(value / 100.0e0) AS BIGINT) AS tier,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS valid_to
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id AS click_id, c.user_id, d.tier
      |FROM events c JOIN dim d ON c.user_id = d.user_id
      |  AND c.ts >= d.valid_from
      |  AND (d.valid_to IS NULL OR c.ts < d.valid_to)
      |WHERE c.event_type = 'click'
      |ORDER BY click_id""".stripMargin

  // ---------------------------------------------------------------- q207
  /** Rolling-origin forecast backtest on the hourly event-count series
    * per type: naive (t-1) vs seasonal-naive (t-24) over the last 48
    * hours, on a DENSE integer hour grid (missing hours are real
    * zeros, not absent rows — the classic backtest bug). Counts are
    * integers, so both MAEs are exact rationals divided once. The
    * degenerate fixture case (every hour populated) still exercises
    * the spine join; at scale the spine is a range, never a collect.
    */
  def q207(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir)
      .select(col("event_type"), expr("CAST(ts AS LONG) div 3600").as("h"))
    val cnt = ev.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
    val span = ev.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
    val spine = span.select(col("event_type"), col("h1"),
      explode(sequence(col("h0"), col("h1"))).as("h"))
    val dense = spine.join(cnt, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), col("h1"),
        coalesce(col("n"), lit(0L)).as("n"))
    val wt = Window.partitionBy("event_type").orderBy("h")
    val fc = dense
      .withColumn("naive", lag("n", 1).over(wt))
      .withColumn("snaive", lag("n", 24).over(wt))
      .filter(col("h") > col("h1") - 48 &&
        col("naive").isNotNull && col("snaive").isNotNull)
    fc.groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        sum(abs(col("n") - col("naive"))).as("sa"),
        sum(abs(col("n") - col("snaive"))).as("ss"))
      .select(col("event_type"), col("n_test"),
        round(col("sa").cast("double") / col("n_test"), 6).as("mae_naive"),
        round(col("ss").cast("double") / col("n_test"), 6).as("mae_snaive"))
      .orderBy("event_type")
  }
  val q207Sql: String =
    """WITH ev AS (SELECT event_type, epoch(ts)::BIGINT // 3600 AS h
      |  FROM events),
      |cnt AS (SELECT event_type, h, count(*)::BIGINT AS n
      |  FROM ev GROUP BY 1, 2),
      |span AS (SELECT event_type, min(h) AS h0, max(h) AS h1
      |  FROM ev GROUP BY 1),
      |spine AS (SELECT event_type, h1, unnest(range(h0, h1 + 1)) AS h
      |  FROM span),
      |dense AS (SELECT s.event_type, s.h, s.h1,
      |    coalesce(c.n, 0)::BIGINT AS n
      |  FROM spine s LEFT JOIN cnt c
      |    ON c.event_type = s.event_type AND c.h = s.h),
      |fc AS (SELECT event_type, h1, h, n,
      |    lag(n, 1) OVER w AS naive, lag(n, 24) OVER w AS snaive
      |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h))
      |SELECT event_type, count(*)::BIGINT AS n_test,
      |  round(CAST(sum(abs(n - naive)) AS DOUBLE) / count(*), 6)
      |    AS mae_naive,
      |  round(CAST(sum(abs(n - snaive)) AS DOUBLE) / count(*), 6)
      |    AS mae_snaive
      |FROM fc WHERE h > h1 - 48 AND naive IS NOT NULL
      |  AND snaive IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q208
  /** LSH evaluation harness: precision/recall/F1 of md5-MinHash band
    * candidates (k=16 minima, 4 bands × 4 rows) against the EXHAUSTIVE
    * exact-jaccard ≥ 0.8 truth on a fixed 400-base-id sample of the
    * near-dup corpus. This is the pre-flight any 100 TB dedup run
    * needs — measure the band family's recall on a sample before
    * burning the cluster — and both arms are O(sample), not O(corpus):
    * the sample is absolute-size and the truth arm is prefix-filtered. 4-row
    * bands fire at j⁴ per band, which this corpus needs: its 31-token
    * vocabulary gives RANDOM pairs jaccard ~0.2-0.3, and 2-row bands
    * would pass millions of them (exactly the tradeoff the harness
    * measures). The md5 hash family makes the sketch engine-portable,
    * so candidates, truth, and every ratio are value-checked (the
    * production xxhash family in [[graft.ops.ext.Dedup]] is faster but
    * engine-private).
    */
  def q208(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    // A pre-flight measures the family on a SAMPLE — that's its whole
    // point, and the sample is ABSOLUTE-size (400 md5-ordered base
    // ids, twins riding along — [[ExtQueries.nearDupSample]]): the
    // harness costs the same at sf0.01 and at 100 TB, where the old
    // doc_id % 4 fraction grew the truth arm quadratically.
    val corpus = ExtQueries.nearDupSample(s, dir)
    val toks = graft.ops.ext.TextAnalysis.tokens(col("text"))
    // ONE tokenize+shingle scan feeds signature minima AND the truth
    // join (the Dedup.prepTokens discipline): gx is the only persisted
    // frame, (doc_id, gram) rows.
    val shs = corpus.select(col("doc_id"),
      array_distinct(transform(
        sequence(lit(1), greatest(size(toks) - 2, lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(3))))).as("sh"))
      .filter(size(col("sh")) > 0)
    val gx = shs.select(col("doc_id"), explode(col("sh")).as("g")).persist()
    val mins = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("g")))).as(s"m$i"))
    val sig = gx.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bucketArr = array((0 until k / 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", col(s"m${4 * b}"), col(s"m${4 * b + 1}"),
          col(s"m${4 * b + 2}"), col(s"m${4 * b + 3}")).as("key"))
    }: _*)
    val banded = sig.select(col("doc_id"), explode(bucketArr).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // Exhaustive-exact truth by PREFIX FILTERING (the PPJoin
    // discipline of [[graft.ops.ext.PrefixJoin]], inlined on the
    // shingle frame): two sets with jaccard >= 0.8 MUST share a
    // shingle inside each other's (nsh - ceil(0.8·nsh) + 1)-element
    // prefix under the ascending-df global order, so candidates come
    // from an equi-join on the RAREST ~20% of each doc's shingles —
    // posting lists bounded by rare-shingle df, never the raw
    // shared-gram join whose hottest boilerplate 3-gram contributed
    // df² pairs. The truth SET is identical to exhaustive (prefix
    // filtering is exact at the threshold); because grams are DISTINCT
    // per doc, the verify join's group count IS |intersection|, so
    // jaccard = shared/(na+nb-shared) needs only the two set sizes.
    // The DuckDB oracle still does the n² literally — fine for an
    // oracle at the 400-doc sample size, fatal for an engine.
    val sizes = gx.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val dfreq = gx.groupBy("g").agg(count(lit(1)).as("df"))
    val prefix = gx.join(dfreq, "g")
      .withColumn("p", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .join(sizes, "doc_id")
      .withColumn("plen",
        col("nsh") - expr("(4 * nsh + 4) div 5") + lit(1L))
      .filter(col("p") <= col("plen"))
      .select(col("doc_id"), col("g"))
    val candT = prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val truth = candT
      .join(gx.select(col("doc_id").as("id_a"), col("g")), Seq("id_a"))
      .join(gx.select(col("doc_id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), "id_b")
      .filter(col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")) >= 0.8)
      .select(col("id_a"), col("id_b"))
    // one job for all three counts: full-outer the two pair sets
    val u = cand.withColumn("is_c", lit(1L))
      .join(truth.withColumn("is_t", lit(1L)), Seq("id_a", "id_b"), "full")
    val m = u.agg(sum(coalesce(col("is_c"), lit(0L))).as("n_candidates"),
      sum(coalesce(col("is_t"), lit(0L))).as("n_truth"),
      sum(when(col("is_c").isNotNull && col("is_t").isNotNull, 1L)
        .otherwise(0L)).as("n_tp"))
    val p = col("n_tp").cast("double") / col("n_candidates")
    val r = col("n_tp").cast("double") / col("n_truth")
    m.select(col("n_candidates"), col("n_truth"), col("n_tp"),
      round(p, 6).as("precision"), round(r, 6).as("recall"),
      round(lit(2.0) * p * r / (p + r), 6).as("f1"))
  }
  val q208Sql: String =
    s"""WITH corpus0 AS (${ExtQueries.nearDupCorpusSql}),
       |corpus AS (${ExtQueries.nearDupSampleSql()}),
       |tk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                t -> len(t)>0) AS toks
       |  FROM corpus),
       |g AS (SELECT doc_id, unnest(sh) AS g FROM (
       |    SELECT doc_id, $shinglesLocal AS sh FROM tk)
       |  WHERE len(sh) > 0),
       |sig AS (SELECT doc_id,
       |    ${(0 until 16).map(i =>
            s"min(md5('$i:' || g)) AS m$i").mkString(",\n       |    ")}
       |  FROM g GROUP BY doc_id),
       |banded AS (${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, m${4 * b} || '|' || m${4 * b + 1} || '|' || m${4 * b + 2} || '|' || m${4 * b + 3} AS key FROM sig")
            .mkString("\n       |  UNION ALL ")}),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*)::BIGINT AS nsh FROM g GROUP BY 1),
       |shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |    count(*)::BIGINT AS shared
       |  FROM g x JOIN g y ON x.g = y.g AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b
       |  FROM shared JOIN sz a ON a.doc_id = id_a
       |              JOIN sz b ON b.doc_id = id_b
       |  WHERE shared::DOUBLE / (a.nsh + b.nsh - shared) >= 0.8e0),
       |m AS (SELECT
       |    (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
       |    (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       |    (SELECT count(*) FROM cand JOIN truth USING (id_a, id_b))::BIGINT
       |      AS n_tp)
       |SELECT n_candidates, n_truth, n_tp,
       |  round(n_tp::DOUBLE / n_candidates, 6) AS precision,
       |  round(n_tp::DOUBLE / n_truth, 6) AS recall,
       |  round(2.0e0 * (n_tp::DOUBLE / n_candidates)
       |        * (n_tp::DOUBLE / n_truth)
       |        / (n_tp::DOUBLE / n_candidates + n_tp::DOUBLE / n_truth), 6)
       |    AS f1
       |FROM m""".stripMargin

  private def shinglesLocal: String = ExtQueries.shinglesSql

  // ---------------------------------------------------------------- q209
  /** 2-hop reach per node, exact vs KMV-MERGED estimate: each node's
    * 1-hop KMV sketch (8 smallest md5(neighbor)) merges across its
    * neighbors into a 2-hop sketch WITHOUT materializing the 2-hop
    * pair set — the k-smallest of a union of per-set k-smallest IS the
    * union's k-smallest, so merge is lossless at the sketch level.
    * That merge identity is the whole 100 TB story: exact 2-hop
    * explodes quadratically in degree; sketch rows are Σdeg·k. md5
    * keys make the estimate engine-exact, so both columns value-check.
    *
    * The EXACT verification arm is gated to a deterministic 4/16 node
    * sample (first md5 hex char ≤ '3' — the q208 pre-flight
    * discipline): the sketch arm runs full-corpus at any scale, while
    * the Σdeg² exact expansion — which exists only to verify the
    * sketch — is measured on a fixed sample instead of the whole
    * graph, so the one quadratic piece never has to run corpus-wide.
    */
  def q209(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val e = Wave6Queries.coOrderEdges(s, dir)
    // LAZY cut: sym feeds FOUR consumers (the sample, the exact arm's
    // probe side, the 1-hop sketch and the merge) and its lineage is
    // the whole co-order pair pipeline — uncut, that pipeline re-ran
    // once per consumer (exchange reuse shares the shuffles but not the
    // per-consumer pair explode)
    val sym = e.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("nbr")))
      .localCheckpoint(false)
    val symS = sym.filter(
      substring(md5(col("node").cast("string")), 1, 1) <= "3")
    val exact = symS.as("a")
      .join(sym.as("b"), col("a.nbr") === col("b.node"))
      .select(col("a.node").as("node"), col("b.nbr").as("y"))
      .distinct()
      .groupBy("node").agg(count(lit(1)).as("n_2hop"))
    val hop1 = sym.select(col("node"),
        conv(substring(md5(col("nbr").cast("string")), 1, 8), 16, 10)
          .cast("long").as("v"))
      .distinct()
    val wk = Window.partitionBy("node").orderBy("v")
    val sk1 = hop1.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k).select("node", "v")
    val merged = sym
      .join(sk1.withColumnRenamed("node", "nbr"), "nbr")
      .select(col("node"), col("v")).distinct()
    val sk2 = merged.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
    val est = sk2.groupBy("node")
      .agg(max("v").as("theta"), count(lit(1)).as("kk"))
      .select(col("node"),
        when(col("kk") < k, col("kk").cast("double"))
          .otherwise(lit((k - 1) * 4294967296.0) / col("theta").cast("double"))
          .as("e"))
    exact.join(est, "node")
      .select(col("node"), col("n_2hop"), round(col("e"), 6).as("est_2hop"))
      .orderBy("node")
  }
  val q209Sql: String =
    s"""WITH e AS (${Wave6Queries.coOrderEdgesSql}),
       |sym AS (SELECT src AS node, dst AS nbr FROM e
       |        UNION ALL SELECT dst, src FROM e),
       |exact AS (SELECT node, count(*)::BIGINT AS n_2hop FROM (
       |    SELECT DISTINCT a.node, b.nbr AS y
       |    FROM sym a JOIN sym b ON a.nbr = b.node
       |    WHERE substr(md5(a.node::VARCHAR), 1, 1) <= '3')
       |  GROUP BY node),
       |h1 AS (SELECT DISTINCT node,
       |    ('0x' || substr(md5(nbr::VARCHAR), 1, 8))::BIGINT AS v
       |  FROM sym),
       |sk1 AS (SELECT node, v FROM (
       |    SELECT node, v, row_number() OVER (PARTITION BY node ORDER BY v)
       |      AS rn FROM h1) WHERE rn <= 8),
       |merged AS (SELECT DISTINCT s.node, k.v
       |  FROM sym s JOIN sk1 k ON k.node = s.nbr),
       |sk2 AS (SELECT node, v FROM (
       |    SELECT node, v, row_number() OVER (PARTITION BY node ORDER BY v)
       |      AS rn FROM merged) WHERE rn <= 8),
       |est AS (SELECT node, max(v) AS theta, count(*) AS kk
       |  FROM sk2 GROUP BY node)
       |SELECT x.node, x.n_2hop,
       |  round(CASE WHEN e.kk < 8 THEN e.kk::DOUBLE
       |        ELSE 30064771072.0e0 / e.theta::DOUBLE END, 6) AS est_2hop
       |FROM exact x JOIN est e ON e.node = x.node
       |ORDER BY x.node""".stripMargin

  // ---------------------------------------------------------------- q210
  /** CART split finding: per source, the doc-length threshold that
    * maximizes GINI impurity reduction for the is-English label. Gini
    * (unlike entropy) is pure arithmetic on integer prefix counts — no
    * libm in the ranking, so the argmax is bit-deterministic across
    * engines (the q173 pinned-argmax discipline). One sorted window
    * pass builds every candidate split's confusion counts; candidates
    * are the distinct feature values.
    */
  def q210(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("source"),
      col("n_chars").as("x"), (col("lang") === "en").cast("long").as("y"))
    val byVal = d.groupBy("source", "x")
      .agg(count(lit(1)).as("c"), sum("y").as("cp"))
    val wv = Window.partitionBy("source").orderBy("x")
    val wall = Window.partitionBy("source")
    val pre = byVal
      .withColumn("nl", sum("c").over(wv))
      .withColumn("pl", sum("cp").over(wv))
      .withColumn("n", sum("c").over(wall))
      .withColumn("p", sum("cp").over(wall))
      .filter(col("nl") < col("n")) // split must leave a right side
    def gini(pos: Column, n: Column): Column = {
      val q = pos.cast("double") / n
      lit(1.0) - q * q - (lit(1.0) - q) * (lit(1.0) - q)
    }
    val gain = gini(col("p"), col("n")) -
      col("nl") / col("n").cast("double") * gini(col("pl"), col("nl")) -
      (col("n") - col("nl")) / col("n").cast("double") *
        gini(col("p") - col("pl"), col("n") - col("nl"))
    val wr = Window.partitionBy("source")
      .orderBy(col("gain").desc, col("x"))
    pre.withColumn("gain", gain)
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("source"), col("x").as("threshold"),
        col("nl").as("n_left"), (col("n") - col("nl")).as("n_right"),
        round(col("gain"), 6).as("gini_gain"))
      .orderBy("source")
  }
  val q210Sql: String =
    """WITH d AS (SELECT source, n_chars AS x,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |bv AS (SELECT source, x, count(*)::BIGINT AS c,
      |    CAST(sum(y) AS BIGINT) AS cp
      |  FROM d GROUP BY 1, 2),
      |pre AS (SELECT source, x,
      |    CAST(sum(c) OVER wv AS BIGINT) AS nl,
      |    CAST(sum(cp) OVER wv AS BIGINT) AS pl,
      |    CAST(sum(c) OVER wa AS BIGINT) AS n,
      |    CAST(sum(cp) OVER wa AS BIGINT) AS p
      |  FROM bv WINDOW wv AS (PARTITION BY source ORDER BY x),
      |                wa AS (PARTITION BY source)),
      |g AS (SELECT source, x, nl, n,
      |    (1.0e0 - (p::DOUBLE / n) * (p::DOUBLE / n)
      |       - (1.0e0 - p::DOUBLE / n) * (1.0e0 - p::DOUBLE / n))
      |    - nl / n::DOUBLE
      |      * (1.0e0 - (pl::DOUBLE / nl) * (pl::DOUBLE / nl)
      |         - (1.0e0 - pl::DOUBLE / nl) * (1.0e0 - pl::DOUBLE / nl))
      |    - (n - nl) / n::DOUBLE
      |      * (1.0e0 - ((p - pl)::DOUBLE / (n - nl))
      |                 * ((p - pl)::DOUBLE / (n - nl))
      |         - (1.0e0 - (p - pl)::DOUBLE / (n - nl))
      |           * (1.0e0 - (p - pl)::DOUBLE / (n - nl))) AS gain
      |  FROM pre WHERE nl < n)
      |SELECT source, x AS threshold, nl AS n_left, (n - nl) AS n_right,
      |  round(gain, 6) AS gini_gain
      |FROM (SELECT source, x, nl, n, gain,
      |        row_number() OVER (PARTITION BY source
      |                           ORDER BY gain DESC, x) AS rn
      |      FROM g)
      |WHERE rn = 1 ORDER BY source""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_stream_scd2_enrich" -> (q206 _),
    "q207_backtest" -> (q207 _),
    "q208_lsh_eval" -> (q208 _),
    "q209_twohop_kmv" -> (q209 _),
    "q210_gini_split" -> (q210 _))

  val oracles: Map[String, String] = Map(
    "q206_stream_scd2_enrich" -> q206Sql,
    "q207_backtest" -> q207Sql,
    "q208_lsh_eval" -> q208Sql,
    "q209_twohop_kmv" -> q209Sql,
    "q210_gini_split" -> q210Sql)
}
