package graft.queries

import graft.ops.ext.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 8" query set (q176-q190): star-contraction connected
  * components, streaming depth (left-outer stream-stream join, session
  * windows, late-data semantics, windowed HLL), corpus analytics (Zipf
  * fit, epoch scheduler, PQ codebooks, incremental cross-corpus
  * near-dup), and the planned-layout scale features (hopping windows,
  * bucketed co-located join, dynamic partition pruning, runtime bloom
  * filter — each plan-asserted). Same contract as every wave: DuckDB
  * oracle per query, doubles round to 6 dp, integer sums stay integral
  * (BIGINT-cast in the oracle), deterministic tie-breaks.
  */
object Wave8Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q176
  /** Connected components via alternating large-star/small-star
    * contraction ([[Dedup.connectedComponentsStar]]) over the same
    * minhash near-dup pair graph as q53 — same oracle (DuckDB
    * recursive-CTE transitive closure), different round complexity:
    * O(log^2 n) rounds vs label propagation's O(diameter), the
    * difference between 3 and 40 edge shuffles on a mirror-chain
    * crawl component.
    */
  def q176(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDups(ExtQueries.nearDupCorpus(s, dir),
      "text", "doc_id", shingleSize = 3, k = 32, bands = 16,
      threshold = 0.8, includeExactDuplicates = true)
      .select("id_a", "id_b")
    Dedup.connectedComponentsStar(pairs)
  }
  val q176Sql: String = ExtQueries.q53Sql

  // ---------------------------------------------------------------- q177
  /** LEFT-OUTER stream-stream join: every click, with its purchase
    * within 30 minutes or null — the funnel-with-dropoff shape q60's
    * inner join cannot express. Outer emission is watermark-driven
    * (a null-extended row fires only when the watermark clears the
    * click's join window), so the bounded replay plants one future
    * sentinel row PER SIDE: the global watermark is the min across
    * both filtered inputs, and a single-side sentinel would hold it
    * back forever. Oracle = the batch left join.
    */
  def q177(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val tmp = s"${CoreQueries.fixDir(dir)}/q177_events_sentinel"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/_SUCCESS"))) {
      val ev = ExtQueries.events(s, dir)
        .select("user_id", "event_id", "ts", "event_type")
      val sentinels = ev.agg(max("ts").as("ts"))
        .select(explode(array(
          struct(lit(-1L).as("user_id"), lit(-1L).as("event_id"),
            (col("ts") + expr("interval 3 hours")).as("ts"),
            lit("click").as("event_type")),
          struct(lit(-2L).as("user_id"), lit(-2L).as("event_id"),
            (col("ts") + expr("interval 3 hours")).as("ts"),
            lit("purchase").as("event_type")))).as("r"))
        .select("r.*")
      ev.unionByName(sentinels).write.mode("overwrite").parquet(tmp)
    }
    StreamOps.streamStreamJoin(s, tmp,
      "event_type", "click", "purchase", "ts", "event_id", "user_id",
      within = "30 minutes", watermark = "1 hour",
      queryName = "q177_stream_outer", joinType = "left_outer")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("left_id").as("click_id"),
        col("right_id").as("purchase_id"))
  }
  val q177Sql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      |FROM events c LEFT JOIN events p ON c.user_id = p.user_id
      |  AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |WHERE c.event_type = 'click'""".stripMargin

  // ---------------------------------------------------------------- q178
  /** Zipf-law fit per source: OLS of ln(freq) on ln(rank) over the top
    * 200 tokens (rank ties broken by token) — slope ≈ -1 for natural
    * text, and the deviation is a standard synthetic-corpus detector.
    * Reuses [[graft.ops.Profile.groupOls]]'s exact-moment machinery:
    * ln values quantize to 1e-4 fixed point per ROW, moments sum as
    * split longs (order-free), so engine and oracle reconstruct
    * identical sums before the single rounded division.
    */
  def q178(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    val toks = T(s, dir, "documents").select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val freqs = toks.groupBy("source", "tok")
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("source")
      .orderBy(col("freq").desc, col("tok"))
    val xy = freqs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 200)
      .select(col("source"), log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    graft.ops.Profile.groupOls(xy, "source", "x", "y").orderBy("source")
  }
  val q178Sql: String = {
    def vq(e: String) = s"CAST(floor(($e) * 10000.0e0 + 0.5e0) AS BIGINT)"
    val moments = Seq("sx" -> "x", "sy" -> "y",
      "sxx" -> "x * x", "syy" -> "y * y", "sxy" -> "x * y")
    val sums = moments.flatMap { case (nm, e) => Seq(
      s"sum((${vq(e)} >> 20)) AS ${nm}_hi",
      s"sum((${vq(e)} & 1048575)) AS ${nm}_lo")
    }.mkString(",\n    ")
    val recons = moments.map { case (nm, _) =>
      s"CAST(CAST(${nm}_hi AS HUGEINT) * 1048576 + ${nm}_lo AS DOUBLE) / 10000.0e0 AS $nm"
    }.mkString(",\n    ")
    s"""WITH tk AS (SELECT source,
       |    unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                       t -> len(t)>0)) AS tok
       |  FROM documents),
       |f AS (SELECT source, tok, count(*) AS freq FROM tk GROUP BY 1, 2),
       |rk AS (SELECT source, freq,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY freq DESC, tok) AS rank
       |  FROM f),
       |b AS (SELECT source, CAST(ln(rank) AS DOUBLE) AS x,
       |    CAST(ln(freq) AS DOUBLE) AS y
       |  FROM rk WHERE rank <= 200),
       |a AS (SELECT source, CAST(count(*) AS DOUBLE) AS n,
       |    $sums
       |  FROM b GROUP BY source),
       |r AS (SELECT source, n,
       |    $recons
       |  FROM a)
       |SELECT source, CAST(n AS BIGINT) AS n,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
       |    AS intercept,
       |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
       |        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
       |FROM r ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q179
  /** Incremental cross-corpus near-dup
    * ([[Dedup.minhashNearDupsAcross]]): a synthetic "nightly batch"
    * (every 7th doc, last 2 tokens dropped, id + 2,000,000) screened
    * against the full documents corpus — history streams once, the
    * batch broadcasts, no self-join. Oracle = exhaustive cross-side
    * jaccard (the same construction as q13's, restricted to
    * history x batch pairs).
    */
  def q179(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val docs = T(s, dir, "documents").select("doc_id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(1))))
          .as("text"))
    Dedup.minhashNearDupsAcross(docs, batch, "text", "doc_id")
  }
  val q179Sql: String =
    s"""WITH batch AS (SELECT doc_id + 2000000 AS doc_id,
       |    array_to_string(toks[1:greatest(len(toks)-2,1)], ' ') AS text
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks
       |        FROM documents WHERE doc_id % 7 = 0)),
       |sh_h AS (SELECT doc_id, ${ExtQueries.shinglesSql} AS sh
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks
       |        FROM documents)),
       |sh_b AS (SELECT doc_id, ${ExtQueries.shinglesSql} AS sh
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks
       |        FROM batch))
       |SELECT h.doc_id AS id_a, b.doc_id AS id_b,
       |  len(list_intersect(h.sh, b.sh))::DOUBLE /
       |    (len(h.sh) + len(b.sh) - len(list_intersect(h.sh, b.sh)))
       |    AS jaccard
       |FROM sh_h h JOIN sh_b b
       |  ON len(list_intersect(h.sh, b.sh))::DOUBLE /
       |     (len(h.sh) + len(b.sh) - len(list_intersect(h.sh, b.sh))) >= 0.8
       |""".stripMargin

  // ---------------------------------------------------------------- q180
  /** STREAMING sessionization ([[graft.streaming.StreamOps
    * .streamSessionCounts]]): q22's session_window as merging session
    * STATE — sessions grow/merge in the state store and emit when the
    * watermark clears their end. Single-input watermark, so the
    * bounded replay plants one sentinel row. Same oracle as q22 (the
    * lag + cumulative-flag batch construction).
    */
  def q180(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val tmp = s"${CoreQueries.fixDir(dir)}/q180_events_sentinel"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/_SUCCESS"))) {
      val ev = ExtQueries.events(s, dir).select("user_id", "ts")
      val sentinel = ev.agg(max("ts").as("ts"))
        .select(lit(-1L).as("user_id"),
          (col("ts") + expr("interval 3 hours")).as("ts"))
      ev.unionByName(sentinel).write.mode("overwrite").parquet(tmp)
    }
    StreamOps.streamSessionCounts(s, tmp, "ts", "user_id",
      gap = "30 minutes", watermark = "1 hour",
      queryName = "q180_stream_sessions")
      .filter(col("user_id") >= 0)
  }
  val q180Sql: String = ExtQueries.q22Sql

  // ---------------------------------------------------------------- q181
  /** LATE-DATA DROP semantics pinned end to end: an on-time batch (even
    * event_ids) advances the watermark, then a late batch (odd ids)
    * arrives — rows whose hourly window already closed
    * (window_end <= watermark) are DROPPED by the aggregation, rows in
    * still-open windows count. Spark filters late events against the
    * PREVIOUS batch's eviction watermark (SPARK-24634's two-watermark
    * split, measured here: a late file one batch behind the on-time
    * file is not dropped at all), so the replay inserts a BRIDGE batch
    * — one duplicate of the max on-time row — between them: during the
    * late batch, late-filter wm = on-time max - 1h, and because the
    * bridge advances nothing, the still-open windows are exactly the
    * not-yet-emitted ones (no append-mode double emission). File order
    * is deterministic (maxFilesPerTrigger=1, ascending mtimes), so the
    * kept set is exactly computable and the oracle replays it: late
    * row kept iff window_end > ms-floored(max on-time ts) - 1h, plus
    * the bridge row's extra count in the max on-time window. A final
    * sentinel file closes all real windows for the append-mode flush.
    */
  def q181(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"${CoreQueries.fixDir(dir)}/q181_late_v2"
    val ready = Paths.get(s"$tmp/READY")
    if (!Files.exists(ready)) {
      val ev = ExtQueries.events(s, dir).select("event_id", "ts")
      def dump(df: org.apache.spark.sql.DataFrame, name: String,
               mtime: Long): Unit = {
        val stage = s"$tmp/__stage_$name"
        // coalesce(1): fixture staging only (single-file streaming
        // source at gate scale) — not a data-path pattern
        df.select("ts").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        val dst = Paths.get(s"$tmp/$name.parquet")
        Files.move(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      Files.createDirectories(Paths.get(tmp))
      val t0 = System.currentTimeMillis() - 60000
      val onTime = ev.filter(col("event_id") % 2 === 0)
      dump(onTime, "b0_ontime", t0)
      dump(onTime.agg(max("ts").as("ts")), "b1_bridge", t0 + 10000)
      dump(ev.filter(col("event_id") % 2 === 1), "b2_late", t0 + 20000)
      dump(ev.agg((max("ts") + expr("interval 3 hours")).as("ts")),
        "b3_sentinel", t0 + 30000)
      // stage dirs carry _SUCCESS markers the file source must not see
      Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(_.contains("__stage_")).foreach { d =>
          Files.walk(Paths.get(d)).toArray.reverse
            .foreach(p => Files.delete(p.asInstanceOf[java.nio.file.Path]))
        }
      Files.createFile(ready)
    }
    val schema = graft.io.Parquet.schema(s, s"$tmp/b0_ontime.parquet")
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val agg = src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
    StreamOps.runBounded(s, tmp, "q181_late", "append")(agg)
  }
  val q181Sql: String =
    """WITH ot AS (SELECT ts FROM events WHERE event_id % 2 = 0),
      |wm AS (SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS wm_us
      |       FROM ot),
      |bridge AS (SELECT max(ts) AS ts FROM ot),
      |kept_late AS (SELECT ts FROM events, wm
      |  WHERE event_id % 2 = 1
      |    AND epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) > wm_us),
      |keep AS (SELECT ts FROM ot UNION ALL SELECT ts FROM bridge
      |         UNION ALL SELECT ts FROM kept_late)
      |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
      |  count(*) AS n
      |FROM keep GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q182
  /** Product-quantization codebooks ([[graft.ops.ext.KMeans.pqTrain]]):
    * 4 subspaces x 16 dims over the embeddings, each trained by the
    * same deterministic 2-round Lloyd as q97 — PQ is m independent
    * small k-means problems, and the oracle is m instances of q97's
    * CTE over sliced lists.
    */
  def q182(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.KMeans.pqTrain(T(s, dir, "embeddings"), "embedding",
      "vec_id", subspaces = 4, subDim = 16, centroidEvery = 25, iters = 2)
  val q182Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (x,y) -> x+y)"
    def sub(s0: Int): String = {
      val lo = s0 * 16 + 1
      val hi = (s0 + 1) * 16
      val rounds = 2
      val parts = new StringBuilder
      parts ++= s"""(WITH v AS (SELECT vec_id AS id,
                   |      [x::DOUBLE for x in embedding[$lo:$hi]] AS vec
                   |    FROM embeddings),
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
        |SELECT CAST($s0 AS BIGINT) AS subspace, cid, dim, n,
        |  round(m, 6) AS centroid FROM comps$rounds)""".stripMargin
      parts.toString
    }
    (0 until 4).map(sub).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------- q183
  /** Mixture epoch scheduler ([[graft.ops.ext.Mixture.epochSchedule]]):
    * the up-sampling plan for a 2x-corpus token budget at a fixed
    * language mixture with a 4-epoch repetition cap — targets, full
    * epochs, partial-epoch tail, repeat factor, all integer-exact
    * until the single rounded division.
    */
  def q183(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val docs = T(s, dir, "documents").select(col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.ops.ext.Mixture.epochSchedule(docs, "lang", "n_tokens",
      Map("en" -> 0.40, "de" -> 0.25, "fr" -> 0.20, "es" -> 0.15),
      budgetMultiplier = 2.0, maxEpochs = 4).orderBy("lang")
  }
  val q183Sql: String =
    """WITH toks AS (SELECT lang,
      |    len(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                    t -> len(t)>0))::BIGINT AS n_tokens
      |  FROM documents),
      |avail AS (SELECT lang, sum(n_tokens)::BIGINT AS available,
      |    (CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.25
      |               WHEN 'fr' THEN 0.20 WHEN 'es' THEN 0.15 END)::DOUBLE AS w
      |  FROM toks GROUP BY lang),
      |a2 AS (SELECT * FROM avail WHERE w IS NOT NULL),
      |tot AS (SELECT sum(available)::BIGINT AS tot FROM a2),
      |plan AS (SELECT lang, available,
      |    CAST(floor(w * floor(2.0e0 * tot)) AS BIGINT) AS target,
      |    least(CAST(floor(w * floor(2.0e0 * tot)) AS BIGINT),
      |          4 * available) AS planned
      |  FROM a2, tot)
      |SELECT lang, available, target, planned,
      |  planned // available AS full_epochs,
      |  planned % available AS tail_tokens,
      |  round(CAST(planned AS DOUBLE) / available, 6) AS repeat_factor
      |FROM plan ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q184
  /** HOPPING (sliding) windows: window(ts, 1 h, 15 min) — every event
    * lands in exactly 4 overlapping windows, the load-curve shape
    * tumbling windows can't express. Both engines align windows to the
    * unix epoch (a 15-minute boundary), so the window starts are
    * floor-to-15min(ts) - k·15min for k = 0..3 on both sides.
    */
  def q184(s: SparkSession, dir: String): DataFrame =
    ExtQueries.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))
  val q184Sql: String =
    """SELECT ws AS window_start, event_type, count(*) AS n
      |FROM (SELECT time_bucket(INTERVAL 15 MINUTE, ts)
      |        - k * INTERVAL 15 MINUTE AS ws, event_type
      |      FROM (SELECT ts, event_type, unnest([0,1,2,3]) AS k
      |            FROM events))
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q185
  /** BUCKETED co-located join: orders and lineitem written as 8-bucket
    * tables on the join key (sorted within buckets), then joined with
    * NO exchange on either join side — the planned-data-layout move
    * that turns the biggest shuffle of a 100 TB star join into a local
    * merge (plan-asserted in PlanSpec: the only exchange left is the
    * final small groupBy). Oracle = the same join + agg on the raw
    * tables.
    */
  def q185(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${CoreQueries.fixDir(dir)}/q185_buckets"
    def prep(name: String, src: String, key: String): Unit = {
      val have = s.catalog.tableExists(name) &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/$name"))
      if (!have) {
        if (s.catalog.tableExists(name)) s.sql(s"DROP TABLE $name")
        T(s, dir, src).write.bucketBy(8, key).sortBy(key)
          .option("path", s"$tmp/$name").mode("overwrite")
          .saveAsTable(name)
      }
    }
    prep("g185_orders", "orders", "o_orderkey")
    prep("g185_lineitem", "lineitem", "l_orderkey")
    s.table("g185_orders")
      .join(s.table("g185_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(38,2)")).cast("double")
          .as("sum_qty"))
  }
  val q185Sql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q186
  /** DYNAMIC PARTITION PRUNING: events re-laid-out as a date-partitioned
    * fact (30 daily partitions), joined to a derived calendar dim
    * filtered to Mondays + Tuesdays — the TPC-DS fact×date_dim shape.
    * Catalyst injects a dynamicpruning subquery on the partition column
    * so the fact scan reads only the matching day directories
    * (plan-asserted in PlanSpec), the single biggest IO saver on a
    * date-partitioned 100 TB fact. Oracle = the same dow filter inline.
    */
  def q186(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${CoreQueries.fixDir(dir)}/q186_events_bydate"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/_SUCCESS")))
      ExtQueries.events(s, dir)
        .select(col("event_type"), col("value"), to_date(col("ts")).as("d"))
        .write.partitionBy("d").mode("overwrite").parquet(tmp)
    val fact = graft.io.Parquet.read(s, tmp)
    val dim = ExtQueries.events(s, dir)
      .select(to_date(col("ts")).as("d")).distinct()
      .filter(weekday(col("d")) <= 1)
    fact.join(dim, Seq("d"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("total_value"))
  }
  val q186Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events WHERE isodow(CAST(ts AS DATE)) <= 2
      |GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q187
  /** Runtime BLOOM-FILTER join pruning — DPP's complement for
    * NON-partitioned join columns: a selective dim filter (urgent
    * orders) sprouts a bloom_filter_agg on the build side, and Catalyst
    * injects might_contain onto the fact scan so non-matching rows die
    * before the shuffle. The query itself is a plain shuffle join
    * (merge hint keeps the dim off the broadcast path so the runtime
    * filter has something to save); the injection is plan-asserted in
    * PlanSpec under production-shaped thresholds — at the verify scale
    * the fact side is below the 10 GB application-side default, which
    * is exactly the knob a real deployment leaves alone. Oracle = the
    * same join inline; the bloom filter is semantically transparent.
    */
  def q187(s: SparkSession, dir: String): DataFrame = {
    val urgent = T(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    T(s, dir, "lineitem")
      .join(urgent.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_price"))
  }
  val q187Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q188
  /** Streaming windowed approx-distinct: HLL++ per daily tumbling
    * window over the bounded event stream — the cardinality monitor a
    * 100 TB/day pipeline runs where exact distinct state would grow
    * with the key space while the sketch stays KBs per window. Gated by
    * q52's INVARIANT oracle pattern: the checked output carries the
    * exact distinct count (from the same stream result's window set,
    * recomputed in batch) plus a generous relative-error bound flag —
    * HLL merge is commutative so the estimate is partitioning-
    * deterministic, and a broken sketch misses the 20% band.
    */
  def q188(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val f = s"$dir/events.parquet"
    val src = ExtQueries.normalizeTs(StreamOps.fileStream(s, f))
    val agg = src
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"))
      .select(col("window.start").as("window_start"), col("approx_users"))
    val approx = StreamOps.runBounded(s, f, "q188_hll", "complete")(agg)
    val exact = ExtQueries.events(s, dir)
      .groupBy(window(col("ts"), "1 day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .select(col("window.start").as("window_start"), col("exact_users"))
    approx.join(exact, Seq("window_start"))
      .select(col("window_start"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.2).as("hll_within_bound"))
  }
  val q188Sql: String =
    """SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP)
      |    AS window_start,
      |  count(DISTINCT user_id) AS exact_users,
      |  CAST(1 AS BOOLEAN) AS hll_within_bound
      |FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q189
  /** Leakage-safe GROUP k-fold assignment
    * ([[graft.ops.ext.Sampling.groupKFold]]): synthetic "sites" of 20
    * consecutive docs, 5 folds — every doc of a site lands in the same
    * fold via the md5-prefix hash, so near-copies within a site can
    * never straddle a train/eval boundary. Output = per-fold doc and
    * group counts; the oracle recomputes the identical hex-prefix
    * arithmetic (digit fold over the md5 chars).
    */
  def q189(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Sampling
    val docs = T(s, dir, "documents")
      .withColumn("grp", expr("doc_id div 20"))
    Sampling.groupKFold(docs, "grp", k = 5)
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"))
      .orderBy("fold")
  }
  val q189Sql: String =
    """WITH g AS (SELECT doc_id, doc_id // 20 AS grp FROM documents),
      |h AS (SELECT grp, substr(md5(grp::VARCHAR), 1, 8) AS hx
      |      FROM (SELECT DISTINCT grp FROM g)),
      |f AS (SELECT grp,
      |    list_reduce(list_transform(string_split(hx, ''),
      |        c -> strpos('0123456789abcdef', c)::BIGINT - 1),
      |      (a, x) -> a * 16 + x) % 5 AS fold
      |  FROM h)
      |SELECT fold, count(*) AS n_docs, count(DISTINCT g.grp) AS n_groups
      |FROM g JOIN f USING (grp) GROUP BY fold ORDER BY fold""".stripMargin

  // ---------------------------------------------------------------- q190
  /** BPE ENCODE — the other half of q129's tokenizer: train 3 merges on
    * the corpus, then apply them ([[graft.ops.ext.Bpe.encode]]) and
    * report per-document word and subword counts. The fold runs once
    * per DISTINCT word (vocabulary-sized) and joins back onto the doc→
    * word stream, so the corpus is tokenized without re-folding per
    * occurrence. The 3-row merge table is driver state by design (it IS
    * the tokenizer artifact); the oracle re-derives the same merges and
    * resegmentations with q129's CTEs plus one more reseg round.
    */
  def q190(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.{Bpe, TextAnalysis}
    val docs = T(s, dir, "documents")
    val merges = Bpe.train(Bpe.wordFreqs(docs, "text"), rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val docWords = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("word"))
    val vocab = Bpe.encode(docWords.select("word").distinct(), merges)
    docWords.join(vocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_subwords")).cast("long").as("n_subwords"))
  }
  val q190Sql: String = {
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
    s"""WITH tok AS (SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)
       |    AS toks FROM documents),
       |dw AS (SELECT doc_id, unnest(toks) AS word FROM tok),
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
       |SELECT doc_id, count(*) AS n_words,
       |  sum(n_subwords)::BIGINT AS n_subwords
       |FROM dw JOIN enc USING (word) GROUP BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q176_cc_star" -> (q176 _),
    "q177_stream_outer_join" -> (q177 _),
    "q178_zipf" -> (q178 _),
    "q179_incremental_neardup" -> (q179 _),
    "q180_stream_sessions" -> (q180 _),
    "q181_late_data" -> (q181 _),
    "q182_pq_codebooks" -> (q182 _),
    "q183_epoch_schedule" -> (q183 _),
    "q184_hopping_window" -> (q184 _),
    "q185_bucketed_join" -> (q185 _),
    "q186_dpp_join" -> (q186 _),
    "q187_bloom_join" -> (q187 _),
    "q188_stream_hll" -> (q188 _),
    "q189_group_kfold" -> (q189 _),
    "q190_bpe_encode" -> (q190 _))

  val oracles: Map[String, String] = Map(
    "q176_cc_star" -> q176Sql,
    "q177_stream_outer_join" -> q177Sql,
    "q178_zipf" -> q178Sql,
    "q179_incremental_neardup" -> q179Sql,
    "q180_stream_sessions" -> q180Sql,
    "q181_late_data" -> q181Sql,
    "q182_pq_codebooks" -> q182Sql,
    "q183_epoch_schedule" -> q183Sql,
    "q184_hopping_window" -> q184Sql,
    "q185_bucketed_join" -> q185Sql,
    "q186_dpp_join" -> q186Sql,
    "q187_bloom_join" -> q187Sql,
    "q188_stream_hll" -> q188Sql,
    "q189_group_kfold" -> q189Sql,
    "q190_bpe_encode" -> q190Sql)
}
