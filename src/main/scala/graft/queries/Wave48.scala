package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 "wave 48" query set (q345–q348): data-engineering
  * correctness ops — distributed sessionization with boundary merge
  * (proved equal to the global pass), golden-record survivorship,
  * referential-integrity orphan audits, and an SCD2 validity audit.
  * Same contract as every wave: DuckDB oracle per query, exact
  * integers (epoch micros, cents) to every decision.
  */
object Wave48Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q345
  /** Distributed sessionization with boundary merge: sessionize each
    * 10-day TIME SHARD independently (the map-side pass a 100 TB
    * event log would run per partition), then merge sessions that
    * touch across shard boundaries (gap ≤ 30 min) with a
    * gaps-and-islands pass over the per-shard session list — and
    * PROVE the result equals the one-shot global sessionization.
    * Shard-local work is embarrassingly parallel; the merge pass only
    * ever touches per-user SESSION rows, not events. Output one row:
    * (n_global, n_sharded_premerge, n_after_merge, boundary_merges,
    * equal).
    */
  def q345(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800000000L
    val ev = ExtQueries.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      // div, not Column./ (double division) — the shard id must be the
      // same integer the oracle's // computes
      .withColumn("shard", expr("(us div 1000000 div 86400) div 10"))
    def sessions(partCols: Seq[String]): DataFrame = {
      val w = Window.partitionBy(partCols.map(col): _*)
        .orderBy(col("us"), col("event_id"))
      ev.withColumn("brk",
          when(col("us") - lag("us", 1).over(w) > gapUs ||
            lag("us", 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("sid", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(partCols.map(col) :+ col("sid"): _*)
        .agg(min("us").as("start_us"), max("us").as("end_us"))
    }
    val globalSess = sessions(Seq("user_id"))
    val shardSess = sessions(Seq("user_id", "shard")).persist()
    val wm = Window.partitionBy("user_id")
      .orderBy(col("start_us"), col("end_us"))
    val merged = shardSess
      .withColumn("prev_end", lag("end_us", 1).over(wm))
      .withColumn("brk", when(col("prev_end").isNull ||
        col("start_us") - col("prev_end") > gapUs, 1L).otherwise(0L))
      .withColumn("mid", sum("brk").over(
        wm.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "mid").agg(count(lit(1)).as("n_frag"))
    val a = globalSess.agg(count(lit(1)).as("n_global"))
    val b = shardSess.agg(count(lit(1)).as("n_sharded_premerge"))
    val c = merged.agg(count(lit(1)).as("n_after_merge"),
      sum(col("n_frag") - 1).as("boundary_merges"))
    a.crossJoin(b).crossJoin(c)
      .select(col("n_global"), col("n_sharded_premerge"),
        col("n_after_merge"), col("boundary_merges"),
        (col("n_global") === col("n_after_merge")).as("equal"))
  }
  val q345Sql: String =
    """WITH ev AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    event_id,
      |    (CAST(epoch_us(ts) AS BIGINT) // 1000000 // 86400) // 10
      |      AS shard
      |  FROM events),
      |gg AS (SELECT user_id, us, event_id,
      |    CASE WHEN lag(us) OVER w IS NULL
      |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
      |      AS brk
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |gsess AS (SELECT user_id,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS sid, us
      |  FROM gg),
      |gglob AS (SELECT CAST(count(*) AS BIGINT) AS n_global FROM (
      |    SELECT user_id, sid FROM gsess GROUP BY 1, 2)),
      |sg AS (SELECT user_id, shard, us, event_id,
      |    CASE WHEN lag(us) OVER w IS NULL
      |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
      |      AS brk
      |  FROM ev WINDOW w AS (PARTITION BY user_id, shard
      |    ORDER BY us, event_id)),
      |ssess AS (SELECT user_id, shard,
      |    sum(brk) OVER (PARTITION BY user_id, shard
      |      ORDER BY us, event_id) AS sid, us
      |  FROM sg),
      |shsess AS (SELECT user_id, shard, sid,
      |    CAST(min(us) AS BIGINT) AS start_us,
      |    CAST(max(us) AS BIGINT) AS end_us
      |  FROM ssess GROUP BY 1, 2, 3),
      |pre AS (SELECT CAST(count(*) AS BIGINT) AS n_sharded_premerge
      |  FROM shsess),
      |mg AS (SELECT user_id, start_us, end_us,
      |    CASE WHEN lag(end_us) OVER w IS NULL
      |         OR start_us - lag(end_us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM shsess WINDOW w AS (PARTITION BY user_id
      |    ORDER BY start_us, end_us)),
      |mi AS (SELECT user_id,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY start_us, end_us)
      |      AS mid
      |  FROM mg),
      |mc AS (SELECT user_id, mid, CAST(count(*) AS BIGINT) AS n_frag
      |  FROM mi GROUP BY 1, 2),
      |post AS (SELECT CAST(count(*) AS BIGINT) AS n_after_merge,
      |    CAST(sum(n_frag - 1) AS BIGINT) AS boundary_merges
      |  FROM mc)
      |SELECT n_global, n_sharded_premerge, n_after_merge,
      |  boundary_merges, (n_global = n_after_merge) AS equal
      |FROM gglob, pre, post""".stripMargin

  // ---------------------------------------------------------------- q346
  /** Golden-record survivorship: one consolidated row per user from
    * the event stream — latest event type (pinned by (ts, event_id)
    * rank, the survivorship rule), lifetime value in exact cents,
    * first/last seen, and an ever-purchased flag — the MDM "best
    * version of the truth" builder behind CDC upserts (q88/q213).
    */
  def q346(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      col("event_type"),
      floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w))
      .withColumn("latest_type", max(when(col("rn") === 1,
        col("event_type"))).over(Window.partitionBy("user_id")))
      .groupBy("user_id", "latest_type")
      .agg(count(lit(1)).as("n_events"),
        sum("cents").as("lifetime_cents"),
        min("us").as("first_seen_us"), max("us").as("last_seen_us"),
        max(when(col("event_type") === "purchase", true)
          .otherwise(false)).as("ever_purchased"))
      .orderBy("user_id")
  }
  val q346Sql: String =
    """WITH ev AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    event_id, event_type,
      |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      |  FROM events),
      |latest AS (SELECT user_id, event_type AS latest_type FROM (
      |    SELECT user_id, event_type, row_number() OVER (
      |      PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1)
      |SELECT ev.user_id, l.latest_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS lifetime_cents,
      |  CAST(min(us) AS BIGINT) AS first_seen_us,
      |  CAST(max(us) AS BIGINT) AS last_seen_us,
      |  bool_or(event_type = 'purchase') AS ever_purchased
      |FROM ev JOIN latest l USING (user_id)
      |GROUP BY ev.user_id, l.latest_type ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q347
  /** Referential-integrity audit across the star schema: orphan child
    * rows (FK with no parent) and childless parents, per
    * relationship — the data-quality pre-flight before any join-heavy
    * pipeline trusts its keys. All counts from leftanti joins.
    */
  def q347(s: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.join(parent,
        child(fk) === parent(pk), "leftanti")
        .agg(count(lit(1)).as("orphans"))
      val childless = parent.join(child.select(col(fk)).distinct(),
        parent(pk) === col(fk), "leftanti")
        .agg(count(lit(1)).as("childless_parents"))
      val nc = child.agg(count(lit(1)).as("n_child"))
      val np = parent.agg(count(lit(1)).as("n_parent"))
      nc.crossJoin(np).crossJoin(orphans).crossJoin(childless)
        .select(lit(rel).as("relation"), col("n_child"), col("n_parent"),
          col("orphans"), col("childless_parents"))
    }
    val li = T(s, dir, "lineitem").select("l_orderkey")
    val o = T(s, dir, "orders")
    val c = T(s, dir, "customer")
    val n = T(s, dir, "nation")
    Seq(
      audit("lineitem->orders", li, "l_orderkey",
        o.select("o_orderkey"), "o_orderkey"),
      audit("orders->customer", o.select("o_custkey"), "o_custkey",
        c.select("c_custkey"), "c_custkey"),
      audit("customer->nation", c.select("c_nationkey"), "c_nationkey",
        n.select("n_nationkey"), "n_nationkey"))
      .reduce(_ unionByName _).orderBy("relation")
  }
  val q347Sql: String = {
    def audit(rel: String, childTbl: String, fk: String,
        parentTbl: String, pk: String): String =
      s"""SELECT '$rel' AS relation,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $childTbl) AS n_child,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $parentTbl) AS n_parent,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $childTbl c
         |    WHERE NOT EXISTS (SELECT 1 FROM $parentTbl p
         |      WHERE p.$pk = c.$fk)) AS orphans,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $parentTbl p
         |    WHERE NOT EXISTS (SELECT 1 FROM $childTbl c
         |      WHERE c.$fk = p.$pk)) AS childless_parents""".stripMargin
    Seq(
      audit("lineitem->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      audit("orders->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      audit("customer->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  // ---------------------------------------------------------------- q348
  /** SCD2 validity audit over the q76 type-2 dimension: per-key
    * interval chains must have zero overlaps, zero gaps (adjacent
    * valid_to = next valid_from by construction) and EXACTLY one open
    * (is_current) row — the invariant check a warehouse runs after
    * every dimension load, here proving the [[graft.ops.Scd.type2]]
    * contract in-engine.
    */
  def q348(s: SparkSession, dir: String): DataFrame = {
    val scd = graft.ops.Scd.type2(ExtQueries.events(s, dir),
      "user_id", "ts", "event_id", Seq("value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("valid_from"), col("event_id"))
    val chain = scd
      .withColumn("next_from", lead("valid_from", 1).over(w))
      .withColumn("overlap",
        when(col("valid_to").isNotNull &&
          col("next_from") < col("valid_to"), 1L).otherwise(0L))
      .withColumn("gap",
        when(col("valid_to").isNotNull &&
          col("next_from") > col("valid_to"), 1L).otherwise(0L))
    val perKey = chain.groupBy("user_id")
      .agg(count(lit(1)).as("rows"),
        sum("overlap").as("ov"), sum("gap").as("gp"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("open"))
    perKey.agg(count(lit(1)).as("n_keys"), sum("rows").as("n_rows"),
        sum("ov").as("n_overlaps"), sum("gp").as("n_gaps"),
        sum(when(col("open") === 1, 1L).otherwise(0L))
          .as("keys_with_one_open"))
      .select(col("n_keys"), col("n_rows"), col("n_overlaps"),
        col("n_gaps"), col("keys_with_one_open"),
        (col("n_overlaps") === 0 && col("n_gaps") === 0 &&
          col("keys_with_one_open") === col("n_keys")).as("valid"))
  }
  val q348Sql: String =
    """WITH scd AS (SELECT user_id, event_id, ts AS valid_from,
      |    lead(ts) OVER w AS valid_to,
      |    (lead(ts) OVER w IS NULL) AS is_current
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |chain AS (SELECT user_id, valid_to, is_current,
      |    lead(valid_from) OVER (PARTITION BY user_id
      |      ORDER BY valid_from, event_id) AS next_from
      |  FROM scd),
      |flags AS (SELECT user_id,
      |    CASE WHEN valid_to IS NOT NULL AND next_from < valid_to
      |      THEN 1 ELSE 0 END AS overlap,
      |    CASE WHEN valid_to IS NOT NULL AND next_from > valid_to
      |      THEN 1 ELSE 0 END AS gap,
      |    CASE WHEN is_current THEN 1 ELSE 0 END AS open
      |  FROM chain),
      |perkey AS (SELECT user_id, CAST(count(*) AS BIGINT) AS rows_,
      |    CAST(sum(overlap) AS BIGINT) AS ov,
      |    CAST(sum(gap) AS BIGINT) AS gp,
      |    CAST(sum(open) AS BIGINT) AS open
      |  FROM flags GROUP BY user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(sum(rows_) AS BIGINT) AS n_rows,
      |  CAST(sum(ov) AS BIGINT) AS n_overlaps,
      |  CAST(sum(gp) AS BIGINT) AS n_gaps,
      |  CAST(count(CASE WHEN open = 1 THEN 1 END) AS BIGINT)
      |    AS keys_with_one_open,
      |  (sum(ov) = 0 AND sum(gp) = 0
      |    AND count(CASE WHEN open = 1 THEN 1 END) = count(*)) AS valid
      |FROM perkey""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q345_sharded_sessionize", q345, q345Sql),
    Query("q346_golden_record", q346, q346Sql),
    Query("q347_ref_integrity", q347, q347Sql),
    Query("q348_scd2_audit", q348, q348Sql))
}
