package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.ext.{Dedup, PrefixJoin, TextAnalysis}

/** Round-5 "wave 43" query set (q325–q328): release-pipeline
  * composition — canonical-copy retention over near-dup components,
  * Neyman stratified allocation, a partition-size planner, and a
  * leakage-safe component-level train/eval split. Same contract as
  * every wave: DuckDB oracle per query, doubles round to 6 dp,
  * rankings pinned on exact integers, largest-remainder integer
  * apportionment wherever float shares would drift.
  */
object Wave43Queries {
  import CoreQueries.T

  /** Exact near-dup pairs (prefix-filter jaccard ≥ 3/5 over 5-gram
    * shingles — the q272 kernel) on the near-dup corpus. */
  private def dupPairs(s: SparkSession, dir: String): DataFrame = {
    val corpus = ExtQueries.nearDupCorpus(s, dir)
      .select(col("doc_id"),
        Dedup.shinglesOfTokens(TextAnalysis.tokens(col("text")), 5)
          .as("toks"))
    PrefixJoin.jaccardJoin(corpus, "doc_id", "toks", 3, 5)
      .select(col("a").as("id_a"), col("b").as("id_b"))
  }
  /** Exhaustive SQL twin: shared-gram co-occurrence (complete for
    * j > 0) + exact jaccard threshold — fine for an oracle, fatal for
    * an engine. */
  private[queries] val dupPairsSql: String =
    s"""corpus AS (${ExtQueries.nearDupCorpusSql}),
       |tk AS (SELECT doc_id,
       |    list_distinct([array_to_string(toks[i:i+4], ' ')
       |      for i in range(1, greatest(len(toks)-4, 1)+1)]) AS toks
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text),
       |          '[^a-z0-9]+'), t -> len(t) > 0) AS toks
       |        FROM corpus)),
       |g AS (SELECT doc_id, unnest(toks) AS g FROM tk),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |  FROM g GROUP BY 1),
       |shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS i
       |  FROM g x JOIN g y ON x.g = y.g AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT s.id_a, s.id_b
       |  FROM shared s JOIN sz a ON a.doc_id = s.id_a
       |                JOIN sz b ON b.doc_id = s.id_b
       |  WHERE 5 * s.i >= 3 * (a.n + b.n - s.i))""".stripMargin
  /** Recursive-closure components over `pairs` → comp(id, component). */
  private[queries] val compSql: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.dst, r.label FROM reach r JOIN edges e2 ON e2.src = r.id),
      |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)"""
      .stripMargin
  /** p_keep of the near-dup corpus (the q150 logistic over `corpus`),
    * quantized to exact millionths. */
  private[queries] val qualSql: String =
    s"""f AS (SELECT doc_id,
       |    len(toks)::DOUBLE AS nt,
       |    CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END AS pr,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, t -> list_contains([${TextAnalysis
              .StopwordSets("en").map(w => s"'$w'").mkString(",")}], t)))::DOUBLE / len(toks)
       |      ELSE 0.0 END AS sr
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks,
       |          length(text)::DOUBLE AS nc,
       |          (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE AS np
       |        FROM corpus)),
       |qual AS (SELECT doc_id,
       |    CAST(floor(round(1.0 / (1.0 + exp(-(-1.0 + sr * 4.0
       |        + pr * (-6.0) + ln(nt + 1) * 0.5))), 6) * 1000000.0e0
       |      + 0.5e0) AS BIGINT) AS qq
       |  FROM f)""".stripMargin

  // ---------------------------------------------------------------- q325
  /** Canonical-copy retention: near-dup components keep their
    * HIGHEST-QUALITY member (q150 logistic score, quantized to exact
    * millionths, tie-broken by id) — dedup that keeps the best copy
    * instead of the arbitrary min-id winner (q10/q13's convention).
    * Composes [[graft.ops.ext.PrefixJoin.jaccardJoin]] →
    * [[graft.ops.ext.Dedup.connectedComponentsStar]] → pinned argmax.
    */
  def q325(s: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.connectedComponentsStar(dupPairs(s, dir))
    val qq = TextAnalysis.logisticQuality(
        ExtQueries.nearDupCorpus(s, dir), "text")
      .select(col("doc_id").as("id"),
        floor(col("p_keep") * 1e6 + 0.5).cast("long").as("qq"))
    val j = comp.join(qq, Seq("id"))
    val w = Window.partitionBy("component")
      .orderBy(col("qq").desc, col("id"))
    j.withColumn("rk", row_number().over(w))
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy("component")))
      .filter(col("rk") === 1)
      .select(col("component"), col("csize"), col("id").as("kept_doc"),
        round(col("qq").cast("double") / lit(1e6), 6).as("kept_q"))
      .orderBy("component")
  }
  val q325Sql: String =
    s"""WITH RECURSIVE $dupPairsSql,
       |$compSql,
       |$qualSql,
       |j AS (SELECT c.id, c.component, q.qq
       |  FROM comp c JOIN qual q ON q.doc_id = c.id),
       |ranked AS (SELECT id, component, qq,
       |    row_number() OVER (PARTITION BY component
       |      ORDER BY qq DESC, id) AS rk,
       |    CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS csize
       |  FROM j)
       |SELECT component, csize, id AS kept_doc,
       |  round(CAST(qq AS DOUBLE) / 1000000.0e0, 6) AS kept_q
       |FROM ranked WHERE rk = 1 ORDER BY component""".stripMargin

  // ---------------------------------------------------------------- q326
  /** Neyman allocation
    * ([[graft.ops.ext.Sampling.neymanAllocation]], budget 1000): the
    * variance-optimal per-stratum sample sizes over order priorities —
    * the principled version of the flat per-stratum rates (q73), with
    * largest-remainder integer seats that sum to the budget exactly.
    */
  def q326(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Sampling.neymanAllocation(
      T(s, dir, "orders").select(col("o_orderpriority"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) div 100")
          .as("dollars")),
      "o_orderpriority", "dollars", budget = 1000L)
  val q326Sql: String =
    """WITH mo AS (SELECT o_orderpriority AS stratum,
      |    CAST(count(*) AS BIGINT) AS n_h,
      |    CAST(sum(v) AS BIGINT) AS s1, CAST(sum(v * v) AS BIGINT) AS s2
      |  FROM (SELECT o_orderpriority,
      |      CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) // 100
      |        AS v
      |    FROM orders)
      |  GROUP BY 1),
      |w AS (SELECT stratum, n_h,
      |    sqrt((CAST(n_h AS DOUBLE) * CAST(s2 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      / (CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE))) AS sd
      |  FROM mo),
      |qw AS (SELECT stratum, n_h, sd,
      |    CAST(floor(CAST(n_h AS DOUBLE) * sd * 1000000.0e0 + 0.5e0)
      |      AS BIGINT) AS qw
      |  FROM w),
      |tot AS (SELECT CAST(sum(qw) AS BIGINT) AS sw FROM qw),
      |based AS (SELECT stratum, n_h, sd, qw, sw,
      |    (1000 * qw) // sw AS base, 1000 * qw - ((1000 * qw) // sw) * sw
      |      AS rem
      |  FROM qw, tot),
      |ranked AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum)
      |    AS extra_rank,
      |    1000 - sum(base) OVER () AS leftover
      |  FROM based)
      |SELECT stratum, n_h, round(sd, 6) AS sd,
      |  CAST(base + CASE WHEN extra_rank <= leftover THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_alloc
      |FROM ranked ORDER BY stratum""".stripMargin

  // ---------------------------------------------------------------- q327
  /** Partition-size planner ([[graft.ops.Profile.partitionPlan]],
    * 128 MiB target) from the documents table's actual row widths —
    * the knob-setting card for `maxPartitionBytes`/repartition
    * decisions, next to the physical-layout audits (q122, q127).
    */
  def q327(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.partitionPlan(T(s, dir, "documents"),
      length(col("text")) + length(col("lang")) + length(col("source"))
        + lit(16L),
      targetBytes = 134217728L)
  val q327Sql: String =
    """WITH b AS (SELECT CAST(length(text) + length(lang)
      |      + length(source) + 16 AS BIGINT) AS b
      |  FROM documents),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(b) AS BIGINT) AS total_bytes_est
      |  FROM b),
      |rp AS (SELECT n_rows, total_bytes_est,
      |    round(CAST(total_bytes_est AS DOUBLE)
      |      / CAST(n_rows AS DOUBLE), 6) AS avg_row_bytes,
      |    greatest((134217728 * n_rows) // total_bytes_est, 1)
      |      AS rows_per_partition
      |  FROM agg)
      |SELECT n_rows, total_bytes_est, avg_row_bytes,
      |  CAST(rows_per_partition AS BIGINT) AS rows_per_partition,
      |  CAST((n_rows + rows_per_partition - 1) // rows_per_partition
      |    AS BIGINT) AS n_partitions
      |FROM rp""".stripMargin

  // ---------------------------------------------------------------- q328
  /** Leakage-safe train/eval split THROUGH the dup graph: split units
    * are near-dup COMPONENTS (singletons split alone), assigned by
    * md5 of the unit key — so no near-dup pair ever crosses the
    * split, the failure mode a row-level split (q189's input) cannot
    * rule out. The audit column counts crossing pairs — structurally
    * zero, and the query proves it rather than assumes it.
    */
  def q328(s: SparkSession, dir: String): DataFrame = {
    val corpus = ExtQueries.nearDupCorpus(s, dir).select("doc_id")
    val pairs = dupPairs(s, dir).persist()
    val comp = Dedup.connectedComponentsStar(pairs)
    val assign = corpus.join(comp.withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("unit"))
      .withColumn("split",
        when(substring(md5(col("unit").cast("string")), 1, 1) < "d",
          "train").otherwise("eval"))
    val cross = pairs
      .join(assign.select(col("doc_id").as("id_a"),
        col("split").as("sa")), "id_a")
      .join(assign.select(col("doc_id").as("id_b"),
        col("split").as("sb")), "id_b")
      .agg(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
        .as("cross_pairs"))
    assign.groupBy("split")
      .agg(count_distinct(col("unit")).as("n_units"),
        count(lit(1)).as("n_docs"))
      .crossJoin(cross)
      .select(col("split"), col("n_units"), col("n_docs"),
        coalesce(col("cross_pairs"), lit(0L)).as("cross_pairs"))
      .orderBy("split")
  }
  val q328Sql: String =
    s"""WITH RECURSIVE $dupPairsSql,
       |$compSql,
       |assign AS (SELECT c.doc_id,
       |    coalesce(cp.component, c.doc_id) AS unit,
       |    CASE WHEN substr(md5(coalesce(cp.component, c.doc_id)::VARCHAR),
       |        1, 1) < 'd' THEN 'train' ELSE 'eval' END AS split
       |  FROM corpus c LEFT JOIN comp cp ON cp.id = c.doc_id),
       |cross_ AS (SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS cross_pairs
       |  FROM pairs p JOIN assign a ON a.doc_id = p.id_a
       |               JOIN assign b ON b.doc_id = p.id_b)
       |SELECT split, CAST(count(DISTINCT unit) AS BIGINT) AS n_units,
       |  CAST(count(*) AS BIGINT) AS n_docs, cross_pairs
       |FROM assign, cross_ GROUP BY split, cross_pairs
       |ORDER BY split""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q325_canonical_dedup", q325, q325Sql),
    Query("q326_neyman", q326, q326Sql),
    Query("q327_partition_plan", q327, q327Sql),
    Query("q328_leakage_split", q328, q328Sql))
}
