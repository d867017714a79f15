package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 93" query set (q466–q468): retrieval evaluation,
  * streaming write-audit-publish, and soft deduplication —
  *
  *  - q466 average precision ([[graft.ops.ext.Eval.averagePrecision]]):
  *    the exact per-query PR-curve area (MAP's per-query term) beside
  *    the existing NDCG/MRR — precision terms sum through
  *    DECIMAL(38,18) so the rollup is order-independent.
  *  - q467 streaming WAP ([[graft.io.TxLog.branchAppend]] from
  *    `foreachBatch`): micro-batches land on a BRANCH, the constraint
  *    audit gates once over the staged whole, publish fast-forwards
  *    main — readers of main see nothing, then everything, atomically.
  *    The lakehouse answer to "a crashed stream left half its batches
  *    in the table".
  *  - q468 soft-dedup weights ([[graft.ops.ext.Winnow
  *    .commonalityWeights]]): down-weight shared content instead of
  *    dropping documents — duplication mass from winnowing-fingerprint
  *    document frequency, linear cost, no pair materialization.
  */
object Wave93Queries {
  import CoreQueries.{T, centsSql, rmTree, streamFixture, yearSlice}

  // ---------------------------------------------------------------- q466
  /** AP per nation over customers ranked by balance; BUILDING-segment
    * customers are the "relevant" set. 25 bounded rank windows.
    */
  def q466(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Eval.averagePrecision(
      T(s, dir, "customer").select(col("c_nationkey"), col("c_custkey"),
        col("c_acctbal"),
        (col("c_mktsegment") === "BUILDING").as("rel")),
      "c_nationkey", "c_acctbal", "c_custkey", "rel")
      .orderBy("c_nationkey")
  val q466Sql: String =
    """WITH r AS (SELECT c_nationkey AS nk,
      |    c_mktsegment = 'BUILDING' AS rel,
      |    row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY c_acctbal DESC, c_custkey) AS rank,
      |    sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY c_nationkey
      |        ORDER BY c_acctbal DESC, c_custkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumrel
      |  FROM customer)
      |SELECT nk AS c_nationkey, count(*)::BIGINT AS n_docs,
      |  sum(CASE WHEN rel THEN 1 ELSE 0 END)::BIGINT AS n_rel,
      |  CASE WHEN sum(CASE WHEN rel THEN 1 ELSE 0 END) = 0 THEN 0.0
      |    ELSE round(CAST(sum(CASE WHEN rel
      |        THEN CAST(cumrel::DOUBLE / rank AS DECIMAL(38,18))
      |        ELSE CAST(0.0 AS DECIMAL(38,18)) END) AS DOUBLE)
      |      / sum(CASE WHEN rel THEN 1 ELSE 0 END), 6) END AS ap
      |FROM r GROUP BY nk ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q467
  /** Streaming WAP: main starts with the 1996 slice; the 1997+1998
    * micro-batches stream onto branch `ingest` (one branchAppend per
    * batch — the branch log absorbs the stream, main never moves); the
    * audit runs ONCE over the staged whole; publish fast-forwards main
    * by reference. The census pins: main saw exactly 2 versions
    * (initial + publish), the branch accumulated 3 entries (base + 2
    * appends), totals cover all three years, and the audit was clean.
    */
  def q467(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{TableChecks, TxLog}
    val src = streamFixture(s, dir, "q467_stream_src")
    val table = CoreQueries.fixDir(dir) + "/txlog_stream_wap"
    rmTree(table)
    TxLog.commit(s, table, yearSlice(s, dir, 1996), targetFiles = 2)
    TxLog.branchCreate(table, "ingest")
    val schema = graft.io.Parquet.schema(s, s"$src/b0_1996.parquet")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(src)
    val sink: (DataFrame, Long) => Unit = (batch, _) => {
      // the staged stream excludes the year main already holds
      val fresh = batch.filter(col("yr") =!= 1996L)
      if (!fresh.isEmpty) {
        TxLog.branchAppend(s, table, "ingest", fresh, targetFiles = 1)
      }
      ()
    }
    val q = stream.writeStream.foreachBatch(sink).start()
    try q.processAllAvailable() finally q.stop()
    val branchVersions = TxLog.branchVersions(table, "ingest").length
    val staged = TxLog.branchRead(s, table, "ingest")
    val violations = TableChecks.audit(staged,
        notNull = Seq("l_orderkey", "cents"),
        checks = Seq(("non_negative", "cents >= 0")), uniqueKey = None)
      .agg(sum("violations").as("v")).collect()(0).getLong(0)
    require(violations == 0, s"audit found $violations violations")
    TxLog.publish(table, "ingest")
    TxLog.branchDelete(table, "ingest")
    val mainVersions = TxLog.versions(table).length
    TxLog.read(s, table)
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      .select(lit(mainVersions.toLong).as("main_versions"),
        lit(branchVersions.toLong).as("branch_versions"),
        lit(violations).as("audit_violations"),
        col("n_rows"), col("total_cents"))
  }
  val q467Sql: String =
    s"""SELECT CAST(2 AS BIGINT) AS main_versions,
       |  CAST(3 AS BIGINT) AS branch_versions,
       |  CAST(0 AS BIGINT) AS audit_violations,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents
       |FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998)""".stripMargin

  // ---------------------------------------------------------------- q468
  /** Soft-dedup weights over `documents`: per doc, fingerprint count,
    * common-fingerprint count (df ≥ 2), and the keep weight.
    */
  def q468(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Winnow.commonalityWeights(
      T(s, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id")
  val q468Sql: String =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |      t -> len(t) > 0) AS toks
      |  FROM documents),
      |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS p
      |  FROM tk WHERE len(toks) >= 3),
      |g AS (SELECT doc_id, p,
      |    md5(array_to_string(toks[p:p+2], ' ')) AS k
      |  FROM g0),
      |sel AS (SELECT doc_id, k FROM (
      |    SELECT doc_id, p, k,
      |      min(k) OVER (PARTITION BY doc_id ORDER BY p
      |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS kmin
      |    FROM g)
      |  WHERE k = kmin),
      |fp AS (SELECT DISTINCT doc_id, k FROM sel),
      |freq AS (SELECT k, count(*) AS df FROM fp GROUP BY 1)
      |SELECT fp.doc_id, count(*)::BIGINT AS n_fp,
      |  sum(CASE WHEN freq.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_common,
      |  round(1.0 - sum(CASE WHEN freq.df >= 2 THEN 1 ELSE 0 END)::DOUBLE
      |    / count(*), 6) AS weight
      |FROM fp JOIN freq ON fp.k = freq.k
      |GROUP BY fp.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q466_average_precision", q466, q466Sql),
    Query("q467_stream_wap", q467, q467Sql),
    Query("q468_soft_dedup", q468, q468Sql))
}
