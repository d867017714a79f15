package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 78" query set (q427–q428): Bloom-sidecar commit
  * skipping for string keys (the skipping structure zone maps can't
  * give — no meaningful min/max on opaque keys) and write-time table
  * constraints (NOT NULL / CHECK / unique-key) gating a table-log
  * commit in one distributed audit pass.
  */
object Wave78Queries {
  import CoreQueries.T

  private def rmTree(table: String): Unit = {
    val root = java.nio.file.Paths.get(table)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator()
      while (it.hasNext) java.nio.file.Files.delete(it.next())
    }
  }

  // ---------------------------------------------------------------- q427
  /** Bloom-filter commit skipping ([[graft.io.TxLog.commitWithBloom]] /
    * readPrunedKey): 5 commits keyed by `o_orderkey % 5`, each with a
    * per-commit Bloom sidecar over the STRING order key. A point read
    * of one key scans exactly the 1 commit that can contain it — no
    * false negatives by construction; false positives would only add a
    * scan, and at fpp = 1e-6 across 4 other commits the chance any
    * appears is ~4e-6 (deterministic per dataset: Spark's Bloom hash is
    * seed-fixed, so a green run stays green).
    */
  def q427(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_bloom"
    rmTree(table)
    val o = T(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderkey").cast("string").as("okey_s"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    (0 until 5).foreach { b =>
      graft.io.TxLog.commitWithBloom(s, table,
        o.filter(col("o_orderkey") % 5 === b), "okey_s")
    }
    val target = o.filter(col("o_orderkey") % 5 === 2)
      .agg(min("o_orderkey")).head().getLong(0).toString
    val (df, scanned, total) =
      graft.io.TxLog.readPrunedKey(s, table, "okey_s", target)
    val hit = df.filter(col("okey_s") === target)
      .agg(count(lit(1)), sum("cents")).head()
    Seq((total.toLong, scanned.toLong, hit.getLong(0), hit.getLong(1)))
      .toDF("dirs_total", "dirs_scanned", "n_rows", "total_cents")
  }
  val q427Sql: String =
    """WITH t AS (SELECT min(o_orderkey) AS k FROM orders
      |  WHERE o_orderkey % 5 = 2)
      |SELECT CAST(5 AS BIGINT) AS dirs_total,
      |  CAST(1 AS BIGINT) AS dirs_scanned,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT))
      |    AS BIGINT) AS total_cents
      |FROM orders, t WHERE o_orderkey = t.k""".stripMargin

  // ---------------------------------------------------------------- q428
  /** Write-time constraints ([[graft.io.TableChecks]]): a dirty frame
    * (nulls seeded into o_orderpriority at `o_orderkey % 97`, negative cents at `% 101`,
    * duplicate keys at `% 103`) is audited — one distributed pass, one
    * row per constraint — and its gated commit is REJECTED leaving the
    * log untouched (0 versions); the clean frame then commits as v1.
    * The census is the audit table plus the gate outcomes, long-form.
    */
  def q428(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_checked"
    rmTree(table)
    val cents =
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
    val base = T(s, dir, "orders").select(col("o_orderkey"),
      when(col("o_orderkey") % 97 === 0, lit(null: String))
        .otherwise(col("o_orderpriority")).as("clerk"),
      (when(col("o_orderkey") % 101 === 0, -1L).otherwise(1L) * cents)
        .as("cents"))
    val dirty = base.unionByName(base.filter(col("o_orderkey") % 103 === 0))
    val notNull = Seq("clerk")
    val checks = Seq(("non_negative_cents", "cents >= 0"))
    val uniq = Some(Seq("o_orderkey"))
    val auditRows = graft.io.TableChecks.audit(dirty, notNull, checks, uniq)
    val rejected =
      try {
        graft.io.TableChecks.commitChecked(s, table, dirty,
          notNull, checks, uniq)
        0L
      } catch {
        case _: graft.io.TableChecks.ConstraintViolationException => 1L
      }
    val versionsAfterReject = graft.io.TxLog.versions(table).size.toLong
    val clean = T(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority").as("clerk"), cents.as("cents"))
    val v = graft.io.TableChecks.commitChecked(s, table, clean,
      notNull, checks, uniq).toLong
    val committed = graft.io.TxLog.read(s, table).count()
    auditRows.unionByName(Seq(
      ("dirty_commit_rejected", rejected),
      ("versions_after_reject", versionsAfterReject),
      ("committed_version", v),
      ("committed_rows", committed))
      .toDF("constraint_name", "violations"))
      .orderBy("constraint_name")
  }
  val q428Sql: String =
    """WITH m AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 103 = 0 THEN 2 ELSE 1 END AS mult
      |  FROM orders)
      |SELECT * FROM (VALUES
      |  ('check_non_negative_cents', (SELECT CAST(coalesce(sum(
      |     CASE WHEN o_orderkey % 101 = 0 THEN mult ELSE 0 END), 0)
      |     AS BIGINT) FROM m)),
      |  ('committed_rows', (SELECT CAST(count(*) AS BIGINT) FROM orders)),
      |  ('committed_version', CAST(1 AS BIGINT)),
      |  ('dirty_commit_rejected', CAST(1 AS BIGINT)),
      |  ('not_null_clerk', (SELECT CAST(coalesce(sum(
      |     CASE WHEN o_orderkey % 97 = 0 THEN mult ELSE 0 END), 0)
      |     AS BIGINT) FROM m)),
      |  ('unique_o_orderkey', (SELECT CAST(sum(mult - 1) AS BIGINT) FROM m)),
      |  ('versions_after_reject', CAST(0 AS BIGINT)))
      |  AS t(constraint_name, violations)
      |ORDER BY constraint_name""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q427_txlog_bloom", q427, q427Sql),
    Query("q428_txlog_constraints", q428, q428Sql))
}
