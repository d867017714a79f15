package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 88" query set (q452–q453): the table log as a LIVE
  * source and the embedding-width audit —
  *
  *  - q452 streaming OUT of the table log: an append-only TxLog table
  *    IS a Structured Streaming source (the file source over its data
  *    directories — zero custom code), so a running consumer picks up
  *    each committed append as a micro-batch without restarts.
  *  - q453 matryoshka truncation recall ([[graft.ops.ext.Similarity
  *    .matryoshkaRecall]]): exact top-5 overlap of d′ ∈ {8,16,32,64}
  *    truncated search vs full-width search, per query — the table
  *    that sizes an embedding store.
  */
object Wave88Queries {
  import CoreQueries.{T, centsSql, rmTree, yearSlice}

  // ---------------------------------------------------------------- q452
  /** Change-data feed as a LIVE stream: two appends land, a streaming
    * consumer (file source globbing the table's data dirs, one file per
    * trigger,
    * complete-mode per-year totals into a memory sink) drains them;
    * a THIRD append lands while the consumer is running and is picked
    * up by the same query — no restart, no rescan of old files. The
    * census pins both phases' totals and the final version count.
    * Contract: append-only tables (the [[graft.io.TxLog.readChanges]]
    * rule) — delete vectors and rewrites need the batch CDC reader.
    */
  def q452(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_stream_out"
    rmTree(table)
    graft.io.TxLog.append(s, table, yearSlice(s, dir, 1996), targetFiles = 1)
    graft.io.TxLog.append(s, table, yearSlice(s, dir, 1997), targetFiles = 1)
    val schema = graft.io.TxLog.read(s, table).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$table/data/*")
    val q = stream.groupBy("yr")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .writeStream.format("memory").queryName("q452_mem")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val p1 = s.table("q452_mem")
        .agg(coalesce(sum("n"), lit(0L)), coalesce(sum("c"), lit(0L))).head()
      graft.io.TxLog.append(s, table, yearSlice(s, dir, 1998),
        targetFiles = 1)
      q.processAllAvailable()
      val p2 = s.table("q452_mem")
        .agg(sum("n"), sum("c"), count(lit(1))).head()
      val nv = graft.io.TxLog.versions(table).size.toLong
      Seq((nv, p1.getLong(0), p1.getLong(1), p2.getLong(0), p2.getLong(1),
          p2.getLong(2)))
        .toDF("n_versions", "rows_phase1", "cents_phase1", "rows_final",
          "cents_final", "years_final")
    } finally q.stop()
  }
  val q452Sql: String =
    s"""WITH base AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
       |    $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998))
       |SELECT CAST(3 AS BIGINT) AS n_versions,
       |  CAST(sum(CASE WHEN yr < 1998 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS rows_phase1,
       |  CAST(sum(CASE WHEN yr < 1998 THEN cents ELSE 0 END) AS BIGINT)
       |    AS cents_phase1,
       |  CAST(count(*) AS BIGINT) AS rows_final,
       |  CAST(sum(cents) AS BIGINT) AS cents_final,
       |  CAST(3 AS BIGINT) AS years_final
       |FROM base""".stripMargin

  // ---------------------------------------------------------------- q453
  /** Truncation-width audit for every 50th vector: exact top-5 at
    * d′ = 8/16/32/64 dims vs the full 64, overlap per (width, query).
    * The d′ = 64 rows are the built-in sanity anchor (overlap ≡ 5).
    */
  def q453(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.ops.ext.Similarity.matryoshkaRecall(emb,
        emb.filter(col("vec_id") % 50 === 0), "embedding", "vec_id",
        dims = Seq(8, 16, 32, 64), k = 5)
      .orderBy("d_prime", "query_id")
  }
  val q453Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (x,y) -> x+y)"
    def ranked(d: Int): String =
      s"""r$d AS (SELECT query_id, corpus_id FROM (
         |  SELECT q.id AS query_id, c.id AS corpus_id,
         |    row_number() OVER (PARTITION BY q.id ORDER BY
         |      ${dot("c.vec", "q.vec")} / (c.nrm * q.nrm) DESC, c.id) AS rk
         |  FROM (SELECT id, vec, nrm FROM n$d) c,
         |       (SELECT id, vec, nrm FROM n$d WHERE id % 50 = 0) q
         |  WHERE c.id <> q.id) WHERE rk <= 5)""".stripMargin
    def base(d: Int): String =
      s"""n$d AS (SELECT vec_id AS id,
         |    [x::DOUBLE for x in embedding[1:$d]] AS vec,
         |    sqrt(list_reduce(list_transform(
         |      [x::DOUBLE for x in embedding[1:$d]], x -> x*x),
         |      (a, b) -> a + b)) AS nrm
         |  FROM embeddings)""".stripMargin
    def arm(d: Int): String =
      s"""SELECT CAST($d AS BIGINT) AS d_prime, f.query_id,
         |  CAST(count(r.corpus_id) AS BIGINT) AS overlap_at_k
         |FROM r64 f LEFT JOIN r$d r
         |  ON r.query_id = f.query_id AND r.corpus_id = f.corpus_id
         |GROUP BY f.query_id""".stripMargin
    val dims = Seq(8, 16, 32, 64)
    s"""WITH ${dims.map(base).mkString(",\n")},
       |${dims.take(3).map(ranked).mkString(",\n")},
       |${ranked(64).replace("r64 AS (", "r64 AS MATERIALIZED (")}
       |${dims.map(arm).mkString("\nUNION ALL\n")}
       |ORDER BY d_prime, query_id""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q452_txlog_stream_out", q452, q452Sql),
    Query("q453_matryoshka_recall", q453, q453Sql))
}
