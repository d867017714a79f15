package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 86" query set (q447–q449): three curation-deployment
  * operators —
  *
  *  - q447 table RESTORE ([[graft.io.TxLog.restore]]): roll a table
  *    back to an earlier version by reference — zero bytes move, the
  *    bad versions stay time-travelable, and the restore is one more
  *    atomic history entry.
  *  - q448 prototype pruning ([[graft.ops.ext.ProtoPrune]]): the
  *    D4-family embedding-pruning recipe — IVF cells, drop the
  *    most-prototypical quarter per cell, keep the diverse shell.
  *  - q449 Bloom n-gram decontamination ([[graft.ops.ext.BloomDecon]]):
  *    eval-set n-grams → broadcast m-bit filter → one map-side train
  *    scan; flags by integer-exact hit-fraction threshold.
  */
object Wave86Queries {
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

  private def yearSlice(s: SparkSession, dir: String, yr: Int): DataFrame =
    T(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === yr)
      .select(col("l_orderkey"),
        year(col("l_shipdate")).cast("long").as("yr"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100.0 + 0.5).cast("long").as("cents"))

  private val centsSql =
    "CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0 + 0.5e0) AS BIGINT)"

  // ---------------------------------------------------------------- q447
  /** RESTORE after a bad delete: v1 commits 1996, v2 appends 1997, v3
    * merge-on-read-deletes every cents < 100000 (the "oops"), v4
    * restores to v2. The head then shows v2's full content with ZERO
    * delete vectors (restore re-references v2's exact entry), while v3
    * time-travels to the post-delete state — history is append-only.
    * The oracle pins both snapshots from raw lineitem.
    */
  def q447(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_restore"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    graft.io.TxLog.append(s, table, yearSlice(s, dir, 1997))
    graft.io.TxLog.deleteWhere(s, table, "cents < 100000",
      Seq("l_orderkey", "yr", "cents"))
    val delsV3 = graft.io.TxLog.deleteVectorCount(table).toLong
    val restoredAs = graft.io.TxLog.restore(table, 2).toLong
    val head = graft.io.TxLog.readResolved(s, table)
      .agg(count(lit(1)), sum("cents")).head()
    val v3 = graft.io.TxLog.readResolved(s, table, Some(3))
      .agg(count(lit(1)), sum("cents")).head()
    val delsHead = graft.io.TxLog.deleteVectorCount(table).toLong
    val nVersions = graft.io.TxLog.versions(table).size.toLong
    Seq((restoredAs, nVersions, head.getLong(0), head.getLong(1),
        v3.getLong(0), v3.getLong(1), delsV3, delsHead))
      .toDF("restored_as", "n_versions", "head_rows", "head_cents",
        "v3_rows", "v3_cents", "dels_v3", "dels_head")
  }
  val q447Sql: String =
    s"""WITH base AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)),
       |kept AS (SELECT * FROM base WHERE cents >= 100000)
       |SELECT CAST(4 AS BIGINT) AS restored_as,
       |  CAST(4 AS BIGINT) AS n_versions,
       |  (SELECT CAST(count(*) AS BIGINT) FROM base) AS head_rows,
       |  (SELECT CAST(sum(cents) AS BIGINT) FROM base) AS head_cents,
       |  CAST(count(*) AS BIGINT) AS v3_rows,
       |  CAST(sum(cents) AS BIGINT) AS v3_cents,
       |  CAST(1 AS BIGINT) AS dels_v3,
       |  CAST(0 AS BIGINT) AS dels_head
       |FROM kept""".stripMargin

  // ---------------------------------------------------------------- q448
  /** Prototype pruning over the embeddings table: every-50th-id
    * centroids, drop the most-prototypical quarter per cell
    * (floor(n/4) — integer-exact). Full per-vector verdicts, so the
    * oracle value-checks assignment, in-cell rank, AND the drop set.
    */
  def q448(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.ProtoPrune.prune(T(s, dir, "embeddings"),
        "embedding", "vec_id", centroidEvery = 50, dropNum = 1, dropDen = 4)
      .orderBy("id")
  val q448Sql: String =
    """WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS vec
      |    FROM embeddings),
      |n AS (SELECT vec_id, vec,
      |    sqrt(list_reduce(list_transform(vec, x -> x*x), (a, b) -> a + b))
      |      AS nrm FROM v),
      |c AS (SELECT vec_id AS cent_id, vec AS cv, nrm AS cnrm FROM n
      |  WHERE vec_id % 50 = 0),
      |scored AS (SELECT n.vec_id AS id, c.cent_id,
      |    list_reduce(list_transform(range(1, len(n.vec)+1),
      |      i -> n.vec[i] * c.cv[i]), (a, b) -> a + b) / (n.nrm * c.cnrm)
      |      AS cos
      |  FROM n, c),
      |assigned AS (SELECT id, cent_id, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY id
      |        ORDER BY cos DESC, cent_id) AS r
      |    FROM scored) WHERE r = 1),
      |cell AS (SELECT id, cent_id, cos,
      |    CAST(row_number() OVER (PARTITION BY cent_id
      |      ORDER BY cos DESC, id) AS BIGINT) AS rank_in_cell,
      |    count(*) OVER (PARTITION BY cent_id) AS n
      |  FROM assigned)
      |SELECT id, cent_id, round(cos, 6) AS cosine, rank_in_cell,
      |  rank_in_cell <= floor(n * 1 / 4) AS dropped
      |FROM cell ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q449
  /** Bloom decontamination: the "benchmark" is the planted mutated-twin
    * slice (every 10th doc, last two tokens trimmed — the repo's
    * standard near-dup fixture), the training corpus is the raw
    * documents table; 3-gram filter at m = 2^18, k = 2, flag at hit
    * fraction ≥ 3/10. Every twinned doc leaks ~all of its grams and
    * must flag; the rest flag only on genuine shared phrases. The
    * oracle rebuilds the position set relationally — the bitmap IS
    * that set, so decisions (false positives included) replay exactly.
    */
  def q449(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.BloomDecon
    val docs = T(s, dir, "documents")
    val evalSet = ExtQueries.nearDupCorpus(s, dir)
      .filter(col("doc_id") >= 1000000L)
    val m = 1 << 18
    val bits = BloomDecon.buildBits(evalSet, "text", n = 3, mBits = m)
    BloomDecon.flag(docs, "text", "doc_id", bits,
        mBits = m, n = 3, tauNum = 3, tauDen = 10)
      .orderBy(col("hit_frac").desc, col("doc_id"))
  }
  val q449Sql: String =
    """WITH ev AS (SELECT array_to_string(toks[1:greatest(len(toks)-2,1)], ' ')
      |    AS text
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text),
      |          '[^a-z0-9]+'), t -> len(t) > 0) AS toks
      |        FROM documents WHERE doc_id % 10 = 0)),
      |eg AS (SELECT unnest(list_distinct(
      |    [array_to_string(toks[i:i+2], ' ')
      |     for i in range(1, greatest(len(toks)-2, 1)+1)])) AS g
      |  FROM (SELECT list_filter(string_split_regex(lower(text),
      |          '[^a-z0-9]+'), t -> len(t) > 0) AS toks FROM ev)),
      |ep AS (SELECT DISTINCT p FROM (
      |    SELECT ('0x' || substr(md5(g), 1, 8))::BIGINT % 262144 AS p FROM eg
      |    UNION
      |    SELECT ('0x' || substr(md5(g), 9, 8))::BIGINT % 262144 FROM eg)),
      |tg AS (SELECT doc_id, g,
      |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 262144 AS p1,
      |    ('0x' || substr(md5(g), 9, 8))::BIGINT % 262144 AS p2
      |  FROM (SELECT doc_id, unnest(list_distinct(
      |      [array_to_string(toks[i:i+2], ' ')
      |       for i in range(1, greatest(len(toks)-2, 1)+1)])) AS g
      |    FROM (SELECT doc_id, list_filter(string_split_regex(lower(text),
      |            '[^a-z0-9]+'), t -> len(t) > 0) AS toks FROM documents))),
      |hits AS (SELECT doc_id,
      |    CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN p1 IN (SELECT p FROM ep)
      |      AND p2 IN (SELECT p FROM ep) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hit
      |  FROM tg GROUP BY 1)
      |SELECT doc_id, n_grams, n_hit,
      |  round(n_hit::DOUBLE / n_grams, 6) AS hit_frac
      |FROM hits WHERE n_hit * 10 >= n_grams * 3
      |ORDER BY hit_frac DESC, doc_id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q447_txlog_restore", q447, q447Sql),
    Query("q448_proto_prune", q448, q448Sql),
    Query("q449_bloom_decon", q449, q449Sql))
}
