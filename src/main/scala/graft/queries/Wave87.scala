package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 87" query set (q450–q451): the PQ memory path and
  * O(delta) filter maintenance —
  *
  *  - q450 PQ-ADC search ([[graft.ops.ext.PqSearch]]): encode the
  *    corpus as m codes per vector, rank by integer-exact LUT sums —
  *    the full product-quantization read path over [[graft.ops.ext
  *    .KMeans.pqTrain]]'s codebooks, value-checked end to end.
  *  - q451 incremental Bloom maintenance ([[graft.ops.ext.BloomDecon]]
  *    over [[graft.io.TxLog.readChanges]]): Bloom bitmaps are a
  *    monoid, so the filter of (v1 ∪ delta) is fold(bits(v1),
  *    bits(delta)) — the decontamination filter keeps up with an
  *    APPEND-ONLY eval suite at O(delta) cost, proven equal to the
  *    full rebuild.
  */
object Wave87Queries {
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

  // ---------------------------------------------------------------- q450
  /** ADC top-5 for every 50th vector against the PQ-encoded corpus
    * (4 subspaces × 16 dims, every-25th-id seeds, 2 Lloyd rounds — the
    * q182 codebooks). Scores are integer sums of 1e-6-quantized LUT
    * partials, so the oracle replays rank-for-rank: codebook training,
    * encode, LUT, and ranking all value-checked in one output.
    */
  def q450(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.ops.ext.PqSearch.adcTopK(emb,
        emb.filter(col("vec_id") % 50 === 0), "embedding", "vec_id",
        subspaces = 4, subDim = 16, centroidEvery = 25, iters = 2, k = 5)
      .orderBy("query_id", "rank")
  }
  val q450Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (x,y) -> x+y)"
    // per-subspace block: q182's 2-round Lloyd, then final rounded
    // codebooks -> encode rows (kind 'e') + query LUT rows (kind 'l')
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
      parts ++= s""",
        |fc AS (SELECT cid, list(round(m, 6) ORDER BY dim) AS centv
        |  FROM comps$rounds GROUP BY cid),
        |fcc AS (SELECT cid, centv, ${dot("centv", "centv")} AS cc FROM fc),
        |enc AS (SELECT id, cid AS code FROM (
        |    SELECT t.id, c.cid,
        |      row_number() OVER (PARTITION BY t.id ORDER BY
        |        t.xx - 2 * ${dot("t.vec", "c.centv")} + c.cc ASC, c.cid) AS rn
        |    FROM vx t, fcc c) WHERE rn = 1)
        |SELECT CAST($s0 AS BIGINT) AS subspace, 'e' AS kind, id, code,
        |  CAST(NULL AS BIGINT) AS pq FROM enc
        |UNION ALL
        |SELECT CAST($s0 AS BIGINT), 'l', q.id, c.cid,
        |  CAST(floor(${dot("q.vec", "c.centv")} * 1000000.0e0 + 0.5e0)
        |    AS BIGINT)
        |FROM (SELECT id, vec FROM v WHERE id % 50 = 0) q, fcc c)""".stripMargin
      parts.toString
    }
    val union = (0 until 4).map(sub).mkString("\nUNION ALL\n")
    s"""WITH u AS MATERIALIZED (
       |$union
       |),
       |scored AS (SELECT l.id AS query_id, e.id AS corpus_id,
       |    CAST(sum(l.pq) AS BIGINT) AS adot_micro
       |  FROM u e JOIN u l ON l.subspace = e.subspace AND l.code = e.code
       |    AND e.kind = 'e' AND l.kind = 'l'
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, corpus_id, adot_micro FROM (
       |  SELECT query_id, corpus_id, adot_micro,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adot_micro DESC, corpus_id) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q451
  /** The decontamination filter as an incrementally-maintained asset:
    * v1 commits half the eval suite (twins of every 20th doc), v2
    * appends the other half (twins of the 10-mod-20 docs). The
    * incremental filter — v1's bits OR the change feed's bits — equals
    * the full rebuild word-for-word (Bloom bitmaps are a monoid), and
    * flags exactly the docs q449's from-scratch filter flags (the two
    * eval halves union to q449's eval set). One row: set-bit counts,
    * the equality witness, and the flagged-doc count under the
    * incremental filter.
    */
  def q451(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.ext.BloomDecon
    val table = CoreQueries.fixDir(dir) + "/txlog_bloomdecon"
    rmTree(table)
    val twins = ExtQueries.nearDupCorpus(s, dir)
      .filter(col("doc_id") >= 1000000L)
    graft.io.TxLog.commit(s, table,
      twins.filter(col("doc_id") % 20 === 0))
    graft.io.TxLog.append(s, table,
      twins.filter(col("doc_id") % 20 === 10))
    val m = 1 << 18
    val bitsV1 = BloomDecon.buildBits(
      graft.io.TxLog.read(s, table, Some(1)), "text", n = 3, mBits = m)
    val bitsDelta = BloomDecon.buildBits(
      graft.io.TxLog.readChanges(s, table, 1, 2), "text", n = 3, mBits = m)
    val inc = bitsV1.zip(bitsDelta).map { case (a, b) => a | b }
    val full = BloomDecon.buildBits(
      graft.io.TxLog.readResolved(s, table), "text", n = 3, mBits = m)
    val nFlagged = BloomDecon.flag(T(s, dir, "documents"), "text",
      "doc_id", inc, mBits = m, n = 3, tauNum = 3, tauDen = 10).count()
    def pop(a: Array[Long]): Long = a.map(java.lang.Long.bitCount(_).toLong).sum
    Seq((pop(inc), pop(full), inc.sameElements(full), nFlagged))
      .toDF("set_bits_inc", "set_bits_full", "identical", "n_flagged")
  }
  val q451Sql: String =
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
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ep) AS set_bits_inc,
      |  (SELECT CAST(count(*) AS BIGINT) FROM ep) AS set_bits_full,
      |  CAST(1 AS BOOLEAN) AS identical,
      |  (SELECT CAST(count(*) AS BIGINT) FROM hits
      |   WHERE n_hit * 10 >= n_grams * 3) AS n_flagged""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q450_pq_adc", q450, q450Sql),
    Query("q451_bloom_incremental", q451, q451Sql))
}
