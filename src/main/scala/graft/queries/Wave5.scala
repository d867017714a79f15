package graft.queries

import graft.io.Layout
import graft.ops.{GroupStats, Profile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 "wave 5" query set (q122+): table profiling and physical-
  * layout analytics — the planning half of a 100 TB pipeline. Z-order
  * locality rectangles, candidate-key discovery, a one-pass Pearson
  * correlation matrix, equi-width histograms, categorical drift
  * between corpus slices, a layout pruning estimator, and robust
  * (median/MAD) outlier screens. Same contract as the other waves:
  * every query has a DuckDB oracle, doubles round to 6 dp,
  * order-sensitive sums go through DECIMAL, output orders tie-break
  * deterministically.
  */
object Wave5Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q122
  /** Z-order locality audit: interleave 8-bit bucketizations of
    * (l_extendedprice, l_quantity) with [[Layout.zorderKey]], group
    * rows into 64-key z-runs (the would-be files of a
    * [[Layout.zorderWrite]]), and report each run's bounding rectangle.
    * The min/max spans demonstrate WHY z-order prunes on either
    * column: each run covers a small rectangle of the 2-D space, so a
    * parquet reader's footer stats exclude it for most predicates.
    * One hash aggregation on the derived key — the key arithmetic is
    * pure codegen'd bit ops.
    */
  def q122(s: SparkSession, dir: String): DataFrame = {
    val pa = least(floor(col("l_extendedprice") / lit(1000.0)), lit(255.0))
      .cast("long")
    val qb = least(floor(col("l_quantity")), lit(255.0)).cast("long")
    val base = T(s, dir, "lineitem").select(pa.as("pa"), qb.as("qb"))
    val z = Layout.zorderKey(col("pa"), col("qb"), bits = 8)
    base.select(shiftright(z, 10).as("zfile"), col("pa"), col("qb"))
      .groupBy(col("zfile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("pa")).as("pa_min"), max(col("pa")).as("pa_max"),
        min(col("qb")).as("qb_min"), max(col("qb")).as("qb_max"))
      .orderBy(col("zfile"))
  }
  val q122Sql: String = {
    val terms = (0 until 8).flatMap { i =>
      Seq(s"(((pa >> $i) & 1) * ${1L << (2 * i)})",
        s"(((qb >> $i) & 1) * ${1L << (2 * i + 1)})")
    }.mkString(" + ")
    s"""WITH m AS (
       |  SELECT CAST(least(floor(l_extendedprice / 1000.0e0), 255.0e0) AS BIGINT) AS pa,
       |         CAST(least(floor(l_quantity), 255.0e0) AS BIGINT) AS qb
       |  FROM lineitem),
       |z AS (SELECT pa, qb, ($terms) AS zkey FROM m)
       |SELECT zkey >> 10 AS zfile, count(*) AS n_rows,
       |       min(pa) AS pa_min, max(pa) AS pa_max,
       |       min(qb) AS qb_min, max(qb) AS qb_max
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q123
  /** Candidate-key discovery over `customer` — one aggregation pass
    * for every column's distinct/null counts ([[Profile.keyCandidates]]).
    */
  def q123(s: SparkSession, dir: String): DataFrame =
    Profile.keyCandidates(T(s, dir, "customer")).orderBy(col("column"))
  val q123Sql: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
    cols.map { c =>
      s"""SELECT '$c' AS "column", count(DISTINCT $c) AS n_distinct,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) = count(*) AS is_key FROM customer""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  // ---------------------------------------------------------------- q124
  /** Pearson correlation matrix over the four lineitem measures —
    * ONE pass computes all shared moments; per-row products in IEEE
    * double, sums through DECIMAL(30,8) (order-independent), closed
    * form back in double ([[Profile.correlationPairs]]).
    */
  val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def q124(s: SparkSession, dir: String): DataFrame =
    Profile.correlationPairs(T(s, dir, "lineitem"), CorrCols)
      .orderBy(col("col_a"), col("col_b"))
  val q124Sql: String = {
    val short = Map("l_quantity" -> "q", "l_extendedprice" -> "e",
      "l_discount" -> "d", "l_tax" -> "t")
    val pairs = for {
      i <- CorrCols.indices; j <- i + 1 until CorrCols.size
    } yield (CorrCols(i), CorrCols(j))
    // split-long exact sums — the DuckDB twin of
    // Profile.correlationPairs (scale 4): quantize each per-row moment
    // to floor(x*1e4 + 0.5) as BIGINT, sum hi/lo halves separately
    // (DuckDB sums BIGINT into HUGEINT — recombination is exact), cast
    // to double and unscale once per moment
    def vq(expr: String) =
      s"CAST(floor(($expr) * 10000.0e0 + 0.5e0) AS BIGINT)"
    val momentExprs: Seq[(String, String)] =
      CorrCols.flatMap { c =>
        val sc = short(c)
        Seq((s"s_$sc", c), (s"ss_$sc", s"$c * $c"))
      } ++ pairs.map { case (a, b) => (s"sp_${short(a)}${short(b)}", s"$a * $b") }
    val sums = momentExprs.flatMap { case (nm, e) => Seq(
      s"sum((${vq(e)} >> 20)) AS ${nm}_hi",
      s"sum((${vq(e)} & 1048575)) AS ${nm}_lo")
    }
    val recons = momentExprs.map { case (nm, _) =>
      s"CAST(CAST(${nm}_hi AS HUGEINT) * 1048576 + ${nm}_lo AS DOUBLE) / 10000.0e0 AS $nm"
    }
    val rows = pairs.map { case (a, b) =>
      val (sa, sb) = (short(a), short(b))
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  round((n * sp_$sa$sb - s_$sa * s_$sb) /
         |        sqrt((n * ss_$sa - s_$sa * s_$sa) * (n * ss_$sb - s_$sb * s_$sb)), 6)
         |    AS corr FROM r""".stripMargin
    }
    s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |  ${sums.mkString(",\n  ")}
       |FROM lineitem),
       |r AS (SELECT n, ${recons.mkString(",\n  ")} FROM m)
       |${rows.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")}""".stripMargin
  }

  // ---------------------------------------------------------------- q125
  /** Equi-width histogram of l_extendedprice, 20 buckets
    * ([[Profile.histogram]]): broadcast 1-row bounds, codegen'd bucket
    * arithmetic, one (bucket → count) shuffle.
    */
  def q125(s: SparkSession, dir: String): DataFrame =
    Profile.histogram(T(s, dir, "lineitem"), "l_extendedprice", 20)
      .orderBy(col("bucket"))
  val q125Sql: String =
    """WITH mm AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
      |            FROM lineitem),
      |b AS (SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 20.0e0)),
      |                        19.0e0) AS BIGINT) AS bucket,
      |             mn, (mx - mn) / 20.0e0 AS w
      |      FROM lineitem, mm)
      |SELECT bucket, round(mn + bucket * w, 6) AS lo,
      |       round(mn + (bucket + 1) * w, 6) AS hi, count(*) AS n_rows
      |FROM b GROUP BY bucket, mn, w ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q126
  /** Language-distribution drift between the even- and odd-numbered
    * document sources ([[Profile.categoryDrift]]): add-one-smoothed
    * probabilities + both directed KL contributions per category.
    */
  def q126(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
    Profile.categoryDrift(
      docs.filter(srcNum % 2 === 0), docs.filter(srcNum % 2 === 1), "lang")
      .orderBy(col("category"))
  }
  val q126Sql: String =
    """WITH l AS (SELECT lang AS category, count(*) AS cnt_l FROM documents
      |           WHERE CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 = 0
      |           GROUP BY 1),
      |r AS (SELECT lang AS category, count(*) AS cnt_r FROM documents
      |      WHERE CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 = 1
      |      GROUP BY 1),
      |j AS (SELECT coalesce(l.category, r.category) AS category,
      |             coalesce(cnt_l, 0) AS cnt_l, coalesce(cnt_r, 0) AS cnt_r
      |      FROM l FULL OUTER JOIN r ON l.category = r.category),
      |t AS (SELECT sum(cnt_l) AS tl, sum(cnt_r) AS tr, count(*) AS k FROM j),
      |e AS (SELECT category, cnt_l, cnt_r,
      |        CAST(cnt_l + 1 AS DOUBLE) / CAST(tl + k AS DOUBLE) AS p0,
      |        CAST(cnt_r + 1 AS DOUBLE) / CAST(tr + k AS DOUBLE) AS q0
      |      FROM j, t)
      |SELECT category, cnt_l, cnt_r, round(p0, 6) AS p, round(q0, 6) AS q,
      |       round(p0 * ln(p0 / q0), 6) AS kl_pq,
      |       round(q0 * ln(q0 / p0), 6) AS kl_qp
      |FROM e ORDER BY category""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Layout pruning estimator ([[Layout.pruneEstimate]]): files a
    * range predicate on o_totalprice must open under arrival-order vs
    * value-sorted layout, 32 would-be files. Quantifies the
    * [[Layout.sortedWrite]] win before paying its shuffle.
    */
  def q127(s: SparkSession, dir: String): DataFrame =
    Layout.pruneEstimate(T(s, dir, "orders"), "o_orderkey", "o_totalprice",
      files = 32, lo = 50000.0, hi = 60000.0).orderBy(col("layout"))
  val q127Sql: String =
    """WITH nn AS (SELECT count(*) AS n FROM orders),
      |a AS (SELECT 'arrival' AS layout, o_orderkey % 32 AS file,
      |             CAST(o_totalprice AS DOUBLE) AS v FROM orders),
      |s0 AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
      |              row_number() OVER (ORDER BY CAST(o_totalprice AS DOUBLE),
      |                                 o_orderkey) AS rn
      |       FROM orders),
      |s AS (SELECT 'sorted' AS layout,
      |             CAST(floor((rn - 1) / greatest(1.0e0, ceil(n / 32.0e0))) AS BIGINT) AS file,
      |             v FROM s0, nn),
      |u AS (SELECT * FROM a UNION ALL SELECT * FROM s),
      |f AS (SELECT layout, file, min(v) AS mn, max(v) AS mx
      |      FROM u GROUP BY layout, file)
      |SELECT layout, count(*) AS files_total,
      |       sum(CASE WHEN mn <= 60000.0e0 AND mx >= 50000.0e0
      |                THEN 1 ELSE 0 END)::BIGINT AS files_overlap
      |FROM f GROUP BY layout ORDER BY layout""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Robust outlier screen: per-language median/MAD over document
    * lengths, counting docs beyond 3·1.4826·MAD
    * ([[GroupStats.madOutliers]]).
    */
  def q128(s: SparkSession, dir: String): DataFrame =
    GroupStats.madOutliers(T(s, dir, "documents"), "lang", "n_chars", k = 3.0)
      .orderBy(col("lang"))
  val q128Sql: String =
    """WITH med AS (SELECT lang, median(CAST(n_chars AS DOUBLE)) AS med
      |             FROM documents GROUP BY lang),
      |dev AS (SELECT d.lang, med,
      |               abs(CAST(d.n_chars AS DOUBLE) - med) AS adev
      |        FROM documents d JOIN med ON d.lang = med.lang),
      |mad AS (SELECT lang, median(adev) AS mad FROM dev GROUP BY lang)
      |SELECT dev.lang AS lang, count(*) AS n,
      |       round(any_value(dev.med), 6) AS med,
      |       round(any_value(mad.mad), 6) AS mad,
      |       sum(CASE WHEN adev > 3.0e0 * 1.4826e0 * mad.mad
      |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
      |FROM dev JOIN mad ON dev.lang = mad.lang
      |GROUP BY dev.lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q129
  /** BPE merge induction over the document corpus: 3 rounds of
    * pair-merge training ([[graft.ops.ext.Bpe]]) — one corpus-scale
    * word-count pass, then vocab-sized iterations. Output is the merge
    * table a tokenizer ships. Oracle unrolls the 3 rounds as chained
    * CTEs; the leftmost non-overlapping merge is the same sequential
    * fold on both engines (Spark `aggregate` ≡ DuckDB `list_reduce`
    * over singleton-list elements).
    */
  def q129(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Bpe.train(
      graft.ops.ext.Bpe.wordFreqs(T(s, dir, "documents"), "text"),
      rounds = 3).orderBy(col("round"))
  val q129Sql: String = {
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
    s"""WITH tok AS (SELECT list_filter(
       |    string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)
       |    AS toks FROM documents),
       |w AS (SELECT t AS word, count(*) AS freq
       |      FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY 1),
       |seg0 AS (SELECT word, freq, string_split(word, '') AS syms FROM w),
       |p1 AS (${pairs("seg0")}),
       |t1 AS (${top("p1", 1)}),
       |seg1 AS (${reseg("seg0", "t1")}),
       |p2 AS (${pairs("seg1")}),
       |t2 AS (${top("p2", 2)}),
       |seg2 AS (${reseg("seg1", "t2")}),
       |p3 AS (${pairs("seg2")}),
       |t3 AS (${top("p3", 3)})
       |SELECT round, lhs, rhs, merged, CAST(cnt AS BIGINT) AS pair_count FROM (
       |  SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL
       |  SELECT * FROM t3)
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q130
  /** Numeric QQ drift: document-length deciles for even- vs
    * odd-numbered sources, one aggregation pass
    * ([[Profile.quantileDrift]]) — the numeric companion to q126's
    * categorical KL.
    */
  val DriftQs: Seq[Double] = (1 to 9).map(_ / 10.0)

  def q130(s: SparkSession, dir: String): DataFrame = {
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
    Profile.quantileDrift(T(s, dir, "documents"), srcNum % 2 === 0,
      "n_chars", DriftQs).orderBy(col("quantile"))
  }
  val q130Sql: String = {
    val even =
      "CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 = 0"
    val aggs = DriftQs.zipWithIndex.flatMap { case (p, i) => Seq(
      s"quantile_cont(CASE WHEN $even THEN CAST(n_chars AS DOUBLE) END, ${p}e0) AS l$i",
      s"quantile_cont(CASE WHEN NOT ($even) THEN CAST(n_chars AS DOUBLE) END, ${p}e0) AS r$i")
    }
    val rows = DriftQs.zipWithIndex.map { case (p, i) =>
      s"""SELECT ${p}e0 AS quantile, round(l$i, 6) AS left_v,
         |  round(r$i, 6) AS right_v, round(l$i - r$i, 6) AS delta FROM m""".stripMargin
    }
    s"""WITH m AS (SELECT
       |  ${aggs.mkString(",\n  ")}
       |FROM documents)
       |${rows.mkString("", "\nUNION ALL\n", "\nORDER BY quantile")}""".stripMargin
  }

  // ---------------------------------------------------------------- q131
  /** Real parquet footer statistics ([[Layout.footerStats]]): the
    * engine decodes row-group min/max/null-count for three lineitem
    * key columns from FOOTER METADATA ONLY (no data pages read); the
    * oracle recomputes the same values from the DATA in DuckDB. A
    * hash match proves the planning-time pruning path reads stats
    * correctly end-to-end. (The driver test tables are single-row-
    * group files, so row_group 0 spans the table.)
    */
  val FooterCols = Seq("l_orderkey", "l_partkey", "l_suppkey")

  def q131(s: SparkSession, dir: String): DataFrame =
    graft.io.Layout.footerStats(s, s"$dir/lineitem.parquet", FooterCols)
      .select(col("row_group"), col("column"), col("min_v"), col("max_v"),
        col("n_nulls"), col("n_rows"))
      .orderBy(col("row_group"), col("column"))
  val q131Sql: String =
    FooterCols.map { c =>
      s"""SELECT 0 AS row_group, '$c' AS "column", min($c) AS min_v,
         |  max($c) AS max_v, count(*) - count($c) AS n_nulls,
         |  count(*) AS n_rows FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY row_group, \"column\"")

  // ---------------------------------------------------------------- q132
  /** First/last-touch attribution ([[graft.ops.Funnel.attribution]]):
    * each user's first purchase credits their earliest touch and the
    * latest touch before conversion; per channel, conversions +
    * decimal-exact revenue under both models.
    */
  def q132(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.attribution(ExtQueries.events(s, dir), "user_id",
      "event_type", "ts", "event_id", "value", "purchase",
      Seq("view", "click", "signup")).orderBy(col("channel"))
  val q132Sql: String =
    """WITH c AS (SELECT user_id, ts, event_id, value,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS rn
      |           FROM events WHERE event_type = 'purchase'),
      |fc AS (SELECT user_id, ts AS cts, event_id AS cid, value AS cval
      |       FROM c WHERE rn = 1),
      |tt AS (SELECT e.user_id, e.event_type, e.ts, e.event_id, fc.cval,
      |         row_number() OVER (PARTITION BY e.user_id
      |                            ORDER BY e.ts, e.event_id) AS rf,
      |         row_number() OVER (PARTITION BY e.user_id
      |                            ORDER BY e.ts DESC, e.event_id DESC) AS rl
      |       FROM events e JOIN fc ON e.user_id = fc.user_id
      |         AND (e.ts < fc.cts OR (e.ts = fc.cts AND e.event_id < fc.cid))
      |       WHERE e.event_type IN ('view', 'click', 'signup')),
      |f AS (SELECT event_type AS channel, count(*) AS n_first,
      |        round(CAST(sum(CAST(cval AS DECIMAL(28,6))) AS DOUBLE), 6)
      |          AS rev_first
      |      FROM tt WHERE rf = 1 GROUP BY 1),
      |l AS (SELECT event_type AS channel, count(*) AS n_last,
      |        round(CAST(sum(CAST(cval AS DECIMAL(28,6))) AS DOUBLE), 6)
      |          AS rev_last
      |      FROM tt WHERE rl = 1 GROUP BY 1)
      |SELECT coalesce(f.channel, l.channel) AS channel,
      |  coalesce(n_first, 0) AS n_first,
      |  coalesce(rev_first, 0.0e0) AS rev_first,
      |  coalesce(n_last, 0) AS n_last,
      |  coalesce(rev_last, 0.0e0) AS rev_last
      |FROM f FULL OUTER JOIN l ON f.channel = l.channel
      |ORDER BY channel""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Retrieval evaluation ([[graft.ops.ext.Retrieval.rankingMetrics]]):
    * NDCG@20 and MRR of the q101 BM25 ranking against a graded
    * relevance of "distinct query terms present in the document"
    * (0–3). DCG terms sum through DECIMAL(38,18); the ideal ordering
    * is TakeOrdered top-k, never a global sort.
    */
  def q133(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.{Retrieval, TextAnalysis}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val ranked = Retrieval.bm25TopK(docs, "text", "doc_id",
      Wave4Queries.Bm25Query, k = 20)
    val rel = docs.select(col("doc_id"),
      size(filter(array(Wave4Queries.Bm25Query.map(lit): _*),
        t => array_contains(TextAnalysis.tokens(col("text")), t)))
        .as("rel"))
    Retrieval.rankingMetrics(ranked, rel, 20)
  }
  val q133Sql: String =
    s"""WITH bm AS (SELECT rank, doc_id FROM (${Wave4Queries.bm25Sql(20)})),
       |rel AS (SELECT doc_id,
       |  len(list_filter(['spark', 'query', 'window'],
       |    t -> list_contains(list_filter(
       |      string_split_regex(lower(text), '[^a-z0-9]+'),
       |      x -> len(x) > 0), t))) AS rel
       |  FROM documents),
       |j AS (SELECT bm.rank, coalesce(rel.rel, 0) AS rel
       |      FROM bm LEFT JOIN rel ON bm.doc_id = rel.doc_id
       |      WHERE bm.rank <= 20),
       |d AS (SELECT CAST(sum(CAST((power(2.0e0, rel) - 1.0e0)
       |                           / log2(rank + 1) AS DECIMAL(38,18)))
       |        AS DOUBLE) AS dcg,
       |        min(CASE WHEN rel > 0 THEN rank END) AS first_rel FROM j),
       |i0 AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id)
       |         AS irank
       |       FROM (SELECT * FROM rel WHERE rel > 0
       |             ORDER BY rel DESC, doc_id LIMIT 20)),
       |i AS (SELECT CAST(sum(CAST((power(2.0e0, rel) - 1.0e0)
       |                           / log2(irank + 1) AS DECIMAL(38,18)))
       |        AS DOUBLE) AS idcg FROM i0)
       |SELECT 20 AS k, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
       |  round(dcg / idcg, 6) AS ndcg,
       |  round(coalesce(1.0e0 / first_rel, 0.0e0), 6) AS mrr
       |FROM d, i""".stripMargin

  // ---------------------------------------------------------------- q134
  /** Classifier evaluation ([[graft.ops.ext.Eval.centroidAuc]]): exact
    * ROC AUC of a nearest-centroid score (dot with the label-1 class
    * centroid) over the embeddings table, one-vs-rest. Mann–Whitney
    * mid-rank construction — integer-exact until one final division;
    * only the (small, labeled) eval frame enters the rank sort.
    */
  def q134(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Eval.centroidAuc(T(s, dir, "embeddings"),
      "embedding", "vec_id", "label", posLabel = 1)
  val q134Sql: String =
    """WITH v AS (SELECT vec_id AS id, [x::DOUBLE for x in embedding] AS vec,
      |            (label = 1) AS pos FROM embeddings),
      |d AS (SELECT CAST(o - 1 AS BIGINT) AS dim,
      |        CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m
      |      FROM (SELECT unnest(vec) AS x, generate_subscripts(vec, 1) AS o
      |            FROM v WHERE pos)
      |      GROUP BY dim),
      |cent AS (SELECT list(m ORDER BY dim) AS centv FROM d),
      |sc AS (SELECT id, pos,
      |         list_reduce(list_transform(range(1, len(vec)+1),
      |           i -> vec[i]*centv[i]), (x,y) -> x+y) AS score
      |       FROM v, cent),
      |rn AS (SELECT id, pos, score,
      |         row_number() OVER (ORDER BY score, id) AS rn FROM sc),
      |mr AS (SELECT pos,
      |         min(rn) OVER (PARTITION BY score)
      |         + max(rn) OVER (PARTITION BY score) AS mr2 FROM rn),
      |a AS (SELECT count(*) FILTER (pos) AS n_pos,
      |        count(*) FILTER (NOT pos) AS n_neg,
      |        sum(mr2) FILTER (pos) AS sum2 FROM mr)
      |SELECT n_pos, n_neg,
      |  round((sum2 / 2.0 - n_pos * (n_pos + 1) / 2.0)
      |        / (n_pos * n_neg), 6) AS auc
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- q135
  /** Exponential smoothing ([[graft.ops.Rolling.ewma]]): per-user EWMA
    * of event `value` in (ts, event_id) order, α = 0.25 (an exact
    * binary fraction, so 1−α is bit-identical across engines). The
    * fold starts from the first element — DuckDB's list_reduce shape —
    * making the sequential recurrence reproducible op-for-op.
    */
  def q135(s: SparkSession, dir: String): DataFrame =
    graft.ops.Rolling.ewma(
      ExtQueries.events(s, dir).select("user_id", "event_id", "ts", "value"),
      Seq("user_id"), Seq(col("ts"), col("event_id")), "value", alpha = 0.25)
      .orderBy("user_id")
  val q135Sql: String =
    """WITH g AS (SELECT user_id,
      |    list(value ORDER BY ts, event_id) AS vs,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sm,
      |    count(*) AS n_events
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n_events,
      |  round(list_reduce(vs, (s, x) -> 0.25e0 * x + 0.75e0 * s), 6) AS ewma,
      |  round(sm / n_events, 6) AS mean
      |FROM g ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q136
  /** Pareto-frontier curation ([[graft.ops.Skyline.frontier2d]]): the
    * documents not dominated in (token cost minimized, q93 quality
    * maximized) — "no other doc is both cheaper and better". Bucket
    * max-sweep prunes to ~the staircase before the exact two-window
    * sweep; p_keep is rounded to 6 dp (the q93 contract) so every
    * dominance comparison sees bit-identical doubles in both engines.
    */
  def q136(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val scored = TextAnalysis.logisticQuality(T(s, dir, "documents"), "text")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        col("p_keep"))
    graft.ops.Skyline.frontier2d(scored, "n_tokens", "p_keep", "doc_id")
  }
  val q136Sql: String = {
    val stop = graft.ops.ext.TextAnalysis.StopwordSets("en")
      .map(w => s"'$w'").mkString(",")
    s"""WITH f AS (SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    len(toks)::DOUBLE AS nt,
       |    CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END AS pr,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, t -> list_contains([$stop], t)))::DOUBLE / len(toks)
       |      ELSE 0.0 END AS sr
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks,
       |          length(text)::DOUBLE AS nc,
       |          (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE AS np
       |        FROM documents)),
       |sc AS (SELECT doc_id, n_tokens,
       |    round(1.0 / (1.0 + exp(-(-1.0 + sr * 4.0 + pr * (-6.0)
       |                             + ln(nt + 1) * 0.5))), 6) AS p_keep
       |  FROM f),
       |sk AS (SELECT doc_id, n_tokens, p_keep,
       |    max(p_keep) OVER (ORDER BY n_tokens
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
       |    max(p_keep) OVER (PARTITION BY n_tokens) AS m2
       |  FROM sc)
       |SELECT doc_id, n_tokens, p_keep FROM sk
       |WHERE (m1 IS NULL OR m1 < p_keep) AND m2 <= p_keep
       |ORDER BY n_tokens, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q137
  /** Perceptual image dedup ([[graft.ops.ext.Multimodal.dHash]] +
    * [[graft.ops.ext.Dedup.hammingNearDups]]): 64-bit dHash over real
    * PNG fixtures, hamming band join for the near-dup pairs. The
    * fixture pixels follow closed-form gradients, so the expected pair
    * set is provable without running the engine: a re-encoded copy and
    * a uniform +10 brightness shift leave every dHash box comparison
    * unchanged (distance 0), while the reversed gradient flips all 64
    * bits (distance 64, excluded). dHash is all-integer (exact Long
    * box sums, cross-multiplied mean compares) — bit-reproducible.
    */
  def q137(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.{Dedup, Multimodal}
    val base = java.nio.file.Paths.get("/root/repo/benchdata/graft_fixtures/phash_v1")
    java.nio.file.Files.createDirectories(base)
    def write(name: String, f: (Int, Int) => Int): Unit = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v = f(x, y); img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      javax.imageio.ImageIO.write(img, "png", base.resolve(name).toFile)
    }
    write("a.png", (x, y) => 3 * x + y)
    write("a2.png", (x, y) => 3 * x + y)      // identical content, new file
    write("b.png", (x, y) => 3 * x + y + 10)  // uniform brightness shift
    write("c.png", (x, y) => 200 - 3 * x - y) // reversed: all 64 bits flip
    val hashes = Multimodal
      .dHash(Multimodal.readBinary(s, base.toString, "*.png"))
      .select(substring_index(col("path"), "/", -1).as("file"), col("dhash"))
    Dedup.hammingNearDups(hashes, "dhash", "file", maxHamming = 8, bands = 16)
      .select(col("id_a").as("file_a"), col("id_b").as("file_b"),
        col("hamming"))
      .orderBy("file_a", "file_b")
  }
  val q137Sql: String =
    """SELECT 'a.png' AS file_a, 'a2.png' AS file_b,
      |  CAST(0 AS INTEGER) AS hamming
      |UNION ALL SELECT 'a.png', 'b.png', CAST(0 AS INTEGER)
      |UNION ALL SELECT 'a2.png', 'b.png', CAST(0 AS INTEGER)
      |ORDER BY file_a, file_b""".stripMargin

  // ---------------------------------------------------------------- q138
  /** FDR screening ([[graft.ops.Hypothesis.bhAdjust]]): Benjamini–
    * Hochberg q-values over a deterministic per-doc p-value (integer
    * congruential uniform, with every 50th doc planted 1000× smaller —
    * the "true discoveries"), keeping the significant set at α=0.05.
    * All arithmetic on the p side is integer-derived, so both engines
    * rank bit-identical doubles.
    */
  def q138(s: SparkSession, dir: String): DataFrame = {
    val base = ((col("doc_id") * lit(2654435761L)) % lit(1000003L))
      .cast("double") / lit(1000003.0)
    val p = when(col("doc_id") % 50 === 0, base / lit(1000.0))
      .otherwise(base)
    graft.ops.Hypothesis.bhAdjust(
      T(s, dir, "documents").select(col("doc_id"), p.as("p")),
      "p", "doc_id", alpha = 0.05)
      .filter(col("significant"))
      .select(col("doc_id"), col("rank"),
        round(col("p"), 9).as("p"), round(col("q_value"), 9).as("q_value"))
      .orderBy("rank")
  }
  val q138Sql: String =
    """WITH p0 AS (SELECT doc_id,
      |    ((doc_id * 2654435761) % 1000003) / 1000003.0 AS base
      |  FROM documents),
      |p1 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 50 = 0 THEN base / 1000.0 ELSE base END AS p
      |  FROM p0),
      |r AS (SELECT doc_id, p,
      |    CAST(row_number() OVER (ORDER BY p, doc_id) AS BIGINT) AS rank,
      |    count(*) OVER () AS n FROM p1),
      |q AS (SELECT doc_id, rank, p,
      |    least(1.0, min(p * n / rank) OVER (ORDER BY p DESC, doc_id DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS q_value
      |  FROM r)
      |SELECT doc_id, rank, round(p, 9) AS p, round(q_value, 9) AS q_value
      |FROM q WHERE q_value <= 0.05 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Independence screening ([[graft.ops.Hypothesis.chiSquare]]):
    * Pearson Χ² of language × source over the corpus — one count
    * aggregation, broadcast marginals, DECIMAL-summed statistic.
    */
  def q139(s: SparkSession, dir: String): DataFrame =
    graft.ops.Hypothesis.chiSquare(T(s, dir, "documents"), "lang", "source")
  val q139Sql: String =
    """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
      |  FROM documents GROUP BY 1, 2),
      |ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
      |cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
      |tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS na,
      |          count(DISTINCT b) AS nb FROM cells),
      |filled AS (SELECT ra.a, cb.b, ra.ra, cb.cb, coalesce(cells.o, 0) AS o
      |  FROM ra CROSS JOIN cb LEFT JOIN cells USING (a, b))
      |SELECT round(CAST(sum(CAST((o - e) * (o - e) / e AS DECIMAL(38,18)))
      |         AS DOUBLE), 6) AS chi2,
      |  (na - 1) * (nb - 1) AS dof, CAST(n AS BIGINT) AS n, na * nb AS n_cells
      |FROM (SELECT o, CAST(ra AS DOUBLE) * cb / n AS e, n, na, nb
      |      FROM filled, tot)
      |GROUP BY n, na, nb""".stripMargin

  // ---------------------------------------------------------------- q140
  /** Per-group OLS ([[graft.ops.Profile.groupOls]]): regress document
    * character count on token count per language — slope ≈ mean token
    * length + 1, r² ≈ 1 for clean text. Same split-long exact moment
    * sums as q124, grouped: each group shuffles a handful of longs.
    */
  def q140(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val docs = T(s, dir, "documents").select(col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("double").as("x"),
      col("n_chars").cast("double").as("y"))
    Profile.groupOls(docs, "lang", "x", "y").orderBy("lang")
  }
  val q140Sql: String = {
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
    s"""WITH b AS (SELECT lang,
       |    CAST(len(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                         t -> len(t)>0)) AS DOUBLE) AS x,
       |    CAST(n_chars AS DOUBLE) AS y
       |  FROM documents),
       |a AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n,
       |    $sums
       |  FROM b GROUP BY lang),
       |r AS (SELECT lang, n,
       |    $recons
       |  FROM a)
       |SELECT lang, CAST(n AS BIGINT) AS n,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
       |    AS intercept,
       |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
       |        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
       |FROM r ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q141
  /** Weighted median ([[graft.ops.GroupStats.weightedMedian]]): per
    * return flag, the smallest extended price whose cumulative
    * quantity weight reaches half the flag's total — integer-exact
    * selection (2·cum ≥ total), no float threshold.
    */
  def q141(s: SparkSession, dir: String): DataFrame =
    graft.ops.GroupStats.weightedMedian(
      T(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice"),
        floor(col("l_quantity")).cast("long").as("w"),
        col("l_orderkey"), col("l_linenumber")),
      "l_returnflag", "l_extendedprice", "w",
      Seq("l_orderkey", "l_linenumber"))
      .orderBy("l_returnflag")
  val q141Sql: String =
    """WITH b AS (SELECT l_returnflag, l_extendedprice,
      |    CAST(floor(l_quantity) AS BIGINT) AS w,
      |    l_orderkey, l_linenumber FROM lineitem),
      |c AS (SELECT l_returnflag, l_extendedprice,
      |    sum(w) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(w) OVER (PARTITION BY l_returnflag) AS total_w FROM b)
      |SELECT l_returnflag, CAST(total_w AS BIGINT) AS total_w,
      |  min(l_extendedprice) AS wmedian
      |FROM c WHERE cum * 2 >= total_w
      |GROUP BY l_returnflag, total_w ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Concentration audit ([[graft.ops.GroupStats.gini]]): Gini
    * coefficient of document length per source — the mixture-balance
    * check before sampling rates are set. All-integer rank·value sums.
    */
  def q142(s: SparkSession, dir: String): DataFrame =
    graft.ops.GroupStats.gini(T(s, dir, "documents"),
      "source", "n_chars", "doc_id")
      .orderBy("source")
  val q142Sql: String =
    """WITH r AS (SELECT source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS i
      |  FROM documents),
      |a AS (SELECT source, count(*) AS n, sum(n_chars) AS sx,
      |        sum(i * n_chars) AS six FROM r GROUP BY source)
      |SELECT source, n,
      |  round(CAST(2 * six - (n + 1) * sx AS DOUBLE) / (n * sx), 6) AS gini
      |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q143
  /** Lexical diversity ([[graft.ops.ext.TextAnalysis.tokenEntropy]]):
    * Shannon entropy of the token distribution per language. Every
    * ln() input is an integer count (the q84 portability rule);
    * Σ c·ln c goes through DECIMAL.
    */
  def q143(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.tokenEntropy(
      T(s, dir, "documents"), "text", "lang")
      .orderBy("lang")
  val q143Sql: String =
    """WITH tok AS (SELECT lang,
      |    unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                       t -> len(t)>0)) AS token
      |  FROM documents),
      |cnt AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2),
      |a AS (SELECT lang, sum(c) AS n, count(*) AS v,
      |        sum(CAST(c * ln(c) AS DECIMAL(38,18))) AS s
      |      FROM cnt GROUP BY lang)
      |SELECT lang, CAST(n AS BIGINT) AS n_tokens, v AS distinct_tokens,
      |  round(ln(n) - CAST(s AS DOUBLE) / n, 6) AS entropy
      |FROM a ORDER BY lang""".stripMargin

  /** Shared 3-gram CTE for q144/q145: per-doc distinct space-joined
    * trigrams (no partial windows, empty below 3 tokens).
    */
  private val trigramsSql: String =
    """SELECT doc_id, source,
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct([array_to_string(toks[i:i+2], ' ')
      |                     for i in range(1, len(toks) - 2 + 1)])
      |    ELSE [] END AS gs
      |  FROM (SELECT doc_id, source,
      |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                      t -> len(t)>0) AS toks
      |        FROM documents)""".stripMargin

  // ---------------------------------------------------------------- q144
  /** Curriculum novelty curve: assign docs to the q105 training shards
    * (same LCG), then per shard count its distinct trigrams and how
    * many appear for the FIRST time in that shard (first = min shard
    * per n-gram). One n-gram-keyed aggregation carries (min shard,
    * shard set); the per-shard rollup explodes the tiny shard sets —
    * the corpus text is scanned once.
    */
  def q144(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val shard = ((col("doc_id") * lit(1103515245L) + lit(12345L))
      % lit(2147483648L)) % 8
    // ONE wide shuffle: no pre-distinct pass — collect_set dedups
    // (shard, ngram) repeats inside the n-gram-keyed aggregation's
    // map-side partials, so the trigram strings shuffle exactly once.
    // Tokens materialize behind a projection boundary first (no CSE
    // across the n-gram transform lambda — the q109 lesson).
    val pairs = T(s, dir, "documents")
      .select(shard.as("shard"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("shard"),
        explode(array_distinct(TextAnalysis.wordNgramsFromTokens(
          col("toks"), 3))).as("ngram"))
    val g = pairs.groupBy(col("ngram"))
      .agg(min(col("shard")).as("first_shard"),
        collect_set(col("shard")).as("shards"))
    g.select(col("first_shard"), explode(col("shards")).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("shard") === col("first_shard"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("shard"), col("n_ngrams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_ngrams"), 6)
          .as("novelty_rate"))
      .orderBy("shard")
  }
  val q144Sql: String =
    s"""WITH d AS ($trigramsSql),
       |p AS (SELECT DISTINCT
       |        ((doc_id * 1103515245 + 12345) % 2147483648) % 8 AS shard,
       |        unnest(gs) AS ngram
       |      FROM d),
       |f AS (SELECT ngram, min(shard) AS first_shard FROM p GROUP BY ngram)
       |SELECT p.shard, count(*) AS n_ngrams,
       |  count(CASE WHEN p.shard = f.first_shard THEN 1 END) AS n_novel,
       |  round(count(CASE WHEN p.shard = f.first_shard THEN 1 END)::DOUBLE
       |        / count(*), 6) AS novelty_rate
       |FROM p JOIN f USING (ngram) GROUP BY p.shard ORDER BY p.shard""".stripMargin

  // ---------------------------------------------------------------- q145
  /** Cross-source contamination matrix: for every source pair, the
    * count of shared distinct trigrams and the overlap coefficient
    * shared/min(|A|,|B|). The n-gram self-join fans out at most
    * |sources|² per n-gram (the natural df cap — source cardinality is
    * small by construction), never doc².
    */
  def q145(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val p = T(s, dir, "documents")
      .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("source"),
        explode(array_distinct(TextAnalysis.wordNgramsFromTokens(
          col("toks"), 3))).as("ngram"))
      .dropDuplicates("source", "ngram").persist()
    val tot = p.groupBy(col("source")).agg(count(lit(1)).as("tot"))
    val pairs = p.as("a")
      .join(p.as("b"), col("a.ngram") === col("b.ngram")
        && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(tot.select(col("source").as("source_a"),
        col("tot").as("__ta"))), Seq("source_a"))
      .join(broadcast(tot.select(col("source").as("source_b"),
        col("tot").as("__tb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared"),
        round(col("shared").cast("double") / least(col("__ta"), col("__tb")),
          6).as("overlap"))
      .orderBy("source_a", "source_b")
  }
  val q145Sql: String =
    s"""WITH d AS ($trigramsSql),
       |p AS (SELECT DISTINCT source, unnest(gs) AS ngram FROM d),
       |tot AS (SELECT source, count(*) AS tot FROM p GROUP BY source),
       |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
       |    count(*) AS shared
       |  FROM p a JOIN p b ON a.ngram = b.ngram AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, shared,
       |  round(shared::DOUBLE / least(ta.tot, tb.tot), 6) AS overlap
       |FROM pairs JOIN tot ta ON source_a = ta.source
       |           JOIN tot tb ON source_b = tb.source
       |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- q146
  /** Spectral direction ([[graft.ops.ext.Spectral.dominantEigen]]):
    * 3-round power iteration on the embeddings' second-moment matrix —
    * the PCA-direction primitive, fully reproducible (fixed v₀ = 1/8,
    * split-long exact Gram sums at native aggregation speed, DECIMAL
    * matvec/norm sums, fixed round count) and so oracle-checkable like
    * k-means (q97) and PageRank (q77).
    */
  def q146(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Spectral.dominantEigen(T(s, dir, "embeddings"),
      "embedding", "vec_id", dims = 64, iters = 3)
  val q146Sql: String = {
    val dec = "DECIMAL(38,18)"
    val sb = new StringBuilder
    val vq = "CAST(floor((a.x * b.x + 4.0) * 100000000.0e0 + 0.5e0) AS BIGINT)"
    sb ++= s"""WITH v AS (SELECT vec_id AS id, [x::DOUBLE for x in embedding] AS vec
       |           FROM embeddings),
       |e AS (SELECT id, CAST(o - 1 AS BIGINT) AS i, x
       |      FROM (SELECT id, unnest(vec) AS x,
       |              generate_subscripts(vec, 1) AS o FROM v)),
       |m AS (SELECT a.i AS i, b.i AS j,
       |        (CAST(CAST(sum(($vq >> 20)) AS HUGEINT) * 1048576
       |              + sum(($vq & 1048575)) AS DOUBLE) / 100000000.0e0
       |         - 4.0 * count(*)) / count(*) AS m
       |      FROM e a JOIN e b USING (id) GROUP BY 1, 2),
       |v0 AS (SELECT CAST(i AS BIGINT) AS i, 1.0e0 / sqrt(64.0e0) AS v
       |       FROM range(64) t(i))""".stripMargin
    for (r <- 1 to 3) {
      sb ++= s""",
        |w$r AS (SELECT m.i, CAST(sum(CAST(m.m * p.v AS $dec)) AS DOUBLE) AS w
        |        FROM m JOIN v${r - 1} p ON m.j = p.i GROUP BY m.i),
        |n$r AS (SELECT sqrt(CAST(sum(CAST(w * w AS $dec)) AS DOUBLE)) AS nrm
        |        FROM w$r),
        |v$r AS (SELECT i, w / nrm AS v FROM w$r, n$r)""".stripMargin
    }
    sb ++= s"""
      |SELECT i AS dim, round(v, 6) AS loading, round(nrm, 6) AS eigenvalue
      |FROM v3, n3 ORDER BY dim""".stripMargin
    sb.toString
  }

  // ---------------------------------------------------------------- q147
  /** Per-user autocorrelation (lags 1–3) of event values in (ts,
    * event_id) order: r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)². Means
    * come from a DECIMAL-summed grouped aggregation broadcast back;
    * lagged products ride per-user window `lag`s in ONE window pass;
    * the order-sensitive product sums go through DECIMAL. Users with
    * zero variance drop (both engines via the same HAVING).
    */
  def q147(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = ExtQueries.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val mean = ev.groupBy("user_id")
      .agg((sum(col("value").cast(DecimalType(18, 6))).cast("double")
        / count(lit(1))).as("xbar"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val dec = DecimalType(38, 18)
    val d0 = col("value") - col("xbar")
    val lagged = ev.join(broadcast(mean), Seq("user_id"))
      .select(col("user_id"), col("xbar"), col("value"),
        lag(col("value"), 1).over(w).as("l1"),
        lag(col("value"), 2).over(w).as("l2"),
        lag(col("value"), 3).over(w).as("l3"))
    lagged.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum((d0 * d0).cast(dec)).as("den"),
        sum((d0 * (col("l1") - col("xbar"))).cast(dec)).as("s1"),
        sum((d0 * (col("l2") - col("xbar"))).cast(dec)).as("s2"),
        sum((d0 * (col("l3") - col("xbar"))).cast(dec)).as("s3"))
      .filter(col("den").cast("double") > 0.0)
      .select(col("user_id"), col("n"),
        round(col("s1").cast("double") / col("den").cast("double"), 6).as("r1"),
        round(col("s2").cast("double") / col("den").cast("double"), 6).as("r2"),
        round(col("s3").cast("double") / col("den").cast("double"), 6).as("r3"))
      .orderBy("user_id")
  }
  val q147Sql: String =
    """WITH m AS (SELECT user_id,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS xbar
      |  FROM events GROUP BY user_id),
      |l AS (SELECT e.user_id, m.xbar, e.value,
      |    lag(e.value, 1) OVER w AS l1,
      |    lag(e.value, 2) OVER w AS l2,
      |    lag(e.value, 3) OVER w AS l3
      |  FROM events e JOIN m USING (user_id)
      |  WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)),
      |a AS (SELECT user_id, count(*) AS n,
      |    sum(CAST((value - xbar) * (value - xbar) AS DECIMAL(38,18))) AS den,
      |    sum(CAST((value - xbar) * (l1 - xbar) AS DECIMAL(38,18))) AS s1,
      |    sum(CAST((value - xbar) * (l2 - xbar) AS DECIMAL(38,18))) AS s2,
      |    sum(CAST((value - xbar) * (l3 - xbar) AS DECIMAL(38,18))) AS s3
      |  FROM l GROUP BY user_id
      |  HAVING CAST(den AS DOUBLE) > 0.0)
      |SELECT user_id, n,
      |  round(CAST(s1 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r1,
      |  round(CAST(s2 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r2,
      |  round(CAST(s3 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r3
      |FROM a ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Benford first-digit audit of extended price. The digit comes from
    * the INTEGER cents value rendered as a string — no log10-of-double
    * boundary risk; log10 only touches the nine fixed expected shares
    * (integer-derived inputs, the q84 rule). Χ² sums through DECIMAL.
    */
  def q148(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("long")
    val counts = T(s, dir, "lineitem").filter(col("l_extendedprice") > 0)
      .select(digit.as("digit")).groupBy("digit")
      .agg(count(lit(1)).as("n_obs"))
    // ln ratio, NOT a log10 builtin: both engines then take ln() of the
    // same doubles (integer-derived 1 + 1/d) and divide identically
    val p = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    val withTot = counts.crossJoin(broadcast(counts.agg(
      sum(col("n_obs")).as("n"))))
    val dev = col("n_obs") - col("n") * p
    val contrib = dev * dev / (col("n") * p)
    val chi2 = withTot.select(contrib.cast(DecimalType(38, 18)).as("c"))
      .agg(round(sum(col("c")).cast("double"), 6).as("chi2"))
    withTot
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n"), 6).as("observed_share"),
        round(p, 6).as("expected_share"))
      .crossJoin(broadcast(chi2))
      .orderBy("digit")
  }
  val q148Sql: String =
    """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100.0
      |      + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM lineitem WHERE l_extendedprice > 0),
      |c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
      |t AS (SELECT sum(n_obs) AS n FROM c),
      |x AS (SELECT round(CAST(sum(CAST(
      |        (n_obs - n * (ln(1.0 + 1.0 / digit) / ln(10.0)))
      |        * (n_obs - n * (ln(1.0 + 1.0 / digit) / ln(10.0)))
      |        / (n * (ln(1.0 + 1.0 / digit) / ln(10.0))) AS DECIMAL(38,18)))
      |      AS DOUBLE), 6) AS chi2
      |    FROM c, t)
      |SELECT digit, n_obs,
      |  round(n_obs::DOUBLE / n, 6) AS observed_share,
      |  round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS expected_share, chi2
      |FROM c, t, x ORDER BY digit""".stripMargin

  // ---------------------------------------------------------------- q149
  /** Audio near-dup ([[graft.ops.ext.Multimodal.audioEnvelopeHash]] +
    * hamming band join): energy-envelope difference hash over real WAV
    * decode. Fixture samples follow closed-form loudness ramps, so the
    * pair set is provable: a re-encoded copy and a 2× gain keep every
    * window comparison (distance 0); the reversed ramp flips all 15
    * bits (excluded). All-integer — bit-reproducible on any JVM.
    */
  def q149(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.{Dedup, Multimodal}
    val base = java.nio.file.Paths.get("/root/repo/benchdata/graft_fixtures/audiofp_v1")
    java.nio.file.Files.createDirectories(base)
    def write(name: String, amp: Int, dens: Int => Int): Unit = {
      // 16 windows x 100 samples; in window w the first dens(w) samples
      // sit at 128+amp, the rest at the 128 midpoint
      val samples = Array.tabulate(1600) { i =>
        val (w, j) = (i / 100, i % 100)
        (if (j < dens(w)) 128 + amp else 128).toByte
      }
      val afmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1,
        false, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(samples), afmt,
        samples.length.toLong)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
        base.resolve(name).toFile)
    }
    write("a.wav", 40, w => 6 * (w + 1))       // ramp up: all bits 0
    write("a2.wav", 40, w => 6 * (w + 1))      // identical content
    write("b.wav", 80, w => 6 * (w + 1))       // 2x gain, same envelope
    write("c.wav", 40, w => 6 * (16 - w))      // reversed: all bits 1
    val hashes = Multimodal
      .audioEnvelopeHash(Multimodal.readBinary(s, base.toString, "*.wav"))
      .select(substring_index(col("path"), "/", -1).as("file"), col("afp"))
    Dedup.hammingNearDups(hashes, "afp", "file", maxHamming = 3, bands = 16)
      .select(col("id_a").as("file_a"), col("id_b").as("file_b"),
        col("hamming"))
      .orderBy("file_a", "file_b")
  }
  val q149Sql: String =
    """SELECT 'a.wav' AS file_a, 'a2.wav' AS file_b,
      |  CAST(0 AS INTEGER) AS hamming
      |UNION ALL SELECT 'a.wav', 'b.wav', CAST(0 AS INTEGER)
      |UNION ALL SELECT 'a2.wav', 'b.wav', CAST(0 AS INTEGER)
      |ORDER BY file_a, file_b""".stripMargin

  // ---------------------------------------------------------------- q150
  /** Calibration diagnostic: decile-bucket the q93 quality score and
    * compare each bucket's mean predicted probability against the
    * empirical positive rate (positive = English, the weak label the
    * other eval queries use). ntile ranks deterministically by
    * (score, doc_id); mean scores sum through DECIMAL; the positive
    * rate is integer counts divided once.
    */
  def q150(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val scored = TextAnalysis.logisticQuality(T(s, dir, "documents"), "text")
      .select(col("doc_id"), col("p_keep"), (col("lang") === "en").as("pos"))
    // ntile(10) from the exact global row number (two-level, no
    // unpartitioned window): with n = 10q + r, the first r tiles take
    // q+1 rows, the rest q — the standard SQL NTILE contract
    val tot = scored.agg(count(lit(1)).as("__n"))
    graft.ops.ScaleWindows
      .globalRowNumber(scored, "p_keep", Seq("doc_id"), "__rn")
      .crossJoin(broadcast(tot))
      .withColumn("__q", expr("__n div 10L"))
      .withColumn("__r", expr("__n % 10L"))
      .withColumn("decile",
        when(col("__rn") <= col("__r") * (col("__q") + 1),
          expr("(__rn - 1) div (__q + 1) + 1"))
          .otherwise(
            expr("__r + (__rn - 1 - __r * (__q + 1)) div greatest(__q, 1L) + 1"))
          .cast("long"))
      .drop("__n", "__rn", "__q", "__r")
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        (sum(col("p_keep").cast(DecimalType(18, 6))).cast("double")
          / count(lit(1))).as("mean_p"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("decile"), col("n"), round(col("mean_p"), 6).as("mean_p"),
        round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"))
      .orderBy("decile")
  }
  val q150Sql: String = {
    val stop = graft.ops.ext.TextAnalysis.StopwordSets("en")
      .map(w => s"'$w'").mkString(",")
    s"""WITH f AS (SELECT doc_id, (lang = 'en') AS pos,
       |    len(toks)::DOUBLE AS nt,
       |    CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END AS pr,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, t -> list_contains([$stop], t)))::DOUBLE / len(toks)
       |      ELSE 0.0 END AS sr
       |  FROM (SELECT doc_id, lang,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks,
       |          length(text)::DOUBLE AS nc,
       |          (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE AS np
       |        FROM documents)),
       |sc AS (SELECT doc_id, pos,
       |    round(1.0 / (1.0 + exp(-(-1.0 + sr * 4.0 + pr * (-6.0)
       |                             + ln(nt + 1) * 0.5))), 6) AS p_keep
       |  FROM f),
       |b AS (SELECT pos, p_keep,
       |    CAST(ntile(10) OVER (ORDER BY p_keep, doc_id) AS BIGINT) AS decile
       |  FROM sc)
       |SELECT decile, count(*) AS n,
       |  round(CAST(sum(CAST(p_keep AS DECIMAL(18,6))) AS DOUBLE)
       |        / count(*), 6) AS mean_p,
       |  round(count(CASE WHEN pos THEN 1 END)::DOUBLE / count(*), 6)
       |    AS frac_pos
       |FROM b GROUP BY decile ORDER BY decile""".stripMargin
  }

  // ---------------------------------------------------------------- q151
  /** Streaming EWMA ([[graft.streaming.Stateful.runningEwma]]): the
    * q135 smoothing as per-key running state over the bounded event
    * stream — per-batch groups sort by (ts, event_id) before folding,
    * so the single-batch smoke reproduces the batch fold exactly and
    * the result hash-checks against the same oracle arithmetic.
    */
  def q151(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = s"$dir/events.parquet"
    val src = ExtQueries.tsAsMicros(StreamOps.fileStream(s, f))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Stateful.TimedEvent]
    StreamOps.runBounded(s, f, "q151_ewma", "update")(
      Stateful.runningEwma(s, src, alpha = 0.25))
      .select(col("user_id"), col("n_events"),
        round(col("ewma"), 6).as("ewma"))
      .orderBy("user_id")
  }
  val q151Sql: String =
    """WITH g AS (SELECT user_id,
      |    list(value ORDER BY ts, event_id) AS vs,
      |    count(*) AS n_events
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n_events,
      |  round(list_reduce(vs, (s, x) -> 0.25e0 * x + 0.75e0 * s), 6) AS ewma
      |FROM g ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_zorder" -> (q122 _),
    "q123_key_discovery" -> (q123 _),
    "q124_correlation" -> (q124 _),
    "q125_histogram" -> (q125 _),
    "q126_drift" -> (q126 _),
    "q127_prune_estimate" -> (q127 _),
    "q128_mad_outliers" -> (q128 _),
    "q129_bpe_merges" -> (q129 _),
    "q130_quantile_drift" -> (q130 _),
    "q131_footer_stats" -> (q131 _),
    "q132_attribution" -> (q132 _),
    "q133_ranking_metrics" -> (q133 _),
    "q134_auc" -> (q134 _),
    "q135_ewma" -> (q135 _),
    "q136_pareto_frontier" -> (q136 _),
    "q137_image_phash_dedup" -> (q137 _),
    "q138_fdr_adjust" -> (q138 _),
    "q139_chi_square" -> (q139 _),
    "q140_group_ols" -> (q140 _),
    "q141_weighted_median" -> (q141 _),
    "q142_gini" -> (q142 _),
    "q143_token_entropy" -> (q143 _),
    "q144_novelty_curve" -> (q144 _),
    "q145_overlap_matrix" -> (q145 _),
    "q146_power_iteration" -> (q146 _),
    "q147_autocorrelation" -> (q147 _),
    "q148_benford" -> (q148 _),
    "q149_audio_fingerprint" -> (q149 _),
    "q150_calibration" -> (q150 _),
    "q151_stream_ewma" -> (q151 _))

  val oracles: Map[String, String] = Map(
    "q122_zorder" -> q122Sql,
    "q123_key_discovery" -> q123Sql,
    "q124_correlation" -> q124Sql,
    "q125_histogram" -> q125Sql,
    "q126_drift" -> q126Sql,
    "q127_prune_estimate" -> q127Sql,
    "q128_mad_outliers" -> q128Sql,
    "q129_bpe_merges" -> q129Sql,
    "q130_quantile_drift" -> q130Sql,
    "q131_footer_stats" -> q131Sql,
    "q132_attribution" -> q132Sql,
    "q133_ranking_metrics" -> q133Sql,
    "q134_auc" -> q134Sql,
    "q135_ewma" -> q135Sql,
    "q136_pareto_frontier" -> q136Sql,
    "q137_image_phash_dedup" -> q137Sql,
    "q138_fdr_adjust" -> q138Sql,
    "q139_chi_square" -> q139Sql,
    "q140_group_ols" -> q140Sql,
    "q141_weighted_median" -> q141Sql,
    "q142_gini" -> q142Sql,
    "q143_token_entropy" -> q143Sql,
    "q144_novelty_curve" -> q144Sql,
    "q145_overlap_matrix" -> q145Sql,
    "q146_power_iteration" -> q146Sql,
    "q147_autocorrelation" -> q147Sql,
    "q148_benford" -> q148Sql,
    "q149_audio_fingerprint" -> q149Sql,
    "q150_calibration" -> q150Sql,
    "q151_stream_ewma" -> q151Sql)
}
