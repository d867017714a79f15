package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 "wave 34" query set (q289–q292): language-ID confusion
  * matrix with macro-F1, Haar wavelet energy split, dictionary-
  * encoding estimate, and a k-anonymity generalization ladder. Same
  * contract as every wave: DuckDB oracle per query, doubles round to
  * 6 dp, integer sums BIGINT-cast in the oracle, fixed-point
  * quantization before any cross-row float sum, deterministic
  * tie-breaks.
  */
object Wave34Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q289
  /** Language-ID confusion matrix: the q18 stopword classifier scored
    * against the gold `lang` — per (gold, pred) cell counts with
    * accuracy and macro-F1 (per-gold-class F1 quantized to 1e-6
    * before the mean) repeated as scalar columns. The
    * classifier-evaluation staple, all exact integers until the
    * closing ratios.
    */
  def q289(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val scored = T(s, dir, "documents")
      .select(col("lang").as("gold"),
        TextAnalysis.langId(col("text")).as("pred"))
    val conf = scored.groupBy("gold", "pred").agg(count(lit(1)).as("n"))
      .persist()
    val acc = conf.agg(
      (sum(when(col("gold") === col("pred"), col("n")).otherwise(0L))
        .cast("double") / sum(col("n")).cast("double")).as("acc"))
    val goldTot = conf.groupBy("gold").agg(sum(col("n")).as("gt"))
    val predTot = conf.groupBy(col("pred").as("gold"))
      .agg(sum(col("n")).as("pt"))
    val tp = conf.filter(col("gold") === col("pred"))
      .select(col("gold"), col("n").as("tp"))
    val perClass = goldTot
      .join(tp, Seq("gold"), "left")
      .join(predTot, Seq("gold"), "left")
      .na.fill(0L, Seq("tp", "pt"))
      .select(col("gold"),
        when(col("pt") > 0,
          col("tp").cast("double") / col("pt").cast("double"))
          .otherwise(lit(0.0)).as("p"),
        (col("tp").cast("double") / col("gt").cast("double")).as("r"))
      .select(col("gold"),
        when(col("p") + col("r") > 0,
          lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
          .otherwise(lit(0.0)).as("f1"))
    val macroF = perClass.agg(
      (sum(floor(col("f1") * lit(1e6) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e6) / count(lit(1)).cast("double"))
        .as("mf"))
    conf.crossJoin(broadcast(acc)).crossJoin(broadcast(macroF))
      .select(col("gold"), col("pred"), col("n"),
        round(col("acc"), 6).as("accuracy"),
        round(col("mf"), 6).as("macro_f1"))
      .orderBy("gold", "pred")
  }
  val q289Sql: String = {
    import graft.ops.ext.TextAnalysis
    def hits(lang: String): String = {
      val words = TextAnalysis.StopwordSets(lang).map(w => s"'$w'")
        .mkString(",")
      s"len(list_filter(toks, t -> list_contains([$words], t)))"
    }
    val g4 = s"greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")})"
    s"""WITH scored AS (SELECT lang AS gold,
       |    CASE WHEN $g4 = 0 THEN 'und'
       |      WHEN ${hits("fr")} = $g4 THEN 'fr'
       |      WHEN ${hits("es")} = $g4 THEN 'es'
       |      WHEN ${hits("en")} = $g4 THEN 'en'
       |      ELSE 'de' END AS pred
       |  FROM (SELECT lang,
       |          list_filter(string_split_regex(lower(text),
       |            '[^a-z0-9]+'), t -> len(t) > 0) AS toks
       |        FROM documents)),
       |conf AS (SELECT gold, pred, CAST(count(*) AS BIGINT) AS n
       |  FROM scored GROUP BY 1, 2),
       |acc AS (SELECT CAST(sum(CASE WHEN gold = pred THEN n ELSE 0 END)
       |    AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS acc FROM conf),
       |gt AS (SELECT gold, CAST(sum(n) AS BIGINT) AS gt
       |  FROM conf GROUP BY 1),
       |pt AS (SELECT pred AS gold, CAST(sum(n) AS BIGINT) AS pt
       |  FROM conf GROUP BY 1),
       |tp AS (SELECT gold, n AS tp FROM conf WHERE gold = pred),
       |pc AS (SELECT g.gold,
       |    CASE WHEN coalesce(pt.pt, 0) > 0 THEN
       |      CAST(coalesce(tp.tp, 0) AS DOUBLE)
       |        / CAST(pt.pt AS DOUBLE) ELSE 0.0e0 END AS p,
       |    CAST(coalesce(tp.tp, 0) AS DOUBLE) / CAST(g.gt AS DOUBLE) AS r
       |  FROM gt g LEFT JOIN tp USING (gold) LEFT JOIN pt USING (gold)),
       |f AS (SELECT gold, CASE WHEN p + r > 0 THEN
       |    2.0e0 * p * r / (p + r) ELSE 0.0e0 END AS f1 FROM pc),
       |macro AS (SELECT CAST(CAST(sum(CAST(floor(f1 * 1000000.0e0
       |      + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0e0
       |    / CAST(count(*) AS DOUBLE) AS mf FROM f)
       |SELECT gold, pred, n, round(acc, 6) AS accuracy,
       |  round(mf, 6) AS macro_f1
       |FROM conf, acc, macro ORDER BY gold, pred""".stripMargin
  }

  // ---------------------------------------------------------------- q290
  /** Haar energy split ([[graft.ops.Trend.haarEnergy]]): one-level
    * wavelet decomposition of each event type's daily series — the
    * detail-energy share that says whether variance lives in fast
    * alternation or slow structure.
    */
  def q290(s: SparkSession, dir: String): DataFrame = {
    val daily = ExtQueries.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value").cast(DecimalType(18, 6))).cast("double"),
        6).as("daily"))
      .withColumn("idx",
        (datediff(col("day").cast("date"), lit("2024-01-01").cast("date"))
          + 1).cast("long"))
      .select("event_type", "idx", "daily")
    graft.ops.Trend.haarEnergy(daily, "event_type", "idx", "daily")
      .orderBy("event_type")
  }
  val q290Sql: String =
    """WITH s AS (SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |                   CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT)
      |      AS idx,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
      |      AS daily
      |  FROM events GROUP BY 1, 2),
      |rn AS (SELECT event_type AS k, daily,
      |    row_number() OVER (PARTITION BY event_type ORDER BY idx) AS rn,
      |    lead(daily) OVER (PARTITION BY event_type ORDER BY idx) AS nxt
      |  FROM s),
      |paired AS (SELECT k, (daily + nxt) / 2.0e0 AS a,
      |    (daily - nxt) / 2.0e0 AS d
      |  FROM rn WHERE rn % 2 = 1 AND nxt IS NOT NULL),
      |q AS (SELECT k,
      |    CAST(floor(a * a * 1000000.0e0 + 0.5e0) AS BIGINT) AS qa,
      |    CAST(floor(d * d * 1000000.0e0 + 0.5e0) AS BIGINT) AS qd
      |  FROM paired),
      |agg AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(qa >> 20) AS BIGINT) AS ea_hi,
      |    CAST(sum(qa & 1048575) AS BIGINT) AS ea_lo,
      |    CAST(sum(qd >> 20) AS BIGINT) AS ed_hi,
      |    CAST(sum(qd & 1048575) AS BIGINT) AS ed_lo
      |  FROM q GROUP BY k)
      |SELECT k AS event_type, n_pairs,
      |  round(CAST(CAST(ea_hi AS DECIMAL(38,0)) * 1048576 + ea_lo
      |    AS DOUBLE) / 1000000.0e0, 6) AS e_approx,
      |  round(CAST(CAST(ed_hi AS DECIMAL(38,0)) * 1048576 + ed_lo
      |    AS DOUBLE) / 1000000.0e0, 6) AS e_detail,
      |  round((CAST(CAST(ed_hi AS DECIMAL(38,0)) * 1048576 + ed_lo
      |      AS DOUBLE) / 1000000.0e0)
      |    / ((CAST(CAST(ea_hi AS DECIMAL(38,0)) * 1048576 + ea_lo
      |        AS DOUBLE) / 1000000.0e0)
      |      + (CAST(CAST(ed_hi AS DECIMAL(38,0)) * 1048576 + ed_lo
      |        AS DOUBLE) / 1000000.0e0)), 6) AS detail_ratio
      |FROM agg ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q291
  /** Dictionary-encoding estimate ([[graft.ops.Profile.dictEstimate]])
    * for four lineitem columns — code width from the binary-string
    * bit-length (no float log2), payload + dictionary bytes against
    * the raw string footprint; the column-layout companion to the RLE
    * estimate (q270).
    */
  def q291(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.dictEstimate(T(s, dir, "lineitem"),
        Seq("l_suppkey", "l_partkey", "l_returnflag", "l_linestatus"))
      .orderBy("column")
  val q291Sql: String = {
    def cand(c: String): String =
      s"""SELECT '$c' AS "column", n, nd AS n_distinct,
         |  CASE WHEN nd <= 1 THEN 1
         |    ELSE CAST(len(bin(nd - 1)) AS BIGINT) END AS code_bits,
         |  (n * (CASE WHEN nd <= 1 THEN 1
         |    ELSE CAST(len(bin(nd - 1)) AS BIGINT) END) + 7) // 8
         |    AS encoded_bytes,
         |  dict_bytes, raw_bytes,
         |  round(CAST((n * (CASE WHEN nd <= 1 THEN 1
         |      ELSE CAST(len(bin(nd - 1)) AS BIGINT) END) + 7) // 8
         |      + dict_bytes AS DOUBLE) / CAST(raw_bytes AS DOUBLE), 6)
         |    AS ratio
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS nd,
         |    CAST(sum(len(CAST($c AS VARCHAR))) AS BIGINT) AS raw_bytes
         |  FROM lineitem),
         |  (SELECT CAST(sum(len(v)) AS BIGINT) AS dict_bytes
         |   FROM (SELECT DISTINCT CAST($c AS VARCHAR) AS v FROM lineitem))""".stripMargin
    s"""${cand("l_suppkey")}
       |UNION ALL
       |${cand("l_partkey")}
       |UNION ALL
       |${cand("l_returnflag")}
       |UNION ALL
       |${cand("l_linestatus")}
       |ORDER BY "column"""".stripMargin
  }

  // ---------------------------------------------------------------- q292
  /** Generalization ladder ([[graft.ops.ext.Privacy
    * .generalizationLadder]]): how coarse the (nation, account
    * balance) quasi-identifier must get before 5-anonymity holds —
    * bucket widths 100 / 10k / 1M cents, then the numeric QI dropped.
    * The balance shifts by +1M cents first so the integral division
    * stays in non-negative territory on both engines.
    */
  def q292(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").select(col("c_nationkey"),
      (floor(col("c_acctbal") * 100.0 + 0.5).cast("long") + 1000000L)
        .as("y"))
    graft.ops.ext.Privacy.generalizationLadder(c, Seq("c_nationkey"),
        "y", Seq(100L, 10000L, 1000000L), k = 5L)
      .orderBy("level")
  }
  val q292Sql: String = {
    def level(i: Int, wd: Long): String = {
      val b = if (wd == 0) "0" else s"(y // $wd)"
      val qi = if (wd == 0) "c_nationkey" else s"c_nationkey, $b"
      s"""SELECT CAST($i AS BIGINT) AS level,
         |  CAST($wd AS BIGINT) AS bucket_width,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN c >= 5 THEN c ELSE 0 END) AS BIGINT)
         |    AS covered_rows,
         |  round(CAST(sum(CASE WHEN c >= 5 THEN c ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(c) AS DOUBLE), 6) AS coverage
         |FROM (SELECT $qi, CAST(count(*) AS BIGINT) AS c
         |      FROM src GROUP BY ${if (wd == 0) "1" else "1, 2"})""".stripMargin
    }
    s"""WITH src AS (SELECT c_nationkey,
       |    CAST(floor(c_acctbal * 100.0e0 + 0.5e0) AS BIGINT) + 1000000
       |      AS y
       |  FROM customer)
       |${level(0, 100L)}
       |UNION ALL
       |${level(1, 10000L)}
       |UNION ALL
       |${level(2, 1000000L)}
       |UNION ALL
       |${level(3, 0L)}
       |ORDER BY level""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q289_lang_confusion", q289, q289Sql),
    Query("q290_haar_energy", q290, q290Sql),
    Query("q291_dict_estimate", q291, q291Sql),
    Query("q292_generalization", q292, q292Sql))
}
