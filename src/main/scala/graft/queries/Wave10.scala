package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 10" query set (q197-q201): Poisson bootstrap standard
  * errors (the one bootstrap that distributes), KMV distinct sketches
  * with set algebra, streaming Misra-Gries heavy hitters under an
  * invariant oracle, held-out bigram-LM perplexity scoring, and
  * deterministic random walks (the node2vec sampling prep). Same
  * contract as every wave: DuckDB oracle per query, doubles round to
  * 6 dp, integer sums BIGINT-cast in the oracle, deterministic
  * tie-breaks everywhere.
  */
object Wave10Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q197
  /** Poisson bootstrap of the per-source mean doc length: replicate
    * weights are iid Poisson(1) draws — the resampling scheme that
    * needs NO global coordination (multinomial bootstrap requires
    * exactly-n draws, a barrier at 100 TB; Poissonization makes every
    * row independent, one narrow pass for all B replicates). Draws are
    * deterministic: u = md5(doc_id:b) → inverse-CDF thresholds
    * hardcoded as identical double literals in engine and oracle.
    * Replicate means quantize to 1e-5 before the across-replicate
    * moment sums, so the SE is an order-free integer reconstruction.
    */
  def q197(s: SparkSession, dir: String): DataFrame = {
    val B = 50
    // Poisson(1) CDF: P(X <= k) for k = 0..6; else 7
    val ts = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
      0.999916758850712)
    val u = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
      col("b").cast("string"))), 1, 8), 16, 10).cast("long") / 4294967296.0
    val w = ts.zipWithIndex.foldRight(lit(7): Column) { case ((t, k), e) =>
      when(u < t, k.toLong).otherwise(e)
    }
    val rep = T(s, dir, "documents").select("doc_id", "source", "n_chars")
      .select(col("source"), col("n_chars"), col("doc_id"),
        explode(sequence(lit(1), lit(B))).as("b"))
      .select(col("source"), col("b"), w.as("w"), col("n_chars"))
      .groupBy("source", "b")
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("n_chars")).as("swx"))
      .filter(col("sw") > 0)
      .select(col("source"),
        floor(col("swx").cast("double") / col("sw") * 100000.0 + 0.5)
          .cast("long").as("q"))
    val m1 = col("s1").cast("double") / col("nb")
    rep.groupBy("source")
      .agg(count(lit(1)).as("nb"), sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"))
      .select(col("source"), col("nb").as("n_boot"),
        round(m1 / 100000.0, 6).as("boot_mean"),
        round(sqrt(greatest(col("s2").cast("double") / col("nb") - m1 * m1,
          lit(0.0))) / 100000.0, 6).as("boot_se"))
      .orderBy("source")
  }
  val q197Sql: String =
    """WITH d AS (SELECT source, n_chars, doc_id,
      |    unnest(range(1, 51)) AS b
      |  FROM documents),
      |w AS (SELECT source, b, n_chars,
      |    CASE
      |      WHEN u < 0.36787944117144233 THEN 0
      |      WHEN u < 0.7357588823428847 THEN 1
      |      WHEN u < 0.9196986029286058 THEN 2
      |      WHEN u < 0.9810118431238463 THEN 3
      |      WHEN u < 0.9963401531726563 THEN 4
      |      WHEN u < 0.9994058151824183 THEN 5
      |      WHEN u < 0.999916758850712 THEN 6
      |      ELSE 7 END AS w
      |  FROM (SELECT source, b, n_chars,
      |          ('0x' || substr(md5(doc_id::VARCHAR || ':' || b::VARCHAR),
      |                          1, 8))::BIGINT / 4294967296.0e0 AS u
      |        FROM d)),
      |rep AS (SELECT source, b,
      |    CAST(floor(CAST(sum(w * n_chars) AS DOUBLE)
      |               / CAST(sum(w) AS DOUBLE) * 100000.0e0 + 0.5e0)
      |         AS BIGINT) AS q
      |  FROM w GROUP BY source, b HAVING sum(w) > 0),
      |agg AS (SELECT source, count(*)::BIGINT AS n_boot,
      |    CAST(sum(q) AS BIGINT) AS s1, CAST(sum(q * q) AS BIGINT) AS s2
      |  FROM rep GROUP BY source)
      |SELECT source, n_boot,
      |  round((s1::DOUBLE / n_boot) / 100000.0e0, 6) AS boot_mean,
      |  round(sqrt(greatest(s2::DOUBLE / n_boot
      |        - (s1::DOUBLE / n_boot) * (s1::DOUBLE / n_boot), 0.0e0))
      |        / 100000.0e0, 6) AS boot_se
      |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q198
  /** KMV (k-minimum-values) distinct sketches with set algebra: per
    * event type keep the k=8 smallest md5(user_id) hash values; for
    * each type pair, the union sketch's k-th value θ gives
    * est_union = (k-1)/θ and the shared-member count among the union's
    * k smallest gives the Jaccard → intersection estimate. md5 makes
    * the sketch EXACTLY engine-reproducible — the whole approximate
    * pipeline is value-checked, not invariant-checked. The scale
    * story: audience-overlap across n segments from k-row sketches,
    * no re-scan (production k ≈ 1024; k=8 here so every SF has
    * ≥ k distinct users).
    */
  def q198(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val hashes = ExtQueries.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("v"))
      .distinct()
    val wk = Window.partitionBy("event_type").orderBy("v")
    val sk = hashes.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k).select("event_type", "v")
    val tp = sk.select("event_type").distinct()
    val pairs = tp.as("x").join(tp.as("y"),
        col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
    val m = pairs.join(sk.withColumnRenamed("event_type", "ta"), "ta")
      .select("ta", "tb", "v")
      .unionByName(pairs.join(sk.withColumnRenamed("event_type", "tb"), "tb")
        .select("ta", "tb", "v"))
      .distinct()
    val wm = Window.partitionBy("ta", "tb").orderBy("v")
    val d = m.withColumn("rn", row_number().over(wm)).filter(col("rn") <= k)
    val theta = d.groupBy("ta", "tb").agg(max("v").as("theta"))
    val common = d
      .join(sk.select(col("event_type").as("ta"), col("v")), Seq("ta", "v"))
      .join(sk.select(col("event_type").as("tb"), col("v")), Seq("tb", "v"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("common"))
    theta.join(common, Seq("ta", "tb"), "left")
      .select(col("ta"), col("tb"),
        coalesce(col("common"), lit(0L)).as("n_common"),
        round(lit(30064771072.0) / col("theta").cast("double"), 6)
          .as("est_union"),
        round(coalesce(col("common"), lit(0L)).cast("double") / 8.0
          * (lit(30064771072.0) / col("theta").cast("double")), 6)
          .as("est_intersection"))
      .orderBy("ta", "tb")
  }
  val q198Sql: String =
    """WITH h AS (SELECT DISTINCT event_type,
      |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS v
      |  FROM events),
      |sk AS (SELECT event_type, v FROM (
      |    SELECT event_type, v,
      |      row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
      |    FROM h) WHERE rn <= 8),
      |tp AS (SELECT DISTINCT event_type FROM sk),
      |pairs AS (SELECT x.event_type AS ta, y.event_type AS tb
      |  FROM tp x JOIN tp y ON x.event_type < y.event_type),
      |m AS (SELECT DISTINCT ta, tb, v FROM (
      |    SELECT p.ta, p.tb, s.v FROM pairs p JOIN sk s ON s.event_type = p.ta
      |    UNION ALL
      |    SELECT p.ta, p.tb, s.v FROM pairs p JOIN sk s ON s.event_type = p.tb)),
      |d AS (SELECT ta, tb, v FROM (
      |    SELECT ta, tb, v,
      |      row_number() OVER (PARTITION BY ta, tb ORDER BY v) AS rn
      |    FROM m) WHERE rn <= 8),
      |th AS (SELECT ta, tb, max(v) AS theta FROM d GROUP BY ta, tb),
      |cm AS (SELECT d.ta, d.tb, count(*)::BIGINT AS common
      |  FROM d JOIN sk a ON a.event_type = d.ta AND a.v = d.v
      |         JOIN sk b ON b.event_type = d.tb AND b.v = d.v
      |  GROUP BY d.ta, d.tb)
      |SELECT th.ta, th.tb, coalesce(cm.common, 0)::BIGINT AS n_common,
      |  round(30064771072.0e0 / th.theta::DOUBLE, 6) AS est_union,
      |  round(coalesce(cm.common, 0)::DOUBLE / 8.0e0
      |        * (30064771072.0e0 / th.theta::DOUBLE), 6) AS est_intersection
      |FROM th LEFT JOIN cm ON cm.ta = th.ta AND cm.tb = th.tb
      |ORDER BY th.ta, th.tb""".stripMargin

  // ---------------------------------------------------------------- q199
  /** Streaming Misra-Gries heavy hitters ([[graft.streaming.Stateful
    * .runningHeavyHitters]], m=127 counters per event type) under the
    * q52-style INVARIANT oracle: MG's guarantees — every item with
    * true count > N/(m+1) is retained, counters never exceed truth,
    * undercount ≤ N/(m+1) — hold for any arrival order, so the
    * checked output is the qualifying set with its three guarantee
    * flags; a broken sketch flips a flag or loses a row. Exact counts
    * come from the batch twin of the same source.
    */
  def q199(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    val m = 127
    val f = s"$dir/events.parquet"
    val src = ExtQueries.tsAsMicros(StreamOps.fileStream(s, f))
      .select(col("event_type").as("key"), col("user_id").as("item"),
        col("ts"), col("event_id"))
      .as[Stateful.KeyedItem]
    val out = StreamOps.runBounded(s, f, "q199_mg", "update")(
      Stateful.runningHeavyHitters(s, src, m))
    val sketch = out
      .select(col("key").as("event_type"), col("item").as("user_id"),
        col("est"))
    val exact = ExtQueries.events(s, dir)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("exact_count"))
    val n = ExtQueries.events(s, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    exact.join(n, "event_type")
      .filter(col("exact_count") * (m + 1) > col("n"))
      .join(sketch, Seq("event_type", "user_id"), "left")
      .select(col("event_type"), col("user_id"), col("exact_count"),
        col("est").isNotNull.as("in_sketch"),
        coalesce(col("est") <= col("exact_count"), lit(false))
          .as("est_le_exact"),
        ((col("exact_count") - coalesce(col("est"), lit(0L))) * (m + 1)
          <= col("n")).as("err_bounded"))
      .orderBy("event_type", "user_id")
  }
  val q199Sql: String =
    """WITH c AS (SELECT event_type, user_id, count(*)::BIGINT AS exact_count
      |  FROM events GROUP BY 1, 2),
      |n AS (SELECT event_type, count(*)::BIGINT AS n
      |  FROM events GROUP BY 1)
      |SELECT event_type, user_id, exact_count,
      |  TRUE AS in_sketch, TRUE AS est_le_exact, TRUE AS err_bounded
      |FROM c JOIN n USING (event_type)
      |WHERE exact_count * 128 > n
      |ORDER BY event_type, user_id""".stripMargin

  // ---------------------------------------------------------------- q200
  /** Held-out bigram-LM perplexity scoring — the CCNet-style quality
    * gate one order up from the unigram filter: train add-1/2-smoothed
    * bigram probabilities on 80% of docs (doc_id % 5 != 0), score each
    * held-out doc's average negative log-likelihood. Every ln-term
    * quantizes to 1e-4 fixed point PER BIGRAM, so the doc sum is an
    * order-free BIGINT. Scale shape: the LM is a (w1, w2) count frame
    * joined onto the held-out bigram stream — no per-doc recursion,
    * and the vocab scalar broadcasts.
    */
  def q200(s: SparkSession, dir: String): DataFrame = {
    val toks = T(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.ops.ext.TextAnalysis.tokens(col("text")))
          .as(Seq("pos", "tok")))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = toks
      .withColumn("w2", lead("tok", 1).over(wd))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("w2"))
    val train = bigrams.filter(col("doc_id") % 5 =!= 0)
    val held = bigrams.filter(col("doc_id") % 5 === 0)
    val uni = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val big = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = toks.filter(col("doc_id") % 5 =!= 0)
      .agg(countDistinct("tok").as("V"))
    val p = (coalesce(col("c12"), lit(0L)) + lit(0.5)) /
      (coalesce(col("c1"), lit(0L)) + lit(0.5) * col("V"))
    held
      .join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor(-log(p) * 10000.0 + 0.5).cast("long").as("d"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("d")).as("sd"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sd").cast("double") / col("n_bigrams") / 10000.0, 6)
          .as("avg_nll"))
      .orderBy("doc_id")
  }
  val q200Sql: String =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                t -> len(t)>0) AS toks
      |  FROM documents),
      |bg AS (SELECT doc_id, toks[p] AS w1, toks[p+1] AS w2
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS p
      |        FROM tk WHERE len(toks) >= 2)),
      |train AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
      |held AS (SELECT * FROM bg WHERE doc_id % 5 = 0),
      |uni AS (SELECT w1, count(*)::BIGINT AS c1 FROM train GROUP BY 1),
      |big AS (SELECT w1, w2, count(*)::BIGINT AS c12
      |  FROM train GROUP BY 1, 2),
      |v AS (SELECT count(DISTINCT tok)::BIGINT AS V FROM (
      |    SELECT unnest(toks) AS tok FROM tk WHERE doc_id % 5 <> 0)),
      |terms AS (SELECT held.doc_id,
      |    CAST(floor(-ln((coalesce(big.c12, 0) + 0.5e0)
      |                   / (coalesce(uni.c1, 0) + 0.5e0 * v.V))
      |               * 10000.0e0 + 0.5e0) AS BIGINT) AS d
      |  FROM held
      |  LEFT JOIN big ON big.w1 = held.w1 AND big.w2 = held.w2
      |  LEFT JOIN uni ON uni.w1 = held.w1
      |  CROSS JOIN v)
      |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |  round(CAST(sum(d) AS DOUBLE) / count(*) / 10000.0e0, 6) AS avg_nll
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q201
  /** Deterministic random walks on the part co-order graph — the
    * node2vec/DeepWalk sampling prep: 3 hops from every node, the
    * "random" neighbor chosen by min md5(node:step:neighbor), so walk
    * sampling is a pure function of the graph (restartable, no RNG
    * state to ship). Each step is ONE per-node choice aggregation,
    * reused by every walk passing through that node — k hops = k
    * bounded shuffles of a (node, successor) frame, never a per-walk
    * frontier explosion.
    */
  def q201(s: SparkSession, dir: String): DataFrame = {
    val e = Wave6Queries.coOrderEdges(s, dir)
    val sym = e.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("nbr")))
    def choice(step: Int): DataFrame = {
      val key = md5(concat(col("node").cast("string"), lit(s":$step:"),
        col("nbr").cast("string")))
      sym.select(col("node"), struct(key.as("k"), col("nbr")).as("kn"))
        .groupBy("node").agg(min("kn").as("m"))
        .select(col("node"), col("m.nbr").as("nxt"))
    }
    choice(1).select(col("node").as("start"), col("nxt").as("hop1"))
      .join(choice(2).withColumnRenamed("node", "hop1")
        .withColumnRenamed("nxt", "hop2"), "hop1")
      .join(choice(3).withColumnRenamed("node", "hop2")
        .withColumnRenamed("nxt", "hop3"), "hop2")
      .select("start", "hop1", "hop2", "hop3")
      .orderBy("start")
  }
  val q201Sql: String =
    s"""WITH e AS (${Wave6Queries.coOrderEdgesSql}),
       |sym AS (SELECT src AS node, dst AS nbr FROM e
       |        UNION ALL SELECT dst, src FROM e),
       |n1 AS (SELECT node, nbr AS nxt FROM (
       |    SELECT node, nbr, row_number() OVER (PARTITION BY node
       |      ORDER BY md5(node::VARCHAR || ':1:' || nbr::VARCHAR), nbr) AS rn
       |    FROM sym) WHERE rn = 1),
       |n2 AS (SELECT node, nbr AS nxt FROM (
       |    SELECT node, nbr, row_number() OVER (PARTITION BY node
       |      ORDER BY md5(node::VARCHAR || ':2:' || nbr::VARCHAR), nbr) AS rn
       |    FROM sym) WHERE rn = 1),
       |n3 AS (SELECT node, nbr AS nxt FROM (
       |    SELECT node, nbr, row_number() OVER (PARTITION BY node
       |      ORDER BY md5(node::VARCHAR || ':3:' || nbr::VARCHAR), nbr) AS rn
       |    FROM sym) WHERE rn = 1)
       |SELECT n1.node AS start, n1.nxt AS hop1, n2.nxt AS hop2, n3.nxt AS hop3
       |FROM n1 JOIN n2 ON n2.node = n1.nxt JOIN n3 ON n3.node = n2.nxt
       |ORDER BY start""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_poisson_bootstrap" -> (q197 _),
    "q198_kmv_sketch" -> (q198 _),
    "q199_stream_heavyhitters" -> (q199 _),
    "q200_lm_perplexity" -> (q200 _),
    "q201_random_walks" -> (q201 _))

  val oracles: Map[String, String] = Map(
    "q197_poisson_bootstrap" -> q197Sql,
    "q198_kmv_sketch" -> q198Sql,
    "q199_stream_heavyhitters" -> q199Sql,
    "q200_lm_perplexity" -> q200Sql,
    "q201_random_walks" -> q201Sql)
}
