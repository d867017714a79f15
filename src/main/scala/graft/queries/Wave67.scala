package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-7 "wave 67" query set (q408–q409): the two estimators that
  * complete the counterfactual-evaluation family — doubly-robust
  * off-policy evaluation (model + importance correction with
  * cross-fitted halves, the production OPE default over q406's plain
  * IPS) and density-ratio importance weighting with the effective-
  * sample-size census (the covariate-shift primitive behind "how much
  * of source A still counts after reweighting it to look like B").
  * Per-row terms are IEEE doubles replayed identically by the oracle;
  * every SUM of those terms goes through DECIMAL(38,18), so fold order
  * never changes the estimate.
  */
object Wave67Queries {
  import CoreQueries.T

  private val Dec = DecimalType(38, 18)

  // ---------------------------------------------------------------- q408
  /** Doubly-robust OPE with cross-fitting: the reward model q̂(a) =
    * per-action mean cents learns on even event_ids; the DR estimate
    * runs on the odd half — q̂(π(x)) + 1[a=π(x)]·K·(r − q̂(a)) per row
    * — under the uniform-propensity log and the q406 target policy.
    * IPS and the model-only value ride the same aggregation for
    * contrast.
    *
    * Scale shape: two narrow passes (one per half); the K-row model
    * table broadcasts twice (logged-action join + policy-action join);
    * terms accumulate in DECIMAL.
    */
  def q408(s: SparkSession, dir: String): DataFrame = {
    val e = ExtQueries.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("r"))
    val model = e.filter(col("event_id") % 2 === 0)
      .groupBy(col("event_type").as("a"))
      .agg((sum("r").cast("double") / count(lit(1)).cast("double") / 100.0)
        .as("qhat"))
    val k = e.agg(countDistinct("event_type").cast("double").as("kd"))
    val test = e.filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("event_type"), col("r"),
        when(col("user_id") % 3 === 0, "purchase").otherwise("click")
          .as("pi"))
      .join(broadcast(model.select(col("a"), col("qhat").as("q_log"))),
        col("event_type") === col("a")).drop("a")
      .join(broadcast(model.select(col("a"), col("qhat").as("q_pi"))),
        col("pi") === col("a")).drop("a")
      .crossJoin(broadcast(k))
      .select(col("r"),
        (col("pi") === col("event_type")).as("hit"),
        col("q_log"), col("q_pi"), col("kd"))
    val terms = test.select(
      (col("q_pi") + when(col("hit"),
        col("kd") * (col("r").cast("double") / 100.0 - col("q_log")))
        .otherwise(lit(0.0))).cast(Dec).as("dr_t"),
      when(col("hit"), col("kd") * (col("r").cast("double") / 100.0))
        .otherwise(lit(0.0)).cast(Dec).as("ips_t"),
      col("q_pi").cast(Dec).as("dm_t"))
    terms.agg(count(lit(1)).as("n"),
        sum("dr_t").as("sdr"), sum("ips_t").as("sips"), sum("dm_t").as("sdm"))
      .select(col("n"),
        round(col("sdr").cast("double") / col("n").cast("double"), 6)
          .as("dr_value"),
        round(col("sips").cast("double") / col("n").cast("double"), 6)
          .as("ips_value"),
        round(col("sdm").cast("double") / col("n").cast("double"), 6)
          .as("dm_value"))
  }
  val q408Sql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS r FROM events),
      |model AS (SELECT event_type AS a,
      |    CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0e0
      |      AS qhat
      |  FROM e WHERE event_id % 2 = 0 GROUP BY 1),
      |kk AS (SELECT CAST(count(DISTINCT event_type) AS DOUBLE) AS kd FROM e),
      |test AS (SELECT t.r,
      |    t.pi = t.event_type AS hit, ml.qhat AS q_log, mp.qhat AS q_pi,
      |    kk.kd
      |  FROM (SELECT *, CASE WHEN user_id % 3 = 0 THEN 'purchase'
      |          ELSE 'click' END AS pi
      |        FROM e WHERE event_id % 2 = 1) t
      |  JOIN model ml ON ml.a = t.event_type
      |  JOIN model mp ON mp.a = t.pi
      |  CROSS JOIN kk),
      |terms AS (SELECT
      |    CAST(q_pi + CASE WHEN hit
      |      THEN kd * (CAST(r AS DOUBLE) / 100.0e0 - q_log)
      |      ELSE 0.0e0 END AS DECIMAL(38,18)) AS dr_t,
      |    CAST(CASE WHEN hit THEN kd * (CAST(r AS DOUBLE) / 100.0e0)
      |      ELSE 0.0e0 END AS DECIMAL(38,18)) AS ips_t,
      |    CAST(q_pi AS DECIMAL(38,18)) AS dm_t
      |  FROM test)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(dr_t) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS dr_value,
      |  round(CAST(sum(ips_t) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS ips_value,
      |  round(CAST(sum(dm_t) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS dm_value
      |FROM terms""".stripMargin

  // ---------------------------------------------------------------- q409
  /** Density-ratio importance weighting + ESS census: reweight the
    * non-target sources to the target sources' (src0–src4) length
    * profile over fixed 50-char bins, and report the effective sample
    * size — (Σw)²/Σw² — as the "how much data survives the shift"
    * number.
    *
    * Scale shape: the corpus collapses to one fixed-width bin
    * histogram per side in a single aggregation; the ratio, ESS and
    * max-weight all derive from that ≤ dozens-row table (DECIMAL
    * sums). Bins are arithmetic (floor(n_chars/50)) — no quantile
    * estimation, no sort.
    */
  def q409(s: SparkSession, dir: String): DataFrame = {
    val target = Seq("src0", "src1", "src2", "src3", "src4")
    val d = T(s, dir, "documents")
      .select(col("source"), floor(col("n_chars") / 50).cast("long").as("bin"),
        col("source").isin(target: _*).as("tgt"))
    val hist = d.groupBy("bin")
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("tgt"), 0L).otherwise(1L)).as("ns"))
    val tots = hist.agg(sum("nt").as("tt"), sum("ns").as("ts"))
    val w = hist.filter(col("ns") > 0).crossJoin(broadcast(tots))
      .select(col("bin"), col("ns"),
        ((col("nt").cast("double") / col("tt").cast("double"))
          / (col("ns").cast("double") / col("ts").cast("double")))
          .as("w"))
    w.agg(sum((col("ns") * col("w")).cast(Dec)).as("sw"),
        sum((col("ns") * (col("w") * col("w"))).cast(Dec)).as("sw2"),
        max(col("w")).as("wmax"), count(lit(1)).as("n_bins"),
        sum("ns").as("n_source"))
      .crossJoin(broadcast(tots.select(col("tt").as("n_target"))))
      .select(col("n_source"), col("n_target"), col("n_bins"),
        round((col("sw").cast("double") * col("sw").cast("double"))
          / col("sw2").cast("double"), 6).as("ess"),
        round((col("sw").cast("double") * col("sw").cast("double"))
          / col("sw2").cast("double") / col("n_source").cast("double"), 6)
          .as("ess_share"),
        round(col("wmax"), 6).as("max_weight"))
  }
  val q409Sql: String =
    """WITH d AS (SELECT source, n_chars // 50 AS bin,
      |    source IN ('src0','src1','src2','src3','src4') AS tgt
      |  FROM documents),
      |hist AS (SELECT bin,
      |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
      |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS ns
      |  FROM d GROUP BY 1),
      |tots AS (SELECT CAST(sum(nt) AS BIGINT) AS tt,
      |    CAST(sum(ns) AS BIGINT) AS ts FROM hist),
      |w AS (SELECT bin, ns,
      |    (CAST(nt AS DOUBLE) / CAST(tt AS DOUBLE))
      |      / (CAST(ns AS DOUBLE) / CAST(ts AS DOUBLE)) AS w
      |  FROM hist, tots WHERE ns > 0)
      |SELECT (SELECT CAST(sum(ns) AS BIGINT) FROM w) AS n_source,
      |  (SELECT tt FROM tots) AS n_target,
      |  CAST(count(*) AS BIGINT) AS n_bins,
      |  round(CAST(sum(CAST(ns * w AS DECIMAL(38,18))) AS DOUBLE)
      |      * CAST(sum(CAST(ns * w AS DECIMAL(38,18))) AS DOUBLE)
      |    / CAST(sum(CAST(ns * (w * w) AS DECIMAL(38,18))) AS DOUBLE), 6)
      |    AS ess,
      |  round(CAST(sum(CAST(ns * w AS DECIMAL(38,18))) AS DOUBLE)
      |      * CAST(sum(CAST(ns * w AS DECIMAL(38,18))) AS DOUBLE)
      |    / CAST(sum(CAST(ns * (w * w) AS DECIMAL(38,18))) AS DOUBLE)
      |    / (SELECT CAST(sum(ns) AS DOUBLE) FROM w), 6) AS ess_share,
      |  round(max(w), 6) AS max_weight
      |FROM w""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q408_doubly_robust_ope", q408, q408Sql),
    Query("q409_density_ratio_ess", q409, q409Sql))
}
