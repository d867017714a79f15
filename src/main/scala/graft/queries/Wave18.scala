package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 18" query set (q227-q228): multi-vector
  * late-interaction retrieval (ColBERT-style MaxSim) and streaming
  * per-key 3σ anomaly alerts. Same contract as every wave: DuckDB
  * oracle per query, doubles round to 6 dp, integer sums BIGINT-cast
  * in the oracle, deterministic tie-breaks everywhere.
  */
object Wave18Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q227
  /** Late-interaction retrieval (ColBERT's MaxSim): every vector
    * splits into 4×16-dim sub-vectors; score(q, d) = Σ over query
    * sub-vectors of the max dot product against any doc sub-vector —
    * the multi-vector scoring that beats single-vector cosine on
    * multi-aspect documents. Dots run through the codegen'd
    * [[graft.expr.VecDot]] (bit-identical to the oracle's sequential
    * fold); each per-sub-vector max quantizes to 1e-9 BEFORE the
    * 4-term sum, so the score is an order-free integer
    * reconstruction. Top-5 per query, rank ties by corpus id.
    */
  def q227(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Similarity
    val sub = T(s, dir, "embeddings")
      .select(col("vec_id"), explode(array((0 until 4).map(i =>
        struct(lit(i.toLong).as("si"),
          slice(col("embedding").cast("array<double>"),
            i * 16 + 1, 16).as("sv"))): _*)).as("p"))
      .select(col("vec_id"), col("p.si").as("si"), col("p.sv").as("sv"))
    val queries = sub.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("si").as("qi"),
        col("sv").as("qv"))
    val pairs = queries.join(sub.withColumnRenamed("vec_id", "corpus_id"),
        col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), col("qi"),
        Similarity.dot(col("qv"), col("sv")).as("d"))
    val scored = pairs.groupBy("query_id", "corpus_id", "qi")
      .agg(max("d").as("mx"))
      .select(col("query_id"), col("corpus_id"),
        floor(col("mx") * 1000000000.0 + 0.5).cast("long").as("mq"))
      .groupBy("query_id", "corpus_id")
      .agg(sum("mq").as("sq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sq").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        round(col("sq").cast("double") / 1000000000.0, 6).as("maxsim"))
      .orderBy("query_id", "rank")
  }
  val q227Sql: String =
    """WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS vec
      |  FROM embeddings),
      |sub AS (SELECT vec_id, si,
      |    vec[si * 16 + 1 : si * 16 + 16] AS sv
      |  FROM v, (SELECT unnest(range(0, 4)) AS si)),
      |q AS (SELECT vec_id AS query_id, si AS qi, sv AS qv
      |  FROM sub WHERE vec_id % 50 = 0),
      |pairs AS (SELECT q.query_id, c.vec_id AS corpus_id, q.qi,
      |    list_reduce(list_transform(range(1, len(c.sv) + 1),
      |      i -> c.sv[i] * q.qv[i]), (a, b) -> a + b) AS d
      |  FROM q JOIN sub c ON c.vec_id <> q.query_id),
      |mx AS (SELECT query_id, corpus_id, qi,
      |    CAST(floor(max(d) * 1000000000.0e0 + 0.5e0) AS BIGINT) AS mq
      |  FROM pairs GROUP BY 1, 2, 3),
      |sc AS (SELECT query_id, corpus_id, CAST(sum(mq) AS BIGINT) AS sq
      |  FROM mx GROUP BY 1, 2)
      |SELECT query_id, rank, corpus_id,
      |  round(sq::DOUBLE / 1000000000.0e0, 6) AS maxsim
      |FROM (SELECT query_id, corpus_id, sq,
      |        row_number() OVER (PARTITION BY query_id
      |                           ORDER BY sq DESC, corpus_id) AS rank
      |      FROM sc)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q228
  /** Streaming 3σ anomaly alerts ([[graft.streaming.Stateful
    * .runningAnomalies]]): each event tests against its key's running
    * moments BEFORE folding in — the live data-quality tripwire over
    * the same exact integer state as q193. The oracle replays the
    * prefix recurrence with 1-row-shifted window cumsums; the σ test
    * compares (v−μ)²>9σ² on values derived from identical integer
    * sums (no sqrt, no libm).
    */
  def q228(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Stateful, StreamOps}
    import s.implicits._
    val f = s"$dir/events.parquet"
    val src = ExtQueries.tsAsMicros(StreamOps.fileStream(s, f))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Stateful.TimedEvent]
    StreamOps.runBounded(s, f, "q228_anomaly", "append")(
      Stateful.runningAnomalies(s, src, minN = 10))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"), col("n_prior"))
      .orderBy("user_id", "event_id")
  }
  val q228Sql: String =
    """WITH q AS (SELECT user_id, event_id, value,
      |    CAST(floor(value * 10000.0e0 + 0.5e0) AS BIGINT) AS qv,
      |    row_number() OVER w AS rn,
      |    coalesce(CAST(sum(CAST(floor(value * 10000.0e0 + 0.5e0)
      |      AS BIGINT)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING) AS BIGINT), 0) AS s1,
      |    coalesce(CAST(sum(CAST(floor(value * 10000.0e0 + 0.5e0)
      |      AS BIGINT) * CAST(floor(value * 10000.0e0 + 0.5e0) AS BIGINT))
      |      OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) AS s2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id, round(value, 6) AS value,
      |  (rn - 1)::BIGINT AS n_prior
      |FROM q
      |WHERE rn - 1 >= 10
      |  AND (value - (s1::DOUBLE / (rn - 1)) / 10000.0e0)
      |      * (value - (s1::DOUBLE / (rn - 1)) / 10000.0e0)
      |      > 9.0e0 * ((s2::DOUBLE / (rn - 1)
      |                  - (s1::DOUBLE / (rn - 1)) * (s1::DOUBLE / (rn - 1)))
      |                 / 100000000.0e0)
      |ORDER BY user_id, event_id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q227_maxsim" -> (q227 _),
    "q228_stream_anomaly" -> (q228 _))

  val oracles: Map[String, String] = Map(
    "q227_maxsim" -> q227Sql,
    "q228_stream_anomaly" -> q228Sql)
}
