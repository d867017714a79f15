package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-7 "wave 71" query set (q414): the compression-ratio quality
  * gate — deflate(text)/len(text) via the native
  * [[graft.expr.DeflateLen]] kernel, censused over the original corpus
  * vs a planted repeated-4× twin class. Raw zlib lengths are not
  * engine-portable, so the oracle checks the q14/q17-style INVARIANTS:
  * class sizes exactly, ratios inside the documented band, and the
  * repeated class compressing strictly better than the originals (the
  * separation the gate exists to detect).
  */
object Wave71Queries {
  import CoreQueries.T

  private def deflateLen(c: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(
      graft.expr.DeflateLen(GraftExpressionBridge.expression(c)))
  }

  // ---------------------------------------------------------------- q414
  /** One narrow pass per class (the kernel runs inside whole-stage
    * codegen; ratios quantize to 1e-6 before the DECIMAL-free integer
    * mean), one 2×2 crossJoin of the per-class aggregates for the
    * cross-class ordering flag. No shuffle beyond the two-row
    * aggregation.
    */
  def q414(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.select(lit("original").as("cls"), col("text"))
      .unionByName(docs.select(lit("repeated4x").as("cls"),
        concat(col("text"), lit(" "), col("text"), lit(" "), col("text"),
          lit(" "), col("text")).as("text")))
    val per = corpus.select(col("cls"),
      floor(deflateLen(col("text")).cast("double")
        / octet_length(col("text")).cast("double") * 1000000.0 + 0.5)
        .cast("long").as("q"))
    val agg = per.groupBy("cls")
      .agg(count(lit(1)).as("n_docs"), sum("q").as("sq"),
        min("q").as("mn"), max("q").as("mx"))
    val means = agg.select(col("cls"), col("n_docs"), col("mn"), col("mx"),
      (col("sq").cast("double") / col("n_docs").cast("double")).as("mean"))
    val other = means.select(col("cls").as("cls2"), col("mean").as("mean2"))
    means.join(other, col("cls") =!= col("cls2"))
      .select(col("cls"), col("n_docs"),
        (col("mn") > 0L && col("mx") <= 1500000L).as("ratio_bounded"),
        (col("mean") < col("mean2")).as("compresses_better"))
      .orderBy("cls")
  }
  val q414Sql: String =
    """SELECT 'original' AS cls, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(1 AS BOOLEAN) AS ratio_bounded,
      |  CAST(0 AS BOOLEAN) AS compresses_better
      |FROM documents
      |UNION ALL
      |SELECT 'repeated4x', CAST(count(*) AS BIGINT),
      |  CAST(1 AS BOOLEAN), CAST(1 AS BOOLEAN)
      |FROM documents
      |ORDER BY cls""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q414_compression_gate", q414, q414Sql))
}
