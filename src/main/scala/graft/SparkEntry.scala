package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see SURVEY.md §7. Queries live in `graft.queries`,
  * one `Seq[Query]` per set; operator implementations in
  * graft.{io, ops, exec, streaming, model}.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q07(spark, "/root/testdata/sf0.001")

  /** Every query set, listed once; a name declared twice fails here. */
  private val registry: Map[String, Query] = Query.index(Seq(
      CoreQueries.queries, ExtQueries.queries, PipeQueries.queries,
      Wave4Queries.queries, Wave5Queries.queries, Wave6Queries.queries,
      Wave7Queries.queries, Wave8Queries.queries, Wave9Queries.queries,
      Wave10Queries.queries, Wave11Queries.queries, Wave12Queries.queries,
      Wave13Queries.queries, Wave14Queries.queries, Wave15Queries.queries,
      Wave16Queries.queries, Wave17Queries.queries, Wave18Queries.queries,
      Wave19Queries.queries, Wave20Queries.queries, Wave21Queries.queries,
      Wave22Queries.queries, Wave23Queries.queries, Wave24Queries.queries,
      Wave25Queries.queries, Wave26Queries.queries, Wave27Queries.queries,
      Wave28Queries.queries, Wave29Queries.queries, Wave30Queries.queries,
      Wave31Queries.queries, Wave32Queries.queries, Wave33Queries.queries,
      Wave34Queries.queries, Wave35Queries.queries, Wave36Queries.queries,
      Wave37Queries.queries, Wave38Queries.queries, Wave39Queries.queries,
      Wave40Queries.queries, Wave41Queries.queries, Wave42Queries.queries,
      Wave43Queries.queries, Wave44Queries.queries, Wave45Queries.queries,
      Wave46Queries.queries, Wave47Queries.queries, Wave48Queries.queries,
      Wave49Queries.queries, Wave50Queries.queries, Wave51Queries.queries,
      Wave52Queries.queries, Wave53Queries.queries, Wave54Queries.queries,
      Wave55Queries.queries, Wave56Queries.queries, Wave57Queries.queries,
      Wave58Queries.queries, Wave59Queries.queries, Wave60Queries.queries,
      Wave61Queries.queries, Wave62Queries.queries, Wave63Queries.queries,
      Wave64Queries.queries, Wave65Queries.queries, Wave66Queries.queries,
      Wave67Queries.queries, Wave68Queries.queries, Wave69Queries.queries,
      Wave70Queries.queries, Wave71Queries.queries, Wave72Queries.queries,
      Wave73Queries.queries, Wave74Queries.queries, Wave75Queries.queries,
      Wave76Queries.queries, Wave77Queries.queries, Wave78Queries.queries,
      Wave79Queries.queries, Wave80Queries.queries, Wave81Queries.queries,
      Wave82Queries.queries, Wave83Queries.queries, Wave84Queries.queries,
      Wave85Queries.queries, Wave86Queries.queries, Wave87Queries.queries,
      Wave88Queries.queries, Wave89Queries.queries, Wave90Queries.queries,
      Wave91Queries.queries, Wave92Queries.queries, Wave93Queries.queries,
      Wave94Queries.queries, Wave95Queries.queries).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — every query is oracle-checked (the two
    * xxhash-based queries check engine-portable INVARIANTS of their
    * results; see q14/q17 scaladoc).
    */
  val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }
}
