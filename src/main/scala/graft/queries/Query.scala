package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, the plan it builds over a table directory,
  * and the DuckDB SQL that checks its result on the same tables. Each
  * query set declares its queries once, as a `Seq[Query]`.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {
  /** Index queries by name. A name declared twice is an error that names
    * every duplicate — a map concatenation would silently keep the last.
    */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
