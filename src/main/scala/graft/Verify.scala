package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev iteration only — the driver passes two):
    // comma-separated query names to dump, e.g. "q68_...,q69_..."
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // correctness gate runs THE session config the bench times (one
    // shared builder — graft.Sessions; round-9 advice)
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // one scope per query: what a query caches or checkpoints is freed
      // before the next one starts
      try graft.exec.Scope.run(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // one `"name": "sql"` pair per query, every string escaped by
    // Jackson (quotes, backslashes, control characters)
    val mapper = new ObjectMapper()
    def obj(m: Map[String, String]): String = m.map { case (k, v) =>
      s"${mapper.writeValueAsString(k)}: ${mapper.writeValueAsString(v)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    // sf1-tier invariant oracles (linear DuckDB checks over the engine
    // output + raw tables; zero rows = pass) — consumed by
    // scripts/check_sf1_run.py for the queries whose full oracles are
    // quadratic at the 10x step
    Files.writeString(Paths.get(s"$outDir/sf1_invariants.json"),
      obj(graft.queries.Sf1Invariants.sql))
    spark.stop()
  }
}
