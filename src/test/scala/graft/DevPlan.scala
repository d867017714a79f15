package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev-only plan dumper: `Test/runMain graft.DevPlan <tag> <q1,q2,...> [sfDir]`
  * writes `plans/r10/<query>_<tag>.txt` with the formatted physical plan
  * of each query under the EXACT Bench/Verify session config (the shared
  * `graft.Sessions` builder — AQE on, shuffle partitions = cores, and
  * the same shuffled-hash-join knobs, so committed plan evidence shows
  * the join strategies the bench actually runs; round-9 advice). Used to
  * commit the before/after plan evidence the optimization rounds require.
  */
object DevPlan {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val qs = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get("plans/r10")
    Files.createDirectories(outDir)
    for (name <- qs) {
      try graft.exec.Scope.run(spark) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
        val exch = "Exchange".r.findAllIn(plan).length
        println(s"[devplan] $name -> ${name}_$tag.txt (Exchange x$exch)")
      } catch {
        case e: Throwable => println(s"[devplan] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
