package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (per-suite sessions would
  * dominate test wall-clock), on the engine config the bench times.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
