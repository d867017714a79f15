package graft

/** Dev-only: time the QS env-var query list at sf0.1 (or QS_DIR) on the
  * shared `graft.Sessions` config, each run written to the same noop sink
  * as graft.Bench. REPS sets runs per query (default 2); QCONF takes
  * extra session confs as "k=v;k=v" for config A/B tests (runtime
  * SQLConfs only).
  */
object DevQTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("QS_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("QCONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
        println(s"[devqtime] conf $k=$v")
      })
    // allow timing at the synthesized 10x step without running Bench
    if (sfDir.endsWith("benchdata/sf1"))
      BenchData.ensureScaled(spark, "/root/testdata/sf0.1", sfDir, factor = 10)
    val qs = sys.env.getOrElse("QS", "q89_bigram_lm").split(",").toSeq
    val reps = sys.env.getOrElse("REPS", "2").toInt
    for (name <- qs; rep <- 1 to reps) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // match graft.Bench semantics: every timed run starts uncached
      spark.catalog.clearCache()
      println(f"$name rep=$rep time=$dt%.2f s")
    }
    spark.stop()
  }
}
