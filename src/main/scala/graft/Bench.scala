package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Benchmark main -> one JSON line for the driver's BENCH_r{N}.json.
  *
  * Headline metric = the BASELINE.md-comparable workload: lineitem TSV
  * ingest (sniffed sep, inferred schema) -> melt to long form (ids =
  * l_orderkey, l_linenumber; 8 value columns, x8 row blowup) -> parquet
  * write, i.e. the reference's measured end-to-end pipeline
  * (`run_annotate.py:20-28` + `:202-211` + `:188` semantics). The TSV
  * fixture dump is test INPUT (the reference starts from existing TSV)
  * and is cached, not timed.
  *
  * ONE PROFILE, sized for the driver's wall-clock budget (the round-7
  * lesson: a 900 s quiet gate, median-of-5 and a double sf1 pass no
  * longer fit it; BENCH_r07.json was rc:124/parsed:null): quiet gate
  * capped at 120 s, 2 runs per query (min reported), ONE sf1 pass over
  * the top 50, cool-downs capped at 5 s, sf1 section budget 1200 s.
  * The record's `"sf10"` key stays, always null.
  *
  * INCREMENTAL FLUSH: the sf0.1 record (full line to bench_full.json +
  * stdout, compact headline line after it, both with "sf1":null) is
  * emitted BEFORE the sf1 section starts, so even a driver timeout
  * mid-sf1 leaves a parseable last-line record. The final lines with
  * the sf1 section replace them on a clean finish.
  *
  * Hygiene:
  *  - QUIET GATE: before any timing, wait (bounded) for the 1-min
  *    loadavg to fall under SPARK_GRAFT_QUIET_LOAD (default 1.5). The
  *    wait and the loadavg timing started at are in the record.
  *  - "queries" carries the min across runs (the standard one-sided-
  *    noise estimator, and the driver-compatible key),
  *    "queries_median" the median, "queries_loadavg" the 1-min loadavg
  *    at each query's first run — contended measurements stay
  *    identifiable per query.
  *
  * A query that fails any run reports the -1.0 sentinel and its name
  * under "errors", so a crash is never mistaken for a fast success.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // session config SHARED with Verify and the DevPlan dumper (one
    // builder — graft.Sessions — so committed plan evidence can never
    // drift from the config the bench actually runs; round-9 advice)
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sfName = Paths.get(sfDir).getFileName.toString
    // warm the session (JVM/codegen/FS init charged to nobody)
    graft.io.Parquet.read(spark, s"$sfDir/region.parquet").count()

    // -- headline: ingest -> melt -> parquet (reference semantics) -----
    val meltValues = Seq("l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus")
    def tsvFor(dir: String): String = {
      val tsv = graft.queries.CoreQueries.fixDir(dir) + "/bench_lineitem_tsv"
      if (!Files.exists(Paths.get(s"$tsv/_SUCCESS")))
        graft.io.Parquet.read(spark, s"$dir/lineitem.parquet")
          .write.mode("overwrite").option("sep", "\t")
          .option("header", "true").csv(tsv)
      tsv
    }
    def runE2eIn(dir: String, opts: graft.model.ReadOpts): Double = {
      val tsv = tsvFor(dir)
      val outName = Paths.get(dir).getFileName.toString
      val t0 = System.nanoTime()
      val ingested = graft.io.DsvReader.read(spark, s"$tsv/*.csv", opts)
        .select(("l_orderkey" +: "l_linenumber" +: meltValues).map(col): _*)
      val casted = meltValues.foldLeft(ingested)(
        (d, c) => d.withColumn(c, col(c).cast("string")))
      val long = graft.ops.Melt.melt(casted,
        Seq("l_orderkey", "l_linenumber"), meltValues)
      long.write.mode("overwrite").parquet(s"/tmp/graft_bench_out_$outName")
      (System.nanoTime() - t0) / 1e9
    }
    def runE2e(opts: graft.model.ReadOpts): Double = runE2eIn(sfDir, opts)
    // headline: full inference (pandas-equivalent semantics; what
    // BASELINE.md measured), best of 2 runs (first run pays one-off JIT
    // and FS cache effects the baseline measurement also excluded).
    // The sample-inference variant (one data pass — the at-scale
    // default) is reported alongside in "queries".
    val e2e = math.min(runE2e(graft.model.ReadOpts()),
      runE2e(graft.model.ReadOpts()))
    val e2eSample = runE2e(graft.model.ReadOpts(sampleInference = true))

    // -- per-query timings: min/median of N, -1 sentinel on failure ----
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] =
      // each timed run starts with nothing cached or checkpointed
      try graft.exec.Scope.run(spark) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }

    def loadavg(): String =
      try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0)
      catch { case _: Throwable => "-1" }
    def loadavgD(): Double =
      try loadavg().toDouble catch { case _: Throwable => -1.0 }
    val loadStart = loadavg()
    // QUIET GATE: don't start timing into someone else's load spike.
    // The wait is capped at 120 s — a busy host then yields a noisier
    // record (the per-query loadavg column shows it) instead of no
    // record at all.
    val quietLoad = sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "1.5").toDouble
    val quietWaitCap = 120.0
    val quietT0 = System.nanoTime()
    while (loadavgD() >= quietLoad &&
        (System.nanoTime() - quietT0) / 1e9 < quietWaitCap) {
      System.err.println(s"[bench] loadavg ${loadavg()} >= $quietLoad — waiting")
      Thread.sleep(15000)
    }
    val quietWait = math.rint((System.nanoTime() - quietT0) / 1e9)
    val loadTimingStart = loadavg()
    val nRuns = 2
    // dev iteration: SPARK_GRAFT_BENCH_ONLY=q13_minhash_neardup,q53_...
    // times just those queries (the driver never sets it — full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // name -> (min, median, loadavg at first run)
    val results = selected.map { case (name, fn) =>
      val la = loadavgD()
      val runs = (1 to nRuns).map(_ => timeOnce(fn))
      runs.collectFirst { case Left(msg) => msg } match {
        case Some(msg) =>
          System.err.println(s"[bench] $name failed: $msg")
          name -> (-1.0, -1.0, la)
        case None =>
          val ts = runs.collect { case Right(s) => s }.sorted
          name -> (ts.head, ts(ts.length / 2), la)
      }
    }
    val loadEnd = loadavg()
    val errors = results.collect { case (n, (v, _, _)) if v < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    val qs = obj(results.map { case (k, (mn, _, _)) => k -> mn } :+
      ("e2e_sample_inference" -> e2eSample))
    val qsMed = obj(results.map { case (k, (_, md, _)) => k -> md })
    val qsLoad = obj(results.map { case (k, (_, _, la)) => k -> la })
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val slowest = obj(results.filter(_._2._1 >= 0).sortBy(-_._2._1).take(15)
      .map { case (k, (mn, _, _)) => k -> r3(mn) })
    def fullLine(sf1Json: String): String =
      s"""{"metric":"e2e_ingest_melt_parquet","value":$e2e,"unit":"sec","runs_per_query":$nRuns,"queries":$qs,"queries_median":$qsMed,"queries_loadavg":$qsLoad,"errors":$errors,"loadavg_start":$loadStart,"loadavg_at_timing_start":$loadTimingStart,"quiet_wait_sec":$quietWait,"loadavg_end":$loadEnd,"sf":"$sfName","slowest_min_sec":$slowest,"sf1":$sf1Json,"sf10":null}"""
    // FINAL-LINE CONTRACT (round-8 lesson — BENCH_r08.json was rc:0 but
    // parsed:null): the LAST stdout line must be the minimal r6-shaped
    // object {metric,value,unit,sf,n_queries,errors} — the exact shape
    // the driver parsed in rounds 4–6. Everything else (per-query
    // timings, slowest list, the whole sf1 section) lives ONLY in
    // bench_full.json and in the full line printed EARLIER in the log;
    // the headline stays a one-short-line record that survives any
    // tail truncation and any trailing build-tool epilogue.
    def headline: String =
      s"""{"metric":"e2e_ingest_melt_parquet","value":$e2e,"unit":"sec","sf":"$sfName","n_queries":${results.size},"errors":$errors}"""
    val fullPath = Paths.get("bench_full.json").toAbsolutePath
    def emit(sf1Json: String): Unit = {
      Files.writeString(fullPath, fullLine(sf1Json) + "\n")
      println(fullLine(sf1Json))
      println(headline)
    }
    // INCREMENTAL FLUSH: a parseable record exists from this point on —
    // a timeout inside the sf1 section can no longer cost the artifact.
    emit("null")

    // -- sf1 section: one order-of-magnitude scale step ----------------
    // The slow tail at 10× the gate scale, over the top-N queries by
    // THIS run's sf0.1 median (dynamic, so a regression anywhere in the
    // suite surfaces, not just in a hard-coded list): one pass over the
    // top 50 inside a 1200 s budget.
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      s"${graft.queries.CoreQueries.benchdataRoot}/sf1")
    val sf1Json: String =
      if (sfName == "sf0.1" &&
          sys.env.getOrElse("SPARK_GRAFT_SF1", "1") == "1") {
        try {
          BenchData.ensureScaled(spark, sfDir, sf1Dir, factor = 10)
          val e2e1a = runE2eIn(sf1Dir, graft.model.ReadOpts())
          val e2e1b = runE2eIn(sf1Dir, graft.model.ReadOpts())
          // tier widened 25 → 50 (round-8 verdict task 6): with the sf1
          // blob out of the headline the parse risk is gone and the
          // budget guard below still truncates, never overruns
          val topN = 50
          // rank by MIN, not median: with 2 runs the median IS the max,
          // and a query whose first run built a one-time fixture (q185's
          // bucketed tables after a testdata regen) would leak into the
          // tier on its build cost, then post a nonsense sf1 ratio
          val top = results.filter(_._2._1 >= 0)
            .sortBy { case (_, (mn, _, _)) => -mn }.take(topN).map(_._1)
          // driver budget 600 → 1200 with the tier widened to 50 (the
          // 38-minute driver-profile rehearsal covered 49/50 inside
          // 900 s — one short; the guard still truncates instead of
          // overrunning, so the extra headroom only ever buys coverage)
          val budgetSec = 1200.0
          val t0 = System.nanoTime()
          // bounded cool-down between queries: back-to-back sf1 runs
          // self-heat the box (measured loadavg climbing 4 → 14 across
          // the section, inflating the late queries' ratios ~2×); a
          // short wait restores comparability without letting one
          // query's heat bill the next — capped so the section's wall
          // clock stays bounded even on a busy host
          val coolTo =
            sys.env.getOrElse("SPARK_GRAFT_SF1_COOL_LOAD", "6.0").toDouble
          // 8 → 5 s with the 50-query tier: worst-case cooldown spend
          // stays ≤ 250 s of the budget instead of 400
          val coolCapSec = 5
          def coolDown(): Unit = {
            var waited = 0
            while (loadavgD() > coolTo && waited < coolCapSec) {
              Thread.sleep(2000); waited += 2
            }
          }
          val r1 = top.flatMap { name =>
            if ((System.nanoTime() - t0) / 1e9 > budgetSec) None
            else {
              coolDown()
              val la = loadavgD()
              timeOnce({ (s, _) =>
                SparkEntry.queries(name)(s, sf1Dir) }) match {
                case Right(sec) => Some(name -> (sec, la))
                case Left(msg) =>
                  System.err.println(s"[bench] sf1 $name failed: $msg")
                  Some(name -> (-1.0, la))
              }
            }
          }.toMap
          val sf01 = results.toMap
          val ratio = top.flatMap { n =>
            (r1.get(n).map(_._1).filter(_ >= 0), sf01.get(n)) match {
              case (Some(b), Some((mn, _, _))) if mn > 0 =>
                Some(n -> math.rint(b / mn * 100) / 100)
              case _ => None
            }
          }
          val la1 = top.flatMap(n => r1.get(n).map(v => n -> v._2))
          s"""{"e2e_ingest_melt_parquet_r1":$e2e1a,"e2e_ingest_melt_parquet_r2":$e2e1b,"queries_r1":${obj(top.flatMap(n => r1.get(n).map(v => n -> v._1)))},"queries_loadavg":${obj(la1)},"ratio_vs_sf01":${obj(ratio)}}"""
        } catch { case e: Throwable =>
          System.err.println(s"[bench] sf1 section failed: ${e.getMessage}")
          "null"
        }
      } else "null"

    emit(sf1Json)
    System.out.flush()
    // hard-exit: the record is on disk and on stdout; JVM/sbt teardown
    // after a 850-job run measured ~4 minutes of the driver's budget
    // (context cleaner drain + temp-dir sweeps the shutdown hook redoes
    // anyway). Exit code 0 is the contract.
    System.exit(0)
  }
}
