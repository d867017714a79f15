package perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** The benchmark's JVM side: set-up (repeated), untimed prepare, the
  * timed closed loop of passes, and a raw result file for run.py.
  *
  * Arguments are key=value pairs: workload, in (generated inputs), work
  * (scratch and outputs), seconds, trace (0/1), cores, launch_ms (the
  * wall-clock time the JVM was launched), setups.
  */
object GraftBench {
  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val in = a("in")
    val work = a("work")
    val cores = a("cores")
    val trace = a("trace") == "1"
    val timedNs = (a("seconds").toDouble * 1e9).toLong
    val w: Workload = a("workload") match {
      case "ingest_bulk" => new IngestBulk(in, work)
      case "query_mix" =>
        val order = Files.readAllLines(Paths.get(s"$in/order.txt"))
          .toArray.map(_.toString).filter(_.nonEmpty).toSeq
        val q = new QueryMix(in, work, order, cores.toInt)
        q.redirectFixtures()
        q
      case other => throw new IllegalArgumentException(s"workload $other")
    }

    // set-up, repeated: the first one counts from the JVM launch, the
    // others stop the session and build it again in the warm JVM
    val setups = (1 to a("setups").toInt).map { i =>
      val t0 = System.nanoTime()
      val sinceLaunch =
        if (i == 1) (System.currentTimeMillis() - a("launch_ms").toLong) / 1e3
        else 0.0
      SparkSession.getActiveSession.foreach { s =>
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t1 = System.nanoTime()
      val spark = Sessions.builder(cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val session = Workload.seconds(t1)
      val t2 = System.nanoTime()
      w.warmUp(spark)
      val warm = Workload.seconds(t2)
      Map("total_s" -> (sinceLaunch + Workload.seconds(t0)),
        "session_s" -> session, "warmup_s" -> warm)
    }
    val spark = SparkSession.active

    val prepared = w.prepare(spark)

    // timed phase: whole passes until the time is up. A traced run
    // alternates untraced and traced passes, at least three, so the
    // tracing overhead compares passes that both follow the first one
    val probe = new Probe(spark, s"${a("workload")}-${a("launch_ms")}")
    val passes = Seq.newBuilder[Map[String, Any]]
    val start = System.nanoTime()
    var i = 0
    while (System.nanoTime() - start < timedNs || (trace && i < 3)) {
      val traced = trace && i % 2 == 1
      probe.startPass(i, traced)
      val t0 = System.nanoTime()
      val ops = try w.pass(spark, probe) finally probe.endPass()
      val wall = Workload.seconds(t0)
      val layers = if (traced) w.layers(probe, i, wall) else Map.empty
      passes += Map("index" -> i, "traced" -> traced, "wall_s" -> wall,
        "ops" -> ops.map(_.asMap), "layers" -> layers)
      i += 1
    }
    val (probes, probeOps) =
      if (trace) w.probes(spark, probe) else (Map.empty, Nil)

    val result = Map(
      "setups" -> setups,
      "prepare" -> prepared.map(_.asMap),
      "passes" -> passes.result(),
      "probes" -> probes,
      "probe_ops" -> probeOps.map(_.asMap),
      "peak_rss_kb" -> peakRssKb())
    Files.writeString(Paths.get(s"$work/result.json"), Json.render(result))
    if (trace) Files.writeString(Paths.get(s"$work/spans.jsonl"),
      probe.spansJsonl)
    spark.stop()
  }

  /** The process's resident-set high-water mark (VmHWM). */
  def peakRssKb(): Long = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }
}
