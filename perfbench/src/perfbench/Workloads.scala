package perfbench

import graft.SparkEntry
import graft.exec.{Annotator, Runner}
import graft.io.{DsvReader, ParquetSink, Sniffer}
import graft.model.{FieldsCatalog, ManifestParser, ManifestWriter}
import graft.ops.{Melt, Tokens}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path, Paths}

/** One timed operation: a manifest command, an ingest pass or a query. */
final case class Op(name: String, seconds: Double, ok: Boolean) {
  def asMap: Map[String, Any] = Map("name" -> name, "s" -> seconds, "ok" -> ok)
}

/** A workload drives graft through its public entry points only. */
trait Workload {
  /** Small untimed run that ends each set-up (JIT, class loading). */
  def warmUp(spark: SparkSession): Unit

  /** Untimed work after set-up and before the timed phase. */
  def prepare(spark: SparkSession): Seq[Op] = Nil

  /** One pass of the workload's unit of work, one op after another. */
  def pass(spark: SparkSession, p: Probe): Seq[Op]

  /** Per-layer numbers of a traced pass, from its spans and counters. */
  def layers(p: Probe, pass: Int, wallS: Double): Map[String, Double]

  /** Extra traced-run measurements, taken outside any pass's wall: layer
    * numbers and the ops they ran.
    */
  def probes(spark: SparkSession, p: Probe): (Map[String, Double], Seq[Op]) =
    (Map.empty, Nil)
}

object Workload {
  def timed(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    Op(name, (System.nanoTime() - t0) / 1e9, ok)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Parquet part files and their bytes under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      val fs = s.filter(f => f.toString.endsWith(".parquet") &&
        Files.isRegularFile(f)).toArray.map(_.asInstanceOf[Path])
      (fs.length.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  def sinkLayers(p: Probe, pass: Int, outDir: String): Map[String, Double] = {
    val w = p.engine(pass, "io.ParquetSink.write")
    val (files, bytes) = parquetFiles(outDir)
    Map("io.ParquetSink.write_s" ->
        p.selfSeconds(pass).getOrElse("io.ParquetSink.write", 0.0),
      "io.ParquetSink.write_jobs" -> w.jobs.toDouble,
      "io.ParquetSink.tasks" -> w.tasks.toDouble,
      "io.ParquetSink.files_out" -> files.toDouble,
      "io.ParquetSink.bytes_out" -> bytes.toDouble,
      "io.ParquetSink.rows_out" -> w.outRows.toDouble)
  }
}

/** The reference's own job, run once per traced ingest run: annotate a
  * Cirro-shaped dataset into a manifest, round-trip it through
  * ManifestWriter/ManifestParser, then run each command as its own
  * one-command manifest, with Runner.run's two steps traced apart.
  */
final class ManifestProbe(in: String, work: String) {
  import Workload._
  private val dataDir = s"$in/data"
  private val outDir = s"$work/out"
  private val manifestPath = s"$work/manifest.json"
  private val config = Annotator.Config.parseFile(s"$in/config.json")
  private val catalog = FieldsCatalog.parseFile(s"$in/fields.json")

  def run(spark: SparkSession, p: Probe, pass: Int): (Map[String, Double], Seq[Op]) = {
    Files.createDirectories(Paths.get(work))
    p.startPass(pass, traced = true)
    val ops = try commands(spark, p) finally p.endPass()
    (layers(p, pass) ++ sniffAndScan(spark), ops)
  }

  private def commands(spark: SparkSession, p: Probe): Seq[Op] = {
    val result = p.span("exec.Annotator.annotate") {
      Annotator.annotate(in, config, catalog)
    }
    p.span("model.ManifestWriter.write") {
      ManifestWriter.writeFile(manifestPath, result.manifest)
    }
    val json = Files.readString(Paths.get(manifestPath))
    val manifest = p.span("model.ManifestParser.parse") {
      ManifestParser.parse(json)
    }
    manifest.commands.map { cmd =>
      p.forOp(cmd.target) {
        timed(cmd.target) {
          p.span("exec.Runner.run") {
            // Runner.run's body, split so each layer gets its own span
            val df = p.call("exec.Runner.plan") {
              Runner.plan(spark, cmd, dataDir)
            }
            p.call("io.ParquetSink.write") {
              ParquetSink.write(df, s"$outDir/${cmd.target}")
            }
          }
        }
      }
    }
  }

  private def layers(p: Probe, pass: Int): Map[String, Double] = {
    val self = p.selfSeconds(pass)
    Map("exec.Annotator.annotate_s" ->
        self.getOrElse("exec.Annotator.annotate", 0.0),
      "model.ManifestParser.parse_s" ->
        self.getOrElse("model.ManifestParser.parse", 0.0),
      "exec.Runner.plan_s" -> self.getOrElse("exec.Runner.plan", 0.0),
      "exec.Runner.plan_jobs" ->
        p.engine(pass, "exec.Runner.plan").jobs.toDouble,
      "exec.Runner.write_s" -> self.getOrElse("io.ParquetSink.write", 0.0),
      "exec.Runner.write_jobs" ->
        p.engine(pass, "io.ParquetSink.write").jobs.toDouble)
  }

  /** Standalone sniff of each command's source, and the files the
    * annotate step scans.
    */
  private def sniffAndScan(spark: SparkSession): Map[String, Double] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val commands = ManifestParser.parse(
      Files.readString(Paths.get(manifestPath))).commands
    val files = commands.flatMap { cmd =>
      Sniffer.firstMatchingFile(
        Tokens.toGlob(Tokens.resolveDataDirectory(cmd.source, dataDir)), conf)
    }
    val t0 = System.nanoTime()
    files.foreach(f => Sniffer.sniffSep(f, conf))
    Map("io.Sniffer.sniff_s" -> seconds(t0),
      "io.Sniffer.calls" -> files.size.toDouble,
      "exec.Annotator.files_scanned" ->
        Annotator.listFiles(in, config.extensions).size.toDouble)
  }
}

/** The BASELINE-comparable headline: sniffed, fully inferred DSV read of
  * lineitem TSV parts, project, cast, melt over 8 value columns, Parquet.
  */
final class IngestBulk(in: String, work: String) extends Workload {
  import Workload._
  private val ids = Seq("l_orderkey", "l_linenumber")
  private val values = Seq("l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
  private val outDir = s"$work/out"

  private def read(spark: SparkSession, dir: String): DataFrame =
    DsvReader.read(spark, s"$dir/*.tsv").select((ids ++ values).map(col): _*)

  private def melt(df: DataFrame): DataFrame =
    Melt.melt(values.foldLeft(df)((d, c) => d.withColumn(c,
      col(c).cast("string"))), ids, values)

  def warmUp(spark: SparkSession): Unit =
    ParquetSink.write(melt(read(spark, s"$in/warm")), s"$work/warm")

  /** One untimed full pass, so every timed pass runs warm. */
  override def prepare(spark: SparkSession): Seq[Op] = Seq(timed("prepare") {
    ParquetSink.write(melt(read(spark, s"$in/tsv")), outDir)
  })

  def pass(spark: SparkSession, p: Probe): Seq[Op] = Seq(timed("ingest") {
    val df = p.call("io.DsvReader.read")(read(spark, s"$in/tsv"))
    val long = p.span("ops.Melt.melt")(melt(df))
    p.call("io.ParquetSink.write")(ParquetSink.write(long, outDir))
  })

  def layers(p: Probe, pass: Int, wallS: Double): Map[String, Double] =
    sinkLayers(p, pass, outDir)

  /** The headline's cumulative layer prefixes (inference at plan build,
    * + scan and NA-clean, + cast and melt, + Parquet write), then one
    * traced run of the manifest probe.
    */
  override def probes(spark: SparkSession, p: Probe)
      : (Map[String, Double], Seq[Op]) = {
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    var t0 = System.nanoTime()
    read(spark, s"$in/tsv")
    val infer = seconds(t0)
    t0 = System.nanoTime()
    noop(read(spark, s"$in/tsv"))
    val scan = seconds(t0)
    t0 = System.nanoTime()
    noop(melt(read(spark, s"$in/tsv")))
    val melted = seconds(t0)
    t0 = System.nanoTime()
    ParquetSink.write(melt(read(spark, s"$in/tsv")), s"$work/probe_out")
    val written = seconds(t0)
    val (manifest, ops) = new ManifestProbe(s"$in/manifest",
      s"$work/manifest").run(spark, p, pass = Int.MaxValue)
    (manifest ++ Map("io.DsvReader.infer_s" -> infer,
      "io.DsvReader.scan_s" -> (scan - infer),
      "ops.Melt.added_s" -> (melted - scan),
      "io.ParquetSink.added_s" -> (written - melted)), ops)
  }
}

/** The operator library: a seed-shuffled order of graft queries, each
  * result to a noop sink followed by `clearCache()`, as graft.Bench
  * times them.
  */
final class QueryMix(in: String, work: String, order: Seq[String],
                     cores: Int) extends Workload {
  import Workload._
  private val tables = s"$in/tables"
  private val retained = scala.collection.mutable.Map.empty[Int, Int]

  /** Derived fixtures the queries build (TxLog tables, HDF5 exports,
    * stream inputs) go under this run's work directory instead of the
    * library's default fixture root.
    */
  def redirectFixtures(): Unit = {
    val fixRoot = s"$work/fix"
    val f = Class.forName("graft.queries.CoreQueries$")
      .getDeclaredField("fixDirCache")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.concurrent.ConcurrentHashMap[String, String]]
      .put(tables, fixRoot)
    val got = graft.queries.CoreQueries.fixDir(tables)
    require(got == fixRoot, s"fixture root not redirected: $got")
  }

  def warmUp(spark: SparkSession): Unit =
    SparkEntry.queries("q07_groupagg")(spark, tables)
      .write.format("noop").mode("overwrite").save()

  /** Each query once, its result kept for the oracle check; this also
    * builds every query's lazy on-disk fixtures before timing.
    */
  override def prepare(spark: SparkSession): Seq[Op] = {
    val ops = order.map { name =>
      try timed(s"prepare:$name") {
        SparkEntry.queries(name)(spark, tables).write.mode("overwrite")
          .parquet(s"$work/results/$name")
      } finally spark.catalog.clearCache()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }
    val invariants = graft.queries.Sf1Invariants.sql
      .filter { case (k, _) => order.contains(k) }
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json.render(oracles))
    Files.writeString(Paths.get(s"$work/invariants.json"),
      Json.render(invariants))
    ops
  }

  def pass(spark: SparkSession, p: Probe): Seq[Op] = {
    var maxRetained = 0
    val ops = order.map { name =>
      p.forOp(name) {
        try timed(name) {
          val df = p.call("queries.plan")(SparkEntry.queries(name)(spark, tables))
          p.call("queries.exec") {
            df.write.format("noop").mode("overwrite").save()
          }
        } finally {
          spark.catalog.clearCache()
          maxRetained = math.max(maxRetained,
            spark.sparkContext.getPersistentRDDs.size)
        }
      }
    }
    retained(p.passIndex) = maxRetained
    ops
  }

  def layers(p: Probe, pass: Int, wallS: Double): Map[String, Double] = {
    val self = p.selfSeconds(pass)
    val plan = p.engine(pass, "queries.plan")
    val exec = p.engine(pass, "queries.exec")
    val all = new Counters
    all += plan
    all += exec
    val perQuery = order.flatMap { name =>
      val s = p.selfSeconds(pass, Some(name))
      val jobs = p.engine(pass, "queries.plan", Some(name)).jobs +
        p.engine(pass, "queries.exec", Some(name)).jobs
      Seq(s"queries.$name.s" ->
          (s.getOrElse("queries.plan", 0.0) + s.getOrElse("queries.exec", 0.0)),
        s"queries.$name.jobs" -> jobs.toDouble)
    }
    Map("queries.plan_s" -> self.getOrElse("queries.plan", 0.0),
      "queries.plan_jobs" -> plan.jobs.toDouble,
      "queries.exec_s" -> self.getOrElse("queries.exec", 0.0),
      "queries.jobs" -> all.jobs.toDouble,
      "queries.stages" -> all.stages.toDouble,
      "queries.tasks" -> all.tasks.toDouble,
      "queries.shuffle_mb" -> all.shuffleWriteB / 1e6,
      "queries.spill_mb" -> all.spillB / 1e6,
      "queries.executor_util" -> all.execRunMs / 1e3 / (wallS * cores),
      "queries.retained_rdds" -> retained.getOrElse(pass, 0).toDouble) ++
      perQuery
  }
}
