package graft.cli

import graft.exec.{Annotator, Runner}
import graft.io.{Hdf5Source, Parquet}
import graft.model.{FieldsCatalog, ManifestParser, ManifestWriter}
import org.apache.spark.sql.SparkSession

/** Non-interactive CLI (SURVEY §7.1 cli/Main): the reference's
  * `annotate` command with prompts replaced by config, plus the manifest
  * executor and the HDF5 conversion.
  *
  *   annotate --input DIR [--config c.json] [--fields f.json]
  *            [--out manifest.json] [--write-back]
  *   run      --manifest m.json --data-dir DIR --out DIR [--single-file]
  *   hdf2parquet --in GLOB --out DIR
  */
object Main {

  private def parseArgs(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect {
      case Seq(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Seq(k) if k.startsWith("--") => k.stripPrefix("--") -> "true"
    }.toMap

  private def session(): SparkSession = {
    val b = graft.Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("graft")
    sys.env.get("SPARK_GRAFT_MASTER").fold(b)(b.master).getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val opts = parseArgs(args.tail.toSeq)
    args.head match {
      case "annotate" => annotate(opts)
      case "run" => run(opts)
      case "hdf2parquet" => hdf2parquet(opts)
      case "parquet2hdf" => parquet2hdf(opts)
      case "profile" => profile(opts)
      case "curate" => curate(opts)
      case "shard" => shard(opts)
      case "score" => score(opts)
      case "clean" => clean(opts)
      case "diff" => diff(opts)
      case "trainorder" => trainorder(opts)
      case "eval" => eval(opts)
      case "table" =>
        if (args.length < 2) { usage(); sys.exit(2) }
        table(args(1), parseArgs(args.drop(2).toSeq))
      case other => System.err.println(s"unknown command: $other"); usage()
        sys.exit(2)
    }
  }

  /** Versioned table-log operations (graft.io.TxLog / TableChecks) —
    * the lakehouse surface as a CLI: append (optionally zone-mapped /
    * Bloom-indexed / constraint-gated), snapshot + time-travel reads,
    * merge-on-read delete, MERGE upsert, history, compaction (plain,
    * policy, or clustered), and vacuum.
    */
  private def table(verb: String, opts: Map[String, String]): Unit = {
    import graft.io.{TableChecks, TxLog}
    val spark = session()
    val t = req(opts, "table")
    verb match {
      case "append" =>
        val df = Parquet.read(spark, req(opts, "input"))
        val files = opts.getOrElse("target-files", "4").toInt
        val notNull = opts.get("not-null").toSeq
          .flatMap(_.split(",")).filter(_.nonEmpty)
        val uniq = opts.get("unique-key")
          .map(_.split(",").toSeq.filter(_.nonEmpty))
        val checks = opts.get("check").toSeq.map(c => ("cli", c))
        // constraints compose with indexing: the audit gates FIRST (a
        // violation aborts before any bytes land), then the chosen
        // commit flavor runs — previously --zone-col/--bloom-col
        // silently ignored the constraint flags (round-8 advice)
        if (notNull.nonEmpty || uniq.nonEmpty || checks.nonEmpty) {
          val bad = TableChecks.audit(df, notNull, checks, uniq)
            .filter(org.apache.spark.sql.functions.col("violations") > 0)
            .collect()
          if (bad.nonEmpty) {
            System.err.println(bad.map(r =>
              s"${r.getString(0)}=${r.getLong(1)}").mkString(
              s"constraint violations rejected append to $t: ", ", ", ""))
            sys.exit(3)
          }
        }
        val v = (opts.get("zone-col"), opts.get("bloom-col")) match {
          case (Some(z), _) => TxLog.commitWithZone(spark, t, df, z, files)
          case (_, Some(b)) => TxLog.commitWithBloom(spark, t, df, b,
            targetFiles = files)
          case _ => TxLog.commit(spark, t, df, files)
        }
        println(s"""{"version":$v}""")
      case "read" =>
        val version = opts.get("version").map(_.toInt)
        val df =
          if (opts.get("resolved").contains("true"))
            TxLog.readResolved(spark, t, version)
          else TxLog.read(spark, t, version)
        df.write.mode("overwrite").parquet(req(opts, "out"))
      case "delete" =>
        val v = TxLog.deleteWhere(spark, t, req(opts, "where"),
          req(opts, "keys").split(",").toSeq)
        println(s"""{"version":$v,"delete_vectors":${
          TxLog.deleteVectorCount(t)}}""")
      case "merge" =>
        val v = TxLog.merge(spark, t, Parquet.read(spark, req(opts, "input")),
          req(opts, "keys").split(",").toSeq,
          opts.getOrElse("target-files", "4").toInt)
        println(s"""{"version":$v}""")
      case "history" =>
        TxLog.history(spark, t).orderBy("version").collect().foreach { r =>
          println(s"""{"version":${r.getInt(0)},"n_dirs":${r.getInt(1)},""" +
            s""""dirs_added":${r.getInt(2)},"is_rewrite":${r.getBoolean(3)},""" +
            s""""dels_added":${r.getInt(4)}}""")
        }
      case "compact" =>
        val v = opts.get("cluster-col") match {
          case Some(c) => TxLog.compactClustered(spark, t, c,
            opts.getOrElse("buckets", "16").toInt)
          case None => opts.get("max-dirs") match {
            case Some(m) =>
              val (b, a, did) = TxLog.compactIfNeeded(spark, t, m.toInt,
                opts.getOrElse("target-files", "4").toInt)
              println(s"""{"dirs_before":$b,"dirs_after":$a,"compacted":$did}""")
              return
            case None => TxLog.compact(spark, t,
              opts.getOrElse("target-files", "4").toInt)
          }
        }
        println(s"""{"version":$v}""")
      case "vacuum" =>
        val n = TxLog.vacuum(t, opts.getOrElse("keep", "1").toInt)
        println(s"""{"dirs_deleted":$n}""")
      case "clone" =>
        val v = TxLog.cloneTable(t, req(opts, "dst"))
        println(s"""{"version":$v}""")
      case "restore" =>
        val v = TxLog.restore(t, req(opts, "version").toInt)
        println(s"""{"version":$v}""")
      case "analyze" =>
        TxLog.analyze(spark, t, req(opts, "cols").split(",").toSeq)
          .orderBy("col_name").collect().foreach { r =>
            def cell(i: Int): String =
              if (r.isNullAt(i)) "null" else r.getLong(i).toString
            println(s"""{"col":"${r.getString(0)}","ndv":${cell(1)},""" +
              s""""nulls":${cell(2)},"min":${cell(3)},"max":${cell(4)}}""")
          }
      case "branch" =>
        val b = req(opts, "name")
        val v = TxLog.branchCreate(t, b)
        println(s"""{"branch":"$b","version":$v}""")
      case "branch-append" =>
        val v = TxLog.branchAppend(spark, t, req(opts, "name"),
          Parquet.read(spark, req(opts, "input")),
          opts.getOrElse("target-files", "4").toInt)
        println(s"""{"branch":"${opts("name")}","version":$v}""")
      case "branch-read" =>
        TxLog.branchRead(spark, t, req(opts, "name"))
          .write.mode("overwrite").parquet(req(opts, "out"))
      case "publish" =>
        // write-audit-publish: the audit flags gate here the same way
        // they gate `append` — a violating branch is refused, not merged
        val b = req(opts, "name")
        val notNull = opts.get("not-null").toSeq
          .flatMap(_.split(",")).filter(_.nonEmpty)
        val uniq = opts.get("unique-key")
          .map(_.split(",").toSeq.filter(_.nonEmpty))
        val checks = opts.get("check").toSeq.map(c => ("cli", c))
        if (notNull.nonEmpty || uniq.nonEmpty || checks.nonEmpty) {
          val bad = TableChecks.audit(TxLog.branchRead(spark, t, b),
              notNull, checks, uniq)
            .filter(org.apache.spark.sql.functions.col("violations") > 0)
            .collect()
          if (bad.nonEmpty) {
            System.err.println(bad.map(r =>
              s"${r.getString(0)}=${r.getLong(1)}").mkString(
              s"audit rejected publish of branch $b to $t: ", ", ", ""))
            sys.exit(3)
          }
        }
        val v = TxLog.publish(t, b)
        println(s"""{"branch":"$b","published_version":$v}""")
      case "branch-delete" =>
        val n = TxLog.branchDelete(t, req(opts, "name"))
        println(s"""{"branch":"${opts("name")}","versions_removed":$n}""")
      case "branches" =>
        TxLog.branches(t).foreach { b =>
          println(s"""{"branch":"$b","head":${
            TxLog.branchVersions(t, b).last}}""")
        }
      case "tag" =>
        val v = TxLog.tagCreate(t, req(opts, "name"),
          opts.get("version").map(_.toInt))
        println(s"""{"tag":"${opts("name")}","version":$v}""")
      case "tags" =>
        TxLog.tags(t).toSeq.sortBy(_._1).foreach { case (tag, v) =>
          println(s"""{"tag":"$tag","version":$v}""")
        }
      case "tag-delete" =>
        TxLog.tagDelete(t, req(opts, "name"))
        println(s"""{"tag":"${opts("name")}","deleted":true}""")
      case "orphans" =>
        val grace = opts.getOrElse("grace-ms", "3600000").toLong
        TxLog.findOrphans(t, grace).foreach { d =>
          println(s"""{"orphan":"$d"}""")
        }
      case "vacuum-orphans" =>
        val n = TxLog.vacuumOrphans(t,
          opts.getOrElse("grace-ms", "3600000").toLong)
        println(s"""{"orphans_deleted":$n}""")
      case other =>
        System.err.println(s"unknown table verb: $other"); usage(); sys.exit(2)
    }
  }

  private def req(opts: Map[String, String], k: String): String =
    opts.getOrElse(k, {
      System.err.println(s"missing required --$k"); usage(); sys.exit(2)
    })

  private def annotate(opts: Map[String, String]): Unit = {
    val input = req(opts, "input")
    val config = opts.get("config").map(Annotator.Config.parseFile)
      .getOrElse(Annotator.Config())
    val fieldsPath = opts.get("fields")
    val catalog = fieldsPath.map(FieldsCatalog.parseFile)
      .getOrElse(FieldsCatalog(Nil))
    val result = Annotator.annotate(input, config, catalog)
    val out = opts.getOrElse("out",
      s"${input.stripSuffix("/")}/manifest.json")
    ManifestWriter.writeFile(out, result.manifest)
    println(s"wrote ${result.manifest.commands.size} commands to $out")
    if (result.newColumns.nonEmpty) {
      println(s"new columns without metadata: ${result.newColumns.mkString(", ")}")
      // catalog write-back is append-only + atomic (S10; SURVEY §1.5/§7.4)
      if (opts.contains("write-back") && fieldsPath.isDefined) {
        val tmp = fieldsPath.get + ".tmp"
        java.nio.file.Files.write(java.nio.file.Paths.get(tmp),
          FieldsCatalog.toFlatJson(result.catalog).getBytes("UTF-8"))
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
          java.nio.file.Paths.get(fieldsPath.get),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        println(s"appended ${result.newColumns.size} entries to ${fieldsPath.get}")
      }
    }
  }

  private def run(opts: Map[String, String]): Unit = {
    val manifest = ManifestParser.parseFile(req(opts, "manifest"))
    val dataDir = req(opts, "data-dir")
    val out = req(opts, "out")
    val spark = session()
    try {
      val written = Runner.run(spark, manifest, dataDir, out,
        singleFile = opts.contains("single-file"))
      written.foreach { case (src, tgt) => println(s"$src -> $tgt") }
    } finally spark.stop()
  }

  private def hdf2parquet(opts: Map[String, String]): Unit = {
    val in = req(opts, "in")
    val out = req(opts, "out")
    val spark = session()
    try {
      val df = Hdf5Source.hdf5ToParquet(spark, in, out)
      println(s"$in -> $out (${df.columns.mkString(", ")})")
    } finally spark.stop()
  }

  /** Reverse converter: any Spark-readable parquet exports as one HDF5
    * file per partition (scalar + array<float/double> matrix columns —
    * [[graft.io.Hdf5Export]]); `--partitions N` resizes first.
    */
  private def parquet2hdf(opts: Map[String, String]): Unit = {
    val in = req(opts, "in")
    val out = req(opts, "out")
    val spark = session()
    try {
      val base = Parquet.read(spark, in)
      val df = opts.get("partitions").map(_.toInt)
        .fold(base)(base.repartition(_))
      val n = graft.io.Hdf5Export.write(df, out)
      println(s"$in -> $out ($n files; ${df.columns.mkString(", ")})")
    } finally spark.stop()
  }

  /** Column profile of any Spark-readable table: distinct counts +
    * low-cardinality flags (exact or HLL via --approx true). Optional
    * deep sections: --keys (candidate-key discovery), --corr a,b,c
    * (pairwise Pearson over numeric columns), --hist col[:buckets]
    * (equi-width histogram), --outliers group:value (median/MAD
    * screen).
    */
  private def profile(opts: Map[String, String]): Unit = {
    val in = req(opts, "input")
    val spark = session()
    try {
      val df = Parquet.read(spark, in)
      graft.ops.Profile.profile(df, exact = !opts.contains("approx"))
        .show(200, truncate = false)
      if (opts.contains("keys")) {
        println("== candidate keys ==")
        graft.ops.Profile.keyCandidates(df).orderBy("column")
          .show(200, truncate = false)
      }
      opts.get("corr").foreach { cs =>
        println("== correlation ==")
        graft.ops.Profile
          .correlationPairs(df, cs.split(",").map(_.trim).toSeq)
          .orderBy("col_a", "col_b").show(200, truncate = false)
      }
      opts.get("hist").foreach { h =>
        val (c, b) = h.split(":") match {
          case Array(c, b) => (c, b.toInt)
          case Array(c)    => (c, 20)
        }
        println(s"== histogram $c ($b buckets) ==")
        graft.ops.Profile.histogram(df, c, b).orderBy("bucket")
          .show(b + 1, truncate = false)
      }
      opts.get("outliers").foreach { go =>
        val Array(g, v) = go.split(":")
        println(s"== MAD outliers $v by $g ==")
        graft.ops.GroupStats.madOutliers(df, g, v).orderBy(g)
          .show(200, truncate = false)
      }
      opts.get("gini").foreach { gv =>
        val Array(g, v) = gv.split(":")
        println(s"== Gini of $v by $g ==")
        graft.ops.GroupStats.gini(df.withColumn("__rid",
            org.apache.spark.sql.functions.monotonically_increasing_id()),
          g, v, "__rid").orderBy(g).show(200, truncate = false)
      }
      opts.get("entropy").foreach { gt =>
        val Array(g, t) = gt.split(":")
        println(s"== token entropy of $t by $g ==")
        graft.ops.ext.TextAnalysis.tokenEntropy(df, t, g).orderBy(g)
          .show(200, truncate = false)
      }
      opts.get("ols").foreach { gxy =>
        val Array(g, x, y) = gxy.split(":")
        println(s"== OLS $y ~ $x by $g ==")
        graft.ops.Profile.groupOls(df, g, x, y).orderBy(g)
          .show(200, truncate = false)
      }
    } finally spark.stop()
  }

  /** Classifier/ranking evaluation over parquet inputs: exact ROC AUC
    * of a nearest-centroid score against a labeled embedding table.
    */
  private def eval(opts: Map[String, String]): Unit = {
    val in = req(opts, "input")
    val spark = session()
    try {
      val df = Parquet.read(spark, in)
      graft.ops.ext.Eval.centroidAuc(df,
        opts.getOrElse("vec-col", "embedding"),
        opts.getOrElse("id-col", "vec_id"),
        opts.getOrElse("label-col", "label"),
        opts.getOrElse("pos", "1").toInt)
        .show(truncate = false)
    } finally spark.stop()
  }

  /** The full corpus-curation pipeline as one command: quality gate →
    * exact dedup → near-dup drop → (optional) benchmark decontamination
    * → (optional) stratified sampling, written as parquet.
    * `--rates` is `stratum=rate,...` over `--strata-col` (defaults keep
    * everything).
    */
  private def curate(opts: Map[String, String]): Unit = {
    val in = req(opts, "input")
    val out = req(opts, "out")
    val textCol = opts.getOrElse("text-col", "text")
    val idCol = opts.getOrElse("id-col", "doc_id")
    val strataCol = opts.getOrElse("strata-col", idCol)
    val rates = opts.get("rates").map(_.split(",").map { kv =>
      val Array(k, v) = kv.split("="); k -> v.toDouble
    }.toMap).getOrElse(Map.empty[String, Double])
    val spark = session()
    try {
      val docs = Parquet.read(spark, in)
      // no benchmark given -> an empty one (decontamination passes all)
      val bench = opts.get("benchmark").map(Parquet.read(spark, _))
        .getOrElse(docs.filter(org.apache.spark.sql.functions.lit(false)))
      val curated = graft.ops.ext.Curation.curate(docs, bench, textCol,
        idCol, strataCol,
        minTokens = opts.getOrElse("min-tokens", "10").toInt,
        nearDupThreshold = opts.getOrElse("near-dup-jaccard", "0.8").toDouble,
        contaminationMax = opts.getOrElse("contamination-max", "0.2").toDouble,
        rates = rates,
        defaultRate = opts.getOrElse("default-rate", "1.0").toDouble)
      curated.write.mode("overwrite").parquet(out)
      val n = Parquet.read(spark, out).count()
      println(s"$in -> $out ($n surviving rows)")
    } finally spark.stop()
  }

  /** Scoring pass: annotate every document with the quality and
    * corpus-LM signals (logistic keep probability, unigram NLL, OOV
    * rate) so downstream gates filter on plain columns — the
    * score → curate → shard release flow.
    */
  private def score(opts: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.col
    val in = req(opts, "input")
    val out = req(opts, "out")
    val idCol = opts.getOrElse("id-col", "doc_id")
    val textCol = opts.getOrElse("text-col", "text")
    val minCount = opts.getOrElse("vocab-min-count", "5").toLong
    val spark = session()
    try {
      val docs = Parquet.read(spark, in)
      val quality = graft.ops.ext.TextAnalysis
        .logisticQuality(docs, textCol)
      val nll = graft.ops.ext.LmScore.unigramNll(docs, textCol, idCol)
        .withColumnRenamed("n_tokens", "n_tokens_lm")
      val oov = graft.ops.ext.LmScore.oovRate(docs, textCol, idCol, minCount)
        .select(col(idCol), col("oov_rate"))
      quality.join(nll, Seq(idCol), "left").join(oov, Seq(idCol), "left")
        .write.mode("overwrite").parquet(out)
      val n = Parquet.read(spark, out).count()
      println(s"$in -> $out ($n scored rows)")
    } finally spark.stop()
  }

  /** Trainer handoff: deterministic token-budget shards (see
    * graft.ops.ext.Sharding) written as shard-partitioned parquet —
    * the step after `curate` in a corpus-release flow. Token counts
    * come from the whitespace/alnum tokenizer unless a `--tokens-col`
    * already carries them.
    */
  private def shard(opts: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.col
    val in = req(opts, "input")
    val out = req(opts, "out")
    val idCol = opts.getOrElse("id-col", "doc_id")
    val textCol = opts.getOrElse("text-col", "text")
    val budget = opts.getOrElse("budget", "1000000").toLong
    val spark = session()
    try {
      val docs0 = Parquet.read(spark, in)
      val docs = opts.get("tokens-col") match {
        case Some(c) => docs0.withColumn("__toks", col(c).cast("long"))
        case None => docs0.withColumn("__toks",
          graft.ops.ext.TextAnalysis.tokenCount(col(textCol)).cast("long"))
      }
      val sharded = graft.ops.ext.Sharding
        .assignShards(docs, idCol, "__toks", budget)
        .drop("__toks")
      sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
      val n = Parquet.read(spark, out).select("shard").distinct().count()
      println(s"$in -> $out ($n shards at <= $budget tokens)")
    } finally spark.stop()
  }

  /** Structural corpus cleaning: corpus-wide duplicate-paragraph
    * removal and/or boilerplate-line strip (lines in ≥ --min-docs
    * documents), rejoined onto the input columns as text_clean.
    */
  private def clean(opts: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.col
    val in = req(opts, "input")
    val out = req(opts, "out")
    val textCol = opts.getOrElse("text-col", "text")
    val idCol = opts.getOrElse("id-col", "doc_id")
    val mode = opts.getOrElse("mode", "paragraphs")
    val minDocs = opts.getOrElse("min-docs", "10").toInt
    val spark = session()
    try {
      val docs = Parquet.read(spark, in)
      val cleaned = mode match {
        case "paragraphs" =>
          graft.ops.ext.CorpusClean.paragraphDedup(docs, textCol, idCol)
        case "boilerplate" =>
          graft.ops.ext.CorpusClean.boilerplateStrip(docs, textCol, idCol,
            minDocs)
        case other =>
          System.err.println(s"unknown --mode $other"); sys.exit(2)
      }
      docs.drop(textCol)
        .join(cleaned.withColumnRenamed("doc_id", idCol), Seq(idCol))
        .write.mode("overwrite").parquet(out)
      val kept = Parquet.read(spark, out)
        .agg(org.apache.spark.sql.functions.sum(col("n_removed"))).head().getLong(0)
      println(s"$in -> $out ($kept paragraphs removed)")
    } finally spark.stop()
  }

  /** Snapshot diff: classify every key as added/removed/changed between
    * two dataset versions (unchanged rows drop out).
    */
  private def diff(opts: Map[String, String]): Unit = {
    val oldP = req(opts, "old")
    val newP = req(opts, "new")
    val out = req(opts, "out")
    val key = req(opts, "key")
    val spark = session()
    try {
      val o = Parquet.read(spark, oldP)
      val n = Parquet.read(spark, newP)
      val cols = opts.get("cols").map(_.split(",").toSeq)
        .getOrElse(o.columns.filterNot(_ == key).toSeq)
      val d = graft.ops.Diff.snapshots(o, n, key, cols)
      d.write.mode("overwrite").parquet(out)
      val byType = Parquet.read(spark, out).groupBy("change_type").count()
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
      println(s"$oldP vs $newP -> $out (${byType.mkString(", ")})")
    } finally spark.stop()
  }

  /** Deterministic training order: seeded permutation + shard
    * assignment, written shard-partitioned so each data-loader rank
    * streams its own ordered files.
    */
  private def trainorder(opts: Map[String, String]): Unit = {
    val in = req(opts, "input")
    val out = req(opts, "out")
    val idCol = opts.getOrElse("id-col", "doc_id")
    val seed = opts.getOrElse("seed", "12345").toLong
    val shards = opts.getOrElse("shards", "8").toInt
    val spark = session()
    try {
      val docs = Parquet.read(spark, in)
      graft.ops.ext.TrainOrder.shuffled(docs, idCol, seed, shards)
        .write.mode("overwrite").partitionBy("shard")
        .parquet(out)
      println(s"$in -> $out ($shards shards, seed $seed)")
    } finally spark.stop()
  }

  private def usage(): Unit = System.err.println(
    """usage:
      |  graft.cli.Main annotate --input DIR [--config c.json] [--fields f.json] [--out manifest.json] [--write-back true]
      |  graft.cli.Main run --manifest m.json --data-dir DIR --out DIR [--single-file true]
      |  graft.cli.Main hdf2parquet --in GLOB --out DIR
      |  graft.cli.Main parquet2hdf --in PARQUET --out DIR [--partitions N]
      |  graft.cli.Main profile --input PARQUET [--approx true] [--keys true]
      |    [--corr a,b,c] [--hist col[:buckets]] [--outliers group:value]
      |    [--gini group:value] [--entropy group:textcol] [--ols group:x:y]
      |  graft.cli.Main curate --input PARQUET --out DIR [--benchmark PARQUET]
      |    [--text-col text] [--id-col doc_id] [--strata-col lang]
      |    [--min-tokens 10] [--near-dup-jaccard 0.8] [--contamination-max 0.2]
      |    [--rates en=0.5,zh=0.125] [--default-rate 1.0]
      |  graft.cli.Main shard --input PARQUET --out DIR [--budget 1000000]
      |    [--text-col text] [--id-col doc_id] [--tokens-col n_tokens]
      |  graft.cli.Main score --input PARQUET --out DIR
      |    [--text-col text] [--id-col doc_id] [--vocab-min-count 5]
      |  graft.cli.Main clean --input PARQUET --out DIR
      |    [--mode paragraphs|boilerplate] [--min-docs 10]
      |    [--text-col text] [--id-col doc_id]
      |  graft.cli.Main diff --old PARQUET --new PARQUET --out DIR --key k
      |    [--cols a,b,c]
      |  graft.cli.Main trainorder --input PARQUET --out DIR
      |    [--seed 12345] [--shards 8] [--id-col doc_id]
      |  graft.cli.Main eval --input PARQUET [--vec-col embedding]
      |    [--id-col vec_id] [--label-col label] [--pos 1]
      |  graft.cli.Main table append --table DIR --input PARQUET
      |    [--zone-col c | --bloom-col c] [--not-null a,b] [--check SQL]
      |    [--unique-key a,b] [--target-files 4]
      |  graft.cli.Main table read --table DIR --out DIR [--version N]
      |    [--resolved true]
      |  graft.cli.Main table delete --table DIR --where SQL --keys a,b
      |  graft.cli.Main table merge --table DIR --input PARQUET --keys a,b
      |  graft.cli.Main table history --table DIR
      |  graft.cli.Main table compact --table DIR [--cluster-col c
      |    --buckets 16] [--max-dirs N] [--target-files 4]
      |  graft.cli.Main table vacuum --table DIR [--keep 1]
      |  graft.cli.Main table clone --table SRC --dst DST
      |  graft.cli.Main table restore --table DIR --version N
      |  graft.cli.Main table analyze --table DIR --cols a,b,c
      |  graft.cli.Main table branch --table DIR --name b
      |  graft.cli.Main table branch-append --table DIR --name b
      |    --input PARQUET [--target-files 4]
      |  graft.cli.Main table branch-read --table DIR --name b --out DIR
      |  graft.cli.Main table publish --table DIR --name b
      |    [--not-null a,b] [--check SQL] [--unique-key a,b]
      |  graft.cli.Main table branch-delete --table DIR --name b
      |  graft.cli.Main table branches --table DIR
      |  graft.cli.Main table tag --table DIR --name t [--version N]
      |  graft.cli.Main table tags --table DIR
      |  graft.cli.Main table tag-delete --table DIR --name t
      |  graft.cli.Main table orphans --table DIR [--grace-ms 3600000]
      |  graft.cli.Main table vacuum-orphans --table DIR
      |    [--grace-ms 3600000]""".stripMargin)
}
