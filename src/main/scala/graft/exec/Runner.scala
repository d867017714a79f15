package graft.exec

import graft.io.{DsvReader, ParquetSink}
import graft.model.{Command, EngineManifest, FieldsCatalog}
import graft.ops.{Annotate, Melt, Tokens}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest executor (SURVEY §3.2) — the downstream "hot.Parquet" runner
  * the reference compiles plans for but does not ship.
  *
  * Each command becomes one declarative DataFrame pipeline:
  *   glob read (sniffed sep) -> project/rename+metadata -> token columns
  *   -> optional where -> optional melt -> parquet.
  * Catalyst owns optimization from there (column pruning into the CSV
  * scan, predicate pushdown, codegen). All commands run inside ONE Spark
  * application — session startup amortizes across the whole manifest
  * (BASELINE.md: the 2x small-input budget dies to per-command sessions).
  */
object Runner {

  /** Build the lazy pipeline for one command (no action). */
  def plan(spark: SparkSession, cmd: Command, dataDir: String,
           catalog: Option[FieldsCatalog] = None): DataFrame = {
    val resolved = Tokens.resolveDataDirectory(cmd.source, dataDir)
    val glob = Tokens.toGlob(resolved)
    // source format by extension: the reference's surface is DSV, but a
    // complete engine also lands json/parquet sources in one manifest
    var df =
      if (glob.matches(".*\\.json(\\.gz)?$"))
        spark.read.option("multiLine", "false").json(glob)
      else if (glob.endsWith(".parquet"))
        graft.io.Parquet.read(spark, glob)
      else DsvReader.read(spark, glob, cmd.read)
    if (cmd.cols.nonEmpty) {
      // a melt needs its value columns to survive the projection: they
      // ride along un-annotated (the reference's cols lists only the
      // standard/id columns, `run_annotate.py:183-184`)
      val colNorms = cmd.cols.map(m => FieldsCatalog.norm(m.col)).toSet
      val extras = cmd.melt.map { spec =>
        val vs = if (spec.valueColumns.nonEmpty) spec.valueColumns
          else df.columns.toSeq
        vs.filterNot(colNorms.contains)
      }.getOrElse(Nil)
      df = Annotate.project(df,
        cmd.cols ++ extras.map(e => graft.model.ColMeta(e)))
    } else catalog.foreach(c => df = Annotate.annotateAll(df, c))
    df = Tokens.withTokenColumns(df, resolved, cmd.tokens)
    cmd.where.foreach(w => df = df.filter(w))
    cmd.melt.foreach { spec =>
      // ids = projected standard cols + token cols; everything else melts
      // (`run_annotate.py:202-211`: melt folds the variable-column group)
      val tokenCols = Tokens.tokenNames(resolved)
      val ids =
        if (spec.valueColumns.nonEmpty)
          df.columns.toSeq.filterNot(spec.valueColumns.contains)
        else (cmd.cols.map(m => FieldsCatalog.norm(m.col)) ++
          tokenCols.map(_.toLowerCase) ++ tokenCols)
          .distinct.filter(df.columns.contains)
      df = Melt(df, spec, ids)
    }
    df
  }

  /** Execute a whole manifest: one parquet write action per command. */
  def run(spark: SparkSession, manifest: EngineManifest, dataDir: String,
          outDir: String, catalog: Option[FieldsCatalog] = None,
          singleFile: Boolean = false): Seq[(String, String)] =
    manifest.commands.map { cmd =>
      val df = plan(spark, cmd, dataDir, catalog)
      val target = s"${outDir.stripSuffix("/")}/${cmd.target}"
      ParquetSink.write(df, target, singleFile)
      cmd.source -> target
    }
}
