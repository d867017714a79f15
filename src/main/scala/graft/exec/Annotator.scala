package graft.exec

import graft.io.{LocalFs, Sniffer}
import graft.model._
import graft.ops.Tokens
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._

/** Non-interactive `annotate` (SURVEY §3.1): the reference's interactive
  * compilation flow with every prompt replaced by config. Produces the
  * same artifact — a manifest of hot.Parquet commands — plus catalog
  * write-back for unseen columns (S10).
  *
  * Flow (mirrors `run_annotate.py:257-326`):
  *  1. recursive scan under `<input>/data`, extension allowlist (S1/P4)
  *  2. partition files into variable groups by [token] pattern
  *     (first-match wins, `run_annotate.py:124-144`); leftovers are
  *     standard files. A pattern matching zero files is an ERROR (the
  *     reference loops forever — SURVEY §1.5.7 decision)
  *  3. per file/group: header columns via the sniffer sample (single
  *     driver-side read of the head bytes — the reference re-parses
  *     whole files twice, SURVEY §1.5.3 decision: one cheap pass)
  *  4. normalize + resolve against the fields catalog; unresolved
  *     columns are appended to the catalog with empty metadata
  *     (write-back, `run_annotate.py:293-307`)
  *  5. compile commands: cols = resolved columns in file order; melt if
  *     ALL of a file's unresolved columns sit inside one variable-column
  *     group (subset-containment, first match — `run_annotate.py:200`,
  *     kept per SURVEY §1.5.4)
  */
object Annotator {

  val DefaultExtensions: Seq[String] =
    Seq(".txt", ".csv", ".tsv", ".txt.gz", ".csv.gz", ".tsv.gz")

  case class VariableFilesSpec(pattern: String, name: Option[String],
                               desc: Option[String], tokens: Seq[TokenSpec])
  case class VariableColumnsSpec(columns: Seq[String], name: String,
                                 desc: Option[String], valueName: String,
                                 valueDesc: Option[String])
  case class Config(variableFiles: Seq[VariableFilesSpec] = Nil,
                    variableColumns: Seq[VariableColumnsSpec] = Nil,
                    extensions: Seq[String] = DefaultExtensions,
                    process: String = "*")

  object Config {
    private val mapper = new ObjectMapper()
    def parse(json: String): Config = {
      val n = mapper.readTree(json)
      def arr(f: String) = Option(n.get(f)).filter(_.isArray)
        .map(_.elements.asScala.toSeq).getOrElse(Nil)
      def txt(o: com.fasterxml.jackson.databind.JsonNode, f: String) =
        Option(o.get(f)).filter(!_.isNull).map(_.asText).filter(_.nonEmpty)
      Config(
        variableFiles = arr("variable_files").map { v =>
          VariableFilesSpec(
            pattern = txt(v, "pattern").getOrElse(
              throw new IllegalArgumentException("variable_files.pattern required")),
            name = txt(v, "name"), desc = txt(v, "desc"),
            tokens = Option(v.get("tokens")).filter(_.isArray)
              .map(_.elements.asScala.toSeq).getOrElse(Nil)
              .map(t => TokenSpec(txt(t, "token").getOrElse(""),
                txt(t, "name"), txt(t, "desc"))))
        },
        variableColumns = arr("variable_columns").map { v =>
          VariableColumnsSpec(
            columns = Option(v.get("columns")).map(_.elements.asScala
              .map(_.asText).toSeq).getOrElse(Nil),
            name = txt(v, "name").getOrElse("variable"),
            desc = txt(v, "desc"),
            valueName = txt(v, "value_name").getOrElse("value"),
            valueDesc = txt(v, "value_desc"))
        },
        extensions = if (arr("extensions").nonEmpty)
          arr("extensions").map(_.asText) else DefaultExtensions,
        process = Option(n.get("process")).map(_.asText).getOrElse("*"))
    }
    def parseFile(path: String): Config =
      parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
  }

  /** Recursive file scan relative to `root`, extension-filtered (S1). */
  def listFiles(root: String, extensions: Seq[String],
                conf: Configuration = LocalFs.conf): Seq[String] = {
    val dataDir = new Path(root, "data")
    val fs = dataDir.getFileSystem(conf)
    if (!fs.exists(dataDir)) return Nil
    val it = fs.listFiles(dataDir, true)
    val out = Seq.newBuilder[String]
    val rootPath = new Path(root).toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toUri.getPath
      if (extensions.exists(p.endsWith))
        out += p.stripPrefix(rootPath + "/")
    }
    out.result().sorted
  }

  /** Header columns of one file via the sniffer's head sample. */
  def headerColumns(root: String, relPath: String,
                    conf: Configuration = LocalFs.conf)
      : Seq[String] = {
    val full = s"${root.stripSuffix("/")}/$relPath"
    val lines = {
      // reuse the sniffing sample for both sep + header; quote-aware
      // split (a quoted header cell may contain the separator) so the
      // compiled catalog sees the same columns Spark's CSV reader will
      val sep = Sniffer.sniffSep(full, conf)
      val head = firstLine(full, conf)
      Sniffer.splitLine(head, sep.head)
    }
    lines.map(_.trim)
  }

  private def firstLine(path: String, conf: Configuration): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val raw = fs.open(p)
    val in = if (path.endsWith(".gz"))
      new java.util.zip.GZIPInputStream(raw) else raw
    val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
    try Option(r.readLine()).getOrElse("") finally r.close()
  }

  case class Result(manifest: EngineManifest, catalog: FieldsCatalog,
                    newColumns: Seq[String])

  def annotate(inputDir: String, config: Config, catalog: FieldsCatalog,
               conf: Configuration = LocalFs.conf): Result = {
    val files = listFiles(inputDir, config.extensions, conf)

    // 2. partition into variable groups (first pattern wins)
    var remaining = files
    val groups = config.variableFiles.map { spec =>
      val regex = ("^" + Tokens.toRegex(spec.pattern) + "$").r
      val (matched, rest) = remaining.partition(f =>
        regex.findFirstIn(f).isDefined)
      if (matched.isEmpty) throw new IllegalArgumentException(
        s"variable-file pattern matches no files: ${spec.pattern}")
      remaining = rest
      spec -> matched
    }
    val standard = remaining

    // 3.+4. columns + resolution + write-back
    var cat = catalog
    val newCols = Seq.newBuilder[String]
    def resolveCols(cols: Seq[String], file: String): Seq[ColMeta] =
      cols.flatMap { c =>
        val norm = FieldsCatalog.norm(c)
        cat.resolve(c, config.process, file) match {
          case Some(e) => Some(ColMeta(norm,
            Some(e.name).filter(_.nonEmpty), Some(e.desc).filter(_.nonEmpty)))
          case None =>
            cat = cat ++ FieldsCatalog(Seq(FieldEntry(norm)))
            newCols += norm
            Some(ColMeta(norm))
        }
      }

    /** Split a file's columns into (standard, melt spec): columns in a
      * variable-column group fold; the file melts iff ALL its variable
      * columns sit in ONE group (subset containment, first match —
      * `run_annotate.py:200`); a spread across groups is an error
      * (SURVEY §1.5.4: keep semantics, validate ambiguity).
      */
    def splitCols(cols: Seq[String], file: String)
        : (Seq[String], Option[MeltSpec]) = {
      val groupsNorm = config.variableColumns
        .map(g => g -> g.columns.map(FieldsCatalog.norm))
      val norm = cols.map(FieldsCatalog.norm)
      val varCols = norm.filter(c => groupsNorm.exists(_._2.contains(c)))
      if (varCols.isEmpty) (cols, None)
      else groupsNorm.find { case (_, gc) => varCols.forall(gc.contains) } match {
        case None => throw new IllegalArgumentException(
          s"file $file has variable columns spanning multiple groups: $varCols")
        case Some((g, gc)) =>
          (cols.filterNot(c => gc.contains(FieldsCatalog.norm(c))),
            Some(MeltSpec(
              key = Some(MeltEnd(g.name, g.desc)),
              value = Some(MeltEnd(g.valueName, g.valueDesc)),
              valueColumns = varCols)))
      }
    }

    def targetFor(source: String): String =
      source.split('/').last
        .replaceAll("\\.(txt|csv|tsv)(\\.gz)?$", "") + ".parquet"

    val standardCmds = standard.map { f =>
      val cols = headerColumns(inputDir, f, conf)
      val (std, melt) = splitCols(cols, f)
      Command(
        source = f, target = targetFor(f),
        cols = resolveCols(std, f.split('/').last),
        melt = melt)
    }
    val variableCmds = groups.map { case (spec, matched) =>
      val cols = headerColumns(inputDir, matched.head, conf)
      val (std, melt) = splitCols(cols, matched.head)
      // dedupe tokens by name (SURVEY §1.5.8 decision)
      val toks = Tokens.tokenNames(spec.pattern).distinct.map { t =>
        spec.tokens.find(_.token.stripPrefix("[").stripSuffix("]")
          .equalsIgnoreCase(t)).getOrElse(TokenSpec(t))
      }
      Command(
        source = spec.pattern, target = targetFor(spec.pattern),
        name = spec.name, desc = spec.desc,
        cols = resolveCols(std, matched.head.split('/').last),
        tokens = toks,
        melt = melt)
    }

    Result(EngineManifest(standardCmds ++ variableCmds), cat,
      newCols.result().distinct)
  }
}
