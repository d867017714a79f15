package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import java.io.{BufferedReader, InputStreamReader}
import java.util.zip.GZIPInputStream

/** Driver-side delimiter sniffer — the Spark stand-in for the reference's
  * `pd.read_csv(sep=None, engine='python')` (csv.Sniffer;
  * `run_annotate.py:21`, `:37`). Spark's CSV source needs a concrete
  * separator, so we sample the head of one file per source and score
  * candidates. Runs once per source on the driver (a few KB of IO) —
  * never per row, so it costs nothing at 100 TB.
  *
  * Scoring: for each candidate sep, count quote-aware occurrences per
  * sampled line; a good sep has count >= 1 and identical counts across
  * lines (csv.Sniffer's consistency heuristic). Ties break by candidate
  * priority (tab, comma, semicolon, pipe) — matching csv.Sniffer's
  * preferred order.
  */
object Sniffer {
  val Candidates: Seq[Char] = Seq('\t', ',', ';', '|')
  val SampleBytes: Int = 64 * 1024
  val SampleLines: Int = 20

  /** Sniff the separator of the file at `path` (any Hadoop-visible FS;
    * gzip-transparent by extension, matching the reference's allowlist
    * `run_annotate.py:259`). Falls back to comma for single-column files.
    */
  def sniffSep(path: String, conf: Configuration = LocalFs.conf)
      : String = {
    val lines = sampleLines(path, conf)
    sniffFromLines(lines).toString
  }

  def sniffFromLines(lines: Seq[String]): Char = {
    val usable = lines.filter(_.nonEmpty)
    if (usable.isEmpty) return ','
    val scored = Candidates.zipWithIndex.map { case (sep, prio) =>
      val counts = usable.map(countOutsideQuotes(_, sep))
      val consistent = counts.forall(_ == counts.head) && counts.head > 0
      val minCount = counts.min
      // consistent separators first, then higher column count, then priority
      (consistent, minCount, sep, prio)
    }
    val best = scored.sortBy { case (cons, cnt, _, prio) =>
      (if (cons) 0 else 1, -cnt, prio)
    }.head
    if (best._2 > 0) best._3 else ','
  }

  /** Count occurrences of `sep` outside double-quoted regions (RFC-4180
    * quoting, `""` escape).
    */
  def countOutsideQuotes(line: String, sep: Char): Int = {
    var inQuotes = false; var n = 0; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQuotes = !inQuotes
      else if (c == sep && !inQuotes) n += 1
      i += 1
    }
    n
  }

  private def sampleLines(path: String, conf: Configuration,
                          maxLines: Int = SampleLines): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val raw = fs.open(p)
    val in =
      if (path.endsWith(".gz")) new GZIPInputStream(raw, SampleBytes)
      else raw
    val reader = new BufferedReader(new InputStreamReader(in, "UTF-8"))
    try {
      Iterator.continually(reader.readLine()).takeWhile(_ != null)
        .take(maxLines).toList
    } finally reader.close()
  }

  /** Quote-aware split of one DSV line. */
  def splitLine(line: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQuotes = !inQuotes
      else if (c == sep && !inQuotes) { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Sample-based schema inference (the 100 TB path): Spark's
    * `inferSchema` is a SECOND full pass over every byte of the source;
    * at scale the honest alternative is typing from the head sample the
    * sniffer already read. Type lattice per column over sampled non-NA
    * cells: all-long -> LongType, else all-numeric -> DoubleType, else
    * StringType (pandas' effective lattice for delimited text).
    * Columns whose type only diverges past the sample window fall back
    * to null cells under PERMISSIVE — callers pick the trade
    * explicitly via ReadOpts.sampleInference.
    */
  def inferSchemaFromSample(path: String, sep: Char,
                            conf: Configuration = LocalFs.conf)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val lines = sampleLines(path, conf, maxLines = 200)
    require(lines.nonEmpty, s"empty sample for $path")
    val header = splitLine(lines.head, sep)
    val rows = lines.tail.map(splitLine(_, sep))
    val fields = header.zipWithIndex.map { case (name, i) =>
      val cells = rows.flatMap(_.lift(i)).map(_.trim)
        .filterNot(DsvReader.NaTokens.contains)
      // same lattice as Spark's CSV inference so the sample path yields
      // identical schemas on type-stable data: Int -> Long -> Double ->
      // String
      val t: DataType =
        if (cells.isEmpty) StringType
        else if (cells.forall(c => c.toIntOption.isDefined)) IntegerType
        else if (cells.forall(c => c.toLongOption.isDefined)) LongType
        else if (cells.forall(c => c.toDoubleOption.isDefined)) DoubleType
        else StringType
      StructField(name, t, nullable = true)
    }
    StructType(fields)
  }

  /** Resolve one concrete file under a glob source to sniff (the first
    * match); driver-side listing only.
    */
  def firstMatchingFile(globPath: String,
                        conf: Configuration = LocalFs.conf)
      : Option[String] = {
    val p = new Path(globPath)
    val fs = p.getFileSystem(conf)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    statuses.find(_.isFile).map(_.getPath.toString)
      .orElse(statuses.headOption.map(_.getPath.toString))
  }
}
