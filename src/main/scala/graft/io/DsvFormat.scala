package graft.io

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.Text
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVInferSchema,
  CSVOptions, GraftCsvBridge, UnivocityParser}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition,
  FileStatusWithMetadata, HadoopFileLinesReader, PartitionDirectory,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.{CSVFileFormat,
  CSVUtils}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import java.nio.charset.{Charset, StandardCharsets}

/** Spark's line-mode CSV source with two changes, and no new option.
  *
  *  - Scan: a line without the quote character reaches univocity with
  *    the parser format's line separator appended, decoded in one go.
  *    Given an unterminated line, univocity ends every record by
  *    throwing an `EOFException` at the end of its input; that throw
  *    was most of the parse cost. A line holding the quote character
  *    keeps Spark's unterminated form: a terminator there would land
  *    inside an unclosed quoted field.
  *  - Inference: one split-aware job instead of Spark's header job plus
  *    a job that tokenizes every byte. The header is read on the driver
  *    (the first line of the split Spark would read first); each task
  *    drops its files' own header lines, exactly the lines the scan
  *    drops, and folds catalyst's `CSVInferSchema` over the rest, on
  *    raw UTF-8 bytes where a line holds no quote ([[DsvFormat.TypeFold]]).
  *
  * It serves [[DsvReader]]'s options; `multiLine` keeps Spark's own
  * reader and inference.
  */
class DsvFormat extends CSVFileFormat {

  override def inferSchema(spark: SparkSession,
                           options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val parsed = DsvFormat.csvOptions(spark, options)
    if (files.isEmpty) None
    else if (parsed.multiLine) super.inferSchema(spark, options, files)
    else Some(DsvFormat.infer(spark, parsed, files,
      spark.sessionState.newHadoopConfWithOptions(options),
      isSplitable(spark, options, _)))
  }

  override def buildReader(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType,
                           requiredSchema: StructType, filters: Seq[Filter],
                           options: Map[String, String],
                           hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    val parsed = DsvFormat.csvOptions(spark, options)
    if (parsed.multiLine)
      return super.buildReader(spark, dataSchema, partitionSchema,
        requiredSchema, filters, options, hadoopConf)
    // from here on the body of CSVFileFormat.buildReader
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf))
    val pruning = parsed.isColumnPruningEnabled(requiredSchema)
    val corrupt = parsed.columnNameOfCorruptRecord
    GraftCsvBridge.checkCorruptRecordColumn(dataSchema, requiredSchema,
      corrupt)
    val actualFilters = filters.filterNot(_.references.contains(corrupt))
    (file: PartitionedFile) => {
      val actualDataSchema =
        StructType(dataSchema.filterNot(_.name == corrupt))
      val actualRequiredSchema =
        StructType(requiredSchema.filterNot(_.name == corrupt))
      val parser = new UnivocityParser(actualDataSchema,
        actualRequiredSchema, parsed, actualFilters)
      val schema = if (pruning) actualRequiredSchema else actualDataSchema
      val headerChecker = new CSVHeaderChecker(schema, parsed,
        source = s"CSV file: ${file.urlEncodedPath}", file.start == 0)
      GraftCsvBridge.readLines(conf.value.value, file, parser,
        headerChecker, requiredSchema, new DsvFormat.Lines(parsed).decode)
    }
  }

  // CSVFileFormat is a case class: without these a DsvFormat relation
  // would compare equal to a plain CSV one
  override def equals(other: Any): Boolean = other.isInstanceOf[DsvFormat]
  override def hashCode(): Int = classOf[DsvFormat].hashCode()
  override def canEqual(other: Any): Boolean = other.isInstanceOf[DsvFormat]
}

object DsvFormat {

  /** The options CSVFileFormat builds from the same reader options. */
  private[io] def csvOptions(spark: SparkSession,
                             options: Map[String, String]): CSVOptions = {
    val sql = spark.sessionState.conf
    new CSVOptions(options, sql.csvColumnPruning, sql.sessionLocalTimeZone,
      sql.columnNameOfCorruptRecord)
  }

  /** How one reader's lines are decoded and classified. Byte-level work
    * needs UTF-8, the default line separators (so no line holds a CR or
    * LF) and an ASCII quote character.
    */
  private[io] final class Lines(options: CSVOptions) {
    private val charset = Charset.forName(options.charset)
    val bytewise: Boolean = charset == StandardCharsets.UTF_8 &&
      options.lineSeparatorInRead.isEmpty && options.quote < 0x80
    private val quote = options.quote.toByte
    private val terminator = options.asParserSettings.getFormat
      .getLineSeparatorString.getBytes(StandardCharsets.UTF_8)
    private var buf = new Array[Byte](1024)

    def hasQuote(b: Array[Byte], n: Int): Boolean = {
      var i = 0
      while (i < n) { if (b(i) == quote) return true; i += 1 }
      false
    }

    def string(t: Text): String =
      new String(t.getBytes, 0, t.getLength, charset)

    /** The line as the scan's parser sees it: terminated, in one decode,
      * unless it holds the quote character.
      */
    def terminated(t: Text): String = {
      val b = t.getBytes; val n = t.getLength
      if (!bytewise || hasQuote(b, n)) string(t)
      else {
        val m = n + terminator.length
        if (buf.length < m) buf = new Array[Byte](math.max(m, 2 * buf.length))
        System.arraycopy(b, 0, buf, 0, n)
        System.arraycopy(terminator, 0, buf, n, terminator.length)
        new String(buf, 0, m, StandardCharsets.UTF_8)
      }
    }

    def decode(lines: Iterator[Text]): Iterator[String] = lines.map(terminated)
  }

  /** Folds data lines into one column type each, with the result of
    * `CSVInferSchema.inferRowType` over univocity's tokens of the same
    * lines. Quote-free lines under a single-byte ASCII separator are
    * split on raw bytes; a cell of a column already `StringType`, an
    * empty cell and a cell equal to `nullValue` change nothing, and two
    * common cells are decided without decoding:
    *  - an int literal (optional sign, 1–9 ASCII digits) makes a Null or
    *    Integer column `IntegerType` and keeps a Long or Double column;
    *  - a plain decimal `d+.d+` keeps a Double column.
    * Every other cell is decoded alone and goes to `inferField`; a line
    * with a quote is tokenized whole and goes to `inferRowType`.
    */
  private[io] final class TypeFold(options: CSVOptions,
                                   val types: Array[DataType]) {
    private val infer = new CSVInferSchema(options)
    private val lines = new Lines(options)
    private val sep = options.delimiter
    private val bytewise = lines.bytewise && sep.length == 1 &&
      sep.charAt(0) < 0x80 && (!options.isCommentSet || options.comment < 0x80)
    private val sepByte = sep.charAt(0).toByte
    private val comment = options.comment.toByte
    private val nullBytes = options.nullValue.getBytes(StandardCharsets.UTF_8)
    private lazy val tokenizer = new CsvParser(options.asParserSettings)

    /** Folds one split's lines, dropping the first data line when
      * `dropHeader` (the split starts its file).
      */
    def foldSplit(split: Iterator[Text], dropHeader: Boolean): Unit = {
      var drop = dropHeader
      while (split.hasNext) {
        val t = split.next()
        if (bytewise) {
          if (isData(t.getBytes, t.getLength)) {
            if (drop) drop = false else foldLine(t.getBytes, t.getLength)
          }
        } else {
          val s = lines.string(t)
          if (s.trim.nonEmpty && !(options.isCommentSet &&
            s.startsWith(options.comment.toString))) {
            if (drop) drop = false else foldTokens(tokenizer.parseLine(s))
          }
        }
      }
    }

    /** Not blank (String.trim) and not a comment. */
    private def isData(b: Array[Byte], n: Int): Boolean = {
      if (options.isCommentSet && n > 0 && b(0) == comment) return false
      var i = 0
      while (i < n) { if ((b(i) & 0xff) > ' ') return true; i += 1 }
      false
    }

    private def foldTokens(tokens: Array[String]): Unit =
      if (tokens != null) infer.inferRowType(types, tokens)

    /** Folds one data line of `n` UTF-8 bytes. */
    def foldLine(b: Array[Byte], n: Int): Unit =
      if (!bytewise || lines.hasQuote(b, n))
        foldTokens(tokenizer.parseLine(
          new String(b, 0, n, StandardCharsets.UTF_8)))
      else {
        var col = 0; var from = 0; var i = 0
        while (i <= n && col < types.length) {
          if (i == n || b(i) == sepByte) {
            cell(col, b, from, i); col += 1; from = i + 1
          }
          i += 1
        }
      }

    private def cell(col: Int, b: Array[Byte], from: Int, to: Int): Unit = {
      val t = types(col)
      if (t == StringType || from == to || isNull(b, from, to)) return
      t match {
        case NullType | IntegerType if intLiteral(b, from, to) =>
          types(col) = IntegerType
        case LongType if intLiteral(b, from, to) =>
        case DoubleType if intLiteral(b, from, to) ||
          plainDecimal(b, from, to) =>
        case _ =>
          types(col) = infer.inferField(t,
            new String(b, from, to - from, StandardCharsets.UTF_8))
      }
    }

    private def isNull(b: Array[Byte], from: Int, to: Int): Boolean =
      to - from == nullBytes.length &&
        java.util.Arrays.equals(b, from, to, nullBytes, 0, nullBytes.length)

    private def digits(b: Array[Byte], from: Int, to: Int): Boolean = {
      var i = from
      while (i < to) { if (b(i) < '0' || b(i) > '9') return false; i += 1 }
      to > from
    }

    private def intLiteral(b: Array[Byte], from: Int, to: Int): Boolean = {
      val start = if (b(from) == '+' || b(from) == '-') from + 1 else from
      to - start <= 9 && digits(b, start, to)
    }

    private def plainDecimal(b: Array[Byte], from: Int, to: Int): Boolean = {
      var dot = from
      while (dot < to && b(dot) != '.') dot += 1
      dot < to && digits(b, from, dot) && digits(b, dot + 1, to)
    }
  }

  /** Splits of `files` as the scan plans them: the same split size,
    * whole unsplittable (compressed) files, largest first.
    */
  private def splits(spark: SparkSession, files: Seq[FileStatus],
                     splitable: org.apache.hadoop.fs.Path => Boolean)
      : (Seq[PartitionedFile], Long) = {
    val listed = files.map(FileStatusWithMetadata(_))
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, listed)))
    val all = listed.flatMap { f =>
      PartitionedFileUtil.splitFiles(f, f.getPath, splitable(f.getPath),
        maxSplit, InternalRow.empty)
    }.sortBy(_.length)(Ordering[Long].reverse)
    (all, maxSplit)
  }

  /** The header line Spark's inference takes: the first line that is
    * not all spaces (SQL `trim`) and not a comment, in split order.
    */
  private def firstLine(splits: Seq[PartitionedFile], options: CSVOptions,
                        conf: Configuration): Option[String] = {
    val lines = new Lines(options)
    def first(split: PartitionedFile): Option[String] = {
      val reader = new HadoopFileLinesReader(split,
        options.lineSeparatorInRead, conf)
      try reader.map(lines.string).find { l =>
        l.exists(_ != ' ') &&
          !(options.isCommentSet && l.startsWith(options.comment.toString))
      } finally reader.close()
    }
    splits.iterator.map(first).collectFirst { case Some(l) => l }
  }

  private[io] def infer(spark: SparkSession, options: CSVOptions,
                        files: Seq[FileStatus], hadoopConf: Configuration,
                        splitable: org.apache.hadoop.fs.Path => Boolean)
      : StructType = {
    val (planned, maxSplit) = splits(spark, files, splitable)
    val firstRow = firstLine(planned, options, hadoopConf)
      .map(new CsvParser(options.asParserSettings).parseLine(_))
    firstRow match {
      case Some(row) if row != null =>
        val header = CSVUtils.makeSafeHeader(row,
          spark.sessionState.conf.caseSensitiveAnalysis, options)
        val inferrer = new CSVInferSchema(options)
        val types: Array[DataType] =
          if (!options.inferSchemaFlag) header.map(_ => StringType)
          else {
            val conf = spark.sparkContext.broadcast(
              new SerializableConfiguration(hadoopConf))
            val width = header.length
            val parts = FilePartition.getFilePartitions(spark, planned,
              maxSplit)
            GraftCsvBridge.withSQLConfPropagated(spark) {
              spark.sparkContext.parallelize(parts, parts.size).map { part =>
                val fold = new TypeFold(options,
                  Array.fill[DataType](width)(NullType))
                part.files.foreach { split =>
                  val reader = new HadoopFileLinesReader(split,
                    options.lineSeparatorInRead, conf.value.value)
                  try fold.foldSplit(reader,
                    options.headerFlag && split.start == 0)
                  finally reader.close()
                }
                fold.types
              }.reduce(inferrer.mergeRowTypes)
            }
          }
        StructType(inferrer.toStructFields(types, header))
      case _ => StructType(Nil)
    }
  }
}
