package graft.io

import graft.io.Hdf5Format._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import java.util
import scala.jdk.CollectionConverters._

/** HDF5 DataSource V2: `spark.read.format("hdf5").load(paths...)`.
  *
  * Scale shape (the fix for the round-1 file-per-task limit):
  *  - `planInputPartitions` reads each file's METADATA only (a few KB —
  *    superblock, B-trees, object headers via [[Hdf5Format.parseMeta]])
  *    and splits the row space into ranges of ~`targetBytes` each,
  *    aligned to chunk-row boundaries, so ONE huge HDF5 file fans out
  *    across the cluster instead of degenerating to one task.
  *  - each [[Hdf5PartitionReader]] re-opens the file with positioned
  *    reads and decodes ONLY the chunks/byte-ranges overlapping its row
  *    range — no task ever buffers a whole file, removing the round-1
  *    < 2 GiB ceiling.
  *  - column pruning pushes into the scan
  *    ([[SupportsPushDownRequiredColumns]]): unreferenced datasets are
  *    never read, so `select(one column)` over a 100-dataset file
  *    touches 1% of the payload bytes.
  *
  * Options: `rowsPerPartition` (explicit split size override),
  * `targetBytes` (default 128 MiB per partition).
  *
  * Files are opened with the session's Hadoop configuration
  * (`spark.hadoop.*` and runtime `fs.*` settings included): on the
  * driver directly, in the readers through one broadcast copy.
  */
class Hdf5DataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "hdf5"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = Hdf5DataSource.resolvePaths(options)
    require(files.nonEmpty, "hdf5: no input files")
    val meta =
      Hdf5DataSource.withIn(files.head, Hdf5DataSource.sessionConf())(parseMeta)
    Hdf5Source.schemaForMeta(meta)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new Hdf5Table(schema,
      Hdf5DataSource.resolvePaths(new CaseInsensitiveStringMap(properties)))
}

object Hdf5DataSource {
  /** The active session's Hadoop configuration (driver side). */
  def sessionConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** Paths arrive as option "path" (single) or "paths" (JSON string
    * array, DataFrameReader's multi-path form); globs expand via the
    * Hadoop FS.
    */
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw: Seq[String] =
      Option(options.get("paths")).map(parseJsonStringArray)
        .getOrElse(Option(options.get("path")).toSeq)
    val conf = sessionConf()
    raw.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil)
        .filter(_.isFile).map(_.getPath.toString).sorted match {
        case Nil => Seq(p) // let the reader raise a pointed error
        case hits => hits
      }
    }
  }

  /** Minimal JSON string-array parse (paths with quotes/backslashes are
    * escaped by Spark's writer; unescape the two that occur).
    */
  private def parseJsonStringArray(s: String): Seq[String] = {
    val body = s.trim.stripPrefix("[").stripSuffix("]")
    if (body.trim.isEmpty) Nil
    else {
      val out = Seq.newBuilder[String]
      val sb = new StringBuilder
      var inStr = false; var esc = false
      body.foreach { c =>
        if (esc) { sb += c; esc = false }
        else if (c == '\\') esc = true
        else if (c == '"') {
          if (inStr) { out += sb.result(); sb.clear() }
          inStr = !inStr
        } else if (inStr) sb += c
      }
      out.result()
    }
  }

  /** Positioned reads over a Hadoop file. */
  def withIn[A](path: String, conf: Configuration)(f: H5In => A): A = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val stream = fs.open(p)
    try f(new H5In {
      def length: Long = len
      def slice(pos: Long, n: Int): Array[Byte] = {
        val a = new Array[Byte](n)
        stream.readFully(pos, a)
        a
      }
    })
    finally stream.close()
  }
}

class Hdf5Table(tableSchema: StructType, files: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = s"hdf5(${files.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Hdf5ScanBuilder(tableSchema, files, options)
}

class Hdf5ScanBuilder(fullSchema: StructType, files: Seq[String],
                      options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep only fields this source owns (no metadata columns)
    required = StructType(
      requiredSchema.fields.filter(f => fullSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new Hdf5Scan(required, files,
    Option(options.get("rowsPerPartition")).map(_.toLong),
    Option(options.get("targetBytes")).map(_.toLong)
      .getOrElse(128L * 1024 * 1024))
}

case class Hdf5InputPartition(path: String, rowStart: Long, rowEnd: Long)
    extends InputPartition

class Hdf5Scan(required: StructType, files: Seq[String],
               rowsPerPartition: Option[Long], targetBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"hdf5 scan (${required.fieldNames.mkString(",")})"

  private lazy val conf = Hdf5DataSource.sessionConf()

  override def planInputPartitions(): Array[InputPartition] = {
    files.flatMap { f =>
      val meta = Hdf5DataSource.withIn(f, conf)(parseMeta)
      val used =
        if (required.isEmpty) meta // count(*) — still need row extent
        else meta.filter(m => required.fieldNames.contains(m.name))
      require(used.nonEmpty, s"hdf5: $f has none of the required columns")
      val rows = used.head.rows
      require(used.forall(_.rows == rows),
        s"hdf5: datasets disagree on leading dimension in $f")
      // align splits to the coarsest chunk-row extent so adjacent
      // partitions don't decode the same chunk twice
      val align = used.map(_.storage match {
        case Chunked(cd, _, _) => cd.head.toLong
        case _ => 1L
      }).max
      val rowBytes = math.max(1L, used.map(_.rowBytes).sum)
      val target = rowsPerPartition.getOrElse(
        math.max(align, targetBytes / rowBytes / align * align))
      val splits = Iterator.iterate(0L)(_ + target)
        .takeWhile(_ < rows)
        .map(s => Hdf5InputPartition(f, s, math.min(s + target, rows)))
        .toSeq
      if (splits.isEmpty) Seq(Hdf5InputPartition(f, 0L, 0L)) else splits
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new Hdf5PartitionReaderFactory(required, SparkSession.active.sparkContext
      .broadcast(new SerializableConfiguration(conf)))
}

class Hdf5PartitionReaderFactory(required: StructType,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[Hdf5InputPartition]
    new Hdf5PartitionReader(p, required, conf.value.value)
  }
}

/** Decodes one row range of one file. The full range's columns are
  * materialized once (bounded by the planner's target partition size),
  * then streamed out as InternalRows.
  */
class Hdf5PartitionReader(p: Hdf5InputPartition, required: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {
  private val decoded: Seq[H5Dataset] =
    Hdf5DataSource.withIn(p.path, conf) { in =>
      val meta = parseMeta(in)
      required.fields.toSeq.map { f =>
        val m = meta.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"hdf5: dataset ${f.name} missing in ${p.path}"))
        readRows(in, m, p.rowStart, p.rowEnd)
      }
    }
  private val nRows = (p.rowEnd - p.rowStart).toInt
  private var i = -1

  override def next(): Boolean = { i += 1; i < nRows }

  override def get(): InternalRow = {
    val values = decoded.map { d =>
      (d.data, d.dims.size) match {
        case (a: Array[Long], 1) => a(i): java.lang.Long
        case (a: Array[Double], 1) => a(i): java.lang.Double
        case (a: Array[Long], _) =>
          val w = d.dims(1).toInt
          new GenericArrayData(java.util.Arrays.copyOfRange(
            a, i * w, (i + 1) * w))
        case (a: Array[Double], _) =>
          val w = d.dims(1).toInt
          new GenericArrayData(java.util.Arrays.copyOfRange(
            a, i * w, (i + 1) * w))
        case other => throw new IllegalStateException(s"bad data $other")
      }
    }
    new GenericInternalRow(values.toArray[Any])
  }

  override def close(): Unit = ()
}
