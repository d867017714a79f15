package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.execution.datasources.parquet.{
  GraftFooterBridge, ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** THE Parquet read: the schema is resolved on the driver, so a read
  * launches no Spark job before its action.
  *
  * `spark.read.parquet(paths)` infers the schema with a one-task Spark
  * job that reads a single footer (~50 ms in a warm local[4] session on
  * a 4-core VM, nearly all of it scheduling). [[read]] runs Spark's own
  * footer code on the driver instead — `readParquetFootersInParallel` +
  * `readSchemaFromFooter` with the converter settings Spark's inference
  * uses, on the same file `ParquetUtils.inferSchema` touches
  * (`_common_metadata`, then `_metadata`, then the first data file by
  * path) — and hands the result to `spark.read.schema(...)`. Partition
  * columns are still discovered from the directory names by Spark's
  * file index, so the frame's schema equals the inferred one.
  *
  * Anything the driver-side path does not reproduce exactly (a missing
  * path, no data file, a data column that shadows a partition column,
  * an unreadable footer) falls back to
  * `spark.read.parquet`, so the result — or Spark's own error — is
  * unchanged. `mergeSchema` reads touch every file and keep Spark's
  * distributed footer job; they do not go through here.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Schema of [[read]] (partition columns included), without a job. */
  def schema(spark: SparkSession, paths: String*): StructType =
    read(spark, paths: _*).schema

  /** The data schema Spark's inference would find, read on the driver;
    * None where only Spark's own read path is faithful.
    */
  private[io] def footerSchema(spark: SparkSession, paths: Seq[String])
      : Option[StructType] = try {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val globbed = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      Option(fs.globStatus(path)).toSeq.flatten.map(_.getPath)
    }
    if (paths.isEmpty || globbed.exists(_.isEmpty)) None
    else {
      // a streaming-sink directory is listed from its commit log
      val index =
        if (FileStreamSink.hasMetadata(paths, hadoopConf, conf))
          new MetadataLogFileIndex(spark, new Path(paths.head), Map.empty,
            None)
        else new InMemoryFileIndex(spark, globbed.flatten, Map.empty, None)
      val files = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val touch = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !summaries(f.getPath.getName)))
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation)
      val partCols = index.partitionSchema.fieldNames.map(_.toLowerCase).toSet
      touch.toSeq
        .flatMap(f => GraftFooterBridge.readFooters(hadoopConf, Seq(f),
          conf.ignoreCorruptFiles))
        .headOption
        .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
        .filterNot(_.fieldNames.exists(n => partCols(n.toLowerCase)))
    }
  } catch {
    case NonFatal(_) => None
  }
}
