package org.apache.spark.sql.catalyst.csv

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.Text
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.ExprUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.Utils

/** Re-exposes the package-private pieces of Spark's line-mode CSV read so
  * graft.io.DsvFormat can run the same body with its own line decoding.
  * No Spark internals are modified.
  */
object GraftCsvBridge {

  /** `TextInputCSVDataSource.readFile` of one split, except that
    * `decode` turns the split's lines into the strings the parser sees.
    */
  def readLines(conf: Configuration, file: PartitionedFile,
                parser: UnivocityParser, headerChecker: CSVHeaderChecker,
                requiredSchema: StructType,
                decode: Iterator[Text] => Iterator[String])
      : Iterator[InternalRow] = {
    val linesReader = Utils.createResourceUninterruptiblyIfInTaskThread(
      new HadoopFileLinesReader(file, parser.options.lineSeparatorInRead,
        conf))
    Option(TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => linesReader.close()))
    UnivocityParser.parseIterator(decode(linesReader), parser, headerChecker,
      requiredSchema)
  }

  /** CSVFileFormat.buildReader's driver-side checks of the corrupt-record
    * column.
    */
  def checkCorruptRecordColumn(dataSchema: StructType,
                               requiredSchema: StructType,
                               corrupt: String): Unit = {
    ExprUtils.verifyColumnNameOfCorruptRecord(dataSchema, corrupt)
    if (requiredSchema.length == 1 && requiredSchema.head.name == corrupt)
      throw QueryCompilationErrors
        .queryFromRawFilesIncludeCorruptRecordColumnError()
  }

  /** Runs `body` (which launches a job) with the session's SQL conf
    * visible to its tasks, as Spark's own CSV inference does.
    */
  def withSQLConfPropagated[T](spark: SparkSession)(body: => T): T =
    SQLExecution.withSQLConfPropagated(
      spark.asInstanceOf[classic.SparkSession])(body)
}
