package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer

/** Re-exposes Spark's package-private footer reader so graft.io.Parquet
  * can resolve a schema on the driver with the exact code Spark's own
  * schema inference runs in its one-task job. No Spark internals are
  * modified.
  */
object GraftFooterBridge {
  def readFooters(conf: Configuration, files: Seq[FileStatus],
                  ignoreCorruptFiles: Boolean): Seq[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(conf, files,
      ignoreCorruptFiles)
}
