package graft.io

import graft.io.Hdf5Format.{H5DatasetMeta, H5Float, H5Int}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** HDF5 -> DataFrame -> Parquet (SURVEY §2.1 S11; the north-star's
  * "DataFrame conversion from HDF to Parquet").
  *
  * Model: one HDF5 file holds N named datasets sharing their leading
  * dimension (the standard columnar-table layout) — rank-1 datasets
  * become scalar columns, rank-2 datasets become array columns (the
  * embeddings layout).
  *
  * Scale shape: reads go through the DataSource V2 connector
  * ([[Hdf5DataSource]]): chunk-aligned ROW-RANGE splits inside each
  * file (one huge file fans out across the cluster; no < 2 GiB
  * per-file ceiling) and column pruning pushed into the scan. Works
  * against any Hadoop FS (object stores included) via positioned reads.
  */
object Hdf5Source {

  def schemaForMeta(dss: Seq[H5DatasetMeta]): StructType =
    StructType(dss.map { d =>
      val scalar = d.dtype match {
        case H5Int(_, _) => LongType
        case H5Float(_) => DoubleType
      }
      val t = if (d.dims.size <= 1) scalar else ArrayType(scalar, false)
      StructField(d.name, t, nullable = false)
    })

  /** Read one or many HDF5 files into a DataFrame through the DSV2
    * connector. `select` prunes datasets — the pruning also reaches the
    * scan when done later via `.select(...)`, Catalyst pushes it down.
    */
  def readToDataFrame(spark: SparkSession, paths: Seq[String],
                      select: Seq[String] = Nil): DataFrame = {
    require(paths.nonEmpty, "no HDF5 files to read")
    val df = spark.read.format("hdf5").load(paths: _*)
    if (select.isEmpty) df
    else df.select(select.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Glob variant + the end-to-end conversion. */
  def hdf5ToParquet(spark: SparkSession, inGlob: String, out: String,
                    select: Seq[String] = Nil): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(inGlob)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.toString).toSeq.sorted
    val df = readToDataFrame(spark, files, select)
    df.write.mode("overwrite").parquet(out)
    df
  }
}
