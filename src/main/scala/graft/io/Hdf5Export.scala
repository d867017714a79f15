package graft.io

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Distributed HDF5 export: one HDF5 file PER PARTITION, written by the
  * task that holds the partition — the many-files scale path for S11/X6
  * (cf. reference `convert_hdf.py`: single-file, single-process; a
  * 100 GB table cannot assemble on one node, but 800 × 128 MB files
  * write in parallel and read back through [[Hdf5DataSource]]'s glob +
  * per-file split planning).
  *
  * Layout: `<dir>/part-NNNNN.h5`, each holding one dataset per column
  * (column names = dataset names), plus a driver-written `_SUCCESS`
  * marker. Scalar int/long/float/double columns become rank-1
  * I32/I64/F32/F64 datasets; `array<float>`/`array<double>` columns
  * become rank-2 (n × width) matrices — the embedding-matrix layout
  * HDF5 exists for (width pinned by the partition's first row; ragged
  * input is rejected). Empty partitions write no file. Each task
  * encodes to a writer-unique temp file and renames into place, so a
  * speculative twin can never leave a torn file; the loser deletes its
  * temp.
  *
  * Sizing contract: one partition = one in-memory columnar buffer =
  * one file — size partitions to the usual 100-500 MB with
  * `repartition`/`maxPartitionBytes` exactly as for parquet output.
  */
object Hdf5Export {

  import Hdf5Writer.{Ds, DType, F32, F64, I32, I64}

  /** (HDF5 scalar type, is-array-column). */
  private def dtypeFor(f: StructField): (DType, Boolean) = f.dataType match {
    case LongType => (I64, false)
    case IntegerType => (I32, false)
    case DoubleType => (F64, false)
    case FloatType => (F32, false)
    case ArrayType(FloatType, _) => (F32, true)
    case ArrayType(DoubleType, _) => (F64, true)
    case other => throw new IllegalArgumentException(
      s"hdf5 export supports int/long/float/double scalars and " +
        s"float/double arrays; '${f.name}' is $other")
  }

  /** Writes `df` under `dir` (one .h5 per non-empty partition) and
    * returns the number of files written. Null values are rejected
    * (HDF5 scalar datasets have no null notion).
    */
  def write(df: DataFrame, dir: String): Int = {
    val fields = df.schema.fields
    val kinds = fields.map(dtypeFor) // validates the schema up front
    val names = fields.map(_.name)
    // the session's Hadoop settings, on the driver and (one broadcast
    // copy) in every task
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    val conf = df.sparkSession.sparkContext
      .broadcast(new SerializableConfiguration(hadoopConf))
    val fs = new HPath(dir).getFileSystem(hadoopConf)
    fs.mkdirs(new HPath(dir))
    val written = df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val nCols = kinds.length
      val longs = Array.fill(nCols)(new scala.collection.mutable.ArrayBuilder.ofLong)
      val dbls = Array.fill(nCols)(new scala.collection.mutable.ArrayBuilder.ofDouble)
      val widths = Array.fill(nCols)(-1) // rank-2 width, pinned by row 1
      var n = 0
      rows.foreach { row =>
        var c = 0
        while (c < nCols) {
          require(!row.isNullAt(c),
            s"null in column '${names(c)}' — hdf5 export is non-nullable")
          kinds(c) match {
            case (I64, false) => longs(c) += row.getLong(c)
            case (I32, false) => longs(c) += row.getInt(c).toLong
            case (F64, false) => dbls(c) += row.getDouble(c)
            case (F32, false) => dbls(c) += row.getFloat(c).toDouble
            case (dt, true) =>
              val arr = row.getSeq[Any](c)
              if (widths(c) < 0) widths(c) = arr.length
              require(arr.length == widths(c),
                s"ragged array column '${names(c)}': ${arr.length} vs " +
                  s"${widths(c)} — hdf5 matrices are rectangular")
              arr.foreach { v =>
                dbls(c) += (if (dt == F32) v.asInstanceOf[Float].toDouble
                            else v.asInstanceOf[Double])
              }
          }
          c += 1
        }
        n += 1
      }
      if (n == 0) Iterator.empty
      else {
        val dss = (0 until nCols).map { c =>
          val (dt, isArr) = kinds(c)
          val data: AnyRef = dt match {
            case I64 | I32 => longs(c).result()
            case F64 | F32 => dbls(c).result()
          }
          Ds(names(c), dt,
            if (isArr) Seq(n, widths(c).max(0)) else Seq(n), data)
        }
        val bytes = Hdf5Writer.encode(dss)
        val f = new HPath(dir).getFileSystem(conf.value.value)
        val target = new HPath(dir, f"part-$pid%05d.h5")
        val tmp = new HPath(dir,
          f".part-$pid%05d.${System.nanoTime().toHexString}.tmp")
        val out = f.create(tmp, false)
        try out.write(bytes) finally out.close()
        if (!f.rename(tmp, target)) f.delete(tmp, false) // speculative loser
        Iterator.single(1)
      }
    }.sum().toInt
    val ok = fs.create(new HPath(dir, "_SUCCESS"), true)
    ok.close()
    written
  }
}
