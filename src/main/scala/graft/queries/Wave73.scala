package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 73" query set (q417–q418): distributed HDF5 export —
  * the many-files scale path for X6. The reference's converter
  * (`convert_hdf.py`) is single-file/single-process; [[graft.io
  * .Hdf5Export]] writes one file per partition in parallel and
  * [[graft.io.Hdf5DataSource]] reads the directory back with per-file
  * split planning, so a 100 GB table exports and round-trips without
  * ever assembling on one node. q417 covers scalar columns, q418 the
  * rank-2 embedding-matrix layout.
  */
object Wave73Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q417
  /** Distributed HDF5 export + round-trip: orders (key, custkey, price
    * cents) repartitioned 8-ways, exported as 8 HDF5 files by the
    * tasks that hold them, read back through the hdf5 DataSource glob,
    * and integrity-folded (row count, key/cents sums, custkey
    * envelope, file count). The oracle computes the same integrals
    * from the parquet source — any torn file, lost partition or type
    * drift in the export path breaks the hash.
    */
  def q417(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val out = s"${CoreQueries.fixDir(dir)}/q417_h5_export"
    val fs = new HPath(out)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (!fs.exists(new HPath(out, "_SUCCESS"))) {
      val src = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
        .repartition(8, col("o_orderkey"))
      graft.io.Hdf5Export.write(src, out)
    }
    val nFiles = fs.listStatus(new HPath(out)).toSeq
      .count(_.getPath.getName.endsWith(".h5")).toLong
    s.read.format("hdf5").load(s"$out/*.h5")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"),
        min(col("o_custkey")).as("min_cust"),
        max(col("o_custkey")).as("max_cust"))
      .select(lit(nFiles).as("n_files"), col("n_rows"), col("sum_key"),
        col("sum_cents"), col("min_cust"), col("max_cust"))
  }
  val q417Sql: String =
    """SELECT 8::BIGINT AS n_files,
      |  count(*)::BIGINT AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(sum(CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(min(o_custkey) AS BIGINT) AS min_cust,
      |  CAST(max(o_custkey) AS BIGINT) AS max_cust
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q418
  /** Rank-2 HDF5 export + round-trip: the embeddings table (vec_id,
    * 64-wide float matrix, label) exported 4-ways as n×64 F32
    * datasets, read back (floats widen to double identically on both
    * engines), and folded: per-row squared-norm quantized to 1e-6 THEN
    * integer-summed (sequential left fold from 0.0 — the same order
    * DuckDB's list_reduce applies), plus key/label sums and the file
    * count.
    */
  def q418(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val out = s"${CoreQueries.fixDir(dir)}/q418_h5_matrix"
    val fs = new HPath(out)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (!fs.exists(new HPath(out, "_SUCCESS"))) {
      val src = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
        .repartition(4, col("vec_id"))
      graft.io.Hdf5Export.write(src, out)
    }
    val nFiles = fs.listStatus(new HPath(out)).toSeq
      .count(_.getPath.getName.endsWith(".h5")).toLong
    val back = s.read.format("hdf5").load(s"$out/*.h5")
    back
      .select(col("vec_id"), col("label"),
        floor(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x)
          * 1e6 + 0.5).cast("long").as("nq"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("vec_id")).as("sum_key"),
        sum(col("label")).as("sum_label"),
        sum(col("nq")).as("sum_normq"))
      .select(lit(nFiles).as("n_files"), col("n_rows"), col("sum_key"),
        col("sum_label"), col("sum_normq"))
  }
  val q418Sql: String =
    """SELECT 4::BIGINT AS n_files,
      |  count(*)::BIGINT AS n_rows,
      |  CAST(sum(vec_id) AS BIGINT) AS sum_key,
      |  CAST(sum(label) AS BIGINT) AS sum_label,
      |  CAST(sum(CAST(floor(
      |      list_reduce(list_transform([x::DOUBLE for x in embedding],
      |                                 x -> x * x), (a, b) -> a + b)
      |      * 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_normq
      |FROM embeddings""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q417_hdf5_export", q417, q417Sql),
    Query("q418_hdf5_matrix", q418, q418Sql))
}
