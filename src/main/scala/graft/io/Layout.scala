package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data layout for scan pruning: how files are WRITTEN decides what a
  * 100 TB read can skip. Parquet keeps min/max statistics per file and
  * row group; a reader's pushed predicate prunes any unit whose range
  * cannot match. Both writers below exist to make those ranges tight:
  *
  *  - `sortedWrite`: range-partition + sort by the filter columns —
  *    per-file ranges become disjoint, so a point/range predicate on
  *    the leading column touches ~1 file in N.
  *  - `zorderWrite`: interleave the bits of TWO filter columns into a
  *    single space-filling-curve key and range-write by it — each file
  *    covers a small RECTANGLE in (a, b) space, so predicates on
  *    EITHER column (or both) prune; plain sorting only serves its
  *    leading column.
  *
  * Both are one extra range shuffle at write time — paid once, saved on
  * every subsequent scan.
  */
object Layout {

  /** Morton (z-order) key: interleaves the low `bits` bits of two
    * non-negative ints, a in even positions, b in odd. Pure codegen'd
    * bit arithmetic. Callers bucket-normalize wider/skewed domains
    * first (e.g. `ntile` or fixed-width buckets down to 2^bits).
    */
  def zorderKey(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1,31]: $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(1), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b.cast("long"), i).bitwiseAND(1), 2 * i + 1))
    }
  }

  /** N-column Morton key: bit `i` of column `j` lands at position
    * `i * n + j` (round-robin interleave) — the general form of
    * [[zorderKey]] for composite filter sets (the 2-column overload
    * keeps its historical even/odd layout). Total bits must fit a
    * long. Pure codegen'd bit arithmetic, same bucket-normalization
    * contract.
    */
  def zorderKeyN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 2, s"need >= 2 columns: $n")
    require(bits > 0 && n * bits <= 63, s"$n x $bits bits must fit a long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(c.cast("long"), i).bitwiseAND(1), i * n + j))
      }
    }
  }

  /** Hilbert-curve key for two non-negative ints in [0, 2^bits): the
    * standard xy→d walk (one rotation step per bit, high bit first).
    * Unlike Morton order, the Hilbert curve has NO long jumps — every
    * consecutive pair of keys is spatially adjacent — so equal-size
    * key runs cover tighter rectangles and parquet min/max stats prune
    * harder on both columns (the reason Delta/Iceberg offer it beside
    * z-order). One codegen'd primitive loop
    * ([[graft.expr.HilbertKey]] — a per-round Column unroll would
    * reference both prior coordinates per new coordinate and double
    * the expression tree each round); an oracle reproduces it with the
    * same unrolled integer ops.
    */
  def hilbertKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1,31]: $bits")
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.expr.HilbertKey(
      GraftExpressionBridge.expression(a.cast("long")),
      GraftExpressionBridge.expression(b.cast("long")), bits))
  }

  /** Range-partition into `numFiles` and sort within each — per-file
    * min/max on `cols` become disjoint (modulo range-sampling boundary
    * duplicates), maximizing parquet stats pruning on the leading
    * column.
    */
  def sortedWrite(df: DataFrame, cols: Seq[String], outPath: String,
                  numFiles: Int): Unit =
    df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode("overwrite").parquet(outPath)

  /** Z-order write on two columns: range-partition + sort by the
    * interleaved key. The key is a write-time ordering device only and
    * is not persisted.
    */
  def zorderWrite(df: DataFrame, a: String, b: String, outPath: String,
                  numFiles: Int, bits: Int = 21): Unit = {
    val z = zorderKey(col(a), col(b), bits)
    df.repartitionByRange(numFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(outPath)
  }

  /** Compact a parquet directory to ~`targetBytes` files — the
    * small-files remedy (streaming sinks and fine-grained partitioning
    * both produce file counts that degrade scan planning and metadata
    * ops at scale). File count is sized from the ACTUAL on-disk bytes
    * (Hadoop listing, driver-side metadata only), then rewritten via
    * round-robin repartition. Returns the new file count.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
              outPath: String, targetBytes: Long = 128L << 20): Long = {
    require(targetBytes > 0)
    val hPath = new org.apache.hadoop.fs.Path(inPath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(hPath).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    Parquet.read(spark, inPath).repartition(files)
      .write.mode("overwrite").parquet(outPath)
    files.toLong
  }

  /** Hive-style directory partitioning (`outPath/col=value/...`): the
    * third pruning lever next to sorting and z-ordering — a reader
    * whose predicate hits the partition column skips whole DIRECTORIES
    * at planning time (PartitionFilters in the scan node; no file is
    * opened, no row group consulted). Right for low-cardinality columns
    * a pipeline filters on constantly (language, source, date); wrong
    * for high-cardinality keys (directory-per-value explodes the
    * metadata). The pre-shuffle on the partition column makes each
    * task write to ONE directory — without it every task appends a
    * file to every partition dir (tasks x partitions small files).
    */
  def partitionedWrite(df: DataFrame, partCol: String, outPath: String)
      : Unit =
    df.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(outPath)

  /** Pruning estimator: how many of `files` parquet files a range
    * predicate `[lo, hi]` on `valueCol` would have to OPEN under (a)
    * arrival-order layout (file = id mod files — what a naive ingest
    * produces) vs (b) value-sorted layout (what [[sortedWrite]]
    * produces). Emulates per-file min/max footer stats by bucketing
    * rows into their would-be files and intersecting each file's
    * range with the predicate. Output: one row per layout with
    * files_total / files_overlap.
    *
    * The sorted emulation ranks globally (row_number over an
    * unpartitioned window) — fine for the planning-aid use on a table
    * SAMPLE or on existing footer metadata; the real 100 TB layout
    * decision reads actual parquet footers (driver-side listing) and
    * never ranks data. The estimator exists to QUANTIFY the layout
    * win before paying the [[sortedWrite]] shuffle.
    */
  /** REAL footer statistics — the metadata a 100 TB reader's pruning
    * actually consults: per file / row group / column min, max, null
    * count and row count, decoded from parquet footers WITHOUT
    * touching a single data page. This is the production complement
    * to [[pruneEstimate]]'s emulation: planning-time file skipping is
    * `footerStats(...).filter(!(mn > hi || mx < lo))` — a driver-side
    * metadata operation whose cost is one footer read per file (for
    * very large file counts, distribute the listing with a parallelize
    * over file paths; the decode is identical).
    *
    * Integer-typed columns only (INT32/INT64 — stats surface as
    * longs); the q131 oracle cross-checks the decoded footer values
    * against DATA-derived min/max in DuckDB, proving the decode path
    * end-to-end.
    */
  def footerStats(spark: org.apache.spark.sql.SparkSession, path: String,
                  cols: Seq[String]): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      else Array(p)
    val rows = files.toSeq.flatMap { f =>
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        rdr.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap {
          case (b, rg) =>
            b.getColumns.asScala.toSeq
              .filter(cc => cols.contains(cc.getPath.toDotString))
              .map { cc =>
                val st = cc.getStatistics
                (f.getName, rg, cc.getPath.toDotString,
                  st.genericGetMin.asInstanceOf[Number].longValue,
                  st.genericGetMax.asInstanceOf[Number].longValue,
                  st.getNumNulls, b.getRowCount)
              }
        }
      } finally rdr.close()
    }
    import spark.implicits._
    rows.toDF("file", "row_group", "column", "min_v", "max_v",
      "n_nulls", "n_rows")
  }

  def pruneEstimate(df: DataFrame, idCol: String, valueCol: String,
                    files: Int, lo: Double, hi: Double): DataFrame = {
    require(files > 0)
    val v = col(valueCol).cast("double")
    val n = df.count()
    val chunk = math.max(1L, math.ceil(n.toDouble / files).toLong)
    val arrival = df.select(pmod(col(idCol), lit(files.toLong)).as("file"),
      v.as("v")).withColumn("layout", lit("arrival"))
    // sorted-layout file id from the exact global row number — computed
    // two-level (ScaleWindows), never via an unpartitioned window
    val sorted = graft.ops.ScaleWindows
      .globalRowNumber(df.select(v.as("v"), col(idCol)), "v", Seq(idCol),
        "__rn")
      .withColumn("file", ((col("__rn") - 1) / chunk).cast("long"))
      .select(col("file"), col("v"))
      .withColumn("layout", lit("sorted"))
    arrival.unionByName(sorted)
      .groupBy(col("layout"), col("file"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("files_total"),
        sum(when(col("mn") <= lit(hi) && col("mx") >= lit(lo), 1L)
          .otherwise(0L)).as("files_overlap"))
  }
}
