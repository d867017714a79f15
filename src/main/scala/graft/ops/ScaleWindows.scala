package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Scale-adaptive replacements for unpartitioned analytic windows.
  *
  * `Window.orderBy(v)` with no partition spec moves the WHOLE input to
  * one partition — the classic 100×-scale killer
  * (`GlobalWindowAuditSpec` now rejects it over row-scale frames).
  * These helpers compute the same exact results with the
  * [[graft.ops.ext.Sharding.assignShards]] recipe generalized to any
  * numeric order key:
  *
  *  1. split the key's [min, max] into 64 contiguous fixed-width
  *     ranges (bucket id is monotone in the key, so bucket-local order
  *     + bucket order = global order);
  *  2. run the window INSIDE each bucket in parallel (one hash
  *     shuffle on the bucket id);
  *  3. fold the ≤64 per-bucket summaries (counts / sums / minima) into
  *     global offsets with a window over that broadcast-size aggregate
  *     — the only unpartitioned window left, walking ≤64 rows.
  *
  * SIZE GATE (round-8 verdict task 5): the two-level shape costs ~4
  * extra stages of fixed overhead, which at toy scale dwarfs the work
  * (q138's BH-FDR went 0.17 s → 1.28 s when it was forced two-level).
  * Each helper therefore PERSISTS its input, counts it once (the pass
  * is reused by whichever branch runs — the frame is consumed 2–3×
  * either way), and takes the plain single-window plan when the frame
  * is at or under `graft.scalewin.small` rows (default 2,000,000 — a
  * single-partition window over ≤2M rows is sub-second and
  * spill-safe; above it the two-level shape wins and keeps winning to
  * any scale). The audit spec sees through the persist: it traverses
  * `InMemoryTableScanExec.relation.cachedPlan`, so the small branch is
  * admitted only when the cached subtree is itself domain-reduced.
  *
  * Results are EXACT, identical across both branches, and
  * bucket-placement-independent: offsets restore precisely the
  * contribution of earlier buckets, so skewed buckets cost
  * parallelism, never correctness. Keys must be non-null numeric
  * (casts to double only for BUCKETING — ordering keeps the original
  * column type). A constant key degrades to one bucket (the caller's
  * data has no order to parallelize over in that case anyway).
  */
object ScaleWindows {

  private val NBuckets = 64

  /** Rows at or under this take the single-window plan: 2M, or the
    * `graft.scalewin.small` system property (tests pin it).
    */
  private def smallThreshold: Long =
    sys.props.get("graft.scalewin.small").map(_.toLong).getOrElse(2000000L)

  /** Schema-metadata marker on gated frames: records that the frame's
    * row count was MEASURED at or under the small threshold before a
    * single-window plan was taken, so the static global-window audit
    * (`GlobalWindowAuditSpec`) can admit what it cannot re-derive —
    * the gate, not an assumption, bounds the window's input.
    */
  val GateTag = "graft.scalewin.gated"

  /** Persist + count the input once: the count picks the branch, and
    * the persisted pass is reused by that branch (both branches read
    * the frame more than once — without the persist the gate would
    * re-run the caller's upstream plan per read). MEMORY_AND_DISK:
    * a histogram frame that outgrows executor memory spills instead
    * of failing; Spark's cache manager dedups identical plans, and
    * the bench's per-run `clearCache()` keeps runs honest.
    */
  private def mark(df: DataFrame): DataFrame = {
    val head = df.schema.head
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(head.metadata).putBoolean(GateTag, true).build()
    df.withMetadata(head.name, meta)
  }

  /** `sizeHint` must be a MEASURED row count of `df` (the caller
    * already ran a `count()` for its own algebra — BH-FDR's n, a
    * histogram's domain size): it skips the gate's own count, and in
    * the small case skips the persist too (the single window reads the
    * frame exactly once). An estimated or guessed hint would launder
    * an unbounded frame past the audit — don't.
    */
  private def gate(df: DataFrame,
      sizeHint: Option[Long]): (DataFrame, Boolean) = sizeHint match {
    case Some(n) if n <= smallThreshold => (mark(df), true)
    case Some(_) => (df.persist(StorageLevel.MEMORY_AND_DISK), false)
    case None =>
      val p = mark(df).persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count() <= smallThreshold)
  }

  /** Appends `__b`: the contiguous range bucket (0..63) of `vCol`,
    * monotone in the key. One broadcast of the (min, max) frame.
    */
  private def withBucket(df: DataFrame, vCol: String): DataFrame = {
    val v = col(vCol).cast("double")
    val bounds = df.agg(min(v).as("__vmin"), max(v).as("__vmax"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__b",
        when(col("__vmax") <= col("__vmin"), lit(0))
          .otherwise(least(lit(NBuckets - 1), greatest(lit(0),
            floor((v - col("__vmin"))
              / ((col("__vmax") - col("__vmin")) / NBuckets)).cast("int")))))
      .drop("__vmin", "__vmax")
  }

  /** Exact global `row_number()` in ascending (`vCol`, tieCols…) order
    * — the scale-safe `row_number().over(Window.orderBy(...))`.
    * Appends `out` (LongType, 1-based).
    */
  def globalRowNumber(df: DataFrame, vCol: String, tieCols: Seq[String],
      out: String, sizeHint: Option[Long] = None): DataFrame = {
    val (p, small) = gate(df, sizeHint)
    val order = (vCol +: tieCols).map(col)
    if (small)
      p.withColumn(out,
        row_number().over(Window.orderBy(order: _*)).cast("long"))
    else {
      val b = withBucket(p, vCol)
      val localW = Window.partitionBy("__b").orderBy(order: _*)
      val local = b.withColumn("__lrn",
        row_number().over(localW).cast("long"))
      val offs = prefixOffsets(
        local.groupBy("__b").agg(count(lit(1)).as("__bc")),
        Seq("__bc" -> "__off"))
      local.join(broadcast(offs), Seq("__b"))
        .withColumn(out, col("__off") + col("__lrn"))
        .drop("__b", "__lrn", "__off")
    }
  }

  /** Exclusive per-bucket prefix offsets over the ≤64-row per-bucket
    * summary — the one unpartitioned window left, walking ≤64 rows
    * (it sits above the `groupBy("__b")` Aggregate).
    */
  private def prefixOffsets(perBucket: DataFrame,
      sumsToOffs: Seq[(String, String)]): DataFrame = {
    val w = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    sumsToOffs.foldLeft(perBucket) { case (d, (s, o)) =>
      d.withColumn(o, coalesce(sum(col(s)).over(w), lit(0L)))
    }.select(col("__b") +: sumsToOffs.map { case (_, o) => col(o) }: _*)
  }

  /** Exact inclusive global prefix sum of `valueCol` in ascending
    * (`vCol`, tieCols…) order. Appends `out` (the input sum type).
    */
  def globalPrefixSum(df: DataFrame, vCol: String, tieCols: Seq[String],
      valueCol: String, out: String,
      sizeHint: Option[Long] = None): DataFrame =
    globalPrefixSums(df, vCol, tieCols, Seq(valueCol -> out), sizeHint)

  /** Multi-column twin of [[globalPrefixSum]]: one ordered scan (one
    * gate, one bucketing, one local window pass) computing the
    * inclusive global prefix sum of EVERY `(valueCol, out)` pair — the
    * shape a merged-ECDF statistic (KS, Mann–Whitney) needs without
    * paying the scan per column.
    */
  def globalPrefixSums(df: DataFrame, vCol: String, tieCols: Seq[String],
      cols: Seq[(String, String)],
      sizeHint: Option[Long] = None): DataFrame = {
    require(cols.nonEmpty)
    val (p, small) = gate(df, sizeHint)
    val order = (vCol +: tieCols).map(col)
    if (small) {
      val w = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cols.foldLeft(p) { case (d, (vc, out)) =>
        d.withColumn(out, sum(col(vc)).over(w))
      }
    } else {
      val b = withBucket(p, vCol)
      val localW = Window.partitionBy("__b").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = cols.foldLeft(b) { case (d, (vc, out)) =>
        d.withColumn(s"__l_$out", sum(col(vc)).over(localW))
      }
      val sums = cols.map { case (vc, out) =>
        sum(col(vc)).as(s"__s_$out")
      }
      val offs = prefixOffsets(
        b.groupBy("__b").agg(sums.head, sums.tail: _*),
        cols.map { case (_, out) => s"__s_$out" -> s"__o_$out" })
      cols.foldLeft(local.join(broadcast(offs), Seq("__b"))) {
        case (d, (_, out)) =>
          d.withColumn(out, col(s"__o_$out") + col(s"__l_$out"))
            .drop(s"__o_$out", s"__l_$out")
      }.drop("__b")
    }
  }

  /** Exact inclusive running MIN of `valueCol` scanned in DESCENDING
    * (`vCol`, tieCols…) order — i.e. for each row, the min of
    * `valueCol` over all rows at-or-after it in ascending order (the
    * Benjamini–Hochberg tail scan). Appends `out`.
    */
  def globalSuffixMin(df: DataFrame, vCol: String, tieCols: Seq[String],
      valueCol: String, out: String,
      sizeHint: Option[Long] = None): DataFrame = {
    val (p, small) = gate(df, sizeHint)
    val descOrder = (vCol +: tieCols).map(c => col(c).desc)
    if (small)
      p.withColumn(out, min(col(valueCol)).over(
        Window.orderBy(descOrder: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    else {
      val b = withBucket(p, vCol)
      val localW = Window.partitionBy("__b").orderBy(descOrder: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = b.withColumn("__lsm", min(col(valueCol)).over(localW))
      // min of all STRICTLY HIGHER buckets (rows later in ascending order)
      val offs = local.groupBy("__b").agg(min(col(valueCol)).as("__bm"))
        .withColumn("__btail",
          min(col("__bm")).over(Window.orderBy(col("__b").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("__b"), col("__btail"))
      local.join(broadcast(offs), Seq("__b"))
        .withColumn(out, least(col("__lsm"),
          coalesce(col("__btail"), col("__lsm"))))
        .drop("__b", "__lsm", "__btail")
    }
  }
}
