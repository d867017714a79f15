package graft

import graft.queries.{CoreQueries, ExtQueries}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the scale properties claimed in
  * ARCHITECTURE.md pinned in CI — column pruning reaches the scan,
  * dimension joins broadcast, melt stays shuffle-free.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q02 projection prunes the parquet scan to 3 columns") {
    val plan = planOf("q02_project")
    assert(plan.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_extendedprice:double>"),
      s"scan not pruned:\n$plan")
  }

  test("q07 aggregation scans only the 5 referenced columns") {
    val plan = planOf("q07_groupagg")
    assert(!plan.contains("l_orderkey"), "unreferenced column read")
    assert(plan.contains("HashAggregate"), "expected hash aggregation")
  }

  test("q08 three-table join broadcasts both dimension sides") {
    val plan = planOf("q08_join_topk")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2,
      s"expected 2 broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "dimension join fell back to a shuffle join")
  }

  test("q03 melt plans as Expand with no shuffle") {
    val plan = planOf("q03_melt")
    assert(plan.contains("Expand"), s"melt should be Expand:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"melt must not shuffle:\n$plan")
  }

  test("q35 bucketed near-dup default plans no all-pairs join") {
    val plan = planOf("q35_embedding_neardup")
    assert(!plan.contains("CartesianProduct"),
      s"bucketed path must not plan a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed path must not plan a nested-loop join:\n$plan")
  }

  test("ShingleHashes runs inside whole-stage codegen (no fallback)") {
    val df = SparkEntry.queries("q15_ngram_jaccard")(spark, dir)
    df.collect() // finalize the adaptive plan so codegen stages are real
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("shingle_hashes"),
      s"expected shingle_hashes in plan:\n$plan")
    // a codegen'd operator prints with the `*(n)` star; the Project
    // evaluating shingle_hashes must carry it (no row-boxed fallback)
    val starredProject = """\*\(\d+\) Project \[[^\n]*shingle_hashes""".r
    assert(starredProject.findFirstIn(plan).isDefined,
      s"shingle_hashes Project not codegen'd:\n$plan")
  }

  test("q43 range join plans as an equi-join on day bins, no nested loop") {
    val plan = planOf("q43_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"range join planned a cartesian product:\n$plan")
  }

  test("q44 curation pipeline plans no all-pairs join anywhere") {
    val df = SparkEntry.queries("q44_curation")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop in plan:\n$plan")
  }

  test("q50 packing window partitions by shard (parallel, not global)") {
    val df = SparkEntry.queries("q50_seq_packing")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "expected window exec")
    assert(!plan.toLowerCase.contains("singlepartition"),
      s"global single-partition window — packing would serialize:\n$plan")
  }

  test("q31 per-group top-k rewrites to the heap-based TopK operator") {
    val plan = planOf("q31_topk_per_group")
    // GraftTopKRule replaces the window+filter idiom: partial heaps
    // below the exchange (only survivors shuffle), final above, no
    // window exec and no per-group sort anywhere
    assert(plan.contains("TopKPerGroupFinal") &&
      plan.contains("TopKPerGroupPartial"), s"expected TopK operator:\n$plan")
    assert(!plan.contains("WindowExec"), s"window survived:\n$plan")
    val (iF, iE, iP) = (plan.indexOf("TopKPerGroupFinal"),
      plan.indexOf("Exchange hashpartitioning"),
      plan.indexOf("TopKPerGroupPartial"))
    assert(iF >= 0 && iF < iE && iE < iP,
      s"expected final > exchange > partial:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"too many shuffles:\n$plan")
  }

  test("q55 sessionize: lag + cumsum share one user-partitioned sort") {
    val plan = planOf("q55_sessionize")
    // one exchange for the user partitioning; both window functions
    // (lag, running sum) must reuse that sort, not add shuffles
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"sessionize must shuffle once (by user):\n$plan")
    assert(!plan.toLowerCase.contains("singlepartition"),
      s"sessionize must never serialize to one partition:\n$plan")
  }

  test("q56 rolling frame plans one shuffle and a bounded row frame") {
    val plan = planOf("q56_rolling")
    assert("Window \\[".r.findAllIn(plan).size == 1,
      s"sum/count/avg must collapse into ONE window exec:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"rolling agg must shuffle once (by key):\n$plan")
    assert(plan.contains("RowFrame, -4, currentrow"),
      s"expected the bounded row frame in the plan:\n$plan")
  }

  test("q58 salted join plans no broadcast of the salted big side") {
    val plan = planOf("q58_salted_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"salted join must stay an equi-join:\n$plan")
    // the small side is exploded `salts`x: Generate must sit under the
    // join, i.e. replication happens before (not after) the join
    assert(plan.contains("Generate explode"),
      s"expected small-side salt replication via explode:\n$plan")
  }

  test("q83 span dedup shuffles only (id, hash) — never the span text") {
    val plan = planOf("q83_span_dedup")
    // both exchanges (window on hash, rollup on doc) carry 2 columns
    // at most; a `span` attribute crossing an exchange means the
    // 100+-byte window strings are being shuffled
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hash"))
    exchanges.foreach { e =>
      assert(!e.contains("span"), s"span text crosses an exchange:\n$plan")
    }
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"span dedup is two shuffles (hash window + doc rollup):\n$plan")
  }

  test("q86 semantic dedup broadcasts centroids; cluster join stays equi") {
    val df = SparkEntry.queries("q86_semdedup")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"cluster self-join must not be cartesian:\n$plan")
    // the assignment stage feeds 3 consumers and must be persisted —
    // its centroid broadcast (the one deliberate nested-loop join)
    // then lives ONLY inside the cached relation, computed once
    assert(plan.contains("InMemoryTableScan"),
      s"assignment stage must be persisted (3 consumers):\n$plan")
    val live = plan.substring(0, plan.indexOf("InMemoryRelation"))
    assert(!live.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join outside the cached assignment stage:\n$live")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"per-cluster prune join must be an equi-join:\n$plan")
  }

  test("q87 sharding: the corpus window is bucket-partitioned, not global") {
    val df = SparkEntry.queries("q87_shard_pack")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the big-side window must partition by __bucket; the only
    // SinglePartition window allowed is the 16-row offsets frame
    val winLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.exists(_.contains("__bucket")),
      s"expected the per-bucket prefix-sum window:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"bucket offsets must broadcast back, not shuffle the corpus:\n$plan")
  }

  test("q85 mixture broadcasts the per-stratum takes onto the corpus") {
    val df = SparkEntry.queries("q85_mixture")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"takes join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian in mixture plan:\n$plan")
  }

  test("VecDot powers the ANN queries inside codegen (no fallback)") {
    val df = SparkEntry.queries("q16_cosine_topk")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("vec_dot"), s"expected vec_dot in plan:\n$plan")
    val starred = """\*\(\d+\) [^\n]*vec_dot""".r
    assert(starred.findFirstIn(plan).isDefined,
      s"vec_dot operator not codegen'd:\n$plan")
  }

  test("q124 correlation moments aggregate as longs, not wide decimals") {
    val plan = planOf("q124_correlation")
    // the split-long design keeps every distributed sum on LongType;
    // decimal appears only in the 1-row recombination projection
    assert("sum\\([^)]*decimal".r.findFirstIn(plan).isEmpty,
      s"moment sum fell back to a decimal aggregation buffer:\n$plan")
    assert(plan.contains("HashAggregate"), "expected hash aggregation")
  }

  test("q125 histogram broadcasts the 1-row bounds frame") {
    val plan = planOf("q125_histogram")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"bounds frame must broadcast, not shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"bounds cross join must not plan a cartesian:\n$plan")
  }

  test("q122 z-order audit is one aggregation over a shuffle of partials") {
    val plan = planOf("q122_zorder")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"z-key aggregation should shuffle once:\n$plan")
    assert(plan.contains("HashAggregate"), "expected hash aggregation")
  }

  test("q128 MAD outliers broadcast the per-group stats frames") {
    val df = SparkEntry.queries("q128_mad_outliers")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the dev lineage (which embeds the median broadcast join) is
    // re-planned under both consumers, so the count exceeds 2 — the
    // invariant is that every group-stats join broadcasts
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"median and MAD frames must both broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"group-stats join fell back to a shuffle join:\n$plan")
  }

  test("q179 incremental near-dup broadcasts the batch side everywhere") {
    val df = SparkEntry.queries("q179_incremental_neardup")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // the history side must never sit under a broadcast: every join is
    // (streamed history) x (broadcast batch/candidates)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"history side must stream through broadcast joins only:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"bucket join + both verify joins must broadcast:\n$plan")
  }

  test("q185 bucketed join carries NO exchange on either join side") {
    val df = SparkEntry.queries("q185_bucketed_join")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
      !plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed tables must join without a shuffle:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"expected a join in the plan:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"scan must be bucket-aware:\n$plan")
  }

  test("q186 join prunes fact partitions dynamically") {
    val df = SparkEntry.queries("q186_dpp_join")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery on the partition column:\n$plan")
    assert(plan.contains("PartitionFilters"),
      s"expected partition filters at the fact scan:\n$plan")
  }

  test("q187 join injects a runtime bloom filter under production thresholds") {
    // the application-side scan threshold defaults to 10 GB — scale the
    // knobs down to the verify corpus, plan, then restore
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // injection requires a probably-shuffle join: at test scale the
      // dim is broadcast-able by size, which a real 100 TB fact's dim
      // often is not — force the shuffle path the feature exists for
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val plan = SparkEntry.queries("q187_bloom_join")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"expected the build-side bloom aggregate:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q176 star contraction plans window-min phases, no cartesian") {
    val df = SparkEntry.queries("q176_cc_star")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"star contraction must stay window + equi-join shaped:\n$plan")
  }

  test("q377 Q21 shape plans LeftSemi + LeftAnti, no per-row subquery") {
    val df = SparkEntry.queries("q377_sole_supplier_wait")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"existence probes must stay equi-join keyed on l_orderkey:\n$plan")
  }

  test("q378 Q18 shape plans a LeftSemi key probe, no per-row subquery") {
    val df = SparkEntry.queries("q378_large_qty_orders")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrdered, not a full sort:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"HAVING probe must stay an equi semi join:\n$plan")
  }

  test("q379 Q2 shape: scalar subquery as aggregate+join, no subquery node") {
    val df = SparkEntry.queries("q379_cheapest_source")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      s"expected the per-part min aggregation:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrdered:\n$plan")
    assert(!plan.toLowerCase.contains("subquery") &&
      !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"argmin must be aggregate + equi join, never a per-row subquery:\n$plan")
  }

  test("q380 Q20 shape chains two LeftSemi probes around one aggregation") {
    val df = SparkEntry.queries("q380_excess_suppliers")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("LeftSemi".r.findAllIn(plan).size >= 2,
      s"expected two semi joins (part filter + supplier probe):\n$plan")
    assert(!plan.toLowerCase.contains("subquery") &&
      !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"nested IN must stay chained equi semi joins:\n$plan")
  }

  test("q381 Q17 shape: one fact scan, keyed window, no subquery") {
    val df = SparkEntry.queries("q381_small_qty_revenue")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("lineitem".r.findAllIn(plan).size <= 1 ||
      plan.split("Scan parquet").count(_.contains("lineitem")) <= 1,
      s"the window decorrelation must scan lineitem once:\n$plan")
    assert(plan.contains("Window"),
      s"expected the per-partkey avg window:\n$plan")
    assert(!plan.toLowerCase.contains("subquery") &&
      !plan.contains("CartesianProduct"),
      s"correlated AVG must be a window, never a per-row subquery:\n$plan")
  }

  test("q382 Q22 shape: scalar broadcast + LeftAnti, no per-row subquery") {
    val df = SparkEntry.queries("q382_dormant_big_accounts")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS must be a left_anti join:\n$plan")
    assert(!plan.toLowerCase.contains("subqueryexec") &&
      !plan.contains("CartesianProduct"),
      s"the global threshold must be a one-row broadcast:\n$plan")
  }

  test("q383 Q11 shape: grouped exchange reused by the threshold branch") {
    val df = SparkEntry.queries("q383_top_value_parts")(spark, dir)
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.toLowerCase.contains("subqueryexec") &&
      !exec.contains("CartesianProduct"),
      s"HAVING-vs-global must stay aggregate + scalar broadcast:\n$exec")
    // AQE hides ReusedExchange until runtime; assert statically on the
    // canonicalized children instead: both aggregation branches hang
    // off the SAME partial-agg exchange.
    val plain = df.queryExecution.sparkPlan
    val exchanges = plain.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.canonicalized
    }
    assert(exchanges.map(_.toString).distinct.size < exchanges.size ||
      exchanges.size <= 2,
      s"expected the grouped exchange to be shareable:\n$plain")
  }

  test("q393 Q4 shape: EXISTS is one LeftSemi with the date inequality in-stage") {
    val df = SparkEntry.queries("q393_late_ship_priority")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the EXISTS probe must stay keyed on l_orderkey:\n$plan")
  }

  test("q395 Q13 outer join: orders pre-aggregate before joining customers") {
    val df = SparkEntry.queries("q395_order_count_distribution")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftOuter"), s"expected a left outer join:\n$plan")
    // the aggregation keyed on o_custkey must sit BELOW the outer join
    // (customer-sized join inputs), not above it (fact-sized)
    val joinAt = plan.indexOf("LeftOuter")
    val aggAt = plan.lastIndexOf("HashAggregate")
    assert(aggAt > joinAt,
      s"per-customer aggregate should be an input of the join:\n$plan")
  }

  test("q397 Q16 shape: NOT IN is a broadcast LeftAnti over the pair set") {
    val df = SparkEntry.queries("q397_supplier_cnt_census")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the exclusion must stay an equi anti join:\n$plan")
  }

  test("q414 compression gate: the deflate kernel stays inside codegen") {
    val df = SparkEntry.queries("q414_compression_gate")(spark, dir)
    df.collect() // AQE finalizes the plan (codegen spans appear at runtime)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("deflate_len"), s"expected the native kernel:\n$plan")
    val starred = """\*\(\d+\) [^\n]*deflate_len""".r
    assert(starred.findFirstIn(plan).isDefined,
      s"deflate_len operator not codegen'd:\n$plan")
  }

  test("q101 tokenize Project runs inside whole-stage codegen") {
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec,
      SparkPlan, WholeStageCodegenExec}
    val df = SparkEntry.queries("q101_bm25")(spark, dir)
    df.collect() // finalize the adaptive plan so codegen stages are real
    val root = df.queryExecution.executedPlan
    def tokenizes(p: SparkPlan): Boolean = p.isInstanceOf[ProjectExec] &&
      p.expressions.exists(_.exists(_.isInstanceOf[StringSplit]))
    // a codegen stage ends at an InputAdapter: what sits below one runs
    // row by row outside the stage's generated code
    def inStage(n: SparkPlan, p: SparkPlan): Boolean = (n eq p) ||
      (!n.isInstanceOf[InputAdapter] && n.children.exists(inStage(_, p)))
    val projects = PlanWalk.collectAll(root)(tokenizes)
    assert(projects.nonEmpty, s"expected the tokenize Project:\n$root")
    val stages = PlanWalk.collectAll(root)(_.isInstanceOf[WholeStageCodegenExec])
    for (p <- projects)
      assert(stages.exists(s => inStage(s.asInstanceOf[WholeStageCodegenExec]
        .child, p)), s"tokenize Project outside codegen:\n$root")
  }

  test("q402 exposure: linear shape — aggregates and one equi join only") {
    val df = SparkEntry.queries("q402_ngram_exposure")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"exposure must never enumerate pairs:\n$plan")
    assert(plan.contains("shingle_hashes"),
      s"expected the native codegen'd shingle kernel:\n$plan")
  }

  test("q445 near-dup verify keeps the Generate barrier under its threshold Filter") {
    val plan = planOf("q445_oph_neardup")
    val lines = plan.linesIterator.toIndexedSeq
    def depth(l: String) = l.indexWhere(_.isLetter)
    // |a ∩ b| is evaluated once, by a one-element explode...
    val gen = lines.indexWhere(l => l.contains("Generate explode(array(" +
      "size(array_intersect("))
    assert(gen >= 0, s"no one-element-explode Generate:\n$plan")
    assert("array_intersect".r.findAllIn(plan).size == 1,
      s"the intersection is computed more than once:\n$plan")
    // ...and the jaccard threshold filters its output, above it
    val filter = lines.lastIndexWhere(l => l.contains("Filter") &&
      l.contains(">= 0.8"), gen)
    assert(filter >= 0 && depth(lines(filter)) < depth(lines(gen)),
      s"threshold Filter is not above the Generate:\n$plan")
    val between = lines.slice(filter + 1, gen)
    assert(!between.exists(l => l.contains("Exchange") ||
        l.contains("Join")),
      s"the Filter must sit directly over the Generate's stage:\n$plan")
  }
}
