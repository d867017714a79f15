package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** A query run again in the same JVM compiles no new generated class
  * ([[Sessions]], "Knobs"). The three queries need about 170 distinct
  * classes, more than Spark's default cache of 100, and q177 runs its
  * stream in a session clone, so the second round fails on a small
  * cache and on per-session classloaders. The cache size is fixed when
  * Spark's code generator first loads, so this also fails in a JVM where
  * the session's cap came too late. The rounds run with AQE off: AQE
  * picks the build side of an equal-sized join from whichever stage
  * finished first, so with it on a repeat can plan (and compile) a
  * different join; with it off every plan repeats exactly.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"
  private val names =
    Seq("q13_minhash_neardup", "q109_sparse_cosine", "q177_stream_outer_join")

  /** Classes compiled while each query runs once, as `graft.Bench` runs it. */
  private def compiledBy(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sf).write.format("noop")
        .mode("overwrite").save()
      spark.catalog.clearCache()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second round of q13, q109 and q177 compiles nothing") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      compiledBy()
      assert(compiledBy() == 0)
    } finally spark.conf.set(key, prev)
  }

  test("a whole-stage codegen class does not depend on its stage id") {
    val df = spark.range(100).selectExpr("id * 2 AS x").filter("x % 3 = 0")
    df.collect()
    val stage = PlanWalk.findFirst(df.queryExecution.executedPlan)(
      _.isInstanceOf[WholeStageCodegenExec]).get
      .asInstanceOf[WholeStageCodegenExec]
    val renumbered = stage.copy(stage.child)(stage.codegenStageId + 1)
    assert(renumbered.doCodeGen()._2.body == stage.doCodeGen()._2.body)
  }
}
