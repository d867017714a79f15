package graft.exec

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** [[Scope.run]] is what frees the state a query leaves behind in a
  * long-lived session: every query of the iterative family (the ones
  * reaching Graph, Spectral, GeoMedian, Preference, CoverageSelect,
  * FeatureSelect or Dedup's connected components) leaves the session's
  * persistent RDDs and Dataset cache as they were at entry.
  */
class ScopeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"
  private def cache = spark.sharedState.cacheManager
  private def rddIds = spark.sparkContext.getPersistentRDDs.keySet

  private val iterativeFamily = Seq(
    "q44_curation", "q53_dup_components", "q77_pagerank",
    "q146_power_iteration", "q158_triangles", "q159_kcore",
    "q160_assortativity", "q172_adamic_adar", "q176_cc_star",
    "q201_random_walks", "q209_twohop_kmv", "q217_grid_dbscan",
    "q226_entity_resolution", "q232_bradley_terry", "q246_mrmr",
    "q249_hits", "q252_textrank", "q258_second_eigen", "q261_ppr",
    "q262_bfs", "q275_geometric_median", "q293_graph_shape",
    "q294_coverage_select", "q296_bowtie", "q309_jaccard_linkpred",
    "q310_rich_club", "q311_component_census", "q312_clustering_curve",
    "q325_canonical_dedup", "q328_leakage_split", "q349_modularity",
    "q350_onion_layers", "q351_graph_diff", "q352_reach_census",
    "q387_wl_refinement", "q391_percolation", "q410_linear_cka",
    "q458_edge_support", "q460_ktruss_peel")

  test("each iterative query leaves the session's state as it found it") {
    spark.catalog.clearCache()
    for (name <- iterativeFamily) {
      val before = rddIds
      Scope.run(spark) {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      val left = rddIds.diff(before)
      assert(left.isEmpty, s"$name left persistent RDDs $left")
      assert(cache.isEmpty, s"$name left Dataset cache entries")
    }
  }

  test("a session that already caches a frame is refused, frame intact") {
    spark.catalog.clearCache()
    val cached = spark.range(10).toDF("id").persist()
    try {
      cached.count()
      val err = intercept[IllegalStateException] {
        Scope.run(spark)(spark.range(5).count())
      }
      assert(err.getMessage.contains("already caches"))
      assert(cached.storageLevel.useMemory, "the cached frame was dropped")
      assert(cached.count() == 10)
    } finally cached.unpersist(blocking = true)
  }

  test("persistent RDDs made before entry survive the scope") {
    spark.catalog.clearCache()
    val outer = spark.range(20).toDF("id").localCheckpoint(true)
    Scope.run(spark)(spark.range(5).toDF("id").localCheckpoint(true).count())
    assert(outer.count() == 20)
  }

  test("a throwing body still releases what it made") {
    spark.catalog.clearCache()
    val before = rddIds
    val err = intercept[RuntimeException] {
      Scope.run(spark) {
        spark.range(10).toDF("id").persist().count()
        spark.range(10).toDF("id").localCheckpoint(true).count()
        throw new RuntimeException("boom")
      }
    }
    assert(err.getMessage == "boom")
    assert(rddIds == before && cache.isEmpty)
  }
}
