package graft.exec

import org.apache.spark.sql.SparkSession

/** The one owner of cached and checkpointed state. Operators persist
  * and checkpoint what their plans need and never release it; a harness
  * that runs many queries in one session runs each inside
  * [[run]], which frees what the query left behind.
  */
object Scope {

  /** Runs `body` and then releases, blocking, every persistent RDD and
    * every Dataset cache entry created inside it — also when `body`
    * throws. `body` must hold plan build and action together: most of
    * an iterative query's state is created while its plan is built.
    *
    * Refuses to start while the session caches a Dataset: Spark exposes
    * no list of the cache's entries, so the ones made inside could not
    * be told from the caller's. Persistent RDDs that exist at entry are
    * kept.
    */
  def run[A](spark: SparkSession)(body: => A): A = {
    val cache = spark.sharedState.cacheManager
    if (!cache.isEmpty)
      throw new IllegalStateException("Scope.run: the session already " +
        "caches Datasets; unpersist them before entering a scope")
    val sc = spark.sparkContext
    val kept = sc.getPersistentRDDs.keySet
    try body
    finally {
      // the cache's column buffers are persistent RDDs too: release them
      // blocking here, then drop the (now empty) cache entries
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!kept(id)) rdd.unpersist(blocking = true)
      }
      cache.clearCache()
    }
  }
}
