package graft

import org.apache.spark.sql.SparkSession

/** THE engine session config, in one place, and the only
  * `SparkSession.builder()` in the codebase (`SourceGuardSpec` enforces
  * it). Its callers:
  *
  *  - `graft.Bench` (the timed runs) and `graft.Verify` (the correctness
  *    gate);
  *  - the CLI (`graft.cli.Main`), adding its app name and the
  *    `SPARK_GRAFT_MASTER` deployment override;
  *  - the test suites (`TestSpark`, at 4 cores), so the plan specs
  *    assert join shapes under the config the bench times;
  *  - `perfbench` (the seeded benchmark);
  *  - the dev mains `DevPlan` (committed plan evidence) and `DevQTime`
  *    (per-query timings).
  *
  * Knobs (local defaults keep the driver's bench comparable; production
  * values are a cluster submit's concern):
  *
  *  - `spark.sql.shuffle.partitions` = the session's core count — the
  *    scale-adaptive part is AQE coalescing, on everywhere.
  *  - shuffled hash join allowed where its size conditions hold
  *    (guide §3.1/§9): SHJ skips sort-merge's per-partition sort; the
  *    planner's size conditions still gate the choice and the AQE
  *    rewrite only fires under the 64m local-map threshold, so
  *    build-side memory stays bounded at any scale. Measured at sf0.1
  *    (round 9): join-heavy stats/graph queries ~5–10% faster, none
  *    slower.
  *  - generated code compiled once per JVM. Spark caches the classes it
  *    compiles (Janino) in one JVM-wide cache keyed by the context
  *    classloader and the Java source; three settings let a repeated
  *    query find its classes there (`CodegenReuseSpec` holds it):
  *     - `spark.sql.codegen.cache.maxEntries` = 2000. The default of 100
  *       is smaller than one `query_mix` pass (about 220 classes, 260
  *       with stage ids in class names; q13 alone ~80–110), so every
  *       pass evicted the previous one and compiled ~260 classes again
  *       (local[4], sf0.01, Spark's own compile count). Measured on all
  *       474 queries at sf0.01 from an empty cache: median 27 classes
  *       per query, p90 55, max 132 (q44); the whole suite ~6,150, ~295 MB
  *       (source text and classes, ~47 KB each). 2000 holds several
  *       passes of any one workload for at most ~95 MB. It is a static
  *       conf, read once per JVM when the code generator first loads,
  *       so it belongs here and nowhere later.
  *     - `spark.sql.artifact.isolation.enabled` = false. With isolation
  *       each session, and the session clone every streaming query runs
  *       in, gets its own executor classloader, so byte-identical code
  *       missed the cache (q177: 24 classes on every run). graft adds
  *       no session artifacts (jars, files), so sharing loses nothing.
  *     - `spark.sql.codegen.useIdInClassName` = false. AQE numbers
  *       whole-stage codegen stages in the order it plans them, which
  *       varies run to run; with the number in the class name the same
  *       stage code was a new class (q109: 4, q13: 2–4 per repeat).
  *  - local writes start no child process. Spark ships no native Hadoop
  *    library, so two stock paths start one per file. JFR
  *    `jdk.ProcessStart` over one `query_mix` run (seed 7, 4 cores):
  *    1,611 (729 `chmod`, 864 `readlink`; ~400 per pass, ~290 in q177),
  *    each forked from a 2.8 GB JVM. With both settings: 18, none per
  *    write (16 `rm -rf` of Spark's temporary directories when a session
  *    stops, and two one-time probes, `setsid` and `getconf`).
  *     - `spark.hadoop.fs.file.impl` = [[graft.io.LocalFs]]. Hadoop's
  *       local file system runs `chmod` for every file and directory it
  *       creates (Parquet parts, committer directories, table-log
  *       entries, HDF5 exports, checkpoint files); `LocalFs` sets the
  *       same modes through `java.nio`. Graft's session-less lookups use
  *       [[graft.io.LocalFs.conf]], which agrees, so which one resolves
  *       `file:` first in a JVM does not matter.
  *     - `spark.sql.streaming.checkpointFileManagerClass` = the
  *       FileSystem-based manager. Spark's default goes through
  *       FileContext, whose rename runs `readlink` twice per checkpoint
  *       file. Both managers write the same files, so a checkpoint
  *       either wrote resumes under the other (`StreamSinkSpec`).
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.expr.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFs].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
