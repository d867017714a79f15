package graft.io

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the copy-on-write table log: dense versions, snapshot
  * isolation under append, content preservation under compaction, and
  * time travel after both.
  */
class TxLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_txlog").resolve("t").toString

  test("append commits are dense versions; reads are snapshots") {
    val t = freshTable()
    assert(TxLog.versions(t).isEmpty)
    val v1 = TxLog.commit(spark, t, Seq(1L, 2L).toDF("x"), targetFiles = 1)
    val v2 = TxLog.commit(spark, t, Seq(3L).toDF("x"), targetFiles = 1)
    assert((v1, v2) == (1, 2))
    assert(TxLog.versions(t) == Seq(1, 2))
    assert(TxLog.read(spark, t, Some(1)).count() == 2)
    assert(TxLog.read(spark, t).count() == 3)
  }

  test("compaction keeps the row set and old versions stay readable") {
    val t = freshTable()
    TxLog.commit(spark, t, (1L to 10L).toDF("x"), targetFiles = 2)
    TxLog.commit(spark, t, (11L to 20L).toDF("x"), targetFiles = 2)
    val v3 = TxLog.compact(spark, t, targetFiles = 1)
    assert(v3 == 3)
    val cur = TxLog.read(spark, t)
    assert(cur.count() == 20)
    assert(cur.agg(sum("x")).head().getLong(0) == (1L to 20L).sum)
    // layout changed: one directory, one file
    assert(cur.select(input_file_name().as("f")).distinct().count() == 1)
    // time travel: v1 still exactly the first commit
    assert(TxLog.read(spark, t, Some(1)).count() == 10)
  }

  test("data directories are immutable: commit never rewrites") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq(1L).toDF("x"), targetFiles = 1)
    val before = Files.walk(java.nio.file.Paths.get(t, "data"))
      .iterator()
    val firstList = Iterator.continually(before)
      .takeWhile(_.hasNext).map(_.next().toString).toSet
    TxLog.commit(spark, t, Seq(2L).toDF("x"), targetFiles = 1)
    firstList.foreach(p =>
      assert(Files.exists(java.nio.file.Paths.get(p)),
        s"commit must not touch existing data: $p"))
  }

  test("vacuum deletes only unreferenced dirs; kept window still reads") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq(1L, 2L).toDF("x"), targetFiles = 1)
    TxLog.commit(spark, t, Seq(3L).toDF("x"), targetFiles = 1)
    TxLog.compact(spark, t, targetFiles = 1)
    val removed = TxLog.vacuum(t, keepVersions = 1)
    assert(removed == 2)
    assert(TxLog.versions(t) == Seq(3))
    assert(TxLog.read(spark, t).count() == 3)
  }

  test("zone-mapped commits prune point reads to covering dirs") {
    val t = freshTable()
    TxLog.commitWithZone(spark, t, Seq((1L, 10L), (2L, 19L)).toDF("x", "z"),
      "z", targetFiles = 1)
    TxLog.commitWithZone(spark, t, Seq((3L, 20L), (4L, 29L)).toDF("x", "z"),
      "z", targetFiles = 1)
    val (df, scanned, total) = TxLog.readPruned(spark, t, "z", 25L)
    assert((scanned, total) == (1, 2))
    assert(df.filter(col("z") === 25L).count() == 0)
    assert(df.count() == 2)
  }

  test("point read outside every zone returns an empty typed frame") {
    val t = freshTable()
    TxLog.commitWithZone(spark, t, Seq((1L, 10L)).toDF("x", "z"),
      "z", targetFiles = 1)
    val (df, scanned, total) = TxLog.readPruned(spark, t, "z", 999L)
    assert((scanned, total) == (0, 1))
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("x", "z"))
  }

  test("empty commit writes no zone sidecar and stays scannable") {
    val t = freshTable()
    TxLog.commitWithZone(spark, t, Seq((1L, 10L)).toDF("x", "z"),
      "z", targetFiles = 1)
    // an empty frame has no (min, max) envelope — must not NPE, and
    // the no-sidecar commit must fall back to always-scan
    TxLog.commitWithZone(spark, t,
      Seq.empty[(Long, Long)].toDF("x", "z"), "z", targetFiles = 1)
    val (_, scanned, total) = TxLog.readPruned(spark, t, "z", 10L)
    assert((scanned, total) == (2, 2))
  }

  test("vacuum removes the zone sidecars of deleted directories") {
    val t = freshTable()
    TxLog.commitWithZone(spark, t, Seq((1L, 10L)).toDF("x", "z"),
      "z", targetFiles = 1)
    TxLog.commitWithZone(spark, t, Seq((2L, 20L)).toDF("x", "z"),
      "z", targetFiles = 1)
    TxLog.compact(spark, t, targetFiles = 1)
    assert(TxLog.vacuum(t, keepVersions = 1) == 2)
    val orphans = Files.list(java.nio.file.Paths.get(t, "_log")).iterator()
    val zoneFiles = Iterator.continually(orphans).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString).filter(_.startsWith("zone_")).toSeq
    assert(zoneFiles.isEmpty, s"orphan zone sidecars: $zoneFiles")
  }

  test("a second writer committing the same version fails loudly") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq(1L).toDF("x"), targetFiles = 1)
    // two writers race the v2 commit: both computed v=2 from the same
    // snapshot; exactly one must win, the other must get the
    // ConcurrentCommitException (never silent last-wins)
    val start = new java.util.concurrent.CountDownLatch(1)
    // record EVERY outcome (win / expected loss / anything else) so a
    // lost writer is diagnosable, never a silent missing list entry
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val threads = (0 until 2).map { i =>
      // distinct payloads so a silent overwrite would be observable
      val sub = s"data/c2_w$i"
      Seq(100L + i).toDF("x")
        .write.mode("errorifexists").parquet(s"$t/$sub")
      new Thread(() => {
        start.await()
        try {
          TxLog.writeEntry(t, 2, Seq("data/c00001", sub))
          results.add(i -> "win")
        } catch {
          case _: TxLog.ConcurrentCommitException => results.add(i -> "lost")
          case e: Throwable => results.add(i -> s"UNEXPECTED: $e")
        }
      })
    }
    threads.foreach(_.start()); start.countDown()
    threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val rs = results.asScala.toList
    assert(rs.size == 2, s"a writer never finished: $rs")
    assert(rs.count(_._2 == "win") == 1,
      s"exactly one writer must win: $rs")
    assert(rs.count(_._2 == "lost") == 1,
      s"the loser must see ConcurrentCommitException: $rs")
    // the table stays consistent: v2 resolves to the winner's list
    assert(TxLog.read(spark, t, Some(2)).count() == 2)
  }

  test("equality deletes are merge-on-read; compaction folds them in") {
    val t = freshTable()
    TxLog.commit(spark, t, (1L to 10L).toDF("x"), targetFiles = 1)
    TxLog.commit(spark, t, (11L to 20L).toDF("x"), targetFiles = 1)
    TxLog.deleteWhere(spark, t, "x % 2 = 0", Seq("x"))
    // physical read keeps every committed row; resolved applies the vector
    assert(TxLog.read(spark, t).count() == 20)
    assert(TxLog.readResolved(spark, t).count() == 10)
    assert(TxLog.deleteVectorCount(t) == 1)
    // second vector stacks on the resolved view
    TxLog.deleteWhere(spark, t, "x > 15", Seq("x"))
    assert(TxLog.readResolved(spark, t)
      .agg(sum("x")).head().getLong(0) == Seq(1L, 3, 5, 7, 9, 11, 13, 15).sum)
    assert(TxLog.deleteVectorCount(t) == 2)
    // time travel to the pre-delete version resolves with no vectors
    assert(TxLog.readResolved(spark, t, Some(2)).count() == 20)
    // compaction materializes the logical set and clears the vectors
    TxLog.compact(spark, t, targetFiles = 1)
    assert(TxLog.deleteVectorCount(t) == 0)
    assert(TxLog.read(spark, t).count() == 8)
  }

  test("an append after a delete carries the standing vectors") {
    val t = freshTable()
    TxLog.commit(spark, t, (1L to 10L).toDF("x"), targetFiles = 1)
    TxLog.deleteWhere(spark, t, "x <= 3", Seq("x"))
    TxLog.commit(spark, t, (11L to 12L).toDF("x"), targetFiles = 1)
    // deleted 1..3 must NOT resurface through the append's entry
    assert(TxLog.deleteVectorCount(t) == 1)
    assert(TxLog.readResolved(spark, t).count() == 9)
  }

  test("merge resolves delete vectors before upserting") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      targetFiles = 1)
    TxLog.deleteWhere(spark, t, "k = 2", Seq("k"))
    TxLog.merge(spark, t, Seq((3L, "C")).toDF("k", "v"), Seq("k"))
    val rows = TxLog.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // the deleted k=2 must NOT resurface through the merge rewrite
    assert(rows == Seq((1L, "a"), (3L, "C")))
    assert(TxLog.deleteVectorCount(t) == 0)
  }

  test("vacuum reclaims unreferenced delete-vector directories") {
    val t = freshTable()
    TxLog.commit(spark, t, (1L to 4L).toDF("x"), targetFiles = 1)
    TxLog.deleteWhere(spark, t, "x = 1", Seq("x"))
    TxLog.compact(spark, t, targetFiles = 1)
    // kept window = the compacted snapshot only: old data dir + del dir go
    assert(TxLog.vacuum(t, keepVersions = 1) == 2)
    assert(!Files.exists(java.nio.file.Paths.get(t, "del", "d00002")))
    assert(TxLog.read(spark, t).count() == 3)
  }

  test("replaceRange carries disjoint commits and rewrites overlaps") {
    val t = freshTable()
    TxLog.commitWithZone(spark, t,
      Seq((1L, 10L), (2L, 25L)).toDF("x", "z"), "z", targetFiles = 1)
    TxLog.commitWithZone(spark, t,
      Seq((3L, 40L), (4L, 45L)).toDF("x", "z"), "z", targetFiles = 1)
    val (v, carried, rewritten) = TxLog.replaceRange(spark, t,
      Seq((9L, 22L)).toDF("x", "z"), "z", 20L, 30L, targetFiles = 1)
    assert((v, carried, rewritten) == (3, 1, 1))
    val rows = TxLog.read(spark, t).orderBy("z").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (9L, 22L), (3L, 40L), (4L, 45L)))
    // the carried commit's bytes are the SAME files (zero rewritten)
    assert(TxLog.read(spark, t).select(input_file_name().as("f"))
      .distinct().count() == 3)
    // time travel: pre-restate snapshot intact
    assert(TxLog.read(spark, t, Some(2)).count() == 4)
  }

  test("bloom sidecars skip commits that cannot hold the key") {
    val t = freshTable()
    TxLog.commitWithBloom(spark, t,
      Seq(("alpha", 1L), ("beta", 2L)).toDF("k", "v"), "k", targetFiles = 1)
    TxLog.commitWithBloom(spark, t,
      Seq(("gamma", 3L), ("delta", 4L)).toDF("k", "v"), "k", targetFiles = 1)
    val (df, scanned, total) = TxLog.readPrunedKey(spark, t, "k", "gamma")
    assert(total == 2 && scanned >= 1 && scanned <= 2)
    assert(df.filter(col("k") === "gamma").count() == 1)
    // a key in no commit: overwhelmingly likely both prune (fpp 1e-6);
    // the contract we PIN is no false negatives + typed empty frame
    val (df2, scanned2, _) = TxLog.readPrunedKey(spark, t, "k", "omega")
    assert(df2.filter(col("k") === "omega").count() == 0)
    assert(scanned2 <= 2)
    if (scanned2 == 0) assert(df2.columns.toSeq == Seq("k", "v"))
  }

  test("clustered compaction yields range-disjoint zone-mapped buckets") {
    val t = freshTable()
    // interleaved commits: every commit straddles the full z range
    TxLog.commitWithZone(spark, t,
      Seq((1L, 1L), (2L, 50L), (3L, 99L)).toDF("x", "z"), "z", targetFiles = 1)
    TxLog.commitWithZone(spark, t,
      Seq((4L, 2L), (5L, 51L), (6L, 98L)).toDF("x", "z"), "z", targetFiles = 1)
    val (_, preScan, _) = TxLog.readPruned(spark, t, "z", 50L)
    assert(preScan == 2, "interleaved layout defeats zone maps")
    val v = TxLog.compactClustered(spark, t, "z", buckets = 3)
    assert(v == 3)
    // row set preserved, point read prunes to one bucket
    assert(TxLog.read(spark, t).count() == 6)
    val (df, postScan, postTotal) = TxLog.readPruned(spark, t, "z", 50L)
    assert((postScan, postTotal) == (1, 3))
    assert(df.filter(col("z") === 50L).head().getLong(0) == 2L)
    // a value is never split: all copies of z=51 in the same bucket dir
    assert(TxLog.read(spark, t).filter(col("z") === 51L)
      .select(input_file_name()).distinct().count() == 1)
    // delete vectors are folded in by the clustered rewrite
    TxLog.deleteWhere(spark, t, "z = 99", Seq("z"))
    TxLog.compactClustered(spark, t, "z", buckets = 2)
    assert(TxLog.deleteVectorCount(t) == 0)
    assert(TxLog.read(spark, t).count() == 5)
  }

  test("shallow clone copies zero bytes and diverges independently") {
    val root = Files.createTempDirectory("graft_txlog")
    val src = root.resolve("src").toString
    val dst = root.resolve("dst").toString
    TxLog.commitWithZone(spark, src,
      Seq((1L, 10L), (2L, 20L)).toDF("x", "z"), "z", targetFiles = 1)
    assert(TxLog.cloneTable(src, dst) == 1)
    // zero-copy: the clone has NO local data at clone time
    assert(!Files.exists(java.nio.file.Paths.get(dst, "data")))
    assert(TxLog.read(spark, dst).count() == 2)
    // the clone inherits the source's zone sidecars through abs refs
    val (_, scanned, total) = TxLog.readPruned(spark, dst, "z", 10L)
    assert((scanned, total) == (1, 1))
    // divergence: mutate the clone, source untouched
    TxLog.commit(spark, dst, Seq((3L, 30L)).toDF("x", "z"), targetFiles = 1)
    TxLog.deleteWhere(spark, dst, "x = 1", Seq("x"))
    assert(TxLog.readResolved(spark, dst).count() == 2)
    assert(TxLog.read(spark, src).count() == 2)
    assert(TxLog.versions(src) == Seq(1))
    // compaction materializes: all refs become local, source still clean
    TxLog.compact(spark, dst, targetFiles = 1)
    assert(Files.exists(java.nio.file.Paths.get(dst, "data")))
    assert(TxLog.read(spark, dst).count() == 2)
    // a second clone into an existing log must refuse
    intercept[RuntimeException] { TxLog.cloneTable(src, dst) }
  }

  test("analyze persists exact resolved-snapshot stats; readStats serves them") {
    val t = freshTable()
    TxLog.commit(spark, t,
      Seq((1L, Some(10L)), (2L, None), (2L, Some(30L))).toDF("k", "v"),
      targetFiles = 1)
    TxLog.deleteWhere(spark, t, "k = 1", Seq("k"))
    TxLog.analyze(spark, t, Seq("k", "v"))
    val got = TxLog.readStats(spark, t).orderBy("col_name").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    // resolved snapshot = rows with k=2 only: (2, null), (2, 30)
    assert(got == Seq(("k", 1L, 0L, 2L, 2L), ("v", 1L, 1L, 30L, 30L)))
  }

  test("layout advisor handles one slice and constant candidates") {
    val df = Seq((0L, 7L, 1L), (0L, 7L, 9L)).toDF("s", "const", "spread")
    val rows = LayoutAdvisor.advise(df, col("s"), Seq("spread", "const"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // constant column: width 1 everywhere (perfectly clustered, trivially)
    assert(rows == Seq(("const", 1L, 1L, 1L), ("spread", 9L, 9L, 1L)))
  }

  test("clustered compaction into more buckets than distinct values") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq((1L, 5L), (2L, 5L), (3L, 9L)).toDF("x", "z"),
      targetFiles = 1)
    // 2 distinct z values, 8 requested buckets: only non-empty bucket
    // dirs are committed, and the row set is intact
    TxLog.compactClustered(spark, t, "z", buckets = 8)
    assert(TxLog.read(spark, t).count() == 3)
    val (_, scanned, total) = TxLog.readPruned(spark, t, "z", 9L)
    assert(scanned == 1 && total <= 8)
  }

  test("layout advisor ranks the tightly-sliced candidate first") {
    // slice by s: 'good' has width 2 per slice (sum 6, global 30);
    // 'bad' straddles [0, 100] in every slice (sum 303, global 101)
    val df = Seq(
      (0L, 0L, 0L), (0L, 1L, 100L),
      (1L, 10L, 0L), (1L, 11L, 100L),
      (2L, 28L, 0L), (2L, 29L, 100L)).toDF("s", "good", "bad")
    val rows = LayoutAdvisor.advise(df, col("s"), Seq("bad", "good"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq(("good", 6L, 30L, 3L), ("bad", 303L, 101L, 3L)))
  }

  test("constraint-gated commit rejects atomically; clean frame lands") {
    val t = freshTable()
    val dirty = Seq((1L, "a"), (2L, null: String), (2L, "c"), (3L, "d"))
      .toDF("k", "name")
    val audit = TableChecks.audit(dirty, Seq("name"),
      Seq(("k_positive", "k > 0")), Some(Seq("k")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(audit == Map("not_null_name" -> 1L, "check_k_positive" -> 0L,
      "unique_k" -> 1L))
    intercept[TableChecks.ConstraintViolationException] {
      TableChecks.commitChecked(spark, t, dirty, notNull = Seq("name"),
        uniqueKey = Some(Seq("k")))
    }
    assert(TxLog.versions(t).isEmpty, "rejected commit must not create a version")
    val v = TableChecks.commitChecked(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"),
      notNull = Seq("name"), checks = Seq(("k_positive", "k > 0")),
      uniqueKey = Some(Seq("k")), targetFiles = 1)
    assert(v == 1 && TxLog.read(spark, t).count() == 2)
  }

  // ---- round-9 hardening (the round-8 advice findings) ---------------

  test("replaceRange carries NULL-zone rows out of rewritten dirs") {
    val t = freshTable()
    // plain commit (no zone sidecar → always classified touched) with
    // two null-zone rows: the rewrite filter must keep them
    TxLog.commit(spark, t,
      Seq(Some(5L), Some(15L), None, None).toDF("z"), targetFiles = 1)
    val (v, carried, rewritten) = TxLog.replaceRange(spark, t,
      Seq(10L, 11L).toDF("z"), "z", lo = 10L, hi = 20L, targetFiles = 1)
    assert((v, carried, rewritten) == (2, 0, 1))
    val rows = TxLog.read(spark, t).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    // 15 replaced; 5 kept; the two NULLs kept (were silently dropped
    // before the round-9 fix); 10 and 11 are the restatement
    assert(rows.sorted(Ordering.Option[Long]) ==
      Seq(None, None, Some(5L), Some(10L), Some(11L)))
  }

  test("deleteWhere removes rows whose key tuple contains NULL") {
    val t = freshTable()
    TxLog.commit(spark, t,
      Seq((Some("a"), 1L), (None: Option[String], 2L), (Some("c"), 3L))
        .toDF("name", "x"), targetFiles = 1)
    // matches the NULL-name row; the vector carries a NULL key value —
    // the null-safe anti join must still remove it
    TxLog.deleteWhere(spark, t, "x = 2", keys = Seq("name", "x"))
    val left = TxLog.readResolved(spark, t).select("x")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(1L, 3L))
    // diff across the delete: exactly one delete row, zero inserts —
    // and repeated diffs of IDENTICAL versions with null-bearing rows
    // report no phantom churn
    val d = TxLog.diff(spark, t, 1, 2).groupBy("change").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d == Map("delete" -> 1L))
    assert(TxLog.diff(spark, t, 2, 2).count() == 0)
  }

  test("pruned reads apply standing delete vectors") {
    val t = freshTable()
    TxLog.commitWithZone(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("z", "name"), "z", targetFiles = 1)
    TxLog.commitWithZone(spark, t,
      Seq((10L, "x"), (11L, "y")).toDF("z", "name"), "z", targetFiles = 1)
    TxLog.deleteWhere(spark, t, "z = 10", keys = Seq("z", "name"))
    val (point, scanned, total) = TxLog.readPruned(spark, t, "z", 10L)
    assert((scanned, total) == (1, 2))
    assert(point.filter(col("z") === 10L).count() == 0,
      "pruned point read must not resurface a deleted row")
    val (range, _, _) = TxLog.readPrunedRange(spark, t, "z", 1L, 11L)
    assert(range.select("z").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 11L))
  }

  test("history flags delete-vector growth for change-feed consumers") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("x", "name"),
      targetFiles = 1)
    TxLog.deleteWhere(spark, t, "x = 1", keys = Seq("x", "name"))
    TxLog.commit(spark, t, Seq((3L, "c")).toDF("x", "name"),
      targetFiles = 1)
    val h = TxLog.history(spark, t).orderBy("version").collect()
      .map(r => (r.getInt(0), r.getInt(2), r.getBoolean(3), r.getInt(4)))
      .toSeq
    // v2 (the delete) adds no data dir and is not a rewrite — without
    // dels_added a fold-readChanges consumer would skip it silently
    assert(h == Seq((1, 1, false, 0), (2, 0, false, 1), (3, 1, false, 0)))
  }

  test("two concurrent appenders both land via retry-rebase") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq(0L).toDF("x"), targetFiles = 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def appender(lo: Long): Future[Int] = Future {
      val df = Seq(lo, lo + 1).toDF("x")
      barrier.await()
      TxLog.append(spark, t, df, targetFiles = 1)
    }
    val vs = Await.result(
      Future.sequence(Seq(appender(10L), appender(20L))), 120.seconds)
    pool.shutdown()
    // both landed, on distinct consecutive versions (linear history)
    assert(vs.toSet == Set(2, 3), s"got $vs")
    assert(TxLog.versions(t) == Seq(1, 2, 3))
    assert(TxLog.read(spark, t).agg(sum("x")).head().getLong(0) ==
      0L + 10 + 11 + 20 + 21)
    // snapshot isolation preserved: v2 contains exactly one appender's
    // rows on top of v1
    assert(TxLog.read(spark, t, Some(2)).count() == 3)
  }

  test("restore re-references an old version; history stays append-only") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq(1L, 2L).toDF("x"), targetFiles = 1)
    TxLog.append(spark, t, Seq(3L, 4L).toDF("x"), targetFiles = 1)
    TxLog.deleteWhere(spark, t, "x >= 3", Seq("x"))
    assert(TxLog.readResolved(spark, t).count() == 2)
    val v = TxLog.restore(t, 2)
    assert(v == 4)
    assert(TxLog.versions(t) == Seq(1, 2, 3, 4))
    // head is exactly v2's content, delete vectors gone
    assert(TxLog.readResolved(spark, t)
      .agg(sum("x")).head().getLong(0) == 10L)
    assert(TxLog.deleteVectorCount(t) == 0)
    // the rolled-back version still time-travels
    assert(TxLog.readResolved(spark, t, Some(3)).count() == 2)
    // zero data bytes moved: no new data directory was written
    assert(TxLog.read(spark, t)
      .select(input_file_name().as("f")).distinct().count() == 2)
  }

  test("restore refuses a nonexistent or vacuumed target") {
    val t = freshTable()
    TxLog.commit(spark, t, Seq(1L).toDF("x"), targetFiles = 1)
    intercept[IllegalArgumentException](TxLog.restore(t, 7))
    // compaction supersedes v1's directory; vacuum reclaims it AND
    // drops v1's log entry, so the restore is refused at version lookup
    TxLog.compact(spark, t, targetFiles = 1)
    TxLog.vacuum(t, keepVersions = 1)
    intercept[IllegalArgumentException](TxLog.restore(t, 1))
  }

  test("restore refuses a target whose directories were vacuumed") {
    val src = freshTable()
    val dst = freshTable()
    TxLog.commit(spark, src, Seq(1L).toDF("x"), targetFiles = 1)
    TxLog.cloneTable(src, dst)
    // the source's vacuum reclaims the directory the clone's v1 names
    TxLog.compact(spark, src, targetFiles = 1)
    TxLog.vacuum(src, keepVersions = 1)
    val e = intercept[IllegalStateException](TxLog.restore(dst, 1))
    assert(e.getMessage.contains("was vacuumed"), e.getMessage)
    assert(TxLog.versions(dst) == Seq(1), "a refused restore commits nothing")
  }

  test("a clone of a table stored under a directory with a comma reads back") {
    val base = Files.createTempDirectory("graft_txlog").resolve("a,b")
    val src = base.resolve("src").toString
    val dst = base.resolve("dst").toString
    TxLog.commit(spark, src, Seq(1L, 2L, 3L).toDF("x"), targetFiles = 1)
    TxLog.deleteWhere(spark, src, "x = 2", Seq("x"))
    TxLog.cloneTable(src, dst)
    def xs(t: String) =
      TxLog.readResolved(spark, t).as[Long].collect().sorted.toSeq
    assert(xs(dst) == xs(src))
    assert(xs(dst) == Seq(1L, 3L))
  }
}
