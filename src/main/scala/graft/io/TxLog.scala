package graft.io

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Minimal copy-on-write table log — the versioned-parquet sink a lake
  * deployment needs for append + time travel + compaction without an
  * external table format dependency (offline classpath: no Delta/
  * Iceberg jars — see build.sbt).
  *
  * Layout: `<table>/_log/v<NNNNN>.json` (one JSON per committed
  * version, listing the data SUBDIRECTORIES the snapshot reads) and
  * `<table>/data/c<NNNNN>/` (one directory of parquet per commit —
  * data files are immutable once written; a commit only ever ADDS a
  * directory, a compaction replaces the list, never the bytes).
  *
  * Concurrency/atomicity: all log I/O goes through the Hadoop
  * [[FileSystem]] resolved from the table path — local paths use the
  * local FS, `hdfs://`/object-store paths their native client, so the
  * log works wherever the parquet does. A log entry is written to a
  * writer-unique temp file and renamed into place; commits are
  * OPTIMISTICALLY CONCURRENT: the rename refuses an existing target,
  * and a read-back after the rename verifies this writer's bytes won —
  * a lost race throws [[ConcurrentCommitException]] (never silent
  * last-wins), and the loser's data directory is left for [[vacuum]].
  * Version numbers are dense; the current version is the max log file.
  *
  * Scale: a snapshot read is `Parquet.read(spark, dirs*)` — partition
  * pruning, pushdown and split planning all apply per directory;
  * compaction rewrites data ONCE into a target-sized layout and
  * commits the swap as one rename. The log itself is O(versions) tiny
  * JSON files, never data-sized.
  */
object TxLog {

  /** A racing writer committed the same version first. Retry the
    * commit: re-read the current version and re-run the transaction.
    */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  // every log operation resolves a FileSystem, many without a session:
  // through the one shared conf that resolves `file:` as the session does
  private[io] def fs(table: String): FileSystem =
    new HPath(table).getFileSystem(LocalFs.conf)

  /** A log entry normally lists table-relative directories
    * (`data/cNNNNN`). A SHALLOW CLONE's entry lists ABSOLUTE
    * directories of its source table — resolve both.
    */
  private def resolveDir(table: String, sub: String): String =
    if (sub.startsWith("/") || sub.contains("://")) sub else s"$table/$sub"

  /** Sidecar path for a data directory. A table-relative ref keeps its
    * sidecars in this table's `_log/`; an absolute ref (shallow clone)
    * resolves against ITS OWN table root — clones inherit the source's
    * zone/bloom sidecars and keep skipping without copying them.
    */
  private def sidecarPath(table: String, sub: String,
      prefix: String): HPath = {
    val i = sub.lastIndexOf("/data/")
    if (i >= 0)
      new HPath(sub.substring(0, i) + s"/_log/${prefix}_" +
        sub.substring(i + 6) + ".json")
    else
      new HPath(table, sub.replace("data/", s"_log/${prefix}_") + ".json")
  }

  /** The entries of directory `d`, empty when it does not exist. */
  private def ls(table: String, d: HPath): Seq[FileStatus] = {
    val f = fs(table)
    if (f.exists(d)) f.listStatus(d).toSeq else Seq.empty
  }

  private def readString(f: FileSystem, p: HPath): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeString(f: FileSystem, p: HPath, s: String): Unit = {
    val out = f.create(p, false)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Writer-unique token: two racers never share a temp file or an
    * append's data directory name.
    */
  private def nonce(): String =
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getName.hashCode.toHexString + "-" +
      Thread.currentThread().getId.toHexString + "-" +
      System.nanoTime().toHexString

  /** One log entry: the data directories a snapshot reads and its
    * equality-delete directories. Entries written before delete support
    * carry no `"dels"` field and parse as having none — old tables stay
    * readable unchanged.
    */
  private final case class Entry(dirs: Seq[String] = Seq.empty,
      dels: Seq[String] = Seq.empty) {
    def refs: Seq[String] = dirs ++ dels
  }

  private val json = new ObjectMapper()

  /** A JSON string array; `\`, `"` and control characters are escaped,
    * so a directory name containing a comma or a quote survives.
    */
  private def jsonArray(xs: Seq[String]): String =
    xs.map(x => "\"" + new String(
      JsonStringEncoder.getInstance.quoteAsString(x)) + "\"")
      .mkString("[", ",", "]")

  /** One version log: the main log `_log/` or a branch log
    * `_log/branches/<name>/`. Both hold `vNNNNN.json` entries of the
    * fixed shape `{"version":N,"dirs":[...],"dels":[...]}`, committed
    * by the same three-guard write.
    */
  private final case class Log(table: String, dir: HPath, what: String) {
    private def entryPath(v: Int): HPath = new HPath(dir, f"v$v%05d.json")

    /** Versions present, ascending (empty for a fresh log). */
    def versions: Seq[Int] = ls(table, dir)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
      .sorted

    def read(v: Int): Entry = {
      val root = json.readTree(readString(fs(table), entryPath(v)))
      def strings(key: String): Option[Seq[String]] =
        Option(root.get(key)).map(_.elements.asScala.map(_.asText).toSeq)
      Entry(strings("dirs").getOrElse(
          sys.error(s"malformed log entry ${what}v$v for $table")),
        strings("dels").getOrElse(Seq.empty))
    }

    /** Commit the version-`v` entry, or throw
      * [[ConcurrentCommitException]] if another writer got there first.
      * Three guards, cheapest first: an existence check before the
      * rename, the rename itself (HDFS and object stores refuse an
      * existing destination), and a read-back compare after it (POSIX
      * rename() REPLACES silently — the local-FS race a pre-check alone
      * cannot close).
      */
    def write(v: Int, e: Entry): Unit = {
      val f = fs(table)
      f.mkdirs(dir)
      // `dels` omitted when empty: entries for delete-free tables keep
      // the exact pre-delete-support shape (byte-stable history)
      val delsJson =
        if (e.dels.isEmpty) "" else s""","dels":${jsonArray(e.dels)}"""
      val txt = s"""{"version":$v,"dirs":${jsonArray(e.dirs)}$delsJson}"""
      val target = entryPath(v)
      val tmp = new HPath(dir, f".v$v%05d.${nonce()}.tmp")
      writeString(f, tmp, txt)
      def lose(stage: String): Nothing = {
        f.delete(tmp, false)
        throw new ConcurrentCommitException(
          s"version v$v of $table was committed by another writer ($stage); " +
            "re-read the current version and retry")
      }
      if (f.exists(target)) lose("pre-rename check")
      if (!f.rename(tmp, target)) lose("rename refused")
      if (readString(f, target) != txt) lose("read-back mismatch")
    }

    def delete(v: Int): Unit = fs(table).delete(entryPath(v), false)
  }

  private def mainLog(table: String): Log =
    Log(table, new HPath(table, "_log"), "")

  private def branchLog(table: String, branch: String): Log =
    Log(table, new HPath(table, s"_log/branches/$branch"), s"branch $branch ")

  /** Versions present in the log, ascending (empty for a fresh table). */
  def versions(table: String): Seq[Int] = mainLog(table).versions

  def currentVersion(table: String): Option[Int] = versions(table).lastOption

  private def entry(table: String, v: Int): Entry = mainLog(table).read(v)

  /** The current version of a table `op` needs to exist. */
  private def headFor(table: String, op: String): Int =
    currentVersion(table).getOrElse(sys.error(s"nothing to $op in $table"))

  /** `version`, or the current head when it is absent. */
  private def versionOrHead(table: String, version: Option[Int]): Int =
    version.orElse(currentVersion(table))
      .getOrElse(sys.error(s"no committed version in $table"))

  /** Commit a main-log entry (see [[Log.write]]). */
  private[io] def writeEntry(table: String, v: Int, dirs: Seq[String],
      dels: Seq[String] = Seq.empty): Unit =
    mainLog(table).write(v, Entry(dirs, dels))

  /** Commit `edit` of the log's head as the next version, RETRY-REBASED:
    * on a lost race the edit is re-applied to the new head and the
    * write retried; after `maxRetries` consecutive lost races the last
    * [[ConcurrentCommitException]] propagates. The head is read only if
    * `edit` uses it (empty for a fresh log). Returns the version that
    * landed.
    */
  private def rebase(log: Log, maxRetries: Int)(
      edit: (=> Entry) => Entry): Int = {
    var attempt = 0
    while (true) {
      val cur = log.versions.lastOption
      val v = cur.getOrElse(0) + 1
      lazy val head = cur.map(log.read).getOrElse(Entry())
      val next = edit(head)
      try {
        log.write(v, next)
        return v
      } catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    -1 // unreachable
  }

  /** Write `df` as the immutable data directory `sub` of `table`. */
  private def writeDir(df: DataFrame, table: String, sub: String,
      targetFiles: Int): Unit =
    df.repartition(targetFiles).write.mode("errorifexists")
      .parquet(s"$table/$sub")

  /** Append `df` as a new commit; returns the new version number.
    * Throws [[ConcurrentCommitException]] on a lost race (the caller
    * retries from a fresh `currentVersion`).
    */
  def commit(spark: SparkSession, table: String, df: DataFrame,
      targetFiles: Int = 4): Int = {
    val log = mainLog(table)
    val cur = log.versions.lastOption
    val v = cur.getOrElse(0) + 1
    val sub = f"data/c$v%05d"
    writeDir(df, table, sub, targetFiles)
    // carry BOTH lists: an append must not drop standing delete
    // vectors, or merge-on-read deleted rows would resurface
    val prev = cur.map(log.read).getOrElse(Entry())
    log.write(v, prev.copy(dirs = prev.dirs :+ sub))
    v
  }

  /** Append with RETRY-REBASE — the commuting-commit path a real
    * multi-writer lake needs on top of [[commit]]'s detect-and-throw:
    * an append's data directory is written ONCE under a writer-unique
    * name (never the version-named `cNNNNN` two racers would collide
    * on), then the log entry is attempted against the current head; on
    * a lost race the entry — not the data — is REBASED onto the new
    * head (its dirs/dels plus ours) and retried. An append commutes
    * with any concurrent commit (its rows are new and its directory is
    * untouched by the other writer's list edit), so the rebase is
    * always semantically safe; after `maxRetries` consecutive lost
    * races the last [[ConcurrentCommitException]] propagates. Returns
    * the version that actually landed.
    */
  def append(spark: SparkSession, table: String, df: DataFrame,
      targetFiles: Int = 4, maxRetries: Int = 10): Int = {
    val sub = s"data/a${nonce()}"
    writeDir(df, table, sub, targetFiles)
    rebase(mainLog(table), maxRetries)(h => h.copy(dirs = h.dirs :+ sub))
  }

  /** Snapshot read — latest version, or time travel to `version`. */
  def read(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val dirs = entry(table, versionOrHead(table, version)).dirs
    Parquet.read(spark, dirs.map(resolveDir(table, _)): _*)
  }

  /** Snapshot read with schema merge across commits — the
    * schema-evolution read: a commit may ADD nullable columns, and the
    * merged snapshot presents the union schema with nulls where an
    * older commit predates a column (parquet's mergeSchema semantics
    * lifted to the commit list). Time travel to a pre-evolution
    * version still shows the old schema via [[read]].
    */
  def readMerged(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val dirs = entry(table, versionOrHead(table, version)).dirs
    spark.read.option("mergeSchema", "true")
      .parquet(dirs.map(resolveDir(table, _)): _*)
  }

  /** Merge-on-read DELETE (equality-delete vectors, the Iceberg
    * equality-delete idea): rows of the current RESOLVED snapshot
    * matching `cond` (a SQL predicate) have their `keys`-tuple written
    * to a tiny `del/dNNNNN` parquet directory, and the new version
    * lists it alongside the untouched data directories. No data file is
    * rewritten — a delete costs O(|deleted keys|) bytes, not an O(table)
    * copy-on-write pass. [[readResolved]] applies the vectors as
    * broadcast anti joins; [[compact]] materializes them away.
    *
    * Semantics note: a delete vector removes EVERY row whose key-tuple
    * matches (equality-delete semantics). Include enough columns in
    * `keys` to identify exactly the rows you mean.
    */
  def deleteWhere(spark: SparkSession, table: String, cond: String,
      keys: Seq[String], targetFiles: Int = 1): Int = {
    import org.apache.spark.sql.functions.col
    val cur = headFor(table, "delete from")
    val v = cur + 1
    val sub = f"del/d$v%05d"
    writeDir(readResolved(spark, table, Some(cur))
      .filter(cond).select(keys.map(col): _*).distinct(),
      table, sub, targetFiles)
    val Entry(dirs, dels) = entry(table, cur)
    writeEntry(table, v, dirs, dels :+ sub)
    v
  }

  /** Rows of `l` with no match in `r` on `cols`, compared NULL-SAFELY
    * (`<=>`): a plain equality anti join never matches a row whose key
    * tuple contains a NULL, so a delete vector would silently never
    * remove it, and a diff would report it as both insert and delete
    * (the round-8 advice findings).
    */
  private def antiJoin(l: DataFrame, r: DataFrame,
      cols: Seq[String]): DataFrame =
    l.join(r, cols.map(c => l(c) <=> r(c)).reduce(_ && _), "left_anti")

  /** Read the entry's directories and apply its standing delete vectors
    * as broadcast anti joins on each vector's own columns.
    */
  private def resolved(spark: SparkSession, table: String,
      e: Entry): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val df = Parquet.read(spark, e.dirs.map(resolveDir(table, _)): _*)
    e.dels.foldLeft(df) { (d, sub) =>
      val vec = Parquet.read(spark, resolveDir(table, sub))
      antiJoin(d, broadcast(vec), vec.columns)
    }
  }

  /** Snapshot read with delete vectors APPLIED — the logical table a
    * user means. Each vector is anti-joined (null-safely) on its own
    * key columns; vectors are broadcast (they are small by contract — a
    * table whose delete set grew data-sized should be [[compact]]ed,
    * which folds the vectors in and clears them). [[read]] stays the
    * raw physical read (all rows ever committed, vectors ignored).
    */
  def readResolved(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame =
    resolved(spark, table, entry(table, versionOrHead(table, version)))

  /** Number of delete-vector directories the version's snapshot carries
    * (0 once a compaction has folded them in).
    */
  def deleteVectorCount(table: String, version: Option[Int] = None): Int =
    entry(table, versionOrHead(table, version)).dels.size

  /** Commit history, newest last: one row per version with its
    * directory count, how many directories it ADDED vs the previous
    * version, and whether it was a REWRITE (compaction/merge — the
    * entry list is not a superset of its predecessor's). Reads only
    * the O(versions) log, never data — Delta's DESCRIBE HISTORY
    * equivalent for schedulers and audits.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    val rows = vs.foldLeft(
      (Seq.empty[(Int, Int, Int, Boolean, Int)],
        Set.empty[String], Set.empty[String])) {
      case ((acc, prev, prevDels), v) =>
        val e = entry(table, v)
        val (dirs, dels) = (e.dirs.toSet, e.dels.toSet)
        val added = (dirs diff prev).size
        val rewrite = prev.nonEmpty && !prev.subsetOf(dirs)
        // delete vectors added by this version: a merge-on-read DELETE
        // has dirs_added = 0 and is_rewrite = false, so without this
        // column a change-feed consumer folding readChanges would
        // silently miss it (round-8 advice finding). MV-consumer
        // contract: resync on `is_rewrite OR dels_added > 0`.
        val delsAdded = (dels diff prevDels).size
        (acc :+ ((v, dirs.size, added, rewrite, delsAdded)), dirs, dels)
    }._1
    rows.toDF("version", "n_dirs", "dirs_added", "is_rewrite",
      "dels_added")
  }

  /** Vacuum: delete data directories no snapshot in the kept-version
    * window references (with their zone-map sidecars), and drop the
    * log entries older than the window — the retention step that makes
    * compaction actually reclaim space. `keepVersions` counts back from
    * the current version; time travel inside the window keeps working,
    * older versions stop resolving (the documented retention contract
    * every table format ships). Returns the number of data directories
    * deleted.
    */
  def vacuum(table: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1)
    val log = mainLog(table)
    val vs = log.versions
    if (vs.isEmpty) return 0
    // tagged versions are pinned: a tag is a retention promise, so its
    // entry and directories survive any keepVersions horizon; active
    // branches likewise pin every directory their log references
    val tagged = tags(table).values.toSet
    val kept = (vs.takeRight(keepVersions) ++ vs.filter(tagged)).distinct
    val doomed = unreferenced(table, referenced(table, kept), Long.MaxValue)
    doomed.foreach(dropDir(table, _))
    vs.filterNot(kept.toSet).foreach(log.delete)
    doomed.size
  }

  /** Every directory named by the given main-log versions or by any
    * version of any branch log.
    */
  private def referenced(table: String, mainVersions: Seq[Int]): Set[String] = {
    val branchRefs = branches(table).flatMap { b =>
      val log = branchLog(table, b)
      log.versions.flatMap(log.read(_).refs)
    }
    (mainVersions.flatMap(entry(table, _).refs) ++ branchRefs).toSet
  }

  /** Directories under `data/` and `del/` that `refs` does not name and
    * that were last modified at or before `cutoff`, sorted per root.
    */
  private def unreferenced(table: String, refs: Set[String],
      cutoff: Long): Seq[String] =
    Seq("data", "del").flatMap { root =>
      ls(table, new HPath(table, root))
        .filter(_.getModificationTime <= cutoff)
        .map(st => s"$root/${st.getPath.getName}")
        .filterNot(refs.contains)
        .sorted
    }

  /** Delete a directory with its zone and bloom sidecars — the sidecars
    * of a deleted directory must go with it, or orphan sidecar files
    * accumulate forever.
    */
  private def dropDir(table: String, sub: String): Unit = {
    val f = fs(table)
    f.delete(new HPath(table, sub), true)
    f.delete(zonePath(table, sub), false)
    f.delete(bloomPath(table, sub), false)
  }

  /** Per-commit zone map: record the (min, max) of `zoneCol` for a
    * commit's directory in a sidecar next to the log entry. Written by
    * [[commitWithZone]]; consulted by [[readPruned]].
    */
  private def zonePath(table: String, sub: String): HPath =
    sidecarPath(table, sub, "zone")

  /** A directory's sidecar text, if it has one. */
  private def sidecar(table: String, p: HPath): Option[String] = {
    val f = fs(table)
    if (f.exists(p)) Some(readString(f, p)) else None
  }

  /** A directory's zone envelope (min, max), if it has a sidecar. */
  private def zone(table: String, sub: String): Option[(Long, Long)] =
    sidecar(table, zonePath(table, sub)).map { txt =>
      def g(k: String): Long =
        raw""""$k":(-?\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
      (g("min"), g("max"))
    }

  private def writeZone(table: String, sub: String, zoneCol: String,
      min: Long, max: Long): Unit =
    writeString(fs(table), zonePath(table, sub),
      s"""{"col":"$zoneCol","min":$min,"max":$max}""")

  /** Append `df` as a new commit AND record the zone map of `zoneCol`
    * (a long column) for the new directory — the footer-statistics
    * idea lifted to the table-format level, so a point/range read can
    * skip whole COMMITS without opening a single parquet footer. An
    * EMPTY commit writes no sidecar (there is no envelope to record;
    * [[readPruned]]'s no-sidecar fallback scans it safely).
    */
  def commitWithZone(spark: SparkSession, table: String, df: DataFrame,
      zoneCol: String, targetFiles: Int = 4): Int = {
    val v = commit(spark, table, df, targetFiles)
    writeZone(spark, table, f"data/c$v%05d", zoneCol)
    v
  }

  /** Compute and write the zone sidecar of an already-written data
    * directory (no sidecar when the directory is empty — there is no
    * envelope to record; the no-sidecar fallback scans it safely).
    */
  private def writeZone(spark: SparkSession, table: String, sub: String,
      zoneCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    val r = Parquet.read(spark, s"$table/$sub")
      .agg(smin(col(zoneCol)), smax(col(zoneCol))).head()
    if (!r.isNullAt(0) && !r.isNullAt(1))
      writeZone(table, sub, zoneCol, r.getLong(0), r.getLong(1))
  }

  /** Zone-map-driven partial overwrite (the replaceWhere/dynamic-
    * partition-overwrite idea, driven by the commit envelopes instead
    * of a partition column): replace all rows with `zoneCol` in
    * [lo, hi] by `df`. Commit directories whose zone envelope is
    * DISJOINT from the range are carried into the new version verbatim
    * — zero bytes rewritten for untouched data; only overlapping
    * directories are filtered (rows outside the range kept) and
    * rewritten. At 100 TB with date-ranged commits, a one-day restate
    * rewrites one day, not the table. Delete vectors are carried
    * through unchanged (they keep applying to the carried directories;
    * a key re-inserted by `df` that an old vector names should be
    * resolved by [[compact]]ing before the restate — documented
    * contract). Returns (newVersion, dirsCarried, dirsRewritten).
    */
  def replaceRange(spark: SparkSession, table: String, df: DataFrame,
      zoneCol: String, lo: Long, hi: Long,
      targetFiles: Int = 4): (Int, Int, Int) = {
    import org.apache.spark.sql.functions.col
    require(lo <= hi, s"empty range [$lo, $hi]")
    val cur = headFor(table, "replace")
    val Entry(dirs, dels) = entry(table, cur)
    val (carried, touched) = dirs.partition(sub =>
      zone(table, sub).exists { case (mn, mx) => mx < lo || hi < mn })
    val v = cur + 1
    var newDirs = carried
    if (touched.nonEmpty) {
      val subRw = f"data/c$v%05d_rw"
      // NULL zoneCol rows are OUTSIDE any [lo, hi] range and must be
      // carried: without the isNull arm the keep-filter evaluates to
      // NULL for them and the rewrite silently drops them (the round-8
      // advice finding — no-sidecar dirs are always classified touched,
      // so plain-commit data was exposed too)
      writeDir(Parquet.read(spark, touched.map(resolveDir(table, _)): _*)
        .filter(col(zoneCol).isNull ||
          col(zoneCol) < lo || col(zoneCol) > hi),
        table, subRw, targetFiles)
      writeZone(spark, table, subRw, zoneCol)
      newDirs = newDirs :+ subRw
    }
    val subNew = f"data/c$v%05d_new"
    writeDir(df, table, subNew, targetFiles)
    writeZone(spark, table, subNew, zoneCol)
    writeEntry(table, v, newDirs :+ subNew, dels)
    (v, carried.size, touched.size)
  }

  /** Per-commit Bloom sidecar for a STRING key column — the skipping
    * structure zone maps can't provide (no meaningful min/max order).
    * Built with Spark's own mergeable sketch
    * (`DataFrameStatFunctions.bloomFilter`, computed distributed and
    * merged on the driver), serialized base64 into
    * `_log/bloom_cNNNNN.json`. [[readPrunedKey]] skips every commit
    * whose filter says "definitely absent" — no false negatives, so a
    * skipped commit provably lacks the key; false positives only cost
    * an extra scan (rate `fpp`).
    */
  private def bloomPath(table: String, sub: String): HPath =
    sidecarPath(table, sub, "bloom")

  def commitWithBloom(spark: SparkSession, table: String, df: DataFrame,
      keyCol: String, fpp: Double = 1e-6, targetFiles: Int = 4): Int = {
    val v = commit(spark, table, df, targetFiles)
    val sub = f"data/c$v%05d"
    val committed = Parquet.read(spark, s"$table/$sub")
    val n = committed.count()
    if (n > 0) {
      val bf = committed.stat.bloomFilter(keyCol, math.max(n, 1L), fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
      writeString(fs(table), bloomPath(table, sub),
        s"""{"col":"$keyCol","fpp":$fpp,"bits":"$b64"}""")
    }
    v
  }

  /** Point read of a string key pruned by the commit Bloom sidecars:
    * only directories whose filter might contain `value` (or that have
    * no sidecar — safe fallback) are scanned. Empty-prune returns an
    * empty frame with the table schema, like [[readPruned]]. Standing
    * delete vectors ARE applied (like [[readResolved]]) — a pruned
    * point read on a table with un-compacted deletes must not
    * resurface deleted rows. Returns (frame, dirsScanned, dirsTotal).
    */
  def readPrunedKey(spark: SparkSession, table: String, keyCol: String,
      value: String): (DataFrame, Int, Int) =
    readKept(spark, table)(sub =>
      sidecar(table, bloomPath(table, sub)).forall { txt =>
        val b64 = raw""""bits":"([^"]*)"""".r.findFirstMatchIn(txt)
          .get.group(1)
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(b64)))
        bf.mightContainString(value)
      })

  /** Snapshot read pruned by the commit zone maps: only directories
    * whose [min, max] envelope can contain `point` are scanned;
    * directories without a sidecar are always scanned (safe fallback).
    * When EVERY commit is pruned, returns an empty frame with the
    * table's schema and dirsScanned = 0 — a point read of an absent
    * key is a legitimate query, not an error. Standing delete vectors
    * ARE applied (the [[readResolved]] contract).
    * Returns (frame, dirsScanned, dirsTotal).
    */
  def readPruned(spark: SparkSession, table: String, zoneCol: String,
      point: Long): (DataFrame, Int, Int) =
    readKept(spark, table)(sub => zone(table, sub)
      .forall { case (mn, mx) => mn <= point && point <= mx })

  /** Snapshot read pruned to the commits whose zone envelope overlaps
    * [lo, hi] — the range twin of [[readPruned]] (same sidecar, same
    * no-sidecar always-scan fallback, same empty-frame result when
    * everything prunes, same delete-vector application).
    * Returns (frame, dirsScanned, dirsTotal).
    */
  def readPrunedRange(spark: SparkSession, table: String, zoneCol: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    readKept(spark, table)(sub => zone(table, sub)
      .forall { case (mn, mx) => mn <= hi && lo <= mx })
  }

  /** The pruned read: the head's directories that `keep` accepts, with
    * the standing delete vectors applied; when nothing is kept, an
    * empty frame with the table's schema (from one footer of the
    * current snapshot — no data read). Returns (frame, dirsScanned,
    * dirsTotal).
    */
  private def readKept(spark: SparkSession, table: String)(
      keep: String => Boolean): (DataFrame, Int, Int) = {
    val e = entry(table, versionOrHead(table, None))
    val kept = e.dirs.filter(keep)
    val df =
      if (kept.nonEmpty) resolved(spark, table, e.copy(dirs = kept))
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        Parquet.schema(spark, resolveDir(table, e.dirs.head)))
    (df, kept.size, e.dirs.size)
  }

  /** Policy-driven maintenance: compact ONLY when the current snapshot
    * reads more than `maxDirs` directories (the "too many small
    * commits" trigger every table format ships as OPTIMIZE). Returns
    * (dirsBefore, dirsAfter, compacted?) — a no-op when the snapshot is
    * already within policy, so schedulers can call it unconditionally.
    */
  def compactIfNeeded(spark: SparkSession, table: String, maxDirs: Int,
      targetFiles: Int = 4): (Int, Int, Boolean) = {
    require(maxDirs >= 1)
    val cur = headFor(table, "compact")
    val before = entry(table, cur).dirs.size
    if (before <= maxDirs) (before, before, false)
    else {
      compact(spark, table, targetFiles)
      (before, 1, true)
    }
  }

  /** Incremental consumption: the rows ADDED by commits in
    * (fromVersion, toVersion] — i.e. the data directories present in
    * `to`'s snapshot but not in `from`'s. Only valid across APPEND
    * commits (a compaction/merge rewrites the list; consumers resync
    * from a snapshot read then — the same contract Delta/Iceberg CDC
    * readers document for rewrite commits).
    */
  def readChanges(spark: SparkSession, table: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    val before = entry(table, fromVersion).dirs.toSet
    val added = entry(table, toVersion).dirs.filterNot(before)
    require(added.nonEmpty,
      s"no appended data between v$fromVersion and v$toVersion")
    Parquet.read(spark, added.map(resolveDir(table, _)): _*)
  }

  /** Row-level diff between two versions, as a CDC frame: the rows of
    * `to`'s RESOLVED snapshot absent from `from`'s (`change = 'insert'`)
    * plus the rows of `from`'s absent from `to`'s (`change = 'delete'`)
    * — Delta's `table_changes` semantics recovered for ANY version pair,
    * including across rewrites (MERGE/compaction), where the append-only
    * [[readChanges]] contract does not apply. An update surfaces as its
    * delete + insert pair. Cost is two anti joins over the two
    * snapshots — shuffle-heavy but single-pass, the honest price of a
    * content diff; incremental consumers should prefer [[readChanges]]
    * between append-only versions and fall back to this across
    * `is_rewrite` steps (see [[history]]).
    */
  def diff(spark: SparkSession, table: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val a = readResolved(spark, table, Some(fromVersion))
    val b = readResolved(spark, table, Some(toVersion))
    antiJoin(b, a, a.columns).withColumn("change", lit("insert"))
      .unionByName(antiJoin(a, b, a.columns).withColumn("change", lit("delete")))
  }

  /** Copy-on-write MERGE (upsert): rows of the current snapshot whose
    * `keys` match a row in `updates` are REPLACED by the update row;
    * everything else is carried over. One anti join + one rewrite into
    * a fresh directory, committed as a list swap — old versions stay
    * readable, data files stay immutable.
    */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String], targetFiles: Int = 4): Int =
    rewrite(spark, table, "merge into", targetFiles)(
      _.join(updates, keys, "left_anti").unionByName(updates))

  /** Rewrite `edit` of the head's RESOLVED snapshot (delete vectors
    * applied) into one fresh directory and commit it as the whole new
    * list — the rewrite folds the vectors in, so the new entry carries
    * none.
    */
  private def rewrite(spark: SparkSession, table: String, op: String,
      targetFiles: Int)(edit: DataFrame => DataFrame): Int = {
    val cur = headFor(table, op)
    val v = cur + 1
    val sub = f"data/c$v%05d"
    writeDir(edit(readResolved(spark, table, Some(cur))), table, sub,
      targetFiles)
    writeEntry(table, v, Seq(sub))
    v
  }

  /** Clustered compaction (the 1-D core of OPTIMIZE ... ZORDER):
    * rewrite the resolved snapshot into up to `buckets` RANGE-DISJOINT
    * directories split at exact quantiles of `zoneCol` (a long column),
    * each with its own zone sidecar — after it, a point/range read
    * prunes to the one bucket that can hold the value, even when the
    * original commits all straddled the full range. Split points come
    * from the distinct-value histogram's prefix sums (the window runs
    * over the O(|domain|) aggregate, never row-scale); the data moves
    * ONCE through a single partitionBy write, then the bucket
    * directories are renamed into the commit and the swap is one log
    * entry. Values are never split across buckets, so bucket envelopes
    * are disjoint by construction. Delete vectors are folded in (the
    * new entry carries none). Returns the new version.
    */
  def compactClustered(spark: SparkSession, table: String, zoneCol: String,
      buckets: Int): Int = {
    import org.apache.spark.sql.functions.{col, count, floor,
      least, lit, sum}
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1)
    val cur = headFor(table, "compact")
    val v = cur + 1
    val snap = readResolved(spark, table, Some(cur))
    val total = snap.count()
    require(total > 0, s"cannot cluster an empty snapshot of $table")
    val hist = snap.groupBy(col(zoneCol).cast("long").as("__z"))
      .agg(count(lit(1)).as("__c"))
    val zb = hist
      .withColumn("__cum", sum(col("__c")).over(Window.orderBy("__z")))
      .select(col("__z"), least(lit(buckets - 1L),
        floor((col("__cum") - col("__c")) * buckets / lit(total)))
        .cast("int").as("__b"))
    val tmp = new HPath(table, s".clustered_v$v")
    // no forced broadcast: the value→bucket map is O(|domain|), which a
    // high-cardinality zone column can make data-sized — AQE picks the
    // join strategy from its actual size
    snap.join(zb, snap(zoneCol).cast("long") <=> zb("__z"))
      .drop("__z")
      .repartition(buckets, col("__b")).sortWithinPartitions(zoneCol)
      .write.mode("errorifexists").partitionBy("__b").parquet(tmp.toString)
    val f = fs(table)
    // per-bucket zone envelopes in ONE pass over the written bytes
    // (spark reads __b back as a partition column) instead of one
    // read-back aggregation job per bucket — same sidecar values: the
    // min/max of each bucket's rows
    val zones = Parquet.read(spark, tmp.toString)
      .groupBy(col("__b"))
      .agg(org.apache.spark.sql.functions.min(col(zoneCol)).as("mn"),
        org.apache.spark.sql.functions.max(col(zoneCol)).as("mx"))
      .collect()
      // all-null envelope -> no sidecar (the writeZone contract)
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => r.get(0).toString.toInt -> (r.getLong(1), r.getLong(2)))
      .toMap
    val subs = f.listStatus(tmp).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("__b=")).sortBy(_.stripPrefix("__b=").toInt)
      .map { n =>
        val b = n.stripPrefix("__b=").toInt
        val sub = f"data/c$v%05d_b$b%02d"
        f.rename(new HPath(tmp, n), new HPath(table, sub))
        zones.get(b).foreach { case (mn, mx) =>
          writeZone(table, sub, zoneCol, mn, mx)
        }
        sub
      }
    f.delete(tmp, true)
    writeEntry(table, v, subs)
    v
  }

  /** SHALLOW CLONE: create `dst` as a new table whose v1 entry lists
    * the SOURCE's current data (and delete-vector) directories by
    * absolute path — zero data bytes copied, like Delta's SHALLOW
    * CLONE. The clone inherits the source's zone/bloom sidecars (they
    * resolve against the ref's own table root), diverges independently
    * on append/delete/merge, and MATERIALIZES (drops all source refs)
    * on any compaction. Retention is per-table: vacuuming the SOURCE
    * can reclaim directories a live clone still references — compact
    * the clone first (the same caveat shallow clones carry in every
    * table format).
    */
  def cloneTable(src: String, dst: String): Int = {
    val cur = headFor(src, "clone")
    require(currentVersion(dst).isEmpty, s"$dst already has a log")
    val Entry(dirs, dels) = entry(src, cur)
    writeEntry(dst, 1, dirs.map(resolveDir(src, _)),
      dels.map(resolveDir(src, _)))
    1
  }

  /** RESTORE TABLE ... TO VERSION v: publish a NEW head whose logical
    * content is exactly version `toVersion`'s, by re-referencing that
    * version's data directories and delete vectors in a fresh log
    * entry. Zero data bytes move, and history stays append-only — the
    * rolled-back versions remain inspectable (time travel still reads
    * them) and the restore itself is one more atomic entry that
    * concurrent readers either see or don't.
    *
    * The target version's directories must still exist: a [[vacuum]]
    * run after `toVersion` was superseded may have reclaimed them, in
    * which case the restore is refused up front (IllegalStateException)
    * instead of publishing a head with dangling references.
    *
    * Concurrency: a restore is a whole-content assignment, so unlike
    * [[append]] it does NOT commute with concurrent commits — on a
    * lost race it retries at the new head and the restore wins (the
    * documented last-writer-wins contract of any rewrite). Returns the
    * version the restore landed as.
    */
  def restore(table: String, toVersion: Int, maxRetries: Int = 10): Int = {
    val vs = versions(table)
    require(vs.contains(toVersion),
      s"version $toVersion does not exist in $table (have ${vs.mkString(",")})")
    val target = entry(table, toVersion)
    val f = fs(table)
    target.refs.foreach { sub =>
      if (!f.exists(new HPath(resolveDir(table, sub))))
        throw new IllegalStateException(
          s"cannot restore $table to v$toVersion: $sub was vacuumed")
    }
    rebase(mainLog(table), maxRetries)(_ => target)
  }

  /** ANALYZE: compute per-column statistics of the current RESOLVED
    * snapshot — exact distinct count, null count, and (min, max) as
    * longs — in ONE distributed aggregation pass, persist them as an
    * O(columns) sidecar (`_log/stats_vNNNNN.json`) tied to the version,
    * and return the stats frame. [[readStats]] serves them back without
    * touching data — the input a cost-based planner or a layout advisor
    * reads. Columns must cast to long (the engine's stats domain, like
    * the zone maps); nulls in min/max (all-null column) are recorded as
    * JSON null.
    */
  def analyze(spark: SparkSession, table: String,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, count_distinct, lit, max,
      min, sum, when}
    require(cols.nonEmpty)
    val v = versionOrHead(table, None)
    val df = readResolved(spark, table, Some(v))
    val aggs = cols.flatMap(c => Seq(
      count_distinct(col(c)).as(s"ndv_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
      min(col(c).cast("long")).as(s"min_$c"),
      max(col(c).cast("long")).as(s"max_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    def cell(i: Int): String = if (r.isNullAt(i)) "null" else r.getLong(i).toString
    val json = cols.zipWithIndex.map { case (c, k) =>
      val b = 4 * k
      s"""{"col":"$c","ndv":${cell(b)},"nulls":${cell(b + 1)},""" +
        s""""min":${cell(b + 2)},"max":${cell(b + 3)}}"""
    }.mkString(s"""{"version":$v,"stats":[""", ",", "]}")
    val p = statsPath(table, v)
    val f = fs(table)
    f.delete(p, false) // re-ANALYZE of the same version replaces
    writeString(f, p, json)
    readStats(spark, table, Some(v))
  }

  private def statsPath(table: String, v: Int): HPath =
    new HPath(table, f"_log/stats_v$v%05d.json")

  /** Serve the ANALYZE sidecar of a version (default: the newest
    * version that has one) as a frame — no data read.
    */
  def readStats(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val f = fs(table)
    val v = version.orElse(
      versions(table).reverse.find(v =>
        f.exists(statsPath(table, v))))
      .getOrElse(sys.error(s"no ANALYZE sidecar in $table"))
    val txt = readString(f, statsPath(table, v))
    val one = raw"""\{"col":"([^"]+)","ndv":(null|-?\d+),"nulls":(null|-?\d+),"min":(null|-?\d+),"max":(null|-?\d+)\}""".r
    def opt(s: String): Option[Long] =
      if (s == "null") None else Some(s.toLong)
    one.findAllMatchIn(txt).map { m =>
      (m.group(1), opt(m.group(2)), opt(m.group(3)), opt(m.group(4)),
        opt(m.group(5)))
    }.toSeq.toDF("col_name", "ndv", "n_nulls", "min_v", "max_v")
  }

  /** Rewrite the CURRENT snapshot into one fresh directory (the
    * small-file compaction) and commit the swap; the LOGICAL row set is
    * unchanged (delete vectors are materialized away and the new entry
    * carries none — merge-on-read debt is paid here), old versions stay
    * readable.
    */
  def compact(spark: SparkSession, table: String,
      targetFiles: Int = 4): Int =
    rewrite(spark, table, "compact", targetFiles)(identity)

  // ------------------------------------------------------------ branches

  /** Branch names present under `_log/branches/`, sorted. */
  def branches(table: String): Seq[String] =
    ls(table, new HPath(table, "_log/branches")).filter(_.isDirectory)
      .map(_.getPath.getName).sorted

  /** Versions in a branch's log, ascending (empty if absent). */
  def branchVersions(table: String, branch: String): Seq[Int] =
    branchLog(table, branch).versions

  /** Create `branch` at the table's current head (or empty for a fresh
    * table): branch v1 is a COPY of the head entry, so the branch sees
    * the base snapshot plus its own writes while main stays untouched —
    * the write half of the write-audit-publish (WAP) pattern. Zero data
    * moves; the branch log lives beside the main log and pins every
    * directory it references against [[vacuum]].
    */
  def branchCreate(table: String, branch: String): Int = {
    require(branchVersions(table, branch).isEmpty,
      s"branch $branch already exists in $table")
    branchLog(table, branch).write(1,
      currentVersion(table).map(entry(table, _)).getOrElse(Entry()))
    1
  }

  /** Append `df` to `branch` (not to main). The data directory is
    * written once under a writer-unique `data/b<nonce>` name; the
    * branch-log entry is retry-rebased exactly like [[append]]. Main
    * readers never see these rows until [[publish]].
    */
  def branchAppend(spark: SparkSession, table: String, branch: String,
      df: DataFrame, targetFiles: Int = 4, maxRetries: Int = 10): Int = {
    require(branchVersions(table, branch).nonEmpty,
      s"branch $branch does not exist in $table")
    val sub = s"data/b${nonce()}"
    writeDir(df, table, sub, targetFiles)
    rebase(branchLog(table, branch), maxRetries)(h =>
      h.copy(dirs = h.dirs :+ sub))
  }

  /** Branch snapshot read with delete vectors applied — what an AUDIT
    * job runs its checks against before [[publish]].
    */
  def branchRead(spark: SparkSession, table: String,
      branch: String): DataFrame = {
    val log = branchLog(table, branch)
    val vs = log.versions
    require(vs.nonEmpty, s"branch $branch does not exist in $table")
    resolved(spark, table, log.read(vs.last))
  }

  /** Publish the branch onto main: the directories the branch ADDED
    * since its base (head minus v1 — robust even if main moved, was
    * restored, or compacted meanwhile) are appended to the CURRENT main
    * head by reference, retry-rebased on a lost race. Append-only
    * branches only: a branch whose delete-vector list diverged from its
    * base cannot be fast-forwarded commutatively and is refused — run
    * deletes through main, or compact the branch's logic into new
    * directories. Zero bytes move at publish time.
    */
  def publish(table: String, branch: String, maxRetries: Int = 10): Int = {
    val log = branchLog(table, branch)
    val bvs = log.versions
    require(bvs.nonEmpty, s"branch $branch does not exist in $table")
    val base = log.read(bvs.head)
    val head = log.read(bvs.last)
    if (head.dels != base.dels)
      throw new IllegalStateException(
        s"branch $branch of $table edited delete vectors; WAP publish " +
          "supports append-only branches")
    val newDirs = head.dirs.filterNot(base.dirs.toSet)
    rebase(mainLog(table), maxRetries)(h => h.copy(dirs = h.dirs ++ newDirs))
  }

  /** Drop a branch's log (its unpublished data directories become
    * orphans for [[vacuumOrphans]]). Returns the number of branch
    * versions removed.
    */
  def branchDelete(table: String, branch: String): Int = {
    val log = branchLog(table, branch)
    val n = log.versions.size
    fs(table).delete(log.dir, true)
    n
  }

  // ------------------------------------------------------------- orphans

  /** Directories under `data/`/`del/` referenced by NO log entry — main
    * or branch, any version. These are invisible to every reader (died
    * writers' leftovers, deleted branches' unpublished appends) and are
    * exactly what [[vacuum]] — which reasons from the log — can never
    * reclaim. `graceMs` skips directories modified in the last N ms so
    * an IN-FLIGHT writer (data landed, entry not yet committed) is
    * never swept; production callers pass hours, tests pass 0.
    */
  def findOrphans(table: String, graceMs: Long = 0L): Seq[String] =
    unreferenced(table, referenced(table, versions(table)),
      System.currentTimeMillis() - graceMs)

  /** Delete the orphans [[findOrphans]] lists (plus their sidecars).
    * Safe to run concurrently with readers and writers given a
    * real-world `graceMs`: every directory removed was reachable from
    * no snapshot. Returns the number of directories removed.
    */
  def vacuumOrphans(table: String, graceMs: Long = 0L): Int = {
    val doomed = findOrphans(table, graceMs)
    doomed.foreach(dropDir(table, _))
    doomed.size
  }

  // ---------------------------------------------------------------- tags

  private def tagPath(table: String, tag: String): HPath =
    new HPath(table, s"_log/tags/$tag.json")

  /** Pin `version` (default: current head) under a name. A tagged
    * version is exempt from [[vacuum]]'s retention horizon — its entry
    * and directories survive until [[tagDelete]] — so releases stay
    * reproducible while routine vacuums keep the rest of the table
    * tight. O(1) metadata; no data copied.
    */
  def tagCreate(table: String, tag: String,
      version: Option[Int] = None): Int = {
    val v = versionOrHead(table, version)
    require(versions(table).contains(v),
      s"version $v does not exist in $table")
    val f = fs(table)
    f.mkdirs(new HPath(table, "_log/tags"))
    writeString(f, tagPath(table, tag), json.writeValueAsString(
      json.createObjectNode().put("tag", tag).put("version", v)))
    v
  }

  /** All tags as name → version (empty for an untagged table). */
  def tags(table: String): Map[String, Int] =
    ls(table, new HPath(table, "_log/tags")).map(_.getPath)
      .filter(_.getName.endsWith(".json"))
      .map { p =>
        val txt = readString(fs(table), p)
        val v = raw""""version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
          .getOrElse(sys.error(s"malformed tag file $p")).group(1).toInt
        (p.getName.stripSuffix(".json"), v)
      }.toMap

  def tagDelete(table: String, tag: String): Boolean =
    fs(table).delete(tagPath(table, tag), false)

  /** Resolved snapshot read of the tagged version. */
  def readTag(spark: SparkSession, table: String, tag: String): DataFrame = {
    val v = tags(table).getOrElse(tag,
      sys.error(s"no tag $tag in $table"))
    readResolved(spark, table, Some(v))
  }
}
