package graft.io

import java.net.URI
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.streaming.StreamOps
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]]: graft's local writes set modes without starting a child
  * process, and leave the same modes and `.crc` files as Hadoop's stock
  * local file system.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): Path = Files.createTempDirectory(name)

  /** The commands of the processes Hadoop started while `f` ran (a
    * Hadoop frame on the stack), from an in-JVM JFR recording of
    * `jdk.ProcessStart`. Spark forks too, off the write path and at its
    * own times: an `rm -rf` when it drops a temporary directory, a
    * one-time `getconf`.
    */
  private def hadoopProcessStarts(f: => Unit): Seq[String] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart").withStackTrace()
      r.start()
      try f finally r.stop()
      val out = Files.createTempFile("process_start", ".jfr")
      try {
        r.dump(out)
        RecordingFile.readAllEvents(out).asScala.toSeq
          .filter(_.getStackTrace.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("org.apache.hadoop.")))
          .map(_.getString("command"))
      } finally Files.delete(out)
    } finally r.close()
  }

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("a Parquet write, a commit, an HDF5 export and a stream fork nothing in Hadoop") {
    val src = tmp("lfs_src").resolve("ev").toString
    (1L to 200L).map(i => (i, i % 5)).toDF("id", "k")
      .write.parquet(src)
    val df = (1L to 200L).map(i => (i, i / 3.0)).toDF("k", "x")
      .repartition(2, col("k"))
    val started = hadoopProcessStarts {
      df.write.parquet(tmp("lfs_pq").resolve("t").toString)
      TxLog.commit(spark, tmp("lfs_log").resolve("t").toString, df)
      Hdf5Export.write(df, tmp("lfs_h5").resolve("out").toString)
      StreamOps.streamToParquet(spark, src,
        tmp("lfs_out").resolve("t").toString, tmp("lfs_ckpt").toString)
    }
    assert(started.isEmpty, started.mkString("started: ", "; ", ""))
  }

  test("modes and .crc files equal the stock local file system's") {
    /** The same calls on `fs` under `root`: every way a mode is set. */
    def writeAll(fs: FileSystem, root: Path): Unit = {
      val r = new HPath(root.toUri)
      def put(name: String, out: org.apache.hadoop.fs.FSDataOutputStream) =
        try out.write(s"bytes of $name".getBytes("UTF-8")) finally out.close()
      fs.mkdirs(new HPath(r, "a/b"))
      fs.mkdirs(new HPath(r, "m"), new FsPermission("751"))
      put("f", fs.create(new HPath(r, "a/b/f")))
      put("g", fs.create(new HPath(r, "g"),
        new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null))
      put("h", fs.create(new HPath(r, "n/h")))
      fs.setPermission(new HPath(r, "a/b/f"), new FsPermission("604"))
      fs.setPermission(new HPath(r, "m"), new FsPermission("700"))
      fs.rename(new HPath(r, "n/h"), new HPath(r, "m/h"))
    }
    /** Relative path -> (mode, file bytes) of every entry under `root`. */
    def snapshot(root: Path): Map[String, (Int, Seq[Byte])] =
      Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
        root.relativize(p).toString -> (mode(p),
          if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq
          else Seq.empty[Byte])
      }.toMap
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration(false)
      conf.set("fs.permissions.umask-mode", umask)
      def init(fs: FileSystem): FileSystem = {
        fs.initialize(URI.create("file:///"), conf); fs
      }
      val (ours, stock) = (tmp("lfs_ours"), tmp("lfs_stock"))
      writeAll(init(new LocalFs), ours)
      writeAll(init(new LocalFileSystem), stock)
      val got = snapshot(ours)
      assert(got == snapshot(stock), s"umask $umask")
      assert(got.keySet.contains("a/b/.f.crc") &&
        got.keySet.contains("m/.h.crc"))
      val bits = (k: String) => Integer.toOctalString(got(k)._1)
      assert(Seq("a", "a/b/f", "g", "m").map(bits) == (umask match {
        case "022" => Seq("755", "604", "640", "700")
        case "027" => Seq("750", "604", "640", "700")
        case _ => Seq("700", "604", "600", "700")
      }), s"umask $umask")
    }
  }

  test("a mode above 0777 keeps its sticky bit") {
    val fs = new LocalFs
    fs.initialize(URI.create("file:///"), new Configuration(false))
    val d = tmp("lfs_sticky")
    fs.setPermission(new HPath(d.toUri), new FsPermission("1755"))
    assert(mode(d) == Integer.parseInt("1755", 8),
      Integer.toOctalString(mode(d)))
    fs.setPermission(new HPath(d.toUri), new FsPermission("750"))
    assert(mode(d) == Integer.parseInt("750", 8))
  }

  test("the session's file: file system and the table log's are LocalFs") {
    val dir = tmp("lfs_resolve").toUri.toString
    assert(new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
      .getClass == classOf[LocalFs])
    assert(TxLog.fs(dir).getClass == classOf[LocalFs])
  }
}
