package graft.io

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The table log's on-disk format, byte for byte: a fixed sequence of
  * operations on a fresh table, then the name and content of every
  * file under `_log/`, branch and tag logs included. Writer nonces
  * (`data/a…`, `data/b…`) are the only run-dependent bytes and are
  * normalised; each Hadoop `.crc` file must be the checksum of the file
  * it guards.
  */
class TxLogFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nonce = """data/([ab])[0-9a-f]+-[0-9a-f]+-[0-9a-f]+""".r

  /** Hadoop's local checksum file: `crc\0`, the chunk size, then one
    * CRC32 per 512-byte chunk.
    */
  private def hadoopCrc(bytes: Array[Byte]): Array[Byte] = {
    val chunks = bytes.grouped(512).toSeq
    val b = ByteBuffer.allocate(8 + 4 * chunks.size)
    b.put("crc".getBytes("UTF-8")).put(0.toByte).putInt(512)
    chunks.foreach { c =>
      val crc = new CRC32()
      crc.update(c)
      b.putInt(crc.getValue.toInt)
    }
    b.array()
  }

  /** (path under `_log/`, normalised content); a `.crc` file reads as
    * `crc-ok` when it is the checksum of its sibling.
    */
  private def logFiles(table: String): Seq[(String, String)] = {
    val root = Paths.get(table, "_log")
    val files = Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    files.map { p =>
      val rel = root.relativize(p).toString
      val bytes = Files.readAllBytes(p)
      val name = p.getFileName.toString
      val content =
        if (name.startsWith(".") && name.endsWith(".crc")) {
          val guarded = p.resolveSibling(name.stripPrefix(".").stripSuffix(".crc"))
          if (hadoopCrc(Files.readAllBytes(guarded)).sameElements(bytes))
            "crc-ok"
          else "crc-mismatch"
        } else nonce.replaceAllIn(new String(bytes, "UTF-8"), "data/$1<nonce>")
      rel -> content
    }.sortBy(_._1)
  }

  private val expected: Seq[(String, String)] = Seq(
    ".bloom_c00003.json.crc" -> "crc-ok",
    ".stats_v00008.json.crc" -> "crc-ok",
    ".v00001.json.crc" -> "crc-ok",
    ".v00002.json.crc" -> "crc-ok",
    ".v00003.json.crc" -> "crc-ok",
    ".v00004.json.crc" -> "crc-ok",
    ".v00005.json.crc" -> "crc-ok",
    ".v00006.json.crc" -> "crc-ok",
    ".v00007.json.crc" -> "crc-ok",
    ".v00008.json.crc" -> "crc-ok",
    ".v00009.json.crc" -> "crc-ok",
    ".v00010.json.crc" -> "crc-ok",
    ".zone_c00002.json.crc" -> "crc-ok",
    ".zone_c00007_new.json.crc" -> "crc-ok",
    ".zone_c00007_rw.json.crc" -> "crc-ok",
    ".zone_c00008_b00.json.crc" -> "crc-ok",
    ".zone_c00008_b01.json.crc" -> "crc-ok",
    "bloom_c00003.json" -> """{"col":"s","fpp":1.0E-6,"bits":"AAAAAgAAABQAAAAAAAAAAjN/gTI/8TMv8RIz/QMj/xA="}""",
    "branches/dev/.v00001.json.crc" -> "crc-ok",
    "branches/dev/.v00002.json.crc" -> "crc-ok",
    "branches/dev/v00001.json" -> """{"version":1,"dirs":["data/c00008_b00","data/c00008_b01"]}""",
    "branches/dev/v00002.json" -> """{"version":2,"dirs":["data/c00008_b00","data/c00008_b01","data/b<nonce>"]}""",
    "stats_v00008.json" -> """{"version":8,"stats":[{"col":"k","ndv":12,"nulls":0,"min":1,"max":14}]}""",
    "tags/.rel.json.crc" -> "crc-ok",
    "tags/rel.json" -> """{"tag":"rel","version":8}""",
    "v00001.json" -> """{"version":1,"dirs":["data/c00001"]}""",
    "v00002.json" -> """{"version":2,"dirs":["data/c00001","data/c00002"]}""",
    "v00003.json" -> """{"version":3,"dirs":["data/c00001","data/c00002","data/c00003"]}""",
    "v00004.json" -> """{"version":4,"dirs":["data/c00001","data/c00002","data/c00003","data/a<nonce>"]}""",
    "v00005.json" -> """{"version":5,"dirs":["data/c00001","data/c00002","data/c00003","data/a<nonce>"],"dels":["del/d00005"]}""",
    "v00006.json" -> """{"version":6,"dirs":["data/c00006"]}""",
    "v00007.json" -> """{"version":7,"dirs":["data/c00007_rw","data/c00007_new"]}""",
    "v00008.json" -> """{"version":8,"dirs":["data/c00008_b00","data/c00008_b01"]}""",
    "v00009.json" -> """{"version":9,"dirs":["data/c00008_b00","data/c00008_b01","data/b<nonce>"]}""",
    "v00010.json" -> """{"version":10,"dirs":["data/c00008_b00","data/c00008_b01"]}""",
    "zone_c00002.json" -> """{"col":"k","min":5,"max":8}""",
    "zone_c00007_new.json" -> """{"col":"k","min":6,"max":6}""",
    "zone_c00007_rw.json" -> """{"col":"k","min":1,"max":14}""",
    "zone_c00008_b00.json" -> """{"col":"k","min":1,"max":8}""",
    "zone_c00008_b01.json" -> """{"col":"k","min":9,"max":14}""")

  test("every log file a fixed operation sequence writes, byte for byte") {
    val t = Files.createTempDirectory("graft_txfmt").resolve("t").toString
    def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "s")
    TxLog.commit(spark, t, rows(1, 2, 3, 4), targetFiles = 1)
    TxLog.commitWithZone(spark, t, rows(5, 6, 7, 8), "k", targetFiles = 1)
    TxLog.commitWithBloom(spark, t, rows(9, 10, 11, 12), "s",
      targetFiles = 1)
    TxLog.append(spark, t, rows(13, 14), targetFiles = 1)
    TxLog.deleteWhere(spark, t, "k = 2", Seq("k"))
    TxLog.merge(spark, t, Seq((3L, "m3")).toDF("k", "s"), Seq("k"),
      targetFiles = 1)
    TxLog.replaceRange(spark, t, rows(6), "k", 6L, 7L, targetFiles = 1)
    TxLog.compactClustered(spark, t, "k", 2)
    TxLog.analyze(spark, t, Seq("k"))
    TxLog.tagCreate(t, "rel")
    TxLog.branchCreate(t, "dev")
    TxLog.branchAppend(spark, t, "dev", rows(20), targetFiles = 1)
    TxLog.publish(t, "dev")
    TxLog.restore(t, 8)
    val got = logFiles(t)
    assert(got == expected, got.mkString("\n"))
  }
}
