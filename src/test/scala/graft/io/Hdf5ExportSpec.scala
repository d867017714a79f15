package graft.io

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed HDF5 export: per-partition files, exact round-trip
  * through the hdf5 DataSource, empty-partition and type handling.
  */
class Hdf5ExportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_h5x").resolve("out").toString

  test("exports one file per non-empty partition and round-trips exactly") {
    val dir = freshDir()
    val df = (1L to 1000L).map(i => (i, i * 2 + 1, i / 7.0))
      .toDF("k", "v", "x").repartition(4, col("k"))
    val n = Hdf5Export.write(df, dir)
    assert(n == 4)
    val back = spark.read.format("hdf5").load(s"$dir/*.h5")
    assert(back.count() == 1000)
    // exact row-set equality, both directions
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    assert(Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
  }

  test("empty partitions write no file; readers see only real data") {
    val dir = freshDir()
    // 3 rows into 8 partitions -> at most 3 non-empty
    val df = Seq(1L, 2L, 3L).toDF("k").repartition(8, col("k"))
    val n = Hdf5Export.write(df, dir)
    assert(n >= 1 && n <= 3)
    val back = spark.read.format("hdf5").load(s"$dir/*.h5")
    assert(back.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("int and float columns widen through their HDF5 scalar types") {
    val dir = freshDir()
    val df = Seq((1, 1.5f), (2, 2.5f)).toDF("i", "f").coalesce(1)
    assert(Hdf5Export.write(df, dir) == 1)
    val back = spark.read.format("hdf5").load(s"$dir/*.h5")
      .select(col("i").cast("int").as("i"), col("f").cast("float").as("f"))
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("array columns export as rank-2 matrices and round-trip exactly") {
    val dir = freshDir()
    val df = (1L to 100L)
      .map(i => (i, Array(i.toFloat, i / 3.0f, -i.toFloat)))
      .toDF("k", "vec").repartition(2, col("k"))
    assert(Hdf5Export.write(df, dir) == 2)
    val back = spark.read.format("hdf5").load(s"$dir/*.h5")
    assert(back.schema("vec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, false))
    val expected = df.select(col("k"),
      transform(col("vec"), _.cast("double")).as("vec"))
    assert(back.count() == 100)
    assert(back.except(expected).isEmpty && expected.except(back).isEmpty)
  }

  test("ragged array input is rejected") {
    val dir = freshDir()
    val df = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(1.0))).toDF("k", "vec")
      .coalesce(1)
    val err = intercept[org.apache.spark.SparkException] {
      Hdf5Export.write(df, dir)
    }
    assert(err.getMessage.contains("ragged") ||
      String.valueOf(err.getCause).contains("ragged"))
  }

  test("unsupported column types are rejected up front") {
    val dir = freshDir()
    val err = intercept[IllegalArgumentException] {
      Hdf5Export.write(Seq("a").toDF("s"), dir)
    }
    assert(err.getMessage.contains("'s'"))
  }

  test("export and read resolve a file system set on the session") {
    // the scheme is known only to the session's runtime conf, with the
    // FileSystem cache off so no earlier instance can stand in for it
    val dir = "h5test://" + freshDir()
    spark.conf.set("fs.h5test.impl", classOf[H5TestFs].getName)
    spark.conf.set("fs.h5test.impl.disable.cache", "true")
    try {
      val df = (1L to 50L).map(i => (i, i / 2.0)).toDF("k", "x")
        .repartition(2, col("k"))
      assert(Hdf5Export.write(df, dir) == 2)
      val back = spark.read.format("hdf5").load(s"$dir/*.h5")
      assert(back.except(df).isEmpty && df.except(back).isEmpty)
    } finally {
      spark.conf.unset("fs.h5test.impl")
      spark.conf.unset("fs.h5test.impl.disable.cache")
    }
  }

  test("hdf5ToParquet globs through a file system set on the session") {
    val dir = "h5test://" + freshDir()
    val out = freshDir()
    spark.conf.set("fs.h5test.impl", classOf[H5TestFs].getName)
    spark.conf.set("fs.h5test.impl.disable.cache", "true")
    try {
      val df = (1L to 50L).map(i => (i, i / 2.0)).toDF("k", "x")
        .repartition(2, col("k"))
      assert(Hdf5Export.write(df, dir) == 2)
      Hdf5Source.hdf5ToParquet(spark, s"$dir/*.h5", out)
      val back = Parquet.read(spark, out)
      assert(back.except(df).isEmpty && df.except(back).isEmpty)
    } finally {
      spark.conf.unset("fs.h5test.impl")
      spark.conf.unset("fs.h5test.impl.disable.cache")
    }
  }
}

/** The local file system under its own scheme, `h5test`. */
class H5TestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("h5test:///")
}
