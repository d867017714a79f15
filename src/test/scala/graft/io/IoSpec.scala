package graft.io

import graft.TestSpark
import graft.model.ReadOpts
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class SnifferSpec extends AnyFunSuite {

  test("tab beats comma when tabs are consistent") {
    val sep = Sniffer.sniffFromLines(Seq(
      "a\tb\tc", "1\t2,5\t3", "4\t5\t6"))
    assert(sep == '\t')
  }

  test("comma chosen for plain csv") {
    assert(Sniffer.sniffFromLines(Seq("a,b,c", "1,2,3")) == ',')
  }

  test("quoted separators are not counted") {
    // commas inside quotes must not inflate the comma score
    val sep = Sniffer.sniffFromLines(Seq(
      "a;\"x,y,z\";c", "1;\"p,q\";3"))
    assert(sep == ';')
  }

  test("single-column file falls back to comma") {
    assert(Sniffer.sniffFromLines(Seq("justone", "values")) == ',')
  }

  test("pipe-separated detected") {
    assert(Sniffer.sniffFromLines(Seq("a|b", "1|2")) == '|')
  }

  test("countOutsideQuotes is quote-aware") {
    assert(Sniffer.countOutsideQuotes("a,\"b,c\",d", ',') == 2)
  }
}

class DsvReaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpFile(name: String, content: String): String = {
    val d = Files.createTempDirectory("graft-dsv")
    val p = d.resolve(name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("normalizeNames: trim+lower+dedup-with-suffix") {
    assert(DsvReader.normalizeNames(Seq(" Gene ", "gene", "Score")) ==
      Seq("gene", "gene_2", "score"))
  }

  test("dotted headers (p.value) read as flat columns, NA-cleaned") {
    // canonical MAGeCK-style headers: dots must not parse as struct paths
    val p = tmpFile("m.tsv", "gene\tp.value\tp.low\nBRCA1\t0.01\tNA\nTP53\tNA\tfoo\n")
    val df = DsvReader.read(spark, p)
    assert(df.columns.toSeq == Seq("gene", "p.value", "p.low"))
    val rows = df.orderBy(graft.Cols.ref("gene")).collect()
    assert(rows(0).getDouble(1) == 0.01 && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "foo")
  }

  test("sniffed tab read infers numeric types") {
    val p = tmpFile("t.tsv", "A\tB\n1\t2.5\n3\tx\n")
    val df = DsvReader.read(spark, p)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.schema("a").dataType.typeName == "integer")
    // mixed numeric/string column stays string (pandas object semantics)
    assert(df.schema("b").dataType.typeName == "string")
  }

  test("NA and empty cells become null") {
    val p = tmpFile("n.csv", "a,b\nNA,1\n,2\n")
    val df = DsvReader.read(spark, p)
    val rows = df.collect()
    assert(rows.forall(_.isNullAt(0)))
  }

  test("gzip read is transparent") {
    val d = Files.createTempDirectory("graft-gz")
    val p = d.resolve("x.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(p))
    out.write("a,b\n1,2\n".getBytes("UTF-8")); out.close()
    val df = DsvReader.read(spark, p.toString)
    assert(df.count() == 1)
  }

  test("pinned sep overrides sniffing") {
    val p = tmpFile("p.txt", "a;b\n1;2\n")
    val df = DsvReader.read(spark, p, ReadOpts(sep = Some(";")))
    assert(df.columns.toSeq == Seq("a", "b"))
  }

  test("sample inference matches full inference on type-stable data") {
    val p = tmpFile("s.tsv",
      "id\tqty\tprice\tflag\n1\t2.5\t10\tA\n2\t3.5\t20\tB\n")
    val full = DsvReader.read(spark, p)
    val sampled = DsvReader.read(spark, p,
      ReadOpts(sampleInference = true))
    assert(sampled.schema.map(f => f.name -> f.dataType) ==
      full.schema.map(f => f.name -> f.dataType))
    assert(sampled.collect().map(_.toSeq).toSet ==
      full.collect().map(_.toSeq).toSet)
  }

  test("sample inference: NA cells don't vote; long beats double beats string") {
    import org.apache.spark.sql.types._
    val p = tmpFile("v.csv", "a,b,c\nNA,1.5,x\n7,2,y\n")
    val schema = Sniffer.inferSchemaFromSample(p, ',')
    assert(schema("a").dataType == IntegerType) // NA ignored
    assert(schema("b").dataType == DoubleType) // 1.5 forces double
    assert(schema("c").dataType == StringType)
  }

  test("quoted fields containing the delimiter survive sniff + read") {
    val p = tmpFile("q.csv", "name,desc\nx,\"a, b, c\"\ny,plain\n")
    val df = DsvReader.read(spark, p)
    assert(df.columns.toSeq == Seq("name", "desc"))
    val vals = df.collect().map(_.getString(1)).toSet
    assert(vals == Set("a, b, c", "plain"))
  }

  test("files of one glob that spell the header differently still infer numeric") {
    val d = Files.createTempDirectory("graft-dsv-case")
    Files.write(d.resolve("a.tsv"), "Gene\tScore\ng1\t1.5\ng2\t2\n".getBytes("UTF-8"))
    Files.write(d.resolve("b.tsv"), "GENE\tSCORE\ng3\t3.25\n".getBytes("UTF-8"))
    val df = DsvReader.read(spark, s"$d/*.tsv")
    assert(df.columns.toSeq == Seq("gene", "score"))
    assert(df.schema("score").dataType.typeName == "double")
    assert(df.collect().map(_.getDouble(1)).sorted.toSeq == Seq(1.5, 2.0, 3.25))
  }

  test("duplicate headers get suffixes (Spark indexes case dups; the normalizer suffixes whitespace-variant dups)") {
    // exact case-insensitive duplicates: Spark's CSV reader indexes them
    val p1 = tmpFile("d1.tsv", "Gene\tgene\tScore\ng1\tg2\t5\n")
    assert(DsvReader.read(spark, p1).columns.toSeq ==
      Seq("gene0", "gene1", "score"))
    // whitespace variants collide only after trim-normalization: ours
    val p2 = tmpFile("d2.tsv", "Gene\t gene \tScore\ng1\tg2\t5\n")
    assert(DsvReader.read(spark, p2).columns.toSeq ==
      Seq("gene", "gene_2", "score"))
  }
}
