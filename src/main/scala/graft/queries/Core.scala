package graft.queries

import graft.io.DsvReader
import graft.model._
import graft.ops.{Annotate, Melt, Profile, Tokens}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Core query set (SURVEY §2.13 Q1-Q9 + manifest slice) with DuckDB
  * oracles. Numeric invariants for hash-stable results across engines:
  * sums over doubles go through DECIMAL (exact, order-independent) and
  * are cast back to double at the end; ranks/limits always carry an id
  * tie-break. See each oracle string for the DuckDB twin.
  */
object CoreQueries {
  def T(s: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Parquet.read(s, s"$dir/$name.parquet")

  def sfName(dir: String): String =
    Paths.get(dir).getFileName.toString

  /** Root of the generated, gitignored data (`benchdata/`): fixtures,
    * and Bench's synthesized scale steps. Resolved against the working
    * directory, which is the checkout root under sbt (runs and tests fork
    * there), so each checkout keeps its own.
    */
  val benchdataRoot: String = Paths.get("benchdata").toAbsolutePath.toString

  /** Fixture root for derived test files, FINGERPRINTED by the source
    * table sizes: fixtures under benchdata/graft_fix (repo-local, gitignored — /tmp
    * cleaners reaped fixture parts MID-BENCH in round 5) survive build
    * rounds, and a regenerated test-data set with changed values must
    * land in a fresh fixture space instead of silently reusing stale
    * derived files (a latent wrong-answer source — the _SUCCESS-gated
    * builders would never notice).
    */
  def fixDir(dir: String): String = fixDirCache.computeIfAbsent(dir, { d =>
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val crc = new java.util.zip.CRC32
    tables.foreach { t =>
      val p = Paths.get(s"$d/$t.parquet")
      val sz = if (Files.exists(p)) Files.size(p) else -1L
      crc.update(s"$t=$sz;".getBytes("UTF-8"))
    }
    f"$benchdataRoot/graft_fix/${sfName(d)}_${crc.getValue}%08x"
  })
  private val fixDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Delete a derived tree (a TxLog fixture table is rebuilt from
    * scratch on every run, so stale state never leaks in).
    */
  def rmTree(table: String): Unit = {
    val root = Paths.get(table)
    if (Files.exists(root)) {
      val it = Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator()
      while (it.hasNext) Files.delete(it.next())
    }
  }

  /** One ship year of lineitem as (l_orderkey, yr, cents) — the unit the
    * TxLog queries commit.
    */
  def yearSlice(s: SparkSession, dir: String, yr: Int): DataFrame =
    T(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === yr)
      .select(col("l_orderkey"),
        year(col("l_shipdate")).cast("long").as("yr"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100.0 + 0.5).cast("long").as("cents"))

  /** DuckDB twin of [[yearSlice]]'s `cents` column. */
  final val centsSql =
    "CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0 + 0.5e0) AS BIGINT)"

  /** Three single-file year slices with ascending mtimes in the fixture
    * directory `name` — with maxFilesPerTrigger=1 the file source turns
    * them into exactly three micro-batches in year order (the q181
    * replay discipline). Each stream names its own directory, so two
    * streams never share a source listing.
    */
  def streamFixture(s: SparkSession, dir: String, name: String): String = {
    val tmp = s"${fixDir(dir)}/$name"
    val ready = Paths.get(s"$tmp/READY")
    if (!Files.exists(ready)) {
      Files.createDirectories(Paths.get(tmp))
      val t0 = System.currentTimeMillis() - 60000
      Seq(1996, 1997, 1998).zipWithIndex.foreach { case (yr, i) =>
        val stage = s"$tmp/__stage_$yr"
        // coalesce(1) is FIXTURE STAGING ONLY (one streaming-source file
        // per micro-batch at gate scale) — never copy into a data path
        yearSlice(s, dir, yr).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        val dst = Paths.get(s"$tmp/b$i" + s"_$yr.parquet")
        Files.move(Paths.get(part), dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 10000))
      }
      Files.createFile(ready)
    }
    tmp
  }

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  def writeFile(path: java.nio.file.Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, content.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
  }

  // ---------------------------------------------------------------- q01
  /** S2/S8/P5: lineitem -> TSV dump -> sniffed DSV ingest -> typed cols.
    * Exercises the reference's whole ingestion path
    * (`run_annotate.py:20-28`) on Spark's CSV source.
    */
  def q01(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${fixDir(dir)}/q01_tsv"
    // fixture dump is test INPUT, not engine work — write once per sf
    // (content is deterministic; _SUCCESS marks a complete dump)
    if (!Files.exists(Paths.get(s"$tmp/_SUCCESS")))
      T(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag")
        .write.mode("overwrite").option("sep", "\t").option("header", "true")
        .csv(tmp)
    DsvReader.read(s, s"$tmp/*.csv")
      .select(col("l_orderkey").cast("long"),
        col("l_linenumber").cast("int"),
        col("l_quantity").cast("double"),
        col("l_extendedprice").cast("double"),
        col("l_returnflag").cast("string"))
  }
  val q01Sql: String =
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag FROM lineitem"

  // ---------------------------------------------------------------- q02
  /** P1/P2/P3: project + normalize + metadata-annotate. */
  def q02(s: SparkSession, dir: String): DataFrame =
    Annotate.project(T(s, dir, "lineitem"), Seq(
      ColMeta("l_orderkey", Some("Order Key"), Some("Order identifier")),
      ColMeta("l_quantity", Some("Quantity"), Some("Units ordered")),
      ColMeta("l_extendedprice", Some("Extended Price"), Some("Line price"))))
  val q02Sql: String =
    "SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem"

  // ---------------------------------------------------------------- q03
  /** R1: melt part(p_partkey; p_size, p_retailprice) -> long form. */
  def q03(s: SparkSession, dir: String): DataFrame =
    Melt.melt(T(s, dir, "part"), Seq("p_partkey"),
      Seq("p_size", "p_retailprice"))
  val q03Sql: String =
    """SELECT p_partkey, 'p_size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_retailprice' AS variable, p_retailprice AS value FROM part""".stripMargin

  // ---------------------------------------------------------------- q04
  /** U1/S6/R3: per-region file splits of nation concatenated back through
    * a [region] token pattern — glob read + input_file_name extraction.
    */
  def q04(s: SparkSession, dir: String): DataFrame = {
    val nation = T(s, dir, "nation")
    val region = T(s, dir, "region")
    val rows = nation
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name").collect()
    val base = Paths.get(s"${fixDir(dir)}/q04/data")
    rows.groupBy(_.getString(2)).foreach { case (rname, rs) =>
      val content = "n_nationkey\tn_name\n" + rs.sortBy(_.getInt(0))
        .map(r => s"${r.getInt(0)}\t${r.getString(1)}").mkString("\n")
      writeFile(base.resolve(rname).resolve("nation.tsv"), content)
    }
    val pattern = s"$base/[region]/nation.tsv"
    val df = DsvReader.read(s, Tokens.toGlob(pattern),
      ReadOpts(sep = Some("\t")))
    Tokens.withTokenColumns(df, pattern,
      Seq(TokenSpec("region", Some("region"), Some("TPC-H region name"))))
      .select(col("n_nationkey").cast("int"), col("n_name"), col("region"))
  }
  val q04Sql: String =
    """SELECT n_nationkey, n_name, r_name AS region
      |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin

  // ---------------------------------------------------------------- q05
  /** A1: per-column distinct counts + low-cardinality flag (threshold 10,
    * `run_annotate.py:26`), long form, one aggregation pass.
    */
  def q05(s: SparkSession, dir: String): DataFrame =
    Profile.profile(T(s, dir, "orders"))
      .withColumnRenamed("column", "col_name")
  val q05Sql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.map(c =>
      s"SELECT '$c' AS col_name, count(DISTINCT $c) AS n_distinct, " +
        s"count(DISTINCT $c) < 10 AS low_cardinality FROM orders")
      .mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------- q06
  /** J1/J2/J3: annotate observed lineitem columns against an
    * alias+wildcard-scoped fields dictionary; exact scope beats wildcard,
    * ties break to catalog order. Dictionary parsed from the scoped JSON
    * dialect (`json/example/fields.json` shape), resolution done as a
    * broadcast join + specificity window in Spark.
    */
  val q06DictJson: String =
    """[
      |{"column":["l_orderkey"],"metadata":[{"process":"*","file":"*","name":"Order Key","desc":""},
      |  {"process":"tpch","file":"lineitem","name":"Order Identifier","desc":""}]},
      |{"column":["l_quantity"],"metadata":[{"process":"*","file":"*","name":"Quantity","desc":""}]},
      |{"column":["l_extendedprice"],"metadata":[{"process":"*","file":"lineitem","name":"Extended Price","desc":""}]},
      |{"column":["l_discount","discount","disc"],"metadata":[{"process":"*","file":"*","name":"Discount","desc":""}]},
      |{"column":["l_returnflag"],"metadata":[{"process":"tpch","file":"*","name":"Return Flag","desc":""}]},
      |{"column":["l_shipdate"],"metadata":[{"process":"other","file":"*","name":"Wrong Scope","desc":""}]},
      |{"column":["qty"],"metadata":[{"process":"*","file":"*","name":"Quantity Alias","desc":""}]}
      |]""".stripMargin

  def q06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cat = FieldsCatalog.parse(q06DictJson)
    val dict = cat.entries.zipWithIndex
      .map { case (e, i) => (e.alias, e.process, e.file, e.name, i) }
      .toDF("alias", "process", "file", "name", "idx")
    val obs = T(s, dir, "lineitem").columns.toSeq.toDF("col_name")
    val joined = obs.join(broadcast(dict),
      lower(trim(col("col_name"))) === col("alias") &&
        (col("process") === "*" || col("process") === lit("tpch")) &&
        (col("file") === "*" || col("file") === lit("lineitem")))
    val spec = when(col("process") =!= "*", 2).otherwise(0) +
      when(col("file") =!= "*", 1).otherwise(0)
    val w = Window.partitionBy(col("col_name"))
      .orderBy(spec.desc, col("idx"))
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("col_name"), col("name"))
  }
  val q06Sql: String = {
    // same dictionary flattened to (alias, process, file, name, idx) rows,
    // in FieldsCatalog.parse order (aliases x metadata cross product)
    val dictVals = Seq(
      ("l_orderkey", "*", "*", "Order Key", 0),
      ("l_orderkey", "tpch", "lineitem", "Order Identifier", 1),
      ("l_quantity", "*", "*", "Quantity", 2),
      ("l_extendedprice", "*", "lineitem", "Extended Price", 3),
      ("l_discount", "*", "*", "Discount", 4),
      ("discount", "*", "*", "Discount", 5),
      ("disc", "*", "*", "Discount", 6),
      ("l_returnflag", "tpch", "*", "Return Flag", 7),
      ("l_shipdate", "other", "*", "Wrong Scope", 8),
      ("qty", "*", "*", "Quantity Alias", 9))
      .map { case (a, p, f, n, i) => s"('$a','$p','$f','$n',$i)" }
      .mkString(",")
    val obsVals = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .map(c => s"('$c')").mkString(",")
    s"""WITH dict(alias, process, file, name, idx) AS (VALUES $dictVals),
       |obs(col_name) AS (VALUES $obsVals),
       |m AS (
       |  SELECT o.col_name, d.name,
       |    (CASE WHEN d.process <> '*' THEN 2 ELSE 0 END
       |     + CASE WHEN d.file <> '*' THEN 1 ELSE 0 END) AS spec, d.idx
       |  FROM obs o JOIN dict d ON lower(trim(o.col_name)) = d.alias
       |    AND (d.process = '*' OR d.process = 'tpch')
       |    AND (d.file = '*' OR d.file = 'lineitem'))
       |SELECT col_name, name FROM (
       |  SELECT col_name, name,
       |    row_number() OVER (PARTITION BY col_name ORDER BY spec DESC, idx) AS rn
       |  FROM m) WHERE rn = 1""".stripMargin
  }

  // ---------------------------------------------------------------- q07
  /** A4/O3: TPC-H Q1 core. Decimal-exact sums cast back to double so
    * Spark's partial/final aggregation order cannot drift from DuckDB's
    * sequential sum.
    */
  def q07(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  val q07Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q08
  /** J6: orders |x| customer |x| nation, top-10 nations by total order
    * price. Small dims broadcast; total through decimal for exactness;
    * name tie-break pins the limit boundary.
    */
  def q08(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(broadcast(T(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec2(col("o_totalprice"))).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("total_price").desc, col("n_name"))
      .limit(10)
  val q08Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY total_price DESC, n_name LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q09
  /** U2/U3: order-preserving dedup of normalized headers (first-seen
    * position wins) minus a dropped set — the reference's
    * `dict.fromkeys` + list-comprehension difference
    * (`run_annotate.py:49`, `:112`).
    */
  val q09Headers: Seq[String] = Seq("Gene", " gene ", "sgRNA", "Score",
    "score", "p.value", "P.Value", "LFC", "lfc ", "FDR")
  val q09Drop: Seq[String] = Seq("lfc")

  def q09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q09Headers.zipWithIndex.toDF("raw", "pos")
      .withColumn("name", lower(trim(col("raw"))))
      .groupBy("name").agg(min("pos").as("pos"))
      .filter(!col("name").isInCollection(q09Drop))
      .select("pos", "name")
  }
  val q09Sql: String = {
    val vals = q09Headers.zipWithIndex
      .map { case (h, i) => s"('$h',$i)" }.mkString(",")
    val dropped = q09Drop.map(d => s"'$d'").mkString(",")
    s"""WITH h(raw, pos) AS (VALUES $vals)
       |SELECT min(pos) AS pos, lower(trim(raw)) AS name FROM h
       |GROUP BY lower(trim(raw))
       |HAVING lower(trim(raw)) NOT IN ($dropped)""".stripMargin
  }

  // ---------------------------------------------------------------- q25
  /** Manifest end-to-end (SURVEY §7.2 minimum slice): MAGeCK-shaped
    * fixture -> dsv-dialect manifest -> Runner pipeline (sniffed read,
    * projection, [GENE] token, melt). Fixture is sf-independent so the
    * oracle can read the same files via DuckDB read_csv.
    */
  val q25FixtureRoot = s"$benchdataRoot/graft_fixtures"
  val q25Manifest: String =
    """{"dsv": [{
      |  "source": "$data_directory/mageck/[GENE]/rra.sgrna_summary.txt",
      |  "target": "sgrna_summary.parquet",
      |  "name": "sgRNA Summary",
      |  "desc": "sgRNA ranking results",
      |  "tokens": [{"token": "[GENE]", "name": "gene", "desc": "The targeting gene"}],
      |  "kwargs": {"read": {"sep": "\t"},
      |             "melt": {"key": {"name": "metric"}, "value": {"name": "value"},
      |                      "columns": ["control_mean", "treat_mean", "lfc"]}},
      |  "cols": [{"col": "sgrna", "name": "sgRNA ID"}, {"col": "control_mean"},
      |           {"col": "treat_mean"}, {"col": "LFC", "name": "Log Fold Change"}]
      |}]}""".stripMargin

  def writeQ25Fixture(): Unit = {
    val genes = Seq("BRCA1", "TP53", "EGFR")
    genes.zipWithIndex.foreach { case (g, gi) =>
      val rows = (0 until 4).map { i =>
        val id = gi * 10 + i
        f"s_$id%05d\t$g\t${500.25 + id * 3}%.2f\t${250.5 + id * 7}%.2f\t${-2.5 + id * 0.25}%.2f"
      }
      writeFile(
        Paths.get(s"$q25FixtureRoot/data/mageck/$g/rra.sgrna_summary.txt"),
        "sgrna\tGene\tcontrol_mean\ttreat_mean\tLFC\n" + rows.mkString("\n"))
    }
  }

  def q25(s: SparkSession, dir: String): DataFrame = {
    writeQ25Fixture()
    val manifest = ManifestParser.parse(q25Manifest)
    // fixture lives under <root>/data; `$data_directory` resolves there
    graft.exec.Runner.plan(s, manifest.commands.head, s"$q25FixtureRoot/data")
  }
  val q25Sql: String =
    s"""WITH src AS (
       |  SELECT sgrna,
       |    CAST(control_mean AS DOUBLE) AS control_mean,
       |    CAST(treat_mean AS DOUBLE) AS treat_mean,
       |    CAST(LFC AS DOUBLE) AS lfc,
       |    regexp_extract(filename, 'mageck/([^/]+)/rra', 1) AS gene
       |  FROM read_csv('$q25FixtureRoot/data/mageck/*/rra.sgrna_summary.txt',
       |                delim='\t', header=true, filename=true))
       |SELECT sgrna, gene, 'control_mean' AS metric, control_mean AS value FROM src
       |UNION ALL SELECT sgrna, gene, 'treat_mean' AS metric, treat_mean AS value FROM src
       |UNION ALL SELECT sgrna, gene, 'lfc' AS metric, lfc AS value FROM src""".stripMargin

  // ---------------------------------------------------------------- q27
  /** A5: numeric column profiling — min/max/mean/stddev per numeric
    * lineitem column, long form. Stddev is computed from decimal-exact
    * sum/sumsq (sqrt((sumsq - sum^2/n)/(n-1)) in double), because the
    * built-in stddev's partial-merge order is not reproducible across
    * engines.
    */
  def q27(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    // ONE aggregation pass over the scan computes all 15 partials (the
    // 100 TB shape — never one scan per column); the 1-row result is
    // reshaped driver-side with the same double arithmetic the oracle
    // uses (operand order preserved -> bit-identical)
    val aggs = cols.flatMap { c => Seq(
      min(col(c)).as(s"${c}_mn"), max(col(c)).as(s"${c}_mx"),
      sum(dec2(col(c))).cast("double").as(s"${c}_sm"),
      sum(dec2(col(c)) * dec2(col(c))).cast("double").as(s"${c}_sq"))
    } :+ count(lit(1)).cast("double").as("n")
    val r = T(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Double]("n")
    val rows = cols.map { c =>
      val sm = r.getAs[Double](s"${c}_sm")
      val sq = r.getAs[Double](s"${c}_sq")
      (c, r.getAs[Double](s"${c}_mn"), r.getAs[Double](s"${c}_mx"),
        sm / n, math.sqrt((sq - sm * sm / n) / (n - 1)))
    }
    import s.implicits._
    rows.toDF("col_name", "min_v", "max_v", "mean_v", "stddev_v")
  }
  val q27Sql: String =
    Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
      s"""SELECT '$c' AS col_name, min($c) AS min_v, max($c) AS max_v,
         |  CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_v,
         |  sqrt((CAST(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS DOUBLE)
         |        - CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / count(*))
         |       / (count(*) - 1)) AS stddev_v
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ---------------------------------------------------------------- q28
  /** U4/U2: intersect + except over derived key sets — nations that have
    * customers vs nations that have suppliers.
    */
  def q28(s: SparkSession, dir: String): DataFrame = {
    val nation = T(s, dir, "nation")
    val custN = T(s, dir, "customer")
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .select("n_name").distinct()
    val suppN = T(s, dir, "supplier")
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .select("n_name").distinct()
    custN.intersect(suppN).select(col("n_name"), lit("both").as("which"))
      .unionByName(custN.except(suppN)
        .select(col("n_name"), lit("customers_only").as("which")))
  }
  val q28Sql: String =
    """WITH c AS (SELECT DISTINCT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |s AS (SELECT DISTINCT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
      |SELECT n_name, 'both' AS which FROM (SELECT n_name FROM c INTERSECT SELECT n_name FROM s)
      |UNION ALL
      |SELECT n_name, 'customers_only' AS which FROM (SELECT n_name FROM c EXCEPT SELECT n_name FROM s)""".stripMargin

  // ---------------------------------------------------------------- q29
  /** R4: pivot (long -> wide), the inverse of q03's melt — melt part
    * then pivot back; must reproduce the original columns.
    */
  def q29(s: SparkSession, dir: String): DataFrame =
    Melt.melt(T(s, dir, "part"), Seq("p_partkey"),
      Seq("p_size", "p_retailprice"))
      .groupBy("p_partkey")
      .pivot("variable", Seq("p_size", "p_retailprice"))
      .agg(first("value"))
  val q29Sql: String =
    "SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size, p_retailprice FROM part"

  // ---------------------------------------------------------------- q31
  /** O3/window: top-3 orders by total price per order priority (rank
    * tie-broken by key so the boundary is pinned).
    */
  def q31(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(s, dir, "orders")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank").cast("long").as("rank"),
        col("o_orderkey"), col("o_totalprice"))
  }
  val q31Sql: String =
    """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders) WHERE rank <= 3""".stripMargin

  // ---------------------------------------------------------------- q36
  /** U1 drift path: two DSV files whose schemas disagree (a column
    * appears in only one) concatenated via unionByName with null fill
    * (SURVEY §7.4.3).
    */
  def q36(s: SparkSession, dir: String): DataFrame = {
    val base = Paths.get(s"${fixDir(dir)}/q36")
    writeFile(base.resolve("a").resolve("part.tsv"),
      "id\tscore\n1\t0.5\n2\t0.75\n")
    writeFile(base.resolve("b").resolve("part.tsv"),
      "id\tscore\tlfc\n3\t0.25\t-1.5\n4\t1.0\t2.25\n")
    val a = DsvReader.read(s, s"$base/a/part.tsv")
    val b = DsvReader.read(s, s"$base/b/part.tsv")
    graft.ops.Concat.unionByName(Seq(a, b))
      .select(col("id").cast("int"), col("score").cast("double"),
        col("lfc").cast("double"))
  }
  val q36Sql: String =
    """SELECT 1 AS id, 0.5::DOUBLE AS score, NULL::DOUBLE AS lfc
      |UNION ALL SELECT 2, 0.75, NULL
      |UNION ALL SELECT 3, 0.25, -1.5
      |UNION ALL SELECT 4, 1.0, 2.25""".stripMargin

  // ---------------------------------------------------------------- q39
  /** A4: hierarchical aggregates — ROLLUP over (returnflag, linestatus)
    * with decimal-exact revenue; subtotal rows carry nulls in both
    * engines.
    */
  def q39(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec2(col("l_extendedprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n"))
  val q39Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q36_concat_drift", q36, q36Sql),
    Query("q39_rollup", q39, q39Sql),
    Query("q27_numeric_summary", q27, q27Sql),
    Query("q28_setops", q28, q28Sql),
    Query("q29_pivot", q29, q29Sql),
    Query("q31_topk_per_group", q31, q31Sql),
    Query("q01_dsv_ingest", q01, q01Sql),
    Query("q02_project", q02, q02Sql),
    Query("q03_melt", q03, q03Sql),
    Query("q04_concat_tokens", q04, q04Sql),
    Query("q05_profile", q05, q05Sql),
    Query("q06_annotate", q06, q06Sql),
    Query("q07_groupagg", q07, q07Sql),
    Query("q08_join_topk", q08, q08Sql),
    Query("q09_dedup_headers", q09, q09Sql),
    Query("q25_manifest_e2e", q25, q25Sql))
}
