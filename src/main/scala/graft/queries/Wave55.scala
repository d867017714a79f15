package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 55" query set (q373–q376): the TPC-H star-join
  * classics (Q5/Q3/Q7/Q14 shapes) adapted to this schema — local
  * supplier revenue, shipping priority, bilateral trade volume, and
  * promo revenue share. Revenue = Σ⌊extendedprice·(1−discount)·100⌉
  * quantized PER ROW before any sum, so every rollup is an exact
  * integer; dims broadcast (AQE), facts shuffle once per join key.
  */
object Wave55Queries {
  import CoreQueries.T

  private val rev =
    floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * 100.0 + 0.5).cast("long")
  private val revSql =
    "CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0 + 0.5e0) AS BIGINT)"

  // ---------------------------------------------------------------- q373
  /** Local-supplier revenue per nation (the TPC-H Q5 shape): ASIA
    * customers, order year 1996, and ONLY lines whose supplier sits in
    * the customer's nation — the five-table star join with the
    * correlated dim-dim predicate that makes Q5 the classic join-order
    * test. Dims broadcast; the one big shuffle joins orders⋈lineitem.
    */
  def q373(s: SparkSession, dir: String): DataFrame = {
    val n = T(s, dir, "nation")
      .join(T(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = T(s, dir, "customer")
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_nationkey").as("cn"), col("n_name"))
    val o = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val sup = T(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), rev.as("r"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("cn"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_lines"), sum("r").as("revenue_cents"))
      .select(col("n_name"), col("n_lines"),
        round(col("revenue_cents").cast("double") / 100.0, 6)
          .as("revenue"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }
  val q373Sql: String =
    s"""SELECT n.n_name,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  round(CAST(sum($revSql) AS DOUBLE) / 100.0e0, 6) AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  AND s.s_nationkey = c.c_nationkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'ASIA'
       |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY n.n_name
       |ORDER BY sum($revSql) DESC, n.n_name""".stripMargin

  // ---------------------------------------------------------------- q374
  /** Shipping priority (the TPC-H Q3 shape): BUILDING-segment orders
    * placed before the cut whose lines ship after it, top 10 by open
    * revenue — the order-book triage query. Exact cent ordering with
    * orderkey tie-break; TakeOrdered, never a full sort.
    */
  def q374(s: SparkSession, dir: String): DataFrame = {
    val cut = "1998-01-01"
    val c = T(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = T(s, dir, "orders")
      .filter(col("o_orderdate") < lit(cut).cast("timestamp"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit(cut).cast("timestamp"))
      .select(col("l_orderkey"), rev.as("r"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum("r").as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderkey")).limit(10)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
        col("o_orderpriority"),
        round(col("revenue_cents").cast("double") / 100.0, 6)
          .as("revenue"))
  }
  val q374Sql: String =
    s"""SELECT o.o_orderkey,
       |  CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
       |  o.o_orderpriority,
       |  round(CAST(sum($revSql) AS DOUBLE) / 100.0e0, 6) AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE c.c_mktsegment = 'BUILDING'
       |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
       |  AND l.l_shipdate > TIMESTAMP '1998-01-01'
       |GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
       |ORDER BY sum($revSql) DESC, o.o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q375
  /** Bilateral trade volume (the TPC-H Q7 shape): revenue shipped
    * between nations 1 and 2 in BOTH directions (supplier nation →
    * customer nation), per ship year — the directed trade matrix
    * restricted to one pair. Exact cent sums per (year, direction).
    */
  def q375(s: SparkSession, dir: String): DataFrame = {
    val sup = T(s, dir, "supplier")
      .filter(col("s_nationkey").isin(1, 2))
      .select(col("s_suppkey"), col("s_nationkey").as("supp_nation"))
    val cus = T(s, dir, "customer")
      .filter(col("c_nationkey").isin(1, 2))
      .select(col("c_custkey"), col("c_nationkey").as("cust_nation"))
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"), rev.as("r"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cus, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "ship_year")
      .agg(count(lit(1)).as("n_lines"), sum("r").as("volume_cents"))
      .select(col("supp_nation").cast("long").as("supp_nation"),
        col("cust_nation").cast("long").as("cust_nation"),
        col("ship_year"), col("n_lines"),
        round(col("volume_cents").cast("double") / 100.0, 6).as("volume"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }
  val q375Sql: String =
    s"""SELECT CAST(s.s_nationkey AS BIGINT) AS supp_nation,
       |  CAST(c.c_nationkey AS BIGINT) AS cust_nation,
       |  CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  round(CAST(sum($revSql) AS DOUBLE) / 100.0e0, 6) AS volume
       |FROM lineitem l
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE s.s_nationkey IN (1, 2) AND c.c_nationkey IN (1, 2)
       |  AND s.s_nationkey <> c.c_nationkey
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q376
  /** Promo revenue share (the TPC-H Q14 shape): the share of one ship
    * month's revenue carried by PROMO-type parts — conditional
    * aggregation over a fact⋈dim join, both sums exact cents, one
    * final division.
    */
  def q376(s: SparkSession, dir: String): DataFrame = {
    val p = T(s, dir, "part").select(col("p_partkey"), col("p_type"))
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .select(col("l_partkey"), rev.as("r"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum("r").as("total_cents"),
        sum(when(col("p_type") === "PROMO", col("r")).otherwise(0L))
          .as("promo_cents"))
      .select(col("n_lines"),
        round(col("total_cents").cast("double") / 100.0, 6)
          .as("total_revenue"),
        round(col("promo_cents").cast("double") / 100.0, 6)
          .as("promo_revenue"),
        round(lit(100.0) * col("promo_cents").cast("double")
          / col("total_cents").cast("double"), 6).as("promo_share_pct"))
  }
  val q376Sql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
       |  round(CAST(sum($revSql) AS DOUBLE) / 100.0e0, 6)
       |    AS total_revenue,
       |  round(CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN $revSql
       |    ELSE 0 END) AS DOUBLE) / 100.0e0, 6) AS promo_revenue,
       |  round(100.0e0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
       |      THEN $revSql ELSE 0 END) AS DOUBLE)
       |    / CAST(sum($revSql) AS DOUBLE), 6) AS promo_share_pct
       |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |WHERE l.l_shipdate >= TIMESTAMP '1997-06-01'
       |  AND l.l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q373_local_supplier_rev", q373, q373Sql),
    Query("q374_shipping_priority", q374, q374Sql),
    Query("q375_trade_volume", q375, q375Sql),
    Query("q376_promo_share", q376, q376Sql))
}
