package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 59" query set (q384–q386): the TPC-H multi-join
  * reporting classics not yet shaped by waves 46/55–58 — the Q7
  * nation-pair volume, the Q8 market share, and the Q9 product profit
  * (adapted: this corpus has no partsupp, so supply cost is the part's
  * retail price — same join graph, same conditional-aggregation
  * shape). All money flows through the wave-55 cent quantization
  * (`floor(x*100+0.5)::long`) and `x*(1-d)` is one double product in
  * the identical expression order in both engines before quantizing,
  * so every sum is exact-integer. Years are `year(ts)` cast to long on
  * both sides (DuckDB's year() is BIGINT, Spark's is INT — the hash is
  * type-sensitive).
  */
object Wave59Queries {
  import CoreQueries.{T, centsSql}

  private def revCents(ep: org.apache.spark.sql.Column,
      disc: org.apache.spark.sql.Column) =
    floor(ep * (lit(1.0) - disc) * 100.0 + 0.5).cast("long")

  // ---------------------------------------------------------------- q384
  /** Nation-pair shipping volume (the TPC-H Q7 shape): revenue shipped
    * between the four nations NATION_3/8/12/13 in either direction, by supplier
    * nation, customer nation and ship year.
    *
    * Plan shape: the 25-row nation dim broadcasts onto supplier and
    * (through orders) onto customer, and the nation-set FILTERS apply
    * at those dim joins — the fact rows that survive to the final
    * 4-way join are already only the selected nations' traffic, so the big
    * lineitem⋈orders shuffle carries a fraction of the fact. The
    * either-direction predicate is a cross-nation inequality on two
    * broadcast-joined columns, evaluated in-stage, never a theta join.
    */
  def q384(s: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_3", "NATION_8", "NATION_12", "NATION_13")
    val n = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      .filter(col("n_name").isin(nations: _*))
    val supp = T(s, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = T(s, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        revCents(col("l_extendedprice"), col("l_discount")).as("r"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n_lines"), sum("r").as("revenue_cents"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }
  val q384Sql: String =
    s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum($centsSql) AS BIGINT) AS revenue_cents
       |FROM lineitem l
       |JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |JOIN nation ns ON ns.n_nationkey = s.s_nationkey
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |JOIN nation nc ON nc.n_nationkey = c.c_nationkey
       |WHERE ns.n_name IN ('NATION_3', 'NATION_8', 'NATION_12', 'NATION_13')
       |  AND nc.n_name IN ('NATION_3', 'NATION_8', 'NATION_12', 'NATION_13')
       |  AND ns.n_name <> nc.n_name
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q385
  /** Market share (the TPC-H Q8 shape): NATION_19's share of PROMO-part
    * revenue sold to ASIA customers, by order year. The share is a
    * conditional sum over the same aggregated frame — numerator and
    * denominator ride ONE aggregation, so no second fact pass and no
    * division until the per-year row is final.
    *
    * Plan shape: region→nation→customer is a broadcast chain (region
    * and nation are tiny; the customer-side filter applies before the
    * orders join), the part-type filter broadcasts onto lineitem where
    * AQE sizes it, and the supplier nation arrives by one more
    * broadcast. The fact shuffles once, on the orders join key.
    */
  def q385(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = T(s, dir, "nation")
      .join(broadcast(T(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = T(s, dir, "customer")
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
    val promo = T(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val suppNation = T(s, dir, "supplier")
      .join(broadcast(T(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        revCents(col("l_extendedprice"), col("l_discount")).as("r"))
      .join(promo, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("n_name") === "NATION_19", col("r"))
          .otherwise(lit(0L))).as("nation_cents"),
        sum("r").as("total_cents"))
      .select(col("o_year"), col("nation_cents"), col("total_cents"),
        round(col("nation_cents").cast("double")
          / col("total_cents").cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }
  val q385Sql: String =
    s"""WITH f AS (
       |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       |    n.n_name, $centsSql AS r
       |  FROM lineitem l
       |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN nation n ON n.n_nationkey = s.s_nationkey
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
       |  JOIN region rg ON rg.r_regionkey = nc.n_regionkey
       |  WHERE rg.r_name = 'ASIA')
       |SELECT o_year,
       |  CAST(sum(CASE WHEN n_name = 'NATION_19' THEN r ELSE 0 END)
       |    AS BIGINT) AS nation_cents,
       |  CAST(sum(r) AS BIGINT) AS total_cents,
       |  round(CAST(sum(CASE WHEN n_name = 'NATION_19' THEN r ELSE 0 END)
       |      AS DOUBLE) / CAST(sum(r) AS DOUBLE), 6) AS mkt_share
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q386
  /** Product-type profit (the TPC-H Q9 shape, adapted — no partsupp in
    * this corpus, so unit cost is the part's retail price): for parts
    * named '%widget%', profit = revenue − retail_cost·qty by supplier
    * nation and order year. Both terms are exact integer cents
    * (quantity is integer-valued, so cost·qty quantizes losslessly).
    *
    * Plan shape: the name-filtered part dim joins the fact FIRST (the
    * most selective edge), supplier nation broadcasts, and the single
    * fact shuffle is the orders join for the year column.
    */
  def q386(s: SparkSession, dir: String): DataFrame = {
    val widget = T(s, dir, "part")
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("cost_c"))
    val suppNation = T(s, dir, "supplier")
      .join(broadcast(T(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val ord = T(s, dir, "orders").select(col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("o_year"))
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"),
        revCents(col("l_extendedprice"), col("l_discount")).as("r"))
      .join(widget, col("l_partkey") === col("p_partkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("supp_nation"), col("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("r") - col("cost_c") * col("qty")).as("profit_cents"))
      .orderBy("supp_nation", "o_year")
  }
  val q386Sql: String =
    s"""SELECT n.n_name AS supp_nation,
       |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum($centsSql
       |    - CAST(floor(p.p_retailprice * 100.0e0 + 0.5e0) AS BIGINT)
       |      * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS profit_cents
       |FROM lineitem l
       |JOIN part p ON p.p_partkey = l.l_partkey
       |  AND p.p_name LIKE '%widget%'
       |JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |JOIN nation n ON n.n_nationkey = s.s_nationkey
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q384_nation_volume", q384, q384Sql),
    Query("q385_market_share", q385, q385Sql),
    Query("q386_product_profit", q386, q386Sql))
}
