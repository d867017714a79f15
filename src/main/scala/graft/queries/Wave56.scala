package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 56" query set (q377–q378): the two TPC-H
  * decorrelation classics q337–q340 did NOT cover — the Q21 shape
  * (chained EXISTS + NOT EXISTS against the same fact table) and the
  * Q18 shape (HAVING-subquery semi join). Both are written as explicit
  * leftsemi/leftanti joins — the plan a correlated subquery MUST
  * decorrelate into at scale, declared directly so no per-row subquery
  * can ever appear. Schema note: this dataset has no
  * l_receiptdate/l_commitdate, so Q21's "late" flag is adapted to
  * l_returnflag = 'R' — the join topology (three roles of lineitem in
  * one query) is identical.
  */
object Wave56Queries {
  import CoreQueries.T

  // ---------------------------------------------------------------- q377
  /** Sole-problem supplier (the TPC-H Q21 shape): NATION_3 suppliers
    * whose RETURNED lines sit on finished multi-supplier orders where
    * NO other supplier's line was returned — i.e. this supplier alone
    * caused the return. Chained EXISTS (another supplier in the order)
    * + NOT EXISTS (another supplier's returned line), both against
    * lineitem itself.
    *
    * Scale shape: lineitem appears three times, every join keyed on
    * l_orderkey — one shuffle partitioning serves the semi AND the
    * anti probe (Spark reuses the exchange). The non-equi
    * `l_suppkey <>` rides inside the join condition, evaluated
    * in-stage post-match, never a per-row subquery; supplier/nation
    * are AQE-broadcast dims. Counting happens AFTER both
    * existence probes cut the fact, so the aggregate sees only
    * surviving rows.
    */
  def q377(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val fOrders = T(s, dir, "orders")
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val l1 = li.filter(col("l_returnflag") === "R")
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"))
    // EXISTS l2: another supplier has a line in the same order
    val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val multi = l1.join(l2,
      col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"),
      "left_semi")
    // NOT EXISTS l3: no OTHER supplier's RETURNED line in the order
    val l3 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    val sole = multi.join(l3,
      col("l_orderkey") === col("ok3") && col("l_suppkey") =!= col("sk3"),
      "left_anti")
    val sup = T(s, dir, "supplier")
      .join(T(s, dir, "nation").filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    sole.join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name")).limit(100)
  }
  val q377Sql: String =
    """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM lineitem l1
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderstatus = 'F'
      |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  AND n.n_name = 'NATION_3'
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q378
  /** Large-quantity orders (the TPC-H Q18 shape): customers' orders
    * whose total line quantity exceeds 250 — the HAVING-subquery
    * (`o_orderkey IN (SELECT … GROUP BY … HAVING sum > T)`) expressed
    * as an aggregate + leftsemi join. l_quantity is integer-valued in
    * this dataset, so the per-order sums are exact longs end to end.
    *
    * Scale shape: ONE lineitem aggregation on l_orderkey produces the
    * qualifying key set; the semi join back to orders carries keys
    * only (AQE broadcasts it when small); the final per-order quantity
    * re-aggregation reuses the l_orderkey partitioning. The top-100 is
    * TakeOrdered — no full sort at any scale.
    */
  def q378(s: SparkSession, dir: String): DataFrame = {
    val qty = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("q"))
    val big = qty.groupBy("l_orderkey").agg(sum("q").as("sum_qty"))
      .filter(col("sum_qty") > 250L)
    val o = T(s, dir, "orders")
      .join(big.select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
    val c = T(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
        round(col("o_totalprice"), 6).as("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
  }
  val q378Sql: String =
    """SELECT c.c_name, c.c_custkey, o.o_orderkey,
      |  CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
      |  round(o.o_totalprice, 6) AS o_totalprice,
      |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM customer c
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
      |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
      |  o.o_totalprice
      |ORDER BY round(o.o_totalprice, 6) DESC, o.o_orderkey
      |LIMIT 100""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q377_sole_supplier_wait", q377, q377Sql),
    Query("q378_large_qty_orders", q378, q378Sql))
}
