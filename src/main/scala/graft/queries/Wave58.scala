package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 "wave 58" query set (q381–q383): the three remaining TPC-H
  * subquery-decorrelation classics after waves 46/56/57 — the Q17
  * shape (correlated scalar AVG against the same fact, here as a
  * single-scan window), the Q22 shape (uncorrelated global-scalar
  * threshold + NOT EXISTS anti join), and the Q11 shape (HAVING
  * against a global aggregate of the same grouped frame). Each is
  * declared as its decorrelated plan, so no per-row subquery can
  * appear. Money compares ride the wave-55 cent quantization
  * (`floor(x*100+0.5)::long`) so every threshold compare is exact
  * integers-vs-double with identical IEEE arithmetic in both engines.
  */
object Wave58Queries {
  import CoreQueries.T

  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100.0 + 0.5).cast("long")
  private def centsSql(e: String) =
    s"CAST(floor($e * 100.0e0 + 0.5e0) AS BIGINT)"

  // ---------------------------------------------------------------- q381
  /** Small-quantity revenue (the TPC-H Q17 shape): total revenue of
    * Brand#13 lines whose quantity sits under 20% of that part's own
    * average quantity — the classic correlated scalar-AVG subquery.
    *
    * Decorrelation: instead of Q17's textbook agg + self-join (two
    * fact scans), the per-part average rides a WINDOW over the
    * brand-semi-filtered lines — ONE lineitem scan, one shuffle on
    * l_partkey, threshold applied in-stage. The window partition is
    * l_partkey (thousands of rows each at 100 TB, never a global
    * single-partition window). The brand dim broadcasts.
    * l_quantity is integer-valued, so avg = exact-int-sum / count is
    * bit-identical in both engines, as is the 0.2 * avg product.
    */
  def q381(s: SparkSession, dir: String): DataFrame = {
    val brand = T(s, dir, "part").filter(col("p_brand") === "Brand#13")
      .select(col("p_partkey"))
    val li = T(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        cents(col("l_extendedprice")).as("r"))
      .join(brand, col("l_partkey") === col("p_partkey"), "left_semi")
    li.withColumn("avg_qty",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(count(lit(1)).as("n_lines"), sum("r").as("revenue_cents"))
      .select(col("n_lines"),
        round(col("revenue_cents").cast("double") / 100.0, 6)
          .as("revenue"))
  }
  val q381Sql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
       |  round(CAST(sum(${centsSql("l.l_extendedprice")}) AS DOUBLE)
       |        / 100.0e0, 6) AS revenue
       |FROM lineitem l
       |JOIN part p ON p.p_partkey = l.l_partkey
       |WHERE p.p_brand = 'Brand#13'
       |  AND l.l_quantity < 0.2e0 * (
       |    SELECT avg(l2.l_quantity) FROM lineitem l2
       |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  // ---------------------------------------------------------------- q382
  /** Dormant big accounts (the TPC-H Q22 shape): per nation, the count
    * and total balance of customers whose balance beats the positive-
    * balance average yet who never placed an order above 350k — the
    * uncorrelated scalar threshold + NOT EXISTS pair.
    *
    * Decorrelation: the global average is ONE row (a one-row aggregate
    * crossJoin — the repo's established scalar-broadcast idiom), the
    * NOT EXISTS is a left_anti on o_custkey against the pre-filtered
    * big-order keys (the filter cuts orders ~50× before the anti
    * probe shuffles). Balances compare in exact cents.
    */
  def q382(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal"))
    val avgBal = c.filter(col("bal") > 0)
      .agg(avg(col("bal")).as("ab"))
    val bigOrders = T(s, dir, "orders")
      .filter(col("o_totalprice") > 350000.0)
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("bal") > col("ab"))
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), sum("bal").as("totbal_cents"))
      .orderBy(col("c_nationkey"))
  }
  val q382Sql: String =
    s"""SELECT c.c_nationkey,
       |  CAST(count(*) AS BIGINT) AS numcust,
       |  CAST(sum(${centsSql("c.c_acctbal")}) AS BIGINT) AS totbal_cents
       |FROM customer c
       |WHERE ${centsSql("c.c_acctbal")} > (
       |    SELECT avg(${centsSql("c2.c_acctbal")}) FROM customer c2
       |    WHERE ${centsSql("c2.c_acctbal")} > 0)
       |  AND NOT EXISTS (SELECT 1 FROM orders o
       |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000.0e0)
       |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q383
  /** Top-value parts (the TPC-H Q11 shape): parts whose total line
    * value exceeds 1.5× the mean per-part value — group sums filtered
    * by a global aggregate OF THE SAME grouped frame. (Q11's fixed
    * fraction is scale-dependent — share-of-total shrinks as the part
    * count grows — so the threshold is mean-relative, which keeps the
    * selectivity stable at any corpus size.)
    *
    * Decorrelation: one map-side-combinable cent-sum per part; the
    * threshold is a one-row aggregate of that frame crossJoin-ed back.
    * Catalyst reuses the grouped exchange for both consumers, so
    * lineitem is scanned and shuffled once. Output is bounded by the
    * part count, ordered value-desc with the id tie-break.
    */
  def q383(s: SparkSession, dir: String): DataFrame = {
    val v = T(s, dir, "lineitem")
      .select(col("l_partkey"), cents(col("l_extendedprice")).as("r"))
      .groupBy(col("l_partkey"))
      .agg(sum("r").as("value_cents"))
    val thr = v.agg((avg(col("value_cents")) * 1.5).as("thr"))
    v.crossJoin(broadcast(thr))
      .filter(col("value_cents") > col("thr"))
      .select(col("l_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("l_partkey"))
  }
  val q383Sql: String =
    s"""WITH v AS (
       |  SELECT l_partkey,
       |    CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS value_cents
       |  FROM lineitem GROUP BY l_partkey)
       |SELECT l_partkey, value_cents FROM v
       |WHERE value_cents > (SELECT avg(value_cents) * 1.5e0 FROM v)
       |ORDER BY value_cents DESC, l_partkey""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q381_small_qty_revenue", q381, q381Sql),
    Query("q382_dormant_big_accounts", q382, q382Sql),
    Query("q383_top_value_parts", q383, q383Sql))
}
