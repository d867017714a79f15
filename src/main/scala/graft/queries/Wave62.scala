package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 62" query set (q392–q398): the last TPC-H decision-
  * support shapes not yet exercised by waves 46/55–59 — Q10 (returned-
  * item reporting), Q4 (EXISTS-counted order priorities), Q12 (dual
  * conditional class matrix), Q13 (outer-join count distribution with
  * zeros), Q15 (grouped frame reused by max + filter), Q16 (distinct-
  * count census behind a NOT-IN supplier exclusion) and Q19 (disjunctive
  * OR-of-conjuncts pushed into one scan). Columns the synthetic corpus
  * lacks (l_shipmode, l_commitdate, partsupp, comments) are adapted to
  * equivalents that keep each query's PLAN shape — the semi/anti joins,
  * exchange reuse and pushdowns TPC-H designed those queries to stress.
  * Money flows through the wave-55 cent quantization so every sum is
  * exact-integer; counts are BIGINT on both engines.
  */
object Wave62Queries {
  import CoreQueries.{T, centsSql}

  private def revCents(ep: org.apache.spark.sql.Column,
      disc: org.apache.spark.sql.Column) =
    floor(ep * (lit(1.0) - disc) * 100.0 + 0.5).cast("long")

  // ---------------------------------------------------------------- q392
  /** Returned-item reporting (the TPC-H Q10 shape): the 20 customers
    * who returned the most revenue in 1996, with their nation.
    *
    * Plan shape: the returnflag filter and the cent projection ride the
    * lineitem scan; the fact pre-aggregates to ONE row per customer
    * BEFORE any dim join, so the customer⋈nation joins see a
    * customer-sized frame, not the fact — at 100 TB the only fact-sized
    * exchange is the orders join. Top-20 is a TakeOrdered, never a
    * global sort.
    */
  def q392(s: SparkSession, dir: String): DataFrame = {
    val ord96 = T(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"), col("o_custkey"))
    val perCust = T(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        revCents(col("l_extendedprice"), col("l_discount")).as("r"))
      .join(ord96, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_lines"), sum("r").as("returned_cents"))
    val cust = T(s, dir, "customer")
      .join(broadcast(T(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    perCust.join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("n_lines"), col("returned_cents"))
      .orderBy(col("returned_cents").desc, col("c_custkey"))
      .limit(20)
  }
  val q392Sql: String =
    s"""SELECT c.c_custkey, c.c_name, n.n_name,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum($centsSql) AS BIGINT) AS returned_cents
       |FROM lineitem l
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  AND year(o.o_orderdate) = 1996
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |JOIN nation n ON n.n_nationkey = c.c_nationkey
       |WHERE l.l_returnflag = 'R'
       |GROUP BY 1, 2, 3
       |ORDER BY returned_cents DESC, c_custkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q393
  /** Order-priority checking (the TPC-H Q4 shape): among orders placed
    * in H1-1996, how many per priority class had at least one line
    * shipped more than 90 days after the order date (the corpus has no
    * commit/receipt dates — "late against the order date" keeps the
    * correlated-EXISTS shape).
    *
    * Plan shape: the EXISTS decorrelates to ONE left-semi join keyed on
    * l_orderkey with the date inequality evaluated in-stage; the orders
    * date window prunes before the join, so the semi probe carries only
    * the window's keys. No per-row subquery anywhere.
    */
  def q393(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }
  val q393Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q394
  /** Priority class matrix (the TPC-H Q12 shape; the corpus has no
    * l_shipmode, so the "ship class" axis is l_returnflag): for lines
    * shipped in 1997, per return class, how many belong to
    * high-priority orders (1-URGENT / 2-HIGH) vs everything else —
    * both counts in ONE conditional aggregation over one fact pass.
    *
    * Plan shape: the ship-year filter rides the lineitem scan; orders
    * arrives by one equi join carrying only (key, priority); the
    * case-when split never re-scans.
    */
  def q394(s: SparkSession, dir: String): DataFrame = {
    val hi = Seq("1-URGENT", "2-HIGH")
    T(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1997)
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("o_orderpriority").isin(hi: _*), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin(hi: _*), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }
  val q394Sql: String =
    """SELECT l.l_returnflag,
      |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE year(l.l_shipdate) = 1997
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q395
  /** Customer order-count distribution (the TPC-H Q13 shape): how many
    * customers placed exactly k non-5-LOW orders — INCLUDING the
    * zero-order customers the left outer join exists to keep (the
    * corpus has no o_comment; the excluded class is the 5-LOW
    * priority).
    *
    * Plan shape: orders filters then pre-aggregates to ONE row per
    * customer before the outer join, so the join is customer-sized on
    * both sides; the distribution roll-up is a second, tiny exchange.
    * coalesce(count, 0) materializes the zero bucket.
    */
  def q395(s: SparkSession, dir: String): DataFrame = {
    val perCust = T(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "5-LOW")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
    T(s, dir, "customer").select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("k"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }
  val q395Sql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      |  SELECT c.c_custkey,
      |    CAST(coalesce(k, 0) AS BIGINT) AS c_count
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey, count(*) AS k FROM orders
      |    WHERE o_orderpriority <> '5-LOW' GROUP BY 1) o
      |  ON o.o_custkey = c.c_custkey)
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------- q396
  /** Top supplier (the TPC-H Q15 shape): the supplier(s) whose Q1-1997
    * shipped revenue equals the maximum over all suppliers — the
    * grouped frame is consumed TWICE (global max + equality filter),
    * the exchange-reuse pattern Q15's view expresses.
    *
    * Plan shape: one fact pass builds the per-supplier revenue; the
    * one-row max crossJoins back (broadcast by construction); the
    * supplier dim joins the surviving row(s) only. Ties all surface,
    * ordered by suppkey.
    */
  def q396(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revCents(col("l_extendedprice"), col("l_discount")))
        .as("total_cents"))
    val top = rev
      .crossJoin(broadcast(rev.agg(max(col("total_cents")).as("mx"))))
      .filter(col("total_cents") === col("mx"))
    top.join(T(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_cents"))
      .orderBy("s_suppkey")
  }
  val q396Sql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey, CAST(sum($centsSql) AS BIGINT) AS total_cents
       |  FROM lineitem l
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-04-01'
       |  GROUP BY 1)
       |SELECT s.s_suppkey, s.s_name, r.total_cents
       |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
       |WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
       |ORDER BY s.s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q397
  /** Parts/supplier relationship census (the TPC-H Q16 shape; the
    * corpus has no partsupp, so the part↔supplier relation is the
    * distinct (l_partkey, l_suppkey) pairs): distinct suppliers per
    * (brand, type, size) over an interesting part slice, EXCLUDING
    * suppliers with negative balances — Q16's NOT IN as an explicit
    * anti join.
    *
    * Plan shape: the fact dedups to the (partkey, suppkey) pair set in
    * one exchange BEFORE any join; the excluded-supplier set is tiny
    * and broadcasts under the anti join; the part filter broadcasts
    * onto the pair set. count(DISTINCT) runs on the already-distinct
    * pair frame.
    */
  def q397(s: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
    val pairs = T(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val parts = T(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#5" &&
        !col("p_type").startsWith("PROMO") &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val badSupp = T(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    pairs
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }
  val q397Sql: String =
    """SELECT p.p_brand, p.p_type, p.p_size,
      |  CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part p ON p.p_partkey = ps.l_partkey
      |WHERE p.p_brand <> 'Brand#5'
      |  AND p.p_type NOT LIKE 'PROMO%'
      |  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
      |  AND ps.l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---------------------------------------------------------------- q398
  /** Discounted revenue under a disjunctive basket predicate (the TPC-H
    * Q19 shape): three OR'd (brand ∧ size-range ∧ quantity-range)
    * conjuncts evaluated over lineitem⋈part.
    *
    * Plan shape: ONE equi join on partkey with the whole disjunction
    * evaluated in-stage after the join — never three scans unioned; the
    * shared size lower bound (>= 1, i.e. all) keeps the part side
    * unfiltered so the disjunction alone decides, exactly Q19's
    * OR-pushdown stress. One-row exact-cent result.
    */
  def q398(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        revCents(col("l_extendedprice"), col("l_discount")).as("r"))
    val p = T(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(count(lit(1)).as("n_lines"), sum("r").as("revenue_cents"))
  }
  val q398Sql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum($centsSql) AS BIGINT) AS revenue_cents
       |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       |    AND l.l_quantity BETWEEN 1 AND 11)
       |  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       |    AND l.l_quantity BETWEEN 10 AND 20)
       |  OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       |    AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q392_returned_items", q392, q392Sql),
    Query("q393_late_ship_priority", q393, q393Sql),
    Query("q394_priority_class_matrix", q394, q394Sql),
    Query("q395_order_count_distribution", q395, q395Sql),
    Query("q396_top_supplier", q396, q396Sql),
    Query("q397_supplier_cnt_census", q397, q397Sql),
    Query("q398_disjunct_revenue", q398, q398Sql))
}
