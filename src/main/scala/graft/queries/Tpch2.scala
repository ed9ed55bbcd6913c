package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables
import graft.util.Dec._
import graft.util.Pins

/** The rest of the TPC-H query surface expressible over the driver's
  * star schema (TESTDATA.md). The synthetic corpus has no `partsupp`
  * table and lineitem lacks commitdate/receiptdate/shipmode, so queries
  * that depend on them (Q2, Q9, Q11, Q20, Q21) are adapted where the
  * operator shape survives (Q4's EXISTS, Q16's distinct-supplier count,
  * Q22's anti join) and omitted where it doesn't.
  *
  * Scale notes: every dimension (part, supplier, nation, region, the
  * one-row scalar thresholds) broadcasts; lineitem⋈orders is the only
  * shuffle pair and is bucketable on orderkey at 100 TB. Money math
  * routes through DECIMAL (graft.util.Dec) for oracle-exact sums.
  */
object Tpch2 {

  private def tsLit(s: String) = lit(s).cast("timestamp")

  /** Q4: order-priority checking. lineitem lacks commitdate/receiptdate,
    * so the EXISTS predicate is adapted to "some line shipped after the
    * order date" — same left-semi-join shape, map-side dedup before the
    * orderkey shuffle. */
  def q4Exists(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= tsLit("1996-07-01") &&
             col("o_orderdate") <  tsLit("1996-10-01"))
    val l = Tables.lineitem(spark, dir)
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Q6: forecast revenue change — single scan, all three predicates
    * pushed to parquet, one-row result (no shuffle beyond the final
    * 1-group agg). */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= tsLit("1996-01-01") &&
             col("l_shipdate") <  tsLit("1997-01-01") &&
             col("l_discount").between(0.05, 0.07) &&
             col("l_quantity") < 24)
      .agg(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))
        .cast(DoubleType).as("revenue"))
  }

  val q6Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |              * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Q7: volume shipping between two nations, both directions, by year.
    * Both nation copies broadcast; supplier and customer broadcast; the
    * only shuffle is lineitem⋈orders. */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= tsLit("1996-01-01") &&
             col("l_shipdate") <  tsLit("1998-01-01"))
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
             (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7Sql: String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  ${sqlSumRevenue("l_extendedprice", "l_discount")} AS revenue
       |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |             CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |             l_extendedprice, l_discount
       |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
       |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
       |        AND c_nationkey = n2.n_nationkey
       |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q8: national market share — NATION_2's fraction of ECONOMY-part
    * revenue sold into ASIA, by order year. The CASE'd numerator and
    * denominator are both exact decimal sums; the division happens once
    * in double, identically in both engines. */
  def q8Share(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= tsLit("1996-01-01") &&
             col("o_orderdate") <  tsLit("1998-01-01"))
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val p = Tables.part(spark, dir).where(col("p_type") === "ECONOMY")
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n2_key"), col("n_regionkey").as("n2_region"))
    val r = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    val vol = dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))
    val zero = lit(BigDecimal(0).setScale(2)).cast(DecimalType(3, 2))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .join(broadcast(r), col("n2_region") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_2", vol).otherwise(zero))
              .cast(DoubleType) /
            sum(vol).cast(DoubleType)).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8Sql: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_2'
       |        THEN ${sqlDec2("l_extendedprice")} * ($SQL_ONE - ${sqlDec2("l_discount")})
       |        ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE)
       |  / CAST(SUM(${sqlDec2("l_extendedprice")} * ($SQL_ONE - ${sqlDec2("l_discount")})) AS DOUBLE)
       |    AS mkt_share
       |FROM lineitem, orders, part, supplier, customer, nation n1, nation n2, region
       |WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
       |  AND l_suppkey = s_suppkey AND o_custkey = c_custkey
       |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
       |  AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
       |  AND p_type = 'ECONOMY'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin

  /** Q12: shipping-mode priority classes, adapted — lineitem has no
    * shipmode, so the CASE'd high/low priority counts group by
    * l_linestatus instead. Same conditional-aggregate shape. */
  def q12Priority(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= tsLit("1996-01-01") &&
             col("l_shipdate") <  tsLit("1997-01-01"))
    val o = Tables.orders(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
                 col("o_orderpriority") === "2-HIGH", 1).otherwise(0))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
                 col("o_orderpriority") =!= "2-HIGH", 1).otherwise(0))
          .as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  val q12Sql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** Q13: customer order-count distribution. LEFT OUTER join keeps
    * order-less customers; two cascaded aggregations (per-customer, then
    * histogram). The second groupBy's input is already tiny. */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q14: promotion-effect percentage for one month. Numerator and
    * denominator are exact decimal sums; the 100*x/y arithmetic runs in
    * double with identical association on both sides. */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= tsLit("1996-09-01") &&
             col("l_shipdate") <  tsLit("1996-10-01"))
    val p = Tables.part(spark, dir)
    val vol = dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))
    val zero = lit(BigDecimal(0).setScale(2)).cast(DecimalType(3, 2))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
            sum(when(col("p_type") === "PROMO", vol).otherwise(zero)).cast(DoubleType) /
            sum(vol).cast(DoubleType)).as("promo_revenue"))
  }

  val q14Sql: String =
    s"""SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
       |        THEN ${sqlDec2("l_extendedprice")} * ($SQL_ONE - ${sqlDec2("l_discount")})
       |        ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE)
       |  / CAST(SUM(${sqlDec2("l_extendedprice")} * ($SQL_ONE - ${sqlDec2("l_discount")})) AS DOUBLE)
       |    AS promo_revenue
       |FROM lineitem, part
       |WHERE l_partkey = p_partkey
       |  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""".stripMargin

  /** Q15: top supplier(s) by quarterly revenue. Lineitem is scanned and
    * aggregated ONCE (the persisted `rev` diamond — AQE does not reuse
    * the shuffle stage across the rev/max(rev) subtrees); the global max
    * is a partial-aggregate tree over the persisted per-supplier result,
    * so only one partial max per partition crosses the wire — unlike an
    * empty-frame window, which would funnel all |suppliers| rows through
    * a single partition. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= tsLit("1996-01-01") &&
             col("l_shipdate") <  tsLit("1996-04-01"))
    val rev = Pins.cache(l.groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("total_revenue")))
    val mx = rev.agg(max(col("total_revenue")).as("max_revenue"))
    val s = Tables.supplier(spark, dir)
    rev.join(broadcast(mx))
      .where(col("total_revenue") === col("max_revenue"))
      .join(broadcast(s), col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    ${sqlSumRevenue("l_extendedprice", "l_discount")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier, revenue
       |WHERE s_suppkey = supplier_no
       |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** Q16: supplier count per part descriptor, adapted — no partsupp
    * table, so the part↔supplier relation comes from lineitem; no
    * s_comment so the excluded-supplier subquery is dropped. The
    * distinct-count shuffles once on the (brand, type, size) key. */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .where(col("p_brand") =!= "Brand#5" && col("p_type") =!= "MEDIUM" &&
             col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    val l = Tables.lineitem(spark, dir)
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q17: small-quantity-order revenue. The 0.2*avg(qty) threshold is
    * rewritten in integer/decimal arithmetic (qty*5*cnt < sum_qty) so the
    * comparison is exact in both engines; per-part aggregates join back
    * broadcast-sized. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).where(col("p_brand") === "Brand#23")
    // Per-part cnt/sum as a window AFTER the brand join: every lineitem
    // row of a qualifying part survives the equi-join, so the window sees
    // exactly the rows the separate per-part aggregate saw — but the
    // fact is scanned ONCE and nothing parts-sized is broadcast (the old
    // `pa` aggregated ALL parts and broadcast the result: a second full
    // scan and an OOM-sized broadcast at 100 TB).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("sq", sum(dec2(col("l_quantity"))).over(w))
      .where(dec2(col("l_quantity")) * (lit(5L) * col("cnt")) < col("sq"))
      .agg((sum(dec2(col("l_extendedprice"))).cast(DoubleType) / lit(7.0))
        .as("avg_yearly"))
  }

  val q17Sql: String =
    s"""WITH pa AS (SELECT l_partkey AS pa_key, COUNT(*) AS cnt,
       |  SUM(${sqlDec2("l_quantity")}) AS sq FROM lineitem GROUP BY l_partkey)
       |SELECT CAST(SUM(${sqlDec2("l_extendedprice")}) AS DOUBLE) / 7.0 AS avg_yearly
       |FROM lineitem, part, pa
       |WHERE p_partkey = l_partkey AND pa_key = l_partkey
       |  AND p_brand = 'Brand#23'
       |  AND ${sqlDec2("l_quantity")} * (5 * cnt) < sq""".stripMargin

  /** Q19: disjunctive brand/size/quantity revenue (container and
    * shipmode don't exist in the corpus; the three-armed OR over
    * brand × quantity-band × size-band is the operator shape). Catalyst
    * pushes the OR-of-ANDs below the join as a part-side and
    * lineitem-side filter. */
  def q19Disjunct(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) &&
         col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
         col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#14" && col("l_quantity").between(20, 30) &&
         col("p_size").between(1, 15)))
      .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
  }

  val q19Sql: String =
    s"""SELECT ${sqlSumRevenue("l_extendedprice", "l_discount")} AS revenue
       |FROM lineitem, part
       |WHERE p_partkey = l_partkey
       |  AND ((p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       |    OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       |    OR (p_brand = 'Brand#14' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))""".stripMargin

  /** Q22: idle high-balance customers, adapted — the corpus has no
    * c_phone and every customer has at least one order, so "no orders"
    * becomes "no orders in the final two years" and the country-code
    * grouping becomes c_mktsegment. Shape preserved: uncorrelated scalar
    * average (broadcast), anti join against orders. */
  def q22Idle(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= tsLit("2000-01-01"))
    val thr = c.where(col("c_acctbal") > 0.0)
      .agg((sum(dec2(col("c_acctbal"))).cast(DoubleType) / count(lit(1)))
        .as("thr"))
    c.crossJoin(broadcast(thr))
      .where(col("c_acctbal") > col("thr"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"), sumMoney(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val q22Sql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS numcust,
       |  ${sqlSumMoney("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_acctbal > (SELECT CAST(SUM(${sqlDec2("c_acctbal")}) AS DOUBLE) / COUNT(*)
       |                   FROM customer WHERE c_acctbal > 0.0)
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin
}
