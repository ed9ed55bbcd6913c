package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables
import graft.util.Dec._
import graft.util.Pins

/** The last five TPC-H shapes (Q2, Q9, Q11, Q20, Q21), adapted to the
  * driver's star schema: the corpus has no `partsupp` and lineitem lacks
  * commitdate/receiptdate, so each query keeps its OPERATOR shape
  * (correlated min, multi-dim profit rollup, HAVING over a global
  * scalar, nested semi chain, exists+not-exists) with lineitem standing
  * in as the supply/receipt fact.
  *
  * Scale notes: dimensions and one-row scalars broadcast; every
  * fact-side aggregation is partial (map-side combine) before its one
  * shuffle; the q21 semi/anti pair shares the l1 aggregate. Money math
  * routes through DECIMAL (graft.util.Dec) so threshold comparisons are
  * exact in both engines — no float-boundary flakes.
  */
object Tpch3 {

  private def tsLit(s: String) = lit(s).cast("timestamp")

  /** Q2 shape: correlated min — for small SMALL-type parts, the
    * supplier(s) whose total supply value for the part is the part's
    * minimum. The per-part min re-joins as a broadcast (dimension-sized
    * after the part filter), not a window over the fact. */
  def q2MinCost(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .where(col("p_size") <= 10 && col("p_type") === "SMALL")
    val cost = Tables.lineitem(spark, dir)
      .join(broadcast(p), col("p_partkey") === col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec2(col("l_extendedprice"))).as("supply_cost"))
    // per-part min as a window over the aggregate already computed — the
    // agg-then-join-back formulation scans/joins the fact twice AND
    // broadcasts a parts-sized min table (OOM at 100 TB); the window
    // re-shuffles only the group-bounded cost rows by part.
    cost
      .withColumn("min_cost", min(col("supply_cost")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))))
      .where(col("supply_cost") === col("min_cost"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"),
        col("supply_cost").cast(DoubleType).as("cost"))
      .orderBy(col("cost").desc, col("p_partkey"), col("s_name"))
      .limit(100)
  }

  val q2Sql: String =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS supply_cost
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_size <= 10 AND p_type = 'SMALL'
      |  GROUP BY 1, 2),
      |mins AS (SELECT l_partkey AS m_partkey, MIN(supply_cost) AS min_cost
      |         FROM cost GROUP BY 1)
      |SELECT s_name, n_name, c.l_partkey AS p_partkey,
      |       CAST(c.supply_cost AS DOUBLE) AS cost
      |FROM cost c
      |JOIN mins m ON c.l_partkey = m.m_partkey AND c.supply_cost = m.min_cost
      |JOIN supplier ON s_suppkey = c.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |ORDER BY cost DESC, p_partkey, s_name
      |LIMIT 100""".stripMargin

  /** Q9 shape: product-line profit by supplier nation and order year.
    * Without partsupp's supplycost, cost is proxied as 10% of retail
    * price per unit — the arithmetic (rev − cost inside one exact
    * decimal SUM) and the join graph (one fact shuffle pair, all dims
    * broadcast) are Q9's. */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val ratio = lit(BigDecimal("0.10")).cast(DecimalType(3, 2))
    val p = Tables.part(spark, dir).where(col("p_name").like("%red%"))
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("p_partkey") === col("l_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))
          - dec2(col("p_retailprice")) * dec2(col("l_quantity")) * ratio)
        .cast(DoubleType).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9Sql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |           - CAST(p_retailprice AS DECIMAL(12,2))
      |             * CAST(l_quantity AS DECIMAL(12,2))
      |             * CAST(0.10 AS DECIMAL(3,2))) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  /** Q11 shape: important stock — (supplier, part) groups whose value
    * exceeds a global threshold. The threshold is scale-free (3× the
    * mean group value, `val·n > total·3` in exact integer/decimal
    * arithmetic) so the query stays non-degenerate at every SF; the
    * one-row global aggregate broadcasts back over the groups, the
    * Spark face of Q11's scalar subquery. */
  def q11Important(spark: SparkSession, dir: String): DataFrame = {
    // Diamond plan: v feeds both the output join and the global total.
    // ReuseExchange does NOT unify the two agg subtrees (verified: 2
    // FileScans, 0 ReusedExchange — the q15 lesson in diamond form), so
    // without the persist the FACT is scanned and shuffled twice. The
    // persisted side is the group-bounded aggregate (|suppliers×parts|
    // rows, orders smaller than lineitem) — at 100 TB caching it beats
    // rescanning the fact by the fact/group size ratio.
    val v = Pins.cache(Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice"))).as("val")))
    val tot = v.agg(sum(col("val")).as("total"), count(lit(1)).as("n"))
    v.join(broadcast(tot))
      .where(col("val") * col("n") > col("total") * lit(3))
      .select(col("l_suppkey"), col("l_partkey"),
        col("val").cast(DoubleType).as("value"))
      .orderBy(col("value").desc, col("l_suppkey"), col("l_partkey"))
  }

  val q11Sql: String =
    """WITH v AS (
      |  SELECT l_suppkey, l_partkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
      |  FROM lineitem GROUP BY 1, 2),
      |tot AS (SELECT SUM(val) AS total, COUNT(*) AS n FROM v)
      |SELECT l_suppkey, l_partkey, CAST(val AS DOUBLE) AS value
      |FROM v, tot
      |WHERE val * n > total * 3
      |ORDER BY value DESC, l_suppkey, l_partkey""".stripMargin

  /** Q20 shape: nested semi chain — suppliers in one nation who shipped
    * a 'small%' part in volume (per-(supplier,part) qty > 50 over two
    * years). The HAVING aggregate feeds a left-semi join; the nation
    * dimension broadcasts. */
  def q20SemiChain(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).where(col("p_name").like("small%"))
    val qual = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= tsLit("1997-01-01") &&
             col("l_shipdate") <  tsLit("1999-01-01"))
      .join(broadcast(p), col("p_partkey") === col("l_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(dec2(col("l_quantity"))).as("sum_qty"))
      .where(col("sum_qty") > lit(BigDecimal(50)).cast(DecimalType(12, 2)))
      .select(col("l_suppkey"))
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .where(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q20Sql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier JOIN nation ON n_nationkey = s_nationkey
      |WHERE n_name = 'NATION_3' AND s_suppkey IN (
      |  SELECT l_suppkey
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_name LIKE 'small%'
      |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      |  GROUP BY l_suppkey, l_partkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 50)
      |ORDER BY s_suppkey""".stripMargin

  /** Q21 shape: exists + not-exists on the same fact — suppliers in one
    * nation who were the ONLY supplier with returned lines on a
    * multi-supplier order (returnflag standing in for the missing
    * receipt-late predicate). l1 (returned order/supplier pairs) is
    * computed once and reused by both the outer side and the anti join. */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val lall = li.select(col("l_orderkey").as("b_orderkey"),
      col("l_suppkey").as("b_suppkey")).distinct()
    val l1 = li.where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val l1c = l1.select(col("l_orderkey").as("c_orderkey"),
      col("l_suppkey").as("c_suppkey"))
    val sn = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .where(col("n_name") === "NATION_1")),
        col("s_nationkey") === col("n_nationkey"))
    l1
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(lall, col("l_orderkey") === col("b_orderkey") &&
        col("l_suppkey") =!= col("b_suppkey"), "left_semi")
      .join(l1c, col("l_orderkey") === col("c_orderkey") &&
        col("l_suppkey") =!= col("c_suppkey"), "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q21Sql: String =
    """WITH l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      |            WHERE l_returnflag = 'R'),
      |lall AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM l1
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE n_name = 'NATION_1'
      |  AND EXISTS (SELECT 1 FROM lall
      |              WHERE lall.l_orderkey = l1.l_orderkey
      |                AND lall.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM l1 x
      |                  WHERE x.l_orderkey = l1.l_orderkey
      |                    AND x.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin
}
