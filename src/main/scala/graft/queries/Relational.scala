package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.sources.Parquet
import graft.util.Dec._
import graft.util.Pins

/** The relational surface the reference lacks entirely (SURVEY.md §2.3
  * joins, §2.6 sorts/limits, §2.7 set ops, A5 rollup/distinct) — exposed
  * as Spark built-ins, zero custom code, with DuckDB oracles.
  *
  * Scale notes: every dimension join here broadcasts; fact-fact joins
  * (orders⋈lineitem) shuffle on the join key and are bucketable at 100 TB;
  * top-k compiles to TakeOrderedAndProject (no global sort).
  */
object Relational {

  /** J1: plain equi inner join, filter pushed to both sides. */
  def joinInner(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).where(col("o_totalprice") > 400000.0)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
      .orderBy("o_orderkey")

  val joinInnerSql: String =
    """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 400000.0
      |ORDER BY o_orderkey""".stripMargin

  /** J2: left outer join + agg, customers with zero orders kept. */
  def joinLeft(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(dec2(col("o_totalprice"))), lit(0).cast(DecimalType(12, 2)))
          .cast(DoubleType).as("total_spend"))
      .orderBy("c_custkey")

  val joinLeftSql: String =
    s"""SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
       |  CAST(COALESCE(SUM(${sqlDec2("o_totalprice")}), 0) AS DOUBLE) AS total_spend
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY c_custkey""".stripMargin

  /** J3: left-semi — customers having at least one urgent order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).where(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** J4: left-anti — customers with no urgent order. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).where(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** J9: full outer join — high-balance customers x late-period orders,
    * unmatched rows surviving null-padded on BOTH sides. Null ordering is
    * pinned explicitly (Spark defaults NULLS FIRST ascending, DuckDB
    * NULLS LAST — silent divergence otherwise). */
  def joinFull(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).where(col("c_acctbal") > 9000.0)
      .join(Tables.orders(spark, dir)
          .where(col("o_orderdate") >= lit("2001-06-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)

  val joinFullSql: String =
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM (SELECT * FROM customer WHERE c_acctbal > 9000.0) c
      |FULL OUTER JOIN (SELECT * FROM orders
      |                 WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00') o
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin

  /** J5: theta (non-equi) join — nation pairs within a region; compiles to
    * a broadcast nested-loop, fine for dimension-sized inputs. */
  def joinTheta(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir).select(
      col("n_name").as("a"), col("n_regionkey").as("rk1"), col("n_nationkey").as("k1"))
    val n2 = Tables.nation(spark, dir).select(
      col("n_name").as("b"), col("n_regionkey").as("rk2"), col("n_nationkey").as("k2"))
    n1.join(n2, col("rk1") === col("rk2") && col("k1") < col("k2"))
      .select("a", "b").orderBy("a", "b")
  }

  val joinThetaSql: String =
    """SELECT n1.n_name AS a, n2.n_name AS b
      |FROM nation n1, nation n2
      |WHERE n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
      |ORDER BY a, b""".stripMargin

  /** O1: top-k — TakeOrderedAndProject, deterministic via key tiebreak. */
  def topK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(15)

  val topKSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin

  /** SET1: UNION (distinct) of two event-type user sets. */
  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.where(col("event_type") === "click").select("user_id")
      .union(e.where(col("event_type") === "purchase").select("user_id"))
      .distinct()
      .orderBy("user_id")
  }

  val setUnionSql: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |UNION
      |SELECT user_id FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id""".stripMargin

  /** SET2: INTERSECT. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.where(col("event_type") === "click").select("user_id")
      .intersect(e.where(col("event_type") === "error").select("user_id"))
      .orderBy("user_id")
  }

  val setIntersectSql: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |INTERSECT
      |SELECT user_id FROM events WHERE event_type = 'error'
      |ORDER BY user_id""".stripMargin

  /** SET3: EXCEPT at (user, day) granularity — days a user clicked but
    * did not purchase. */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def userDays(t: String) = e.where(col("event_type") === t)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    userDays("click").except(userDays("purchase")).orderBy("user_id", "day")
  }

  val setExceptSql: String =
    """SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'click'
      |EXCEPT
      |SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id, day""".stripMargin

  /** O2: null-ordering sort semantics — customers sorted by first order
    * date with NULLS FIRST (never-ordered customers lead), unique key
    * tiebreak. The null placement is the semantic under test; both
    * engines use the same explicit NULLS FIRST. */
  def sortNulls(spark: SparkSession, dir: String): DataFrame = {
    val firstOrder = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(min(col("o_orderdate")).as("first_order"))
    Tables.customer(spark, dir)
      .join(firstOrder, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("first_order"))
      .orderBy(col("first_order").asc_nulls_first, col("c_custkey"))
  }

  val sortNullsSql: String =
    """SELECT c_custkey, first_order FROM customer
      |LEFT JOIN (SELECT o_custkey, min(o_orderdate) AS first_order
      |           FROM orders GROUP BY o_custkey) o
      |  ON c_custkey = o_custkey
      |ORDER BY first_order ASC NULLS FIRST, c_custkey""".stripMargin

  /** SET4/SET5: bag semantics — EXCEPT ALL / INTERSECT ALL keep
    * per-row multiplicities (Spark plans them as aggregated counts +
    * generate, one shuffle each, no row explosion). Counts ride along
    * so the oracle checks multiplicities, not just membership. */
  def setExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def userDays(t: String) = e.where(col("event_type") === t)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    userDays("click").exceptAll(userDays("purchase"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
      .orderBy("user_id", "day")
  }

  val setExceptAllSql: String =
    """SELECT user_id, day, COUNT(*) AS n FROM (
      |  SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'click'
      |  EXCEPT ALL
      |  SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'purchase')
      |GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin

  def setIntersectAll(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def userDays(t: String) = e.where(col("event_type") === t)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    userDays("click").intersectAll(userDays("view"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
      .orderBy("user_id", "day")
  }

  val setIntersectAllSql: String =
    """SELECT user_id, day, COUNT(*) AS n FROM (
      |  SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'click'
      |  INTERSECT ALL
      |  SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'view')
      |GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin

  /** A5a: ROLLUP over (returnflag, linestatus) with exact decimal sums. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val rollupAggSql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${sqlSumMoney("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** A5c: CUBE over two grouping dimensions. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val cubeAggSql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${sqlSumMoney("l_extendedprice")} AS sum_price
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Q18-style HAVING: large customers by total spend. */
  def havingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sumMoney(col("o_totalprice")).as("total"), count(lit(1)).as("n_orders"))
      .where(col("total") > 3000000.0)
      .orderBy(col("o_custkey"))

  val havingAggSql: String =
    s"""SELECT o_custkey, ${sqlSumMoney("o_totalprice")} AS total,
       |  COUNT(*) AS n_orders
       |FROM orders
       |GROUP BY o_custkey
       |HAVING CAST(SUM(${sqlDec2("o_totalprice")}) AS DOUBLE) > 3000000.0
       |ORDER BY o_custkey""".stripMargin

  /** Scalar subquery: orders priced above the global average. */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val avgPrice = o.agg(
      (sum(dec2(col("o_totalprice"))).cast(DoubleType) / count(lit(1))).as("avg_price"))
    o.join(broadcast(avgPrice))
      .where(col("o_totalprice") > col("avg_price") * 2.5)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val scalarSubquerySql: String =
    s"""SELECT o_orderkey, o_totalprice
       |FROM orders
       |WHERE o_totalprice > (SELECT CAST(SUM(${sqlDec2("o_totalprice")}) AS DOUBLE)
       |                             / COUNT(*) FROM orders) * 2.5
       |ORDER BY o_orderkey""".stripMargin

  /** A8: exact interpolated percentiles (median, p95) per group, rounded
    * to 4 dp on both sides (interpolation association differs by ulps). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    // sort-based order statistics instead of the value-buffering
    // `percentile` aggregate (r13, functions.Percentiles: measured
    // 1.48 s -> 0.84 s on this input; bitwise-identical interpolation)
    graft.functions.Percentiles.exactBy(Tables.lineitem(spark, dir),
        "l_returnflag", col("l_extendedprice"),
        Seq("ex50" -> 0.5, "ex95" -> 0.95))
      .select(col("l_returnflag"),
        round(col("ex50"), 4).as("p50"),
        round(col("ex95"), 4).as("p95"))
      .orderBy("l_returnflag")

  val percentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A15: APPROXIMATE percentiles with a measured rank-error gate —
    * the swap a8/dq3 document for 100 TB, made testable. The exact
    * `percentile` sorts every group value; `approx_percentile` is the
    * one-pass mergeable sketch (map-side combine, bounded memory) a
    * corpus-scale pipeline actually runs. The gate:
    *  - hashes the EXACT p50/p95 (a8's surface — DuckDB quantile_cont);
    *  - asserts the sketch honored its RANK contract directly: the
    *    value approx_percentile returns at quantile p with accuracy A
    *    must have rank within n·(p ± 1/A); the per-group <=/< counts
    *    of that literal value bracket its true rank range exactly, so
    *    the flag is `le >= n(p−1/A)−1 AND lt <= n(p+1/A)+1` (±1 for
    *    rank discretization) — rigorous at ANY group size, unlike a
    *    value-space bracket, which collapses below one inter-value gap
    *    when n·(2/A) < 1 (it mis-fired at sf0.001's ~2k-row groups).
    * Two scans: sketch pass (group-count rows to the driver — bounded),
    * then one agg computing exact percentiles + the rank counts of the
    * sketch answers as literal comparisons. */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val acc = 10000 // rank error <= 1e-4 of n
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("f"), col("l_extendedprice").as("x"))
    val ap = li.groupBy(col("f"))
      .agg(expr(s"approx_percentile(x, array(0.5D, 0.95D), $acc)").as("ap"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    def v(i: Int) = ap.foldLeft(lit(Double.NaN)) { case (e, (flag, vs)) =>
      when(col("f") === flag, lit(vs(i))).otherwise(e)
    }
    def rankOk(le: Column, lt: Column, n: Column, p: Double): Column =
      le >= n * (p - 1.0 / acc) - 1.0 && lt <= n * (p + 1.0 / acc) + 1.0
    // rank counts from one plain aggregate; the exact percentiles from
    // the sort-based order-statistics helper (r13, functions.Percentiles
    // — the value-buffering `percentile` aggregate was the pass's cost),
    // joined back on the group key (group-count-sized join)
    val counts = li.groupBy(col("f"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("x") <= v(0), 1L).otherwise(0L)).as("le50"),
        sum(when(col("x") < v(0), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("x") <= v(1), 1L).otherwise(0L)).as("le95"),
        sum(when(col("x") < v(1), 1L).otherwise(0L)).as("lt95"))
    val exact = graft.functions.Percentiles.exactBy(li, "f", col("x"),
      Seq("ex50" -> 0.5, "ex95" -> 0.95))
    counts.join(exact, Seq("f"))
      .select(col("f").as("l_returnflag"),
        round(col("ex50"), 4).as("p50"),
        round(col("ex95"), 4).as("p95"),
        (rankOk(col("le50"), col("lt50"), col("n"), 0.5) &&
         rankOk(col("le95"), col("lt95"), col("n"), 0.95)).as("approx_ok"))
      .orderBy("l_returnflag")
  }

  val approxPercentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      |  TRUE AS approx_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** J7: range join — line items shipped within 30 days of a late-1997
    * order window (equi key + range predicate rides the join). */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
             col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    Tables.lineitem(spark, dir)
      .join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= date_add(col("o_orderdate"), 30))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("o_orderdate"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val joinRangeSql: String =
    """SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
      |FROM lineitem JOIN orders
      |  ON l_orderkey = o_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
      |WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** J10: KEYLESS interval join — high-value purchases inside ANY
    * error-incident window (no equi key: incidents are global, not
    * per-user). Catalyst's native plan for this predicate is a
    * BroadcastNestedLoopJoin; operators.Intervals.overlapJoin rewrites
    * it as the bucketed FRAGMENT JOIN (explode to 10-min buckets,
    * ordinary equi join, exact predicate + report-once filter) —
    * PlanSpec asserts no BNLJ/cartesian survives in the plan. */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val windows = e.where(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    val purchases = e.where(col("event_type") === "purchase" && col("value") > 95)
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    graft.operators.Intervals.overlapJoin(
        purchases, col("p_ts"), col("p_ts"),
        windows, col("w_start"), col("w_end"),
        bucketMicros = 600000000L) // bucket = window length (10 min)
      .select(col("purchase_id"), col("incident_id"), col("p_ts"), col("w_start"))
      .orderBy("purchase_id", "incident_id")
  }

  val intervalOverlapSql: String =
    """WITH w AS (SELECT event_id AS incident_id, ts AS w_start,
      |                  ts + INTERVAL 10 MINUTE AS w_end
      |           FROM events WHERE event_type = 'error'),
      |p AS (SELECT event_id AS purchase_id, ts AS p_ts FROM events
      |      WHERE event_type = 'purchase' AND value > 95)
      |SELECT purchase_id, incident_id, p_ts, w_start
      |FROM p JOIN w ON p_ts >= w_start AND p_ts <= w_end
      |ORDER BY purchase_id, incident_id""".stripMargin

  /** A5d: GROUPING SETS — independent per-dimension totals in one pass. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val groupingSetsSql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${sqlSumMoney("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** A10: pivot — event-type counts as columns per day. */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("day")

  val pivotAggSql: String =
    """SELECT date_trunc('day', ts) AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** L1: generator/explode — word frequencies via flattened tokens. */
  def explodeWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(25)

  val explodeWordsSql: String =
    """SELECT w, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
      |GROUP BY w ORDER BY n DESC, w LIMIT 25""".stripMargin

  /** A5b: multi-column exact distinct counts. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")

  val distinctAggSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A5 sketch face: HyperLogLog++ distinct counts. One pass, fixed-size
    * mergeable sketch per group — at 100 TB this replaces a6's
    * shuffle-heavy exact expand with bounded memory. No DuckDB oracle
    * (sketch estimates are engine-specific); AggSpec bounds the relative
    * error against the exact counts instead. */
  /** A11: HLL++ approximate distinct. The estimates are engine-specific,
    * so the oracle gate (the t10 TRUE-flag trick) emits the EXACT
    * distinct counts (SQL-derivable) plus per-group flags asserting the
    * HLL estimate landed within 3x the configured rsd of the exact
    * value — the hash gate fails iff the sketch ever violates its
    * accuracy contract.
    *
    * The exact truth counts come from a PERSISTED fixture (the sim2/sim3
    * truth-set precedent, fingerprint-keyed on lineitem's parquet
    * footers): computing `count_distinct` inline made the registered row
    * spend most of its wall on the ORACLE's cost, not the sketch it
    * exists to time — the r4 "gates measure the operator, not the
    * oracle" rule. The timed plan is one sketch pass plus a 3-row
    * broadcast join with the fixture; AggSpec re-derives the exact
    * counts independently at spec SFs so the fixture itself is checked. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val truth = Parquet.read(spark, SimilarityQueries.cachedArtifact(
      dir, "a11-exact", "a11truth", file = "lineitem.parquet") { tmp =>
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_partkey")).as("n_parts"),
          count_distinct(col("l_suppkey")).as("n_supps"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    })
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      // rsd 0.02: sketch cost scales ~1/rsd^2 (0.01 doubles the runtime
      // of the whole query for precision the use case doesn't need)
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("asup"))
      .join(broadcast(truth), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
        (abs(col("ap") - col("n_parts")) <= col("n_parts") * lit(0.06))
          .as("hll_parts_ok"),
        (abs(col("asup") - col("n_supps")) <= col("n_supps") * lit(0.06))
          .as("hll_supps_ok"))
      .orderBy("l_returnflag")
  }

  val approxDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  TRUE AS hll_parts_ok, TRUE AS hll_supps_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A13: MERGEABLE-SKETCH ROLLUP — per-day Datasketches-HLL sketches of
    * distinct users, unioned across days (hll_union_agg), vs the
    * single-pass sketch and the exact count. This is the incremental-
    * distinct pattern at 100 TB: store day-grain sketch columns
    * (fixed-size, algebraic), answer any date-range distinct by
    * unioning sketches — never rescanning raw data. The t10 gate trick:
    * the oracle emits the exact count and TRUE; Spark computes
    * `hll_ok` = (merged estimate == direct estimate, union losslessness)
    * AND (relative error vs exact < 5%) — a hash FAIL means a sketch
    * property broke. */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val merged = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"),
        count(lit(1)).as("n_days"))
    val direct = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
      count_distinct(col("user_id")).as("exact_users"))
    merged.crossJoin(direct)
      .select(col("n_days"), col("exact_users"),
        (col("est_merged") === col("est_direct") &&
          abs(col("est_merged") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("hll_ok"))
  }

  val sketchRollupSql: String =
    """SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  CAST(TRUE AS BOOLEAN) AS hll_ok
      |FROM events""".stripMargin

  /** A14: mergeable QUANTILE sketch rollup — the quantile face of a13
    * (HLL : distinct :: bottom-k : quantiles). Day-grain
    * [[graft.functions.BottomKSketch]] sketches (k smallest
    * (md5(event_id), event_id) rows — a seedless deterministic sample)
    * are exploded and re-aggregated through the SAME aggregator: the
    * union-merge is lossless by construction, so any date range's
    * quantiles come from day sketches without rescanning raw data.
    * Because the sample is deterministic, the ESTIMATES themselves are
    * exactly SQL-derivable — the oracle recomputes the identical
    * bottom-512 sample and nearest-rank values and hash-gates them (no
    * error-bound flag needed); `merge_ok` additionally pins that the
    * rolled-up sketch bit-equals the single-pass sketch. */
  def quantileRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sk = graft.functions.BottomKSketch(512)
    val typed = Tables.events(spark, dir)
      .select(to_date(col("ts")).cast("string").as("day"),
        md5(col("event_id").cast("string").cast("binary")).as("pri"),
        col("event_id"), col("value"))
      .as[(String, String, Long, Double)]
    // cached: the day aggregation feeds both the count and the
    // rollup — without it each action re-runs the raw-events pass
    val (nDays, merged) = Pins.scope {
      val day = Pins.cache(typed.groupByKey(_._1)
        .mapValues(t => (t._2, t._3, t._4))
        .agg(sk.toColumn.name("sk"))
        .toDF("day", "sk"))
      (day.count(), day
        .select(explode(arrays_zip(col("sk.pri").as("pri"),
          col("sk.id").as("id"), col("sk.v").as("v"))).as("e"))
        .select(col("e.pri"), col("e.id"), col("e.v"))
        .as[(String, Long, Double)]
        .select(sk.toColumn).head)
    }
    // the single-pass truth that verifies the rollup: the bottom-k
    // sketch's CONTENT is by definition the k smallest (pri, id) rows,
    // so one codegen TakeOrdered produces the identical arrays without
    // the typed Aggregator's per-row encoder pass (r14, guide item 4 —
    // measured 1.5 s -> 1.0 s; the aggregator path under test is the
    // day rollup + merge above, and verifying it against an
    // INDEPENDENT engine path is the stronger gate)
    val direct = typed.toDF("day", "pri", "event_id", "value")
      .orderBy(col("pri"), col("event_id"))
      .limit(sk.k)
      .select(col("pri"), col("event_id"), col("value"))
      .collect()
    val mergeOk = merged.pri.length == direct.length &&
      merged.pri.indices.forall { i =>
        merged.pri(i) == direct(i).getString(0) &&
        merged.id(i) == direct(i).getLong(1) &&
        merged.v(i) == direct(i).getDouble(2)
      }
    Seq((nDays, merged.pri.length.toLong,
        graft.functions.BottomKSketch.quantile(merged, 0.5),
        graft.functions.BottomKSketch.quantile(merged, 0.9), mergeOk))
      .toDF("n_days", "n_sample", "q50_est", "q90_est", "merge_ok")
  }

  val quantileRollupSql: String =
    """WITH bk AS (
      |  SELECT value FROM (
      |    SELECT value, md5(CAST(event_id AS VARCHAR)) AS pri, event_id
      |    FROM events ORDER BY pri, event_id LIMIT 512)),
      |o AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
      |             COUNT(*) OVER () AS n
      |      FROM bk)
      |SELECT
      |  (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events) AS n_days,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bk) AS n_sample,
      |  (SELECT value FROM o WHERE rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT))) AS q50_est,
      |  (SELECT value FROM o WHERE rn = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT))) AS q90_est,
      |  TRUE AS merge_ok""".stripMargin
}
