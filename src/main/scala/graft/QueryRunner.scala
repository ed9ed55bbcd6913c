package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LocalLimit, Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

import graft.operators.Ohlcv
import graft.sources.{Parquet, ZTable}
import graft.util.Pins

/** S9: the remote query surface, as a JSON request runner — the
  * lifecycle-parity analog of the reference's HTTP server
  * (reference `src/main.rs:16-49`, `src/server/mod.rs:40-154`:
  * `POST /q` with {table, from, to, cols}, `GET /ohlcv/...`,
  * `GET /symbols/...`, first/last-ts meta). An HTTP front-end is a
  * deployment detail (any JSON-over-HTTP shim can call [[run]]); the
  * engine-side contract is: JSON request in → Spark plan → JSON rows out.
  *
  * Request:
  * {"op":"scan"|"symbols"|"range"|"ohlcv"|"describe"|"compact"|"delete"|"merge"
  *       |"ewma"|"check"|"index"|"search"|"native_scan"|"analyze"
  *       |"dup_spans"|"split"|"pagerank"|"sql",
  *  "query":"SELECT ...", "tables":["events"],    // sql (read-only; SqlGate)
  *                        // direct callers may pass "tables":{"name":"/path"}
  *  "edges":"/path/edges.parquet", "iters":3,           // pagerank (iters <= 100)
  *  "src":"src", "dst":"dst", "out":"/opt/ranks",       // pagerank (out optional)
  *  "k":10,                       // pagerank serving: top-k by rank (bounded reply)
  *  "docs":"/path/documents.parquet", "id":"doc_id", "text":"text",
  *  "index":"/path/idx", "buckets":256,                // index build
  *  "terms":["spark","merge"], "k":10,                 // search
  *  ...or for table ops:
  *  "table":"/path/to/ztable",
  *  "from":"2024-01-01 00:00:00", "to":"...",        // scan/ohlcv
  *  "cols":["ts","v"],                                // scan projection
  *  "col":"sym",                                      // symbols / ohlcv
  *  "symbols":["A","B"],                              // ohlcv filter
  *  "price":"v", "size":"v", "seq":"ts",              // ohlcv columns
  *  "width":"1 hour",                                 // ohlcv bar width
  *  "clusterBy":["user_id"], "targetFileBytes":1e8,   // compact (z-order)
  *  "where":"sym = 'B' AND v > 50"}                   // delete predicate
  */
object QueryRunner {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Most rows a served reply may carry: the HTTP server's replies, the
    * rows `split` and `pagerank` collect for their serving faces, and
    * the largest `k` pagerank accepts. A constant, not a knob. */
  val MaxReplyRows = 100000

  /** A reply over [[MaxReplyRows]] rows; the HTTP server answers it with
    * 413. */
  final class ReplyTooLarge extends RuntimeException(
    s"the reply has more than $MaxReplyRows rows; narrow the request: a smaller " +
      "'k', an 'out' path that writes the result distributed, or a tighter range")

  /** Collects `df` in its order, holding at most MaxReplyRows + 1 rows
    * on the driver, and throws [[ReplyTooLarge]] beyond MaxReplyRows.
    * The plan's shape picks the collect, so it runs one job over `df`'s
    * own stages:
    *   - a global sort at the root (under at most a projection) plans as
    *     `TakeOrderedAndProjectExec`: a top-k of MaxReplyRows + 1 per
    *     partition, merged on the driver as each arrives, with no
    *     sampling job and no range exchange;
    *   - a plan the optimizer folds the limit into (a local relation, or
    *     one already capped below it) runs as it is;
    *   - any other plan keeps at most MaxReplyRows + 1 rows per
    *     partition (a local limit), and the driver counts partitions as
    *     they arrive, dropping what it holds once the total passes the
    *     cap. A root global limit would plan `CollectLimitExec`, which
    *     reads the partitions in growing waves of jobs. */
  def collectBounded(df: DataFrame): Array[Row] = {
    val n = MaxReplyRows + 1
    val limited = df.limit(n)
    val rows = limited.queryExecution.optimizedPlan match {
      case Limit(_, Sort(_, true, _, _) | Project(_, Sort(_, true, _, _))) =>
        limited.collect()
      case Limit(_, _) => collectUnordered(ColumnBridge.ofRows(df.sparkSession,
        LocalLimit(Literal(n), ColumnBridge.logicalPlan(df))))
      case _ => limited.collect()
    }
    if (rows.length > MaxReplyRows) throw new ReplyTooLarge
    rows
  }

  private def collectUnordered(df: DataFrame): Array[Row] = {
    val parts = collection.mutable.TreeMap.empty[Int, Array[InternalRow]]
    var total = 0L
    ColumnBridge.collectPartitions(df) { (i, rows) =>
      total += rows.length
      if (total > MaxReplyRows) parts.clear() else parts(i) = rows
    }
    if (total > MaxReplyRows) throw new ReplyTooLarge
    val toRow = ColumnBridge.toRow(df.schema)
    parts.valuesIterator.flatMap(_.iterator.map(toRow)).toArray
  }

  /** Dispatch one JSON request to a DataFrame (the testable core).
    * `root` is set by the HTTP shim: ops that name tables then resolve
    * them UNDER the root (path-segment-safe), never as raw paths. */
  def run(spark: SparkSession, json: String): DataFrame = run(spark, json, None)

  def run(spark: SparkSession, json: String, root: Option[String]): DataFrame = {
    val req = mapper.readValue(json, classOf[Map[String, Any]])
    def str(k: String): String = req.get(k) match {
      case Some(s: String) => s
      case _ => throw new IllegalArgumentException(s"missing string field '$k'")
    }
    def strOpt(k: String): Option[String] =
      req.get(k).collect { case s: String => s }
    def list(k: String): Seq[String] = req.get(k) match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Nil
    }
    lazy val table = ZTable.open(spark, str("table"))
    str("op") match {
      case "sql" => // read-only SQL over an explicit table set (SqlGate)
        val tables: Map[String, String] = req.get("tables") match {
          case Some(xs: Seq[_]) =>
            // name list — the serving-face form: resolved under the
            // server root, same escape-proofing as the GET routes
            val r = root.getOrElse(throw new IllegalArgumentException(
              "sql: a 'tables' name list needs the HTTP server's root; " +
                "direct callers pass {name: path}"))
            xs.map(_.toString).map { n =>
              require(n.nonEmpty && n != "." && n != ".." &&
                !n.contains('/') && !n.contains('\\'), s"invalid table name '$n'")
              n -> s"$r/$n"
            }.toMap
          case Some(m: Map[_, _]) =>
            // explicit paths — engine-side callers only: over HTTP this
            // would hand every client the whole filesystem
            require(root.isEmpty,
              "sql over the serving face takes 'tables' as a name list under the root")
            m.map { case (k, v) => k.toString -> v.toString }.toMap
          case _ => Map.empty
        }
        SqlGate.run(spark, str("query"), tables)
      case "index" => // build an inverted text index from a document table
        graft.operators.InvertedIndex.build(
          Parquet.read(spark, str("docs")),
          strOpt("id").getOrElse("doc_id"), strOpt("text").getOrElse("text"),
          str("index"),
          numBuckets = req.get("buckets")
            .collect { case n: Number => n.intValue }.getOrElse(256))
        spark.range(1).select(lit(str("index")).as("index_built"))
      case "native_scan" => // read the reference's native column format
        val df = spark.read.format("graft-native").load(str("path"))
        if (list("cols").isEmpty) df else df.select(list("cols").map(col): _*)
      case "analyze" => // one-pass data profile (C3 describe -> data stats)
        graft.operators.Profile.profile(
          strOpt("docs").map(Parquet.read(spark, _)).getOrElse(table.df))
      case "search" => // BM25 over a built index
        graft.operators.InvertedIndex.search(spark, str("index"),
          list("terms"),
          k = req.get("k").collect { case n: Number => n.intValue }.getOrElse(10))
      case "dup_spans" => // ExactSubstr span dedup over a document table
        graft.operators.Dedup.dupSpans(
          Parquet.read(spark, str("docs")),
          strOpt("id").getOrElse("doc_id"), strOpt("text").getOrElse("text"),
          k = req.get("k").collect { case n: Number => n.intValue }.getOrElse(8))
          .orderBy("id")
      case "split" => // leakage-free train/val/test split (pipe8)
        val docs = Parquet.read(spark, str("docs"))
        val idc = strOpt("id").getOrElse("doc_id")
        val txt = strOpt("text").getOrElse("text")
        // the components fixpoint pins (r12): the reply is materialized
        // inside the scope, which frees every pin and cache the request
        // made, so repeated or failing requests leave the long-lived
        // server's block store flat
        Pins.scope {
          val comp = graft.operators.Dedup.nearDupComponents(docs, idc, txt)
          val out = graft.operators.Sampling.clusterSplit(docs, idc, comp)
            .orderBy("id")
          strOpt("out") match {
            case Some(p) => // bulk face (the pagerank "out" shape): a
              // corpus-sized split lands distributed; the JSON reply is
              // a one-row summary, so nothing doc-scale transits the
              // driver
              out.write.mode("overwrite").parquet(p)
              spark.range(1).select(lit(p).as("split_path"))
            case None => // at most MaxReplyRows docs, else ReplyTooLarge
              spark.createDataFrame(java.util.Arrays.asList(
                collectBounded(out): _*), out.schema)
          }
        }
      case "pagerank" => // graph centrality over an edge table (g1's operator)
        val iters = req.get("iters")
          .collect { case n: Number => n.intValue }.getOrElse(3)
        // client-chosen loop counts must be bounded: every other op's
        // work is sized by DATA, but an unclamped iters would let one
        // POST /q park an arbitrarily long pinned fixpoint on the
        // shared serving pool (pagerank converges in O(10) rounds on
        // real graphs; 100 is generous headroom, not a tuning limit)
        require(iters >= 0 && iters <= 100,
          s"pagerank: iters must be in [0, 100], got $iters")
        val edges = Parquet.read(spark, str("edges")).select(
          col(strOpt("src").getOrElse("src")).as("src"),
          col(strOpt("dst").getOrElse("dst")).as("dst"))
        // the scope frees the run's pins and loop caches once the reply
        // is written or collected, and on any failure, so repeated
        // requests leave the long-lived server's block store flat
        Pins.scope {
          val pr = graft.operators.Graph.pagerank(edges, iters)
          strOpt("out") match {
            case Some(p) => // bulk face: ranks land distributed (node-sized
              // results at graph scale never transit the driver)
              pr.write.mode("overwrite").parquet(p)
              spark.range(1).select(lit(p).as("ranks_path"))
            case None =>
              // serving face: with "k", the top k ranks (TakeOrdered
              // ships k rows per partition to the driver); without it,
              // all ranks by id, refused with ReplyTooLarge past
              // MaxReplyRows nodes — a graph that size takes "k" or "out"
              val ranked = req.get("k")
                .collect { case n: Number => n.intValue } match {
                case Some(k) =>
                  require(k > 0 && k <= MaxReplyRows,
                    s"pagerank: k must be in [1, $MaxReplyRows], got $k")
                  pr.orderBy(col("r").desc, col("id")).limit(k)
                case None => pr.orderBy("id")
              }
              spark.createDataFrame(java.util.Arrays.asList(
                collectBounded(ranked): _*), pr.schema)
          }
        }
      case "scan" =>
        table.scan(str("from"), str("to"), list("cols"))
      case "symbols" =>
        table.symbols(str("col"))
      case "describe" =>
        table.describe()
      case "range" => // the table's ts-bounds stamp: no file read when stamped
        val (first, last) = table.firstLastTs
        spark.createDataFrame(java.util.List.of(Row(first, last)), StructType(Seq(
          StructField("first_ts", TimestampType), StructField("last_ts", TimestampType))))
      case "ohlcv" =>
        val ticks = table.scan(str("from"), str("to"))
        val sym = str("col")
        val filtered =
          if (list("symbols").isEmpty) ticks
          else ticks.where(col(sym).isin(list("symbols"): _*))
        Ohlcv.resample(filtered, sym,
          priceCol = strOpt("price").getOrElse("price"),
          sizeCol = strOpt("size").getOrElse("size"),
          seqCol = strOpt("seq").getOrElse(table.spec.tsCol),
          width = strOpt("width").getOrElse("1 minute"))
          .orderBy("bucket", sym)
      case "compact" =>
        val target = req.get("targetFileBytes")
          .collect { case n: Number => n.longValue }
          .getOrElse(128L * 1024 * 1024)
        val n = table.compact(target, clusterBy = list("clusterBy"))
        spark.range(1).select(lit(n.toLong).as("partitions_rewritten"))
      case "delete" =>
        val n = table.deleteWhere(expr(str("where")))
        spark.range(1).select(lit(n).as("rows_deleted"))
      case "merge" => // upsert a parquet delta by key columns
        val (replaced, written) =
          table.merge(Parquet.read(spark, str("source")), list("keys"))
        spark.range(1).select(lit(replaced).as("rows_replaced"),
          lit(written).as("rows_written"))
      case "check" => // declarative data-quality expectations (dq1, generic)
        val df = strOpt("docs").map(Parquet.read(spark, _)).getOrElse(table.df)
        val uniq = list("unique").map(c =>
          s"unique:$c" -> (count(lit(1)) - count_distinct(col(c))))
        val nn = list("notNull").map(c =>
          s"not_null:$c" -> sum(when(col(c).isNull, 1L).otherwise(0L)))
        val dom = req.get("domain").collect { case m: Map[_, _] => m }
          .getOrElse(Map.empty).toSeq.map { case (k, vs) =>
            val allowed = vs match {
              case xs: Seq[_] => xs.map(_.toString)
              case other => Seq(other.toString)
            }
            s"domain:$k" -> sum(when(!col(k.toString).isin(allowed: _*), 1L)
              .otherwise(0L))
          }
        val checks = (uniq ++ nn ++ dom).sortBy(_._1)
        require(checks.nonEmpty,
          "check needs at least one of unique/notNull/domain")
        val agg = df.agg(checks.head._2.as("c0"),
          checks.tail.zipWithIndex.map { case ((_, c), i) => c.as(s"c${i + 1}") }: _*)
        val stackArgs = checks.zipWithIndex
          .map { case ((name, _), i) => s"'$name', c$i" }.mkString(", ")
        agg.selectExpr(
          s"stack(${checks.size}, $stackArgs) AS (rule, violations)")
          .orderBy("rule")
      case "ewma" => // recursive per-series smoothing over a scan
        val alpha = req.get("alpha")
          .collect { case n: Number => n.doubleValue }.getOrElse(0.25)
        val scanned = (strOpt("from"), strOpt("to")) match {
          case (Some(f), Some(t)) => table.scan(f, t)
          case _ => table.df
        }
        // TimeSeries.ewma needs a UNIQUE order for determinism;
        // resolution-floored tables make ts ties likely, so the request
        // may name a tiebreak column ("order"), defaulting to any
        // column literally named "id" when the table has one.
        val tiebreak = strOpt("order")
          .orElse(scanned.columns.find(_ == "id"))
          .filter(_ != table.spec.tsCol).toSeq
        graft.operators.TimeSeries.ewma(scanned,
          keyCols = list("keys"), orderCols = table.spec.tsCol +: tiebreak,
          valCol = str("value"), alpha = alpha)
      case other =>
        throw new IllegalArgumentException(s"unknown op '$other'")
    }
  }

  /** CLI: `runMain graft.QueryRunner '<json>'` (or JSON on stdin);
    * emits one JSON object per result row, like the reference's
    * serialized response frames (`src/server/query.rs:234-253`). */
  def main(args: Array[String]): Unit = {
    val json =
      if (args.nonEmpty) args.mkString(" ")
      else scala.io.Source.stdin.mkString
    val spark = SparkSession.builder()
      .appName("graft-query")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try run(spark, json).toJSON.collect().foreach(println)
    finally spark.stop()
  }
}
