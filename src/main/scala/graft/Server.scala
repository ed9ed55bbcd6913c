package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** S9 completed: the reference's HTTP surface (ref `src/main.rs:16-49`,
  * `src/server/mod.rs:40-154`) as a thin JDK-httpserver shim over
  * [[QueryRunner.run]]:
  *
  *   - `POST /q` — JSON request body, any QueryRunner op
  *   - `GET /symbols/{table}/{column}` — plain JSON array of symbols
  *     (the reference serializes the dictionary directly,
  *     `src/server/mod.rs:111`)
  *   - `GET /ohlcv/{table}/{from}/{to}?symbols=A,B&col=sym&price=v&...`
  *     (`src/server/ohlcv.rs:47-65` path scheme incl. the
  *     symbols query param)
  *   - `GET /` — HTML index of the root's tables, linking the chart UI
  *     (the reference serves a static index, `src/server/mod.rs:40-154`)
  *   - `GET /favicon.ico` — generated 16×16 ICO
  *   - `GET /chart/{table}` — the candlestick UI ([[ChartPage]]): a
  *     dependency-free canvas page over the /symbols + /ohlcv JSON,
  *     the frontend face the reference ships as `frontend/` (uPlot)
  *     re-expressed without npm
  *
  * Table names resolve against a root directory (the reference's
  * ZDB_HOME). The shim is deliberately thin: every route lowers to one
  * QueryRunner JSON op, so HTTP adds no second query path — and the
  * Spark session behind it is the same long-lived one the reference's
  * process model implies. Errors map to 400 with a JSON message, like
  * the reference's error writes; a reply over
  * [[QueryRunner.MaxReplyRows]] rows or a `/q` body over
  * [[GraftServer.MaxBodyBytes]] maps to 413. Every reply collects
  * through [[QueryRunner.collectBounded]], one bounded top-k pass.
  */
class GraftServer(spark: SparkSession, root: String, port: Int = 0,
    numThreads: Int = GraftServer.defaultNumThreads) {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Request worker pool. The JDK default executor (`setExecutor(null)`)
    * runs EVERY handler on the single dispatcher thread — one slow `/q`
    * scan would block every other client, including liveness GETs. The
    * reference avoids exactly this by pre-forking `ZDB_NUM_THREADS`
    * query workers sharing one listener (ref `src/main.rs:19-22,24-45`);
    * here the analog is a fixed pool over the one thread-safe
    * SparkSession (Spark schedules concurrent jobs from concurrent
    * threads). Handler state is share-nothing beyond it: the jackson
    * `ObjectMapper` is thread-safe after configuration, and
    * [[QueryRunner.run]] is a pure dispatch (table mutations take their
    * own per-path locks). Daemon threads, so a CLI ctrl-C isn't held
    * hostage by an in-flight scan. */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    numThreads,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-http-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  private def respond(ex: HttpExchange, code: Int, body: String,
      ct: String = "application/json"): Unit =
    respondBytes(ex, code, body.getBytes(StandardCharsets.UTF_8), ct)

  private def respondBytes(ex: HttpExchange, code: Int, bytes: Array[Byte],
      ct: String): Unit = {
    try { // close even when the client vanished mid-write
      ex.getResponseHeaders.set("content-type", ct)
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    } finally ex.close()
  }

  /** `GET /` — the reference serves an HTML index page from
    * `src/server/static/` (ref `src/server/mod.rs:40-154`); the analog
    * here is a dependency-free page listing the root's table dirs with
    * links into the chart UI. Directory listing only — never opens a
    * table, so a malformed dir can't 500 the liveness page. */
  private def indexHtml(): String = {
    val rootP = java.nio.file.Paths.get(root)
    val tables =
      if (!java.nio.file.Files.isDirectory(rootP)) Seq.empty[String]
      else {
        val s = java.nio.file.Files.list(rootP)
        try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.filter(java.nio.file.Files.isDirectory(_))
          .map(_.getFileName.toString).filterNot(_.startsWith("_"))
          .toSeq.sorted
        finally s.close()
      }
    val items = tables.map { t =>
      val esc = t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      s"""<li><a href="/chart/$esc">$esc</a></li>"""
    }.mkString("\n")
    s"""<!doctype html><html><head><meta charset="utf-8"><title>graft</title>
       |<link rel="icon" href="/favicon.ico"></head>
       |<body><h1>graft</h1><p>tables under $root:</p><ul>
       |$items
       |</ul></body></html>""".stripMargin
  }

  /** The reference frontend's exact OHLCV contract
    * (ref `src/server/ohlcv.rs:30-46` structs, consumed by
    * `frontend/src/entry.jsx:296-331`): per-symbol column-parallel
    * arrays `{t,o,h,l,c,v}` under `results`, timestamps in NANOSECONDS
    * (the frontend divides by 1e9), plus the served min/max ts. An
    * empty result mirrors the reference's fold identities
    * (min_date = i64::MAX, max_date = i64::MIN). Bar rows arrive
    * bucket-ordered from the ohlcv op, so each symbol's arrays are
    * time-ascending — the uPlot requirement. */
  private def uplotOhlcv(bars: org.apache.spark.sql.DataFrame): String = {
    val rows = QueryRunner.collectBounded(bars.select("bucket", bars.columns(1),
      "open", "high", "low", "close", "volume"))
    case class Series(t: collection.mutable.ArrayBuffer[Long] = collection.mutable.ArrayBuffer(),
        o: collection.mutable.ArrayBuffer[Double] = collection.mutable.ArrayBuffer(),
        h: collection.mutable.ArrayBuffer[Double] = collection.mutable.ArrayBuffer(),
        l: collection.mutable.ArrayBuffer[Double] = collection.mutable.ArrayBuffer(),
        c: collection.mutable.ArrayBuffer[Double] = collection.mutable.ArrayBuffer(),
        v: collection.mutable.ArrayBuffer[Long] = collection.mutable.ArrayBuffer())
    val results = collection.mutable.LinkedHashMap.empty[String, Series]
    var minDate = Long.MaxValue
    var maxDate = Long.MinValue
    rows.foreach { r =>
      val ts = r.getTimestamp(0)
      val ns = math.multiplyExact(ts.getTime / 1000, 1000000000L) + ts.getNanos
      val s = results.getOrElseUpdate(String.valueOf(r.get(1)), Series())
      if (ns < minDate) minDate = ns
      if (ns > maxDate) maxDate = ns
      s.t += ns
      s.o += r.getAs[Number]("open").doubleValue
      s.h += r.getAs[Number]("high").doubleValue
      s.l += r.getAs[Number]("low").doubleValue
      s.c += r.getAs[Number]("close").doubleValue
      s.v += r.getAs[Number]("volume").longValue
    }
    val out = new java.util.LinkedHashMap[String, Object]()
    val res = new java.util.LinkedHashMap[String, Object]()
    results.foreach { case (sym, s) =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("t", s.t.toArray)
      m.put("o", s.o.toArray)
      m.put("h", s.h.toArray)
      m.put("l", s.l.toArray)
      m.put("c", s.c.toArray)
      m.put("v", s.v.toArray)
      res.put(sym, m)
    }
    out.put("results", res)
    out.put("min_date", java.lang.Long.valueOf(minDate))
    out.put("max_date", java.lang.Long.valueOf(maxDate))
    mapper.writeValueAsString(out)
  }

  /** Path-segment table names must stay INSIDE the root dir — reject
    * dot-segments and separators so `/symbols/../x` cannot escape it
    * (the reference reads table names from its fixed data dir too). */
  private def safeName(tbl: String): String = {
    require(tbl.nonEmpty && tbl != "." && tbl != ".." &&
      !tbl.contains('/') && !tbl.contains('\\'),
      s"invalid table name '$tbl'")
    tbl
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  server.createContext("/", (ex: HttpExchange) =>
    try {
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("POST", "/q") =>
          val body = ex.getRequestBody.readNBytes(GraftServer.MaxBodyBytes + 1)
          if (body.length > GraftServer.MaxBodyBytes) respond(ex, 413,
            s"""{"error":"request body exceeds ${GraftServer.MaxBodyBytes} bytes"}""")
          else respond(ex, 200, GraftServer.replyJson(QueryRunner.run(spark,
            new String(body, StandardCharsets.UTF_8), Some(root))))
        case ("GET", "/") =>
          respond(ex, 200, indexHtml(), "text/html")
        case ("GET", "/favicon.ico") =>
          respondBytes(ex, 200, StaticAssets.favicon, "image/x-icon")
        case ("GET", p) if p.startsWith("/symbols/") =>
          p.stripPrefix("/symbols/").split("/") match {
            case Array(tbl, column) =>
              val df = QueryRunner.run(spark, mapper.writeValueAsString(Map(
                "op" -> "symbols", "table" -> s"$root/${safeName(tbl)}",
                "col" -> column)))
              respond(ex, 200, QueryRunner.collectBounded(df)
                .map(r => Option(r.get(0)).fold("null")(v => jstr(v.toString)))
                .mkString("[", ",", "]"))
            case _ => respond(ex, 400,
              """{"error":"url must be in format /symbols/{table}/{column}"}""")
          }
        case ("GET", p) if p.startsWith("/ohlcv/") =>
          p.stripPrefix("/ohlcv/").split("/") match {
            case Array(tbl, from, to) =>
              val q = queryParams(ex)
              val req = Map("op" -> "ohlcv", "table" -> s"$root/${safeName(tbl)}",
                  "from" -> from, "to" -> to) ++
                q.get("symbols").map(s =>
                  "symbols" -> s.split(",").map(_.trim).toSeq) ++
                Seq("col", "price", "size", "seq", "width")
                  .flatMap(k => q.get(k).map(k -> _))
              respond(ex, 200,
                uplotOhlcv(QueryRunner.run(spark, mapper.writeValueAsString(req))))
            case _ => respond(ex, 400,
              """{"error":"url must be in format /ohlcv/{table}/{from}/{to}"}""")
          }
        case ("GET", p) if p.startsWith("/chart/") =>
          p.stripPrefix("/chart/").split("/") match {
            case Array(tbl) =>
              respond(ex, 200, ChartPage.html(safeName(tbl), queryParams(ex)),
                "text/html")
            case _ => respond(ex, 400,
              """{"error":"url must be in format /chart/{table}"}""")
          }
        case _ => respond(ex, 404, """{"error":"Not found"}""")
      }
    } catch {
      case e: Throwable =>
        // if the 200 headers already went out (failure mid-write), a
        // second sendResponseHeaders throws — just close the exchange
        val code = e match {
          case _: QueryRunner.ReplyTooLarge => 413
          case _ => 400
        }
        try respond(ex, code, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
        catch { case _: Exception => ex.close() }
    })

  /** Start listening; returns the bound port (ephemeral when port=0). */
  def start(): Int = {
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

/** Minimal static assets for route parity with the reference's
  * `src/server/static/` dir (`src/server/mod.rs:40-154` serves an index
  * page and favicon). */
private object StaticAssets {
  /** A valid 16×16 32-bpp ICO, generated not checked in: solid
    * dark-teal square. 6-byte header + 16-byte dir entry +
    * 40-byte BITMAPINFOHEADER + 1024 px bytes + 64 AND-mask bytes. */
  lazy val favicon: Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(6 + 16 + 40 + 16 * 16 * 4 + 64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putShort(0).putShort(1).putShort(1) // reserved, type=icon, count=1
    buf.put(16.toByte).put(16.toByte).put(0.toByte).put(0.toByte) // w, h, colors, reserved
    buf.putShort(1).putShort(32) // planes, bpp
    buf.putInt(40 + 16 * 16 * 4 + 64).putInt(6 + 16) // image bytes, offset
    buf.putInt(40).putInt(16).putInt(32) // BIH size, width, height*2
    buf.putShort(1).putShort(32) // planes, bpp
    buf.putInt(0).putInt(16 * 16 * 4).putInt(0).putInt(0).putInt(0).putInt(0)
    var i = 0
    while (i < 16 * 16) { // BGRA
      buf.put(0x70.toByte).put(0x60.toByte).put(0x20.toByte).put(0xff.toByte)
      i += 1
    }
    buf.put(new Array[Byte](64)) // AND mask: all opaque
    buf.array()
  }
}

/** CLI: `runMain graft.GraftServer <rootDir> [port]`. */
object GraftServer {

  /** Largest `POST /q` body the server reads; a longer one gets 413
    * before anything is parsed or run. */
  val MaxBodyBytes: Int = 1 << 20

  /** The `/q` reply: `df`'s rows as a JSON array, byte-identical to
    * `df.toJSON.collect().mkString("[", ",", "]")`, collected by
    * [[QueryRunner.collectBounded]]. Each row becomes one string column,
    * `to_json(struct(<every column>))`: the generator and default options
    * `toJSON` uses (session time zone, null fields dropped), but projected
    * inside the plan, so a root sort stays visible to the top-k path.
    * Columns are renamed by position first, so duplicate or dotted names
    * resolve. */
  def replyJson(df: DataFrame): String = {
    val names = df.columns
    val json = df.toDF(names.indices.map(i => s"c$i"): _*).select(to_json(struct(
      names.indices.map(i => col(s"c$i").as(names(i))): _*)))
    QueryRunner.collectBounded(json).map(_.getString(0)).mkString("[", ",", "]")
  }

  /** Pool size knob — the reference's `ZDB_NUM_THREADS` analog
    * (ref `src/main.rs:19-22`: default 12 pre-forked query workers). */
  def defaultNumThreads: Int =
    sys.env.get("GRAFT_NUM_THREADS").map(_.trim.toInt).filter(_ > 0)
      .getOrElse(12)

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(".")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val spark = SparkSession.builder()
      .appName("graft-server")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val bound = new GraftServer(spark, root, port).start()
    println(s"graft server listening on 127.0.0.1:$bound (root=$root)")
    Thread.currentThread.join()
  }
}
