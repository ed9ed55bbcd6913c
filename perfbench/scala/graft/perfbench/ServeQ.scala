package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, Future, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.{GraftServer, QueryRunner, Tables}
import graft.operators.InvertedIndex
import graft.sources.{ZPartitionBy, ZTable, ZTableSpec}

/** `serve_q`: `POST /q` against a GraftServer over a ZTable built from
  * `events` (day partitions) and an inverted index over `documents`.
  *
  * Inputs (`schedule.json`): the seed-drawn requests, each with its due
  * time; `@root@` in a request stands for the served directory. The
  * untraced run is an open loop: each request is sent when due over at
  * most min(4, cpus) connections, and its latency runs from its due time.
  * A traced run then sends the first requests again one at a time, each
  * both untraced and traced, and replays each traced request in-process
  * through QueryRunner.run, executedPlan and toJSON.collect to split its
  * phases. */
object ServeQ {
  final case class Reply(status: Int, body: String)

  val TracedRequests = 20
  val WarmupPerOp = 2

  def post(port: Int, body: String): Reply = {
    val c = URI.create(s"http://127.0.0.1:$port/q").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("content-type", "application/json")
    c.getOutputStream.write(body.getBytes(UTF_8))
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    try Reply(code, new String(in.readAllBytes(), UTF_8)) finally in.close()
  }

  def run(ctx: Ctx, result: mutable.Map[String, Any]): Unit = {
    val spark = ctx.spark
    val root = Paths.get(ctx.out, "serve_root").toAbsolutePath.toString
    val spec = Main.readJson(s"${ctx.inputs}/schedule.json", classOf[Map[String, Any]])
    val reqs = spec("requests").asInstanceOf[Seq[Map[String, Any]]].map { r =>
      (r("due_s").asInstanceOf[Number].doubleValue, r("op").toString,
        Main.mapper.writeValueAsString(r("body")).replace("@root@", root))
    }

    result("setup_s") = ctx.setups(3) { _ =>
      ctx.rmTree(root)
      ZTable.create(spark, s"$root/events", ZTableSpec(tsCol = "ts",
          partitionBy = ZPartitionBy.Day, strictOrder = false))
        .append(Tables.events(spark, ctx.tables))
      InvertedIndex.build(Tables.documents(spark, ctx.tables), "doc_id", "text",
        s"$root/_docidx", numBuckets = 16)
    }

    val server = new GraftServer(spark, root)
    val port = server.start()
    val replies = mutable.ArrayBuffer[Map[String, Any]]()
    try {
      // warm up with each op's first WarmupPerOp requests, one at a time,
      // before timing: in a cold JVM the first requests run slower and
      // would drag the open loop's early latencies
      val warmup = reqs.groupBy(_._2).values.flatMap(_.take(WarmupPerOp))
      for ((_, _, body) <- warmup) post(port, body)
      val blocks0 = Probe.blockStoreBytes(spark)
      val rdds0 = spark.sparkContext.getPersistentRDDs.size
      openLoop(ctx, port, reqs, result, replies)
      if (ctx.trace) traced(ctx, port, root, reqs.take(TracedRequests), result, replies)
      result("blockstore_delta_bytes") = Probe.blockStoreBytes(spark) - blocks0
      result("leftover_rdds") = spark.sparkContext.getPersistentRDDs.size - rdds0
    } finally server.stop()
    Files.writeString(Paths.get(ctx.out, "replies.json"), Main.mapper.writeValueAsString(replies))
  }

  private def openLoop(ctx: Ctx, port: Int, reqs: Seq[(Double, String, String)],
      result: mutable.Map[String, Any],
      replies: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    val pool = Executors.newFixedThreadPool(math.min(4, ctx.cpus))
    try {
      val t0 = System.nanoTime()
      val pending: Seq[Future[Map[String, Any]]] = reqs.zipWithIndex.map {
        case ((dueS, op, body), i) =>
          val due = t0 + (dueS * 1e9).toLong
          while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
          val lateMs = (System.nanoTime() - due) / 1e6
          pool.submit(() => {
            val sent = System.nanoTime()
            val reply = try post(port, body) catch {
              case e: Throwable => Reply(-1, ctx.error(e))
            }
            val end = System.nanoTime()
            Map("i" -> i, "op" -> op, "status" -> reply.status,
              "ms" -> (end - due) / 1e6, "late_ms" -> lateMs,
              "wait_ms" -> (sent - due) / 1e6, "bytes" -> reply.body.length,
              "body" -> reply.body)
          })
      }
      val done = pending.map(_.get(120, TimeUnit.SECONDS))
      result("ops") = done.map(_ - "body")
      replies ++= done.map(d => Map("i" -> d("i"), "phase" -> "open",
        "status" -> d("status"), "body" -> d("body")))
    } finally pool.shutdownNow()
  }

  private def traced(ctx: Ctx, port: Int, root: String,
      reqs: Seq[(Double, String, String)], result: mutable.Map[String, Any],
      replies: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    val spark = ctx.spark
    val tr = new Tracer
    // each request untraced and traced back to back, the order taking
    // turns, so neither side is always the warmer
    result("seq_ops") = reqs.zipWithIndex.map { case ((_, op, body), i) =>
      def untraced(): (Reply, Double) = {
        val t0 = System.nanoTime()
        val reply = post(port, body)
        replies += Map("i" -> i, "phase" -> "seq", "status" -> reply.status,
          "body" -> reply.body)
        (reply, ctx.ms(t0))
      }
      val first = if (i % 2 == 0) Some(untraced()) else None
      val probe = new Probe(spark).install()
      try {
        val (traced, http) = ctx.measured(tr, probe, "server.http")(_ => post(port, body))
        http.attrs ++= Seq("i" -> i, "op" -> op, "status" -> traced.status,
          "reply_bytes" -> traced.body.getBytes(UTF_8).length)
        replies += Map("i" -> i, "phase" -> "traced", "status" -> traced.status,
          "body" -> traced.body)
        ctx.measured(tr, probe, "replay") { s =>
          s.attrs("i") = i
          val df = ctx.measured(tr, probe, "runner.build")(_ =>
            QueryRunner.run(spark, body, Some(root)))._1
          ctx.measured(tr, probe, "driver.plan")(_ => df.queryExecution.executedPlan)
          val rows = ctx.measured(tr, probe, "serialize.collect")(_ => df.toJSON.collect())._1
          s.attrs("rows_out") = rows.length
        }
      } finally probe.remove()
      val (reply, ms) = first.getOrElse(untraced())
      Map("i" -> i, "op" -> op, "status" -> reply.status, "ms" -> ms)
    }
    result("spans") = tr.all
  }
}
