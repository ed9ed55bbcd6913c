package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.QueryRunner
import graft.queries.StreamQueries
import graft.sources.{ZPartitionBy, ZTable, ZTableSpec}
import graft.streaming.Ingest

/** `ingest_ztable`: the staged `events` chunk files (one micro-batch each,
  * seed-drawn boundaries) stream through Ingest.ingestZTable with
  * maxFilesPerTrigger=1 and strict order; then a fixed read set runs on
  * the uncompacted table, then ZTable.compact. Closed loop.
  *
  * Set-up ingests the small warm-up files into a throwaway table, so the
  * engine's first-batch costs are paid before timing. A traced run does
  * the whole workload untraced, then again into a fresh table with the
  * probe and a streaming listener registered, then untraced once more. */
object IngestZTable {
  val Spec = ZTableSpec(tsCol = "ts", partitionBy = ZPartitionBy.Day, strictOrder = true)
  val Day = ("2024-01-04 00:00:00", "2024-01-04 23:59:59")

  /** The read set, as QueryRunner requests against `table`. */
  def readSet(table: String): Seq[(String, String)] = {
    val t = Main.mapper.writeValueAsString(table)
    Seq(
      "scan" -> s"""{"op":"scan","table":$t,"from":"${Day._1}","to":"${Day._2}","cols":["ts","event_type","value"]}""",
      "ohlcv" -> s"""{"op":"ohlcv","table":$t,"from":"${Day._1}","to":"${Day._2}","col":"event_type","price":"value","size":"user_id","width":"1 hour"}""",
      "symbols" -> s"""{"op":"symbols","table":$t,"col":"event_type"}""")
  }

  private def ingest(ctx: Ctx, staged: String, dir: String) = {
    val spark = ctx.spark
    val schema = spark.read.parquet(staged).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val q = Ingest.ingestZTable(stream, s"$dir/table", s"$dir/ckpt", Spec)
    q.awaitTermination()
    q
  }

  private def dataFiles(table: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(table))
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  def run(ctx: Ctx, result: mutable.Map[String, Any]): Unit = {
    val staged = s"${ctx.inputs}/chunks/staged"
    result("setup_s") = ctx.setups(3) { i =>
      val dir = s"${ctx.out}/warm$i"
      ingest(ctx, s"${ctx.inputs}/chunks/warmup", dir)
      ctx.rmTree(dir)
    }
    result("staged_bytes") = dataFiles(staged).map(Files.size).sum
    result("stream_sql") = StreamQueries.streamIngestSql
    result ++= phase(ctx, staged, s"${ctx.out}/ingest", None)
    if (ctx.trace) {
      val tr = new Tracer
      val probe = new Probe(ctx.spark).install()
      val progress = new ProgressLog
      ctx.spark.streams.addListener(progress)
      val traced = try phase(ctx, staged, s"${ctx.out}/ingest_traced", Some((tr, probe)))
      finally {
        ctx.spark.streams.removeListener(progress)
        probe.remove()
      }
      result("traced") = traced ++ Map("spans" -> tr.all,
        "listener_batches" -> progress.batches.toSeq,
        "jobs_per_batch" -> probe.jobsPerBatch)
      // untraced once more: the traced phase sits between two untraced
      // ones, so JVM warm-up does not pass for tracing overhead
      result("untraced_after") = phase(ctx, staged, s"${ctx.out}/ingest_after", None)
    }
  }

  /** Ingest, read set, aggregate check, compact: one whole workload. */
  private def phase(ctx: Ctx, staged: String, dir: String,
      tracing: Option[(Tracer, Probe)]): Map[String, Any] = {
    val spark = ctx.spark
    val table = s"$dir/table"
    def step[T](name: String)(body: => T): (T, Double) = tracing match {
      case Some((tr, probe)) =>
        val (r, s) = ctx.measured(tr, probe, name)(_ => body)
        (r, s.durMs)
      case None =>
        val t0 = System.nanoTime()
        val r = body
        (r, ctx.ms(t0))
    }
    val (q, ingestMs) = step("ingest.ingestZTable")(ingest(ctx, staged, dir))
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(Progress.of)
    val filesAfterIngest = dataFiles(table).size
    val mark = Files.readString(Paths.get(table, "_last_stream_batch")).trim.toLong
    val reads = for (round <- 0 until 2; (op, json) <- readSet(table)) yield {
      val (rows, ms) = step("ztable.read")(tracing match {
        case Some((tr, probe)) => // the serving phases, as in serve_q's replay
          val df = ctx.measured(tr, probe, "runner.build")(_ => QueryRunner.run(spark, json))._1
          ctx.measured(tr, probe, "driver.plan")(_ => df.queryExecution.executedPlan)
          ctx.measured(tr, probe, "serialize.collect")(_ => df.toJSON.collect())._1
        case None => QueryRunner.run(spark, json).toJSON.collect()
      })
      Map("op" -> op, "request" -> json, "round" -> round, "ms" -> ms,
        "rows" -> rows.length) ++
        (if (round == 0) Map("body" -> rows.mkString("[", ",", "]")) else Map.empty)
    }
    ZTable.open(spark, table).df.createOrReplaceTempView("events")
    val agg = spark.sql(StreamQueries.streamIngestSql).toJSON.collect()
    val (_, compactMs) = step("ztable.compact")(ZTable.open(spark, table).compact())
    Map("ingest_ms" -> ingestMs, "batches" -> batches, "mark" -> mark,
      "files_after_ingest" -> filesAfterIngest,
      "reads" -> reads, "agg" -> agg.mkString("[", ",", "]"),
      "compact_ms" -> compactMs, "table" -> table)
  }
}
