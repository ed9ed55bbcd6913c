package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, Tables}

/** `query_rows`: registered SparkEntry rows through the noop sink, one
  * caller, closed loop.
  *
  * Inputs (`rows.json`): the rows with their class, in the order they
  * run. A check pass writes every row's output as parquet
  * for the oracle comparison and warms the row; then timed passes repeat
  * until `seconds` have gone (at least one). A traced run makes one pass
  * in which every row runs both untraced and traced, back to back. */
object QueryRows {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx, result: mutable.Map[String, Any]): Unit = {
    val spark = ctx.spark
    val spec = Main.readJson(s"${ctx.inputs}/rows.json", classOf[Map[String, Any]])
    val rows = spec("rows").asInstanceOf[Seq[Map[String, String]]]
      .map(r => r("name") -> r("class"))
    val cls = rows.toMap
    val fns = rows.map { case (n, _) => n -> SparkEntry.queries(n) }.toMap

    // set-up: open every table (list its files, read its schema)
    result("setup_s") = ctx.setups(3) { _ =>
      Tables.all.foreach(t => Tables.load(spark, ctx.tables, t).schema)
    }

    // check pass: outputs for the oracle, plus each row's first (cold) run
    val failed = mutable.LinkedHashMap[String, String]()
    val cold = rows.map { case (name, _) =>
      val t0 = System.nanoTime()
      try fns(name)(spark, ctx.tables).coalesce(1).write.mode("overwrite")
        .parquet(s"${ctx.out}/rows/$name")
      catch { case e: Throwable => failed(name) = ctx.error(e) }
      ctx.sweep()
      name -> ctx.ms(t0)
    }.toMap
    result("oracle_sql") = rows.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap

    def timed(name: String): Option[(String, Double)] = {
      val t0 = System.nanoTime()
      val ok = try { noop(fns(name)(spark, ctx.tables)); true }
      catch { case e: Throwable => failed(name) = ctx.error(e); false }
      ctx.sweep()
      if (ok) Some(name -> ctx.ms(t0)) else None
    }

    val samples = mutable.ArrayBuffer[(String, Double)]()
    val tr = new Tracer
    val t0 = System.nanoTime()
    var passes = 0
    do {
      rows.map(_._1).filterNot(failed.contains).zipWithIndex.foreach {
        case (name, i) =>
          // traced: the same row again right away, before or after the
          // untraced run by turns, so neither side is always the warmer
          val tracedFirst = ctx.trace && i % 2 == 1
          def tracedRun(): Unit =
            try traced(ctx, tr, name, cls(name), fns(name))
            catch { case e: Throwable => failed(name) = ctx.error(e) }
          if (tracedFirst) tracedRun()
          samples ++= timed(name)
          if (ctx.trace && !tracedFirst && !failed.contains(name)) tracedRun()
      }
      passes += 1
    } while (!ctx.trace && ctx.ms(t0) < ctx.seconds * 1e3)

    result("ops") = samples.map { case (n, ms) =>
      Map("name" -> n, "class" -> cls(n), "ms" -> ms)
    }
    result("rows") = rows.map { case (n, c) =>
      Map("name" -> n, "class" -> c, "cold_ms" -> cold(n),
        "error" -> failed.getOrElse(n, null))
    }
    result("passes") = passes
    if (ctx.trace) result("spans") = tr.all
  }

  /** One row with the probe on: spans around construction
    * (SparkEntry.queries(name)(spark, dir), eager jobs included), planning
    * (forcing executedPlan) and execution through the noop sink. */
  private def traced(ctx: Ctx, tr: Tracer, name: String, cls: String,
      fn: (org.apache.spark.sql.SparkSession, String) => DataFrame): Unit = {
    val spark = ctx.spark
    val probe = new Probe(spark).install()
    try {
      val (_, row) = ctx.measured(tr, probe, "row") { s =>
        s.attrs("row") = name
        s.attrs("class") = cls
        val df = ctx.measured(tr, probe, "queries.build")(_ => fn(spark, ctx.tables))._1
        ctx.measured(tr, probe, "driver.plan")(_ => df.queryExecution.executedPlan)
        ctx.measured(tr, probe, "row.exec")(_ => noop(df))
      }
      row.attrs("leftover_rdds") = ctx.sweep()
    } finally probe.remove()
  }
}
