package graft

import org.apache.spark.sql.SparkSession

import graft.util.Pins

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints the result JSON line for the driver
  * (first AND last, with short chunk lines between, so a bounded
  * head- or tail-capture always holds a complete parseable copy).
  * Each query is fully materialized through the noop sink (count() would
  * let Catalyst prune the payload columns and under-measure scans). */
object Bench {

  /** cal0 — the FROZEN environment-calibration probe (added round 11;
    * NEVER edit the workload: cross-round comparability is its whole
    * point). A fixed synthetic CPU-bound aggregate with no data-file
    * dependency: 2^26 xxhash64-hashed longs over 32 range partitions,
    * grouped to 997 keys, materialized through the noop sink like
    * every query. Every expression is overflow-free BY CONSTRUCTION so
    * the probe is identical under both ANSI postures: xxhash64 wraps
    * internally (a raw splitmix multiply here threw ARITHMETIC_OVERFLOW
    * under Spark 4's ANSI default — caught in the round-11 shakedown
    * run before any artifact shipped), and the summed value is
    * pmod-bounded to 1e9+7 so 2^26 of them stay far inside a long.
    * Runs once per pass (one untimed warm run, then the same
    * min-of-reps fold as queries) and is emitted as a top-level
    * "cal0" field — never counted in the query total. It turns "the
    * box looks degraded" from pass-ratio folklore into a measured
    * per-pass scalar, and the baseline-refresh criterion conditions
    * on it (tools/merge_baseline.py records it per pass). */
  private[graft] def cal0(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 26, 1L, 32)
      .selectExpr("xxhash64(id) AS h")
      .selectExpr("pmod(h, 997) AS k", "pmod(h, 1000000007) AS v")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("v").as("s"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    // Warm up the JVM/codegen/file-listing paths so the alphabetically
    // first query doesn't absorb session startup cost.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    // Min-of-N warm timings (single runs vary ±40% on a shared box; the
    // min is the stable per-query number, matching BASELINE_LOCAL.md's
    // methodology). Default 3 so the OFFICIAL artifact is the stable
    // number, not single-rep noise.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // calibration probe: one untimed warm, then the queries' min-of-reps
    // fold — measured BEFORE the sweep so a long pass cannot heat-soak it
    cal0(spark)
    val cal = (1 to reps).map(_ => cal0(spark)).min
    // Optional args: bench only the named queries (one-off timing runs;
    // the driver passes none and gets the full surface).
    val only = args.toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // Gate 1: every registered query must at least ANALYZE before any
    // timing starts — a broken loader/schema fails here by name instead
    // of posting a time-to-throw as a "fast" result (the round-3 trap:
    // 48 queries died at analysis and the bench recorded ~0.05 s each).
    // KNOWN COST: fn() runs each query's CONSTRUCTION, and some queries
    // do eager driver-side setup there (ml1 Newton training, sim11's
    // centroid collect, sim2/sim3 truth-fixture freshness checks) — so
    // the gate's wall time is not bounded by analysis alone and doubles
    // as one untimed warm-up pass per query. That is acceptable here by
    // design: the timed reps below are min-of-N WARM numbers, so a
    // shared warm-up only stabilizes them; anything construction-eager
    // is also re-paid inside every timed rep, so nothing escapes timing.
    val analysisErrs = selected.flatMap { case (name, fn) =>
      try { Pins.scope(fn(spark, sfDir).queryExecution.analyzed); None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed analysis: ${e.getMessage}")
        Some(name -> e)
      }
    }.toMap
    // Gate 2: a query that throws DURING execution records null, never
    // its time-to-throw. Each construction above and each rep below runs
    // in Pins.scope, so no query's pins or caches outlive it: left to
    // pile up over a 160-query sweep, they made late rows time 2-4×
    // their isolated mins (r5 sweep: w2/w4/q7).
    val errors = scala.collection.mutable.Map[String, String]() ++
      analysisErrs.map { case (n, e) => n -> s"analysis: ${e.getMessage}" }
    val results = selected.map { case (name, fn) =>
      if (analysisErrs.contains(name)) name -> None
      else {
        val times = (1 to reps).flatMap { _ =>
          val t0 = System.nanoTime()
          try {
            Pins.scope(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            errors(name) = s"execution: ${e.getMessage}"
            None
          }
        }
        name -> (if (times.size == reps) Some(times.min) else None)
      }
    }
    outputLines(results, errors, sfDir, cpus, reps, cal).foreach(println)
    spark.stop()
    // A failed query can never again post rc=0: the driver (and any
    // human) sees the breakage even without parsing the errors map.
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Every line the bench prints, in order — factored out of main so the
    * tail-capture contract is SPEC-TESTED, not hoped for. The driver
    * keeps only the LAST ~2000 chars of output (BENCH_r06's "tail" is
    * exactly 2000 chars and both r5/r6 ended "parsed": null because the
    * 171-entry map overran it). So: the complete line goes out FIRST for
    * the log, then short "queries_part" chunk lines, and the FINAL line
    * is a compact summary that always fits the tail window — that line
    * is what the driver's parse must land on. If the full map happens to
    * fit the window, prefer it as the final line so the driver gets
    * everything. Error NAMES ride the final line too (r8's driver
    * artifact showed n_errors=1 with no way to tell WHICH query broke);
    * each message truncated to 120 chars — enough for the exception
    * class + the require text — so even the all-broken worst case stays
    * a bounded line. */
  private[graft] def outputLines(results: Seq[(String, Option[Double])],
      errors: scala.collection.Map[String, String], sfDir: String,
      cpus: String, reps: Int, cal0Sec: Double = 0.0): Seq[String] = {
    def esc(c: Char): String = c match {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case x if x < ' ' => f"\\u${x.toInt}%04x"; case x => x.toString
    }
    def jstr(s: String): String = "\"" + s.flatMap(esc) + "\""
    // truncate AFTER escaping: esc expands control chars up to 6×
    // (\uXXXX), so capping the raw message could still blow the tail
    // window on pathological content — cap the ESCAPED body, never
    // cutting inside an escape sequence
    def jstrCapped(s: String, cap: Int): String = {
      val sb = new StringBuilder("\"")
      val it = s.iterator
      var full = false
      while (it.hasNext && !full) {
        val e = esc(it.next())
        if (sb.length - 1 + e.length > cap) full = true else sb ++= e
      }
      (sb += '"').toString
    }
    // Millisecond precision keeps the line SHORT — full double precision
    // on a 171-entry map overruns the tail window.
    def sec3(v: Double): String = // Locale.ROOT: f"%.3f" under a
      // comma-decimal default locale would emit 0,123 — invalid JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qEntries = results.map { case (k, v) =>
      jstr(k) + ":" + v.map(sec3).getOrElse("null")
    }
    val qs = qEntries.mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v.take(300)) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val full =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","cal0":${sec3(cal0Sec)},"queries":$qs,"errors":$errJson,"sf":"$sfDir","cpus":$cpus,"reps":$reps}"""
    if (full.length <= 1700) Seq(full, full)
    else {
      val chunks = qEntries.grouped(12).toSeq
      val partLines = chunks.zipWithIndex.map { case (c, i) =>
        s"""{"metric":"queries_part","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}"""
      }
      val slowest = results.collect { case (k, Some(v)) => (k, v) }
        .sortBy(-_._2).take(10)
        .map { case (k, v) => jstr(k) + ":" + sec3(v) }
        .mkString("{", ",", "}")
      // Cap at 6 named errors: beyond that the line itself would overrun
      // the tail window and the driver would lose the line's HEAD (the
      // value/n_errors fields) — six named failures plus the count
      // beats all of them half-truncated.
      val errShown = errors.toSeq.sortBy(_._1).take(6)
      val errTail = (errShown.map { case (k, v) =>
          jstr(k) + ":" + jstrCapped(v, 120) } ++
        (if (errors.size > 6)
          Seq(jstr("_truncated") + ":" + jstr(s"+${errors.size - 6} more"))
        else Nil))
        .mkString("{", ",", "}")
      (full +: partLines) :+
        s"""{"metric":"total","value":${sec3(total)},"unit":"sec","cal0":${sec3(cal0Sec)},"n_queries":${results.size},"n_errors":${errors.size},"errors":$errTail,"queries_slowest":$slowest,"queries_full":"see queries_part lines above / BENCH_LOCAL json","sf":"$sfDir","cpus":$cpus,"reps":$reps}"""
    }
  }
}
