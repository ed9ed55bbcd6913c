package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** The JVM side of the benchmark (run.py starts it; see README.md).
  *
  * `--workload <name> --inputs <dir> --out <dir> --seconds <s> --trace <0|1>
  *  --cpus <n>`
  *
  * Reads only the generated inputs under `--inputs`, drives one workload
  * through the program's public entry points, and writes raw timings,
  * outputs for the correctness checks and (traced) spans as
  * `<out>/result.json`. run.py turns those into metrics. */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson[T](path: String, cls: Class[T]): T =
    mapper.readValue(Files.readString(Paths.get(path)), cls)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = opt("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, opt("inputs"), opt("out"), opt("seconds").toDouble,
      opt("trace") == "1", cpus)
    val result = mutable.LinkedHashMap[String, Any]()
    val sessionUp = System.currentTimeMillis()
    try {
      opt("workload") match {
        case "query_rows" => QueryRows.run(ctx, result)
        case "serve_q" => ServeQ.run(ctx, result)
        case "ingest_ztable" => IngestZTable.run(ctx, result)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val workloadDone = System.currentTimeMillis()
      // environment stamp; cal0 is the repository's fixed box probe
      // (graft.Bench.cal0), measured after the workload so it cannot
      // warm the workload's first operations
      result("env") = Map(
        "cal0_s" -> graft.Bench.cal0(spark),
        "jvm_start_s" -> (sessionUp - jvmStart) / 1e3,
        "workload_s" -> (workloadDone - sessionUp) / 1e3,
        "cpus" -> cpus,
        "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "persistent_rdds_at_end" -> spark.sparkContext.getPersistentRDDs.size,
        "blockstore_bytes_at_end" -> Probe.blockStoreBytes(spark))
      Files.writeString(Paths.get(ctx.out, "result.json"),
        mapper.writeValueAsString(result))
    } finally spark.stop()
  }
}

/** What every workload gets: the session, where its inputs are, where
  * to write, how long to measure, and whether this run is traced. */
final case class Ctx(spark: SparkSession, inputs: String, out: String,
    seconds: Double, trace: Boolean, cpus: Int) {
  def tables: String = s"$inputs/tables"
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Run `body` `n` times from a clean state and return each wall time in
    * seconds: the set-up time is the median of these. */
  def setups(n: Int)(body: Int => Unit): Seq[Double] = (0 until n).map { i =>
    val t0 = System.nanoTime()
    body(i)
    ms(t0) / 1e3
  }

  /** Time `body` as one span, with the probe's counters over the same
    * interval attached; untraced, only the wall time is taken. */
  def measured[T](tr: Tracer, probe: Probe, name: String)(body: Span => T): (T, Span) = {
    val before = probe.snapshot()
    val w0 = System.currentTimeMillis()
    var span: Span = null
    val r = tr.span(name) { s => span = s; body(s) }
    val w1 = System.currentTimeMillis()
    span.attrs ++= Probe.delta(before, probe.snapshot())
    span.attrs("job_covered_ms") = probe.jobCoveredMs(w0, w1)
    (r, span)
  }

  /** Drop cached and pinned blocks left by an operation (the sweep
    * graft.Bench makes between rows); returns how many RDDs were left. */
  def sweep(): Int = {
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    left
  }

  def rmTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}
