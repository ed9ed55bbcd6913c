package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer, recorded from the benchmark's side of the
  * call. `attrs` holds the counters taken at the same boundary. */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Double) {
  var durMs: Double = 0.0
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "dur_ms" -> durMs,
    "attrs" -> attrs.toMap)
}

/** Keeps spans in memory; the run writes them out when it ends. A span
  * opened inside another on the same thread records it as its parent. */
final class Tracer {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def nowMs: Double = (System.nanoTime() - origin) / 1e6

  def span[T](name: String)(body: Span => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, open.get.headOption.getOrElse(-1), name, nowMs)
      spans += s
      s
    }
    open.set(s.id :: open.get)
    try body(s)
    finally {
      s.durMs = nowMs - s.startMs
      open.set(open.get.tail)
    }
  }

  def all: Seq[Map[String, Any]] = synchronized(spans.map(_.toMap).toSeq)
}

/** Counts what Spark did, from listeners the benchmark registers itself:
  * jobs, stages and tasks; task CPU, GC, scheduler delay, shuffle, spill
  * and input; files scanned and written, from the executed plans' SQL
  * metrics; job intervals and the streaming batch each job belongs to. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val c = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val started = mutable.Map.empty[Int, (Long, String)]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("jobs") += 1
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).orNull
    started(e.jobId) = (e.time, batch)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t, b) => jobs += ((t, e.time, b)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c("stages") += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("bytes_read") += m.inputMetrics.bytesRead
      c("records_read") += m.inputMetrics.recordsRead
      // the task's time not spent deserializing, running or serializing
      // its result: what the Spark UI calls scheduler delay
      c("sched_delay_ms") += math.max(0L, e.taskInfo.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val nodes = Probe.nodes(qe.executedPlan)
    synchronized {
      nodes.foreach {
        case s: FileSourceScanExec =>
          c("files_read") += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec =>
          c("files_written") += w.metrics.get("numFiles").map(_.value).getOrElse(0L)
          c("bytes_written") += w.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        case _ =>
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def install(): this.type = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def remove(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Cumulative counters, after every event so far has been delivered. */
  def snapshot(): Map[String, Long] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(c.toMap)
  }

  /** Milliseconds of [fromMs, toMs] (epoch) covered by at least one job. */
  def jobCoveredMs(fromMs: Long, toMs: Long): Long = {
    val iv = synchronized(jobs.toSeq)
      .map { case (s, e, _) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }

  /** Jobs per streaming batch id. */
  def jobsPerBatch: Map[String, Int] = synchronized(jobs.toSeq)
    .collect { case (_, _, b) if b != null => b }
    .groupBy(identity).map { case (b, js) => b -> js.size }
}

object Probe {
  /** Every physical node of a plan, through adaptive plans, query stages,
    * reused exchanges, command wrappers and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  /** Difference of two snapshots. */
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0L) - a.getOrElse(k, 0L))).toMap

  /** Bytes held by cached and pinned RDD blocks. */
  def blockStoreBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** Streaming progress as the engine reports it, per batch. */
final class ProgressLog extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { batches += Progress.of(e.progress) }
}

object Progress {
  import scala.jdk.CollectionConverters._

  def of(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] =
    Map("batch" -> p.batchId, "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}
