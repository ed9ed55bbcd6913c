package graft.util

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one owner of pins and caches: every block-store hold in graft
  * is made by [[pin]] or [[cache]] and dropped by [[release]] or by the
  * scope that made it.
  *
  * A local checkpoint persists its materialized RDD directly, bypassing
  * the cache manager, so neither `Dataset.unpersist()` nor
  * `catalog.clearCache()` frees it: [[release]] walks the plan's
  * [[LogicalRDD]] leaves (the node a checkpoint wraps its RDD in) and
  * unpersists those RDDs.
  *
  * Ownership is scoped. Each [[pin]] and [[cache]] registers with the
  * innermost [[scope]] or [[owned]] block open on the CALLING THREAD
  * (outside any, the caller owns it). The stack is thread-confined on
  * purpose: a long-lived server runs requests on a pool, and a scope
  * exiting on one thread must not free the pins of a request running on
  * another — which a diff of `getPersistentRDDs` would. */
object Pins {

  /** A registered hold: `key` is what a plan reads it through (the
    * pinned RDD, or the cache entry's builder). */
  private final class Held(val key: AnyRef, val free: () => Unit)

  private val scopes =
    ThreadLocal.withInitial[List[mutable.ArrayBuffer[Held]]](() => Nil)

  private def register(key: AnyRef)(free: => Unit): Unit =
    scopes.get.headOption.foreach(_ += new Held(key, () => free))

  /** Truncates `df`'s lineage to a materialized RDD: a local checkpoint,
    * or a reliable checkpoint under `dir` when it is set (always eager:
    * its files must exist before the next round builds on them). A lazy
    * local pin materializes with the first action over it; an eager one
    * registers BEFORE its one materializing job, so an input that throws
    * there leaves nothing behind once its scope exits (the
    * `Dataset.localCheckpoint(eager)` call persists before it counts, and
    * nothing would hold the persisted RDD). */
  def pin(df: DataFrame, eager: Boolean = true,
      dir: Option[String] = None): DataFrame = {
    val p = dir match {
      case Some(d) => checkpointDir(df.sparkSession, d); df.checkpoint()
      case None => df.localCheckpoint(false)
    }
    val rdd = p.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    register(rdd)(rdd.unpersist(false))
    // no job for an RDD without partitions (a plan the optimizer found
    // empty), as Dataset.localCheckpoint's own materialization skips it
    if (eager && dir.isEmpty && rdd.getNumPartitions > 0)
      ColumnBridge.withSQLConf(df.sparkSession)(rdd.count())
    p
  }

  /** `df.persist()`, registered with the enclosing scope. A plan that is
    * already cached is left to whoever cached it. */
  def cache(df: DataFrame): DataFrame = {
    if (entry(df).isEmpty) {
      df.persist()
      entry(df).foreach(b => register(b)(df.unpersist(false)))
    }
    df
  }

  /** Frees `df`'s cache entry and every pinned RDD its plan reads
    * directly. Only for frames whose pins you own: a released local pin
    * cannot be recomputed, so nothing built over it runs afterwards.
    * Safe on unpinned frames. */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  /** Runs `body`, then frees every pin and cache registered inside it,
    * whether `body` returned or threw. */
  def scope[T](body: => T): T = within(body)(_ => Nil)

  /** Runs `body`, an operator that builds a frame over pins and caches
    * of its own. If `body` throws, everything registered inside is
    * freed. If it returns, only what the returned frame does not read
    * through is freed: the frame keeps its pinned leaves and the cache
    * entries of its cached-data plan, and they pass to the enclosing
    * scope, if any. What the frame reads only through a kept pin or
    * cache is freed, so such a pin or cache must be materialized before
    * `body` returns. */
  def owned(body: => DataFrame): DataFrame =
    within(body)(_.queryExecution.withCachedData.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd
      case m: InMemoryRelation => m.cacheBuilder
    })

  private def within[T](body: => T)(keep: T => Seq[AnyRef]): T = {
    val held = mutable.ArrayBuffer.empty[Held]
    scopes.set(held :: scopes.get)
    var kept: Seq[AnyRef] = Nil
    try {
      val out = body
      kept = keep(out)
      out
    } finally {
      scopes.set(scopes.get.tail)
      val (stay, go) = held.partition(h => kept.exists(_ eq h.key))
      go.foreach(_.free())
      scopes.get.headOption.foreach(_ ++= stay)
    }
  }

  /** The cache entry's builder, when `df`'s plan is cached. */
  private def entry(df: DataFrame): Option[AnyRef] = {
    val qe = df.queryExecution
    qe.sparkSession.sharedState.cacheManager
      .lookupCachedData(qe.sparkSession, qe.analyzed)
      .map(_.cachedRepresentation.cacheBuilder)
  }

  /** Points the context's reliable checkpoints at `dir`, once: each
    * `setCheckpointDir` call makes a new subdirectory. */
  private def checkpointDir(spark: SparkSession, dir: String): Unit = {
    val sc = spark.sparkContext
    val p = new Path(dir)
    val q = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
    if (!sc.getCheckpointDir.exists(c => new Path(c).getParent == q))
      sc.setCheckpointDir(dir)
  }
}
