package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained rollup: the batch face of materialized-view
  * maintenance (the streaming face is Ingest.runningTotals /
  * streamingOhlcv).
  *
  * A 100 TB pipeline cannot recompute its hourly/daily aggregates from
  * the fact table on every ingest; it folds each incoming batch into
  * PARTIAL aggregates and merges on read. `refresh(batch)` aggregates
  * ONLY the batch (map-side partial combine, one delta-sized shuffle,
  * one appended parquet file set) — cost is O(|batch|) regardless of
  * table history. `read()` merges the accumulated partials — bounded by
  * #deltas × #groups, never by fact rows. `compactDeltas()` folds all
  * partials into one, restoring O(#groups) reads after many refreshes.
  *
  * Counts and sums are algebraic (partials merge by addition), so any
  * refresh order yields the same result; sums ride DECIMAL(18,2) so
  * merge order cannot perturb float bits (the oracle-exactness rule).
  *
  * Layout: every delta set lives under a `delta=<tag>` partition dir —
  * stream batches use their batch id as the tag, so a replay of a
  * crashed attempt OVERWRITES the same dir instead of appending beside
  * orphaned files. Compaction swaps the whole table dir on the repo's
  * two-rename protocol (stage fully → live -> .retiring → staged ->
  * live → drop retired), with crash recovery on both the read and
  * mutation paths and a per-path lock serializing mutations — the same
  * discipline as ZTable's partition swaps.
  */
class RollupTable(val spark: SparkSession, val path: String,
    val grain: String, val tsCol: String, val dims: Seq[String],
    val valueCol: String) {

  private def lock: Object = ZTable.lockFor(path)

  private def rmTree(p: Path): Unit = {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
  }

  /** Crash recovery for [[compactDeltas]]' whole-dir swap. The staging
    * write happens strictly before the first rename, so a missing live
    * dir implies the staged copy is complete — roll it forward; staging
    * beside a live dir is a partial rewrite — roll it back. */
  private def recoverSwap(): Unit = {
    val live = Paths.get(path)
    val tmp = Paths.get(path + ".compacting")
    val retired = Paths.get(path + ".retiring")
    if (Files.exists(tmp)) {
      if (!Files.exists(live)) Files.move(tmp, live)
      else rmTree(tmp)
    }
    if (Files.exists(retired)) {
      if (Files.exists(live)) rmTree(retired) else Files.move(retired, live)
    }
  }

  /** Reads must not see (or silently miss) a crashed swap's debris:
    * two existence probes gate the lock, so clean reads pay nothing. */
  private def maybeRecover(): Unit =
    if (Files.exists(Paths.get(path + ".compacting")) ||
        Files.exists(Paths.get(path + ".retiring")))
      lock.synchronized { recoverSwap() }

  /** Every stored partial carries the SAME sum type — Spark widens
    * decimal sums (18,2 → 28,2), and a dir mixing fresh-delta and
    * compacted-merge precisions fails the parquet read. */
  private def normalize(df: DataFrame): DataFrame =
    df.withColumn("sum_val", col("sum_val").cast("decimal(18,2)"))

  private def partial(batch: DataFrame): DataFrame =
    normalize(batch.groupBy(
        date_trunc(grain, col(tsCol)).as("bucket") +: dims.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("sum_val")))

  /** Fold one batch into the rollup: aggregate the batch, append the
    * delta under the ad-hoc tag. Never touches existing data. */
  def refresh(batch: DataFrame): Unit = lock.synchronized {
    recoverSwap()
    partial(batch).write.mode("append").parquet(s"$path/delta=adhoc")
  }

  /** Merge-on-read: re-aggregate the stored partials (delta-sized). */
  def read(): DataFrame = {
    maybeRecover()
    normalize(Parquet.read(spark, path)
      .groupBy(col("bucket") +: dims.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_val")).as("sum_val")))
  }

  /** Streaming face: maintain this rollup from a stream. Each
    * micro-batch folds via [[refreshBatchIdempotent]]; a batch-id
    * high-water mark plus per-batch delta dirs make post-failure
    * replays exact no-ops or full supersedes — same guard as
    * Ingest.appendNativeIdempotent. */
  def sink(stream: DataFrame, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        refreshBatchIdempotent(df, batchId)
      }
      .start()

  /** Fold `df` as micro-batch `batchId` unless that batch already landed
    * (exposed for direct testing of the replay path). The mark is a
    * SIBLING of the parquet dir so delta compaction's dir swap cannot
    * clobber it. The batch's delta dir is OVERWRITTEN, so a crash
    * between the delta write and the mark write cannot double-count on
    * replay; the mark itself is written via rename so a mid-write crash
    * cannot leave a truncated value that wedges (or un-guards) the
    * sink. */
  def refreshBatchIdempotent(df: DataFrame, batchId: Long): Unit = lock.synchronized {
    recoverSwap()
    val mark = Paths.get(path + "._last_stream_batch")
    val last =
      if (Files.exists(mark)) Files.readString(mark).trim.toLong else -1L
    if (batchId > last) {
      partial(df).write.mode("overwrite")
        .parquet(f"$path/delta=b$batchId%06d")
      val markTmp = mark.resolveSibling(mark.getFileName.toString + ".tmp")
      Files.writeString(markTmp, batchId.toString)
      Files.move(markTmp, mark,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Fold all accumulated deltas into a single partial set: stage the
    * merged rollup fully to a sibling dir, then two-rename swap it in
    * (crashes at any point leave a complete copy under exactly one
    * name — see [[recoverSwap]]). Restores O(#groups) reads after many
    * refreshes. */
  def compactDeltas(): Unit = lock.synchronized {
    recoverSwap()
    val live = Paths.get(path)
    if (!Files.exists(live)) return
    val tmp = Paths.get(path + ".compacting")
    read().write.mode("overwrite").parquet(s"$path.compacting/delta=compacted")
    val retired = Paths.get(path + ".retiring")
    Files.move(live, retired)
    Files.move(tmp, live)
    rmTree(retired)
  }
}

object RollupTable {
  def apply(spark: SparkSession, path: String, grain: String = "day",
      tsCol: String = "ts", dims: Seq[String] = Nil,
      valueCol: String = "value"): RollupTable =
    new RollupTable(spark, path, grain, tsCol, dims, valueCol)
}
