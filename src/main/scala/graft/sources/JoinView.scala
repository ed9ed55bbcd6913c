package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained equi-JOIN view — the join face of
  * materialized-view maintenance ([[RollupTable]] is the aggregate
  * face): keep `V = L ⋈ R` current as DELTAS arrive on either side,
  * without ever re-joining the full tables.
  *
  * The classic delta algebra: with batches ΔL, ΔR arriving together,
  *
  *   Δ(L ⋈ R) = ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR
  *
  * where L/R are the PRE-batch accumulations — each refresh joins only
  * delta-sized inputs against the accumulated other side and appends
  * the result, so maintenance cost is O(|Δ| · matchRate), never
  * O(|L ⋈ R|). At 100 TB the accumulated sides are kept BUCKETED on
  * the join key ([[Bucketing]]'s layout), so the delta-vs-base joins
  * shuffle only the delta and prune to matching buckets; here the
  * parquet accumulations stand in at test scale.
  *
  * Append-only inserts (the IVM case this table serves) commute with
  * union, so refresh order cannot change the view. Deletions would
  * need the signed-count generalization — documented out of scope, as
  * copy-on-write deletes rewrite the base tables ([[ZTable.deleteWhere]])
  * and a view rebuild rides the same rewrite.
  *
  * Layout mirrors RollupTable's replay discipline: every batch writes
  * under `delta=<tag>` dirs in all three stores (left, right, view), so
  * a crashed attempt's replay OVERWRITES its own partition instead of
  * appending beside orphaned files — the view can never double-count a
  * batch.
  */
class JoinView(val spark: SparkSession, val path: String,
    val leftKey: String, val rightKey: String) {

  private def dir(name: String): String = s"$path/$name"

  private def readOrEmpty(name: String, like: => DataFrame): DataFrame = {
    val p = Paths.get(dir(name))
    val hasData = Files.isDirectory(p) && {
      val s = Files.list(p)
      try s.iterator().hasNext finally s.close()
    }
    if (hasData) Parquet.read(spark, dir(name)) else like.limit(0)
  }

  /** Fold one batch pair into the view. Either side may be empty.
    * IDEMPOTENT per tag: the accumulated sides EXCLUDE the current
    * tag's partitions, so a crashed attempt's replay recomputes the
    * identical delta (a half-written previous attempt's rows can
    * neither join twice nor shift the result) and the dynamic
    * partition overwrite swaps it in. */
  def refresh(deltaLeft: DataFrame, deltaRight: DataFrame, tag: String): Unit = {
    val dl = deltaLeft.withColumn("delta", lit(tag))
    val dr = deltaRight.withColumn("delta", lit(tag))
    val oldL = readOrEmpty("left", dl).where(col("delta") =!= tag)
    val oldR = readOrEmpty("right", dr).where(col("delta") =!= tag)
    val newRows =
      dl.drop("delta").join(oldR.drop("delta"), col(leftKey) === col(rightKey))
        .unionByName(
          oldL.drop("delta").join(dr.drop("delta"), col(leftKey) === col(rightKey)))
        .unionByName(
          dl.drop("delta").join(dr.drop("delta"), col(leftKey) === col(rightKey)))
        .withColumn("delta", lit(tag))
    // view first: a crash between writes leaves an unreferenced view
    // partition that the same tag's replay overwrites
    newRows.write.mode("overwrite").format("parquet")
      .partitionBy("delta").option("partitionOverwriteMode", "dynamic")
      .save(dir("view"))
    // the two accumulation writes are independent of each other (only
    // the view write is the commit point above), so they run as
    // concurrent jobs (guide §2.6 — the second job's tasks back-fill
    // the first one's tail). Crash story unchanged: replay excludes the
    // current tag from BOTH accumulations and dynamic-overwrites each
    // store, so any prefix of {left, right} landing before a crash is
    // recomputed identically. Both writes are awaited before the first
    // failure is rethrown: an in-process caller that catches and retries
    // the same tag must not race a sibling write still committing into
    // its store.
    import scala.concurrent.{ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = Seq(dl -> "left", dr -> "right").map { case (df, store) =>
      Future {
        df.write.mode("overwrite").format("parquet")
          .partitionBy("delta").option("partitionOverwriteMode", "dynamic")
          .save(dir(store))
      }
    }
    ZTable.awaitAll(writes)
  }

  /** The maintained view (all accumulated delta partitions). */
  def read(): DataFrame = Parquet.read(spark, dir("view")).drop("delta")
}
