package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared symbol dictionary across tables — the reference pre-materializes
  * one symbol→id mapping used by EVERY table (reference `src/schema.rs:31`;
  * readers resolve through the shared dict, `src/table/read.rs:13-23`), so
  * a cross-table join on symbol is an integer compare with no re-encoding.
  *
  * Spark face: a persistent dimension table (sym → dense sym_id) that
  * member tables encode against at write time, plus [[CoBucketGroup]] to
  * give all members one bucket layout on the encoded id — together the
  * moral equivalent: symbol joins become int-keyed, exchange-free
  * sort-merge joins (paid once at write, like the reference's dictionary
  * build).
  *
  * Scale: the dictionary is dimension-sized (distinct symbols), and id
  * assignment is a distributed sort + zipWithIndex (no single-partition
  * ceiling even at Symbol32 cardinalities); the encode/decode broadcast
  * joins are bounded by |dict|, never fact size. Ids are dense, deterministic
  * (lexicographic), and STABLE: extending never renumbers existing
  * symbols, so previously-written member tables stay valid.
  */
class SymbolDictionary(val spark: SparkSession, val path: String) {

  def exists: Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path))

  /** The mapping: (sym string, sym_id long), dense from 1. */
  def df: DataFrame = Parquet.read(spark, path)

  /** Dense ids starting at `offset + 1` in lexicographic sym order —
    * a distributed sort + zipWithIndex, NOT a single-partition window:
    * the sorted RDD stays range-partitioned and zipWithIndex numbers
    * it with one tiny per-partition-count job, so id assignment scales
    * with the dictionary instead of funneling it through one task
    * (same total order as row_number over ORDER BY sym — binary UTF8
    * comparison both ways — so ids are unchanged). */
  private def denseIds(syms: DataFrame, offset: Long): DataFrame = {
    val sp = syms.sparkSession
    val rows = syms.select(col("sym")).sort("sym").rdd
      .map(_.getString(0)).zipWithIndex()
      .map { case (s, i) => org.apache.spark.sql.Row(s, offset + i + 1L) }
    sp.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sym",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("sym_id",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Register symbols from a column; new symbols get ids after the
    * current max, existing ids never change. Idempotent. */
  def extend(data: DataFrame, colName: String): Unit = {
    val incoming = data.select(col(colName).cast("string").as("sym"))
      .where(col("sym").isNotNull).distinct()
    if (!exists) {
      // an empty/all-null first batch must NOT create a zero-row dict:
      // the next extend would read max(sym_id) as null and NPE, leaving
      // the dictionary permanently bricked
      if (incoming.limit(1).count() > 0)
        denseIds(incoming, 0L).coalesce(1).write.parquet(path)
    } else {
      val existing = df
      // coalesce: tolerate an empty dict written by an external party
      val maxId = existing.agg(coalesce(max(col("sym_id")), lit(0L)))
        .head.getLong(0)
      val novel = incoming.join(existing.select("sym"), Seq("sym"), "left_anti")
      if (novel.limit(1).count() > 0)
        denseIds(novel, maxId).coalesce(1).write.mode("append").parquet(path)
    }
  }

  /** Replace a string symbol column with its dictionary id
    * (`<col>_id`). Unknown symbols are rejected (inner join) — extend
    * first; the reference likewise appends through the dict. A NULL
    * symbol raises instead of letting the join silently drop the row
    * (extend filters nulls, so they can never be "extended first"). */
  def encode(data: DataFrame, colName: String): DataFrame =
    data.where(when(col(colName).isNull, raise_error(lit(
        s"null symbol in column '$colName' cannot be dictionary-encoded")))
      .otherwise(lit(true)))
      .join(broadcast(df.select(col("sym").as(colName),
        col("sym_id").as(s"${colName}_id"))), Seq(colName))
      .drop(colName)

  /** Inverse of [[encode]]: restore the string column from `<col>_id`. */
  def decode(data: DataFrame, colName: String): DataFrame =
    data.join(broadcast(df.select(col("sym_id").as(s"${colName}_id"),
        col("sym").as(colName))), Seq(s"${colName}_id"))
      .drop(s"${colName}_id")
}

object SymbolDictionary {
  def apply(spark: SparkSession, path: String): SymbolDictionary =
    new SymbolDictionary(spark, path)
}

/** Ties member tables to ONE dictionary and ONE bucket spec — the
  * engine-level contract that makes any member⋈member symbol join plan
  * exchange-free (SymbolDictSpec asserts): every member is encoded
  * through the shared dict and written bucketed+sorted on the id with
  * the same bucket count. */
class CoBucketGroup(
    val spark: SparkSession,
    val dict: SymbolDictionary,
    val basePath: String,
    val buckets: Int) {

  private def idCol(symCol: String) = s"${symCol}_id"

  /** Encode `symCol` through the shared dictionary (extending it with
    * unseen symbols) and write bucketed on the id. */
  def write(name: String, data: DataFrame, symCol: String): Unit = {
    dict.extend(data, symCol)
    Bucketing.writeBucketed(dict.encode(data, symCol),
      name, s"$basePath/$name", idCol(symCol), buckets)
  }

  def table(name: String): DataFrame = spark.table(name)

  /** Read a member with the symbol column decoded back to strings. */
  def tableDecoded(name: String, symCol: String): DataFrame =
    dict.decode(table(name), symCol)
}
