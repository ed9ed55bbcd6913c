package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sources.Parquet

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's `Table::open` surface (reference
  * `src/table/mod.rs:124-133`) re-expressed as plain Parquet reads: the
  * storage engine (mmap columns, partition dirs, symbol dictionaries) is
  * replaced wholesale by Spark's vectorized Parquet reader, which already
  * provides columnar zero-copy batches, dictionary encoding and min/max
  * pruning (SURVEY.md §4).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events table's `ts` storage has shipped in two physical shapes
    * across testdata generations, so the loader SNIFFS the parquet
    * schema instead of assuming one (a drift canary spec, TestdataSpec,
    * pins what this method must handle):
    *
    *  - `TIMESTAMP(NANOS)` — Spark's reader rejects it outright; read as
    *    raw Long nanos (legacy conf) and truncate to microseconds, the
    *    same ns→µs floor DuckDB applies. Mirrors the reference's
    *    i64-nanos timestamps (reference `src/schema.rs:8`, SURVEY §1.2).
    *  - `timestamp[us]` (TIMESTAMP_NTZ to Spark) — pass through, cast to
    *    session-tz TimestampType (all graft sessions pin UTC, so the
    *    cast is value-preserving) so every downstream query keeps the
    *    single timestamp type it was written against.
    *
    * Either way the caller sees `ts: TimestampType` at µs precision. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = eventsRaw(s, d)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // the cast hides the stored attribute from parquet filter
        // translation; the rule re-derives pushable conjuncts
        graft.plans.NanosPushdownRule.install(s)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts: expected nanos Long / timestamp, got $other")
    }
  }

  /** events with `ts` as raw Long NANOS — the reference's native i64
    * representation, used where a Long grid is the contract (the native
    * writer's ts<W>@<R> delta encoding, streaming fixtures) and where a
    * ts range predicate must reach the parquet reader. When the file
    * stores real timestamps the nanos are DERIVED (`unix_micros * 1000`
    * — exact: µs data sits on the 1000-ns grid), and
    * plans.NanosPushdownRule rewrites range filters on the derived
    * column back to timestamp predicates on the stored column so
    * row-group pruning still engages. */
  def eventsRawTs(s: SparkSession, d: String): DataFrame = {
    val raw = eventsRaw(s, d)
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType | TimestampType =>
        // raw-ns range predicates land on this derived column; the rule
        // rewrites them back onto the stored timestamp for pushdown
        graft.plans.NanosPushdownRule.install(s)
        raw.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts: expected nanos Long / timestamp, got $other")
    }
  }

  /** Physical read of events.parquet. The legacy nanos conf is a no-op
    * for files that store µs timestamps, so it is always safe to set. */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events")
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
