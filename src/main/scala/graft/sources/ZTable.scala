package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType, TimestampType}

import graft.util.Pins

/** Partition granularity — mirrors the reference's `PartitionBy::{None,
  * Year, Month, Day}` (reference `src/schema.rs:71-77`); directory names
  * use the same strftime shapes (`src/table/write.rs:26-36`). */
sealed abstract class ZPartitionBy(val name: String, val fmt: Option[String])
object ZPartitionBy {
  case object None_ extends ZPartitionBy("none", None)
  case object Year  extends ZPartitionBy("year", Some("yyyy"))
  case object Month extends ZPartitionBy("month", Some("yyyy-MM"))
  case object Day   extends ZPartitionBy("day", Some("yyyy-MM-dd"))
  def of(s: String): ZPartitionBy = s match {
    case "year" => Year; case "month" => Month; case "day" => Day
    case _ => None_
  }
}

/** Table spec — the semantic remnant of the reference's `Schema`
  * (`src/schema.rs:79-139`): which column is time, how partitions are
  * cut, the resolution grid (reference stores ts floored to a resolution,
  * `src/table/write.rs:62-65`; Spark ts is µs so resolution is µs), and
  * whether out-of-order appends are rejected (the reference panics,
  * `src/table/write.rs:79-85`; here it's a configurable strict mode). */
case class ZTableSpec(
    tsCol: String = "ts",
    partitionBy: ZPartitionBy = ZPartitionBy.Day,
    resolutionMicros: Option[Long] = None,
    strictOrder: Boolean = true)

/** Spark-native successor of the reference's `Table`
  * (`src/table/mod.rs:51-141`): a directory of date-partitioned,
  * time-sorted Parquet. Everything the reference hand-rolls (mmap columns,
  * binary-search time seek, symbol dictionaries, partition metadata) maps
  * to Parquet + Catalyst built-ins: vectorized columnar reads, dictionary
  * pages, partition-directory pruning (SURVEY.md §1.5, §4). Row-group
  * min/max pruning does NOT apply to ts: Spark writes `TimestampType` as
  * INT96 by default (`spark.sql.parquet.outputTimestampType`), whose
  * footer statistics are undefined, so a ts range prunes by partition
  * directory only.
  *
  * Scale: `append` hash-distributes rows by partition value so each date
  * directory is written by the executors that own its rows (no single
  * writer), sorted by ts within files. The table's first/last ts live in
  * the `_ts_bounds.json` stamp ([[firstLastTs]]), kept by the writes
  * themselves, so strict appends and range probes never scan the table.
  */
class ZTable(val spark: SparkSession, val path: String, val spec: ZTableSpec) {

  val partCol = "p_date"

  private def lsDir(d: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(d)
    try s.iterator.asScala.toList finally s.close()
  }

  /** Recursive delete — crashed parquet jobs leave nested `_temporary`
    * trees a flat delete would choke on. */
  private def rmTree(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) lsDir(p).foreach(rmTree)
    Files.delete(p)
  }

  /** Per-table mutation lock (JVM-wide, keyed by normalized path).
    * Serializes append/compact/deleteWhere/merge with each other and
    * with read-side crash recovery: the [[recoverSwaps]] sweep would
    * otherwise delete a LIVE op's staging dirs or resurrect its
    * mid-swap target. Reads never block unless they detect crash
    * debris. Cross-PROCESS exclusion is layered on top by [[mutate]]. */
  private def lock: Object = ZTable.lockFor(path)

  /** Every mutating op runs inside BOTH writer locks:
    *  1. the JVM monitor above (thread exclusion + makes 2 reentrant);
    *  2. an OS advisory lock on the `_lock` sidecar (FileChannel.lock)
    *     — a SECOND PROCESS mutating the same table blocks here until
    *     the first finishes, so its entry-time [[recoverSwaps]] sweep
    *     can never see (and roll back) a LIVE peer's staging dirs, and
    *     two compactions can never interleave their two-rename swaps.
    * Scope: advisory locks exclude across processes on one host (and
    * over NFSv4); object stores have no rename OR flock, so there the
    * production answer is a manifest/commit service (compact's
    * scaladoc) or scheduler-level single-writer ownership — which this
    * local protocol makes safe to assume rather than hope for. A
    * crashed holder's lock is released by the OS, and the next
    * writer's recoverSwaps sweep completes its half-done swap — crash
    * safety does not depend on the lock. */
  private def mutate[T](f: => T): T = lock.synchronized {
    val key = Paths.get(path).toAbsolutePath.normalize.toString
    if (ZTable.processLocksHeld.contains(key)) f // reentrant under the monitor
    else {
      Files.createDirectories(Paths.get(path))
      val ch = java.nio.channels.FileChannel.open(Paths.get(path, "_lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        // FileChannel.lock blocks on OTHER processes but THROWS
        // OverlappingFileLockException if any thread of THIS JVM holds
        // the region through a different channel (e.g. a monitoring
        // probe tryLock-ing the sidecar, or a second ZTable handle
        // opened on the same path object-identity-independently).
        // Mutations among ZTable instances already serialize on the
        // JVM monitor above, so such a hold is transient — retry
        // rather than surface a spurious failure. Iterative (not
        // recursive: scalac can't TCO a call inside a catch block, so
        // a long-held region would overflow the stack) and bounded —
        // a probe holding the region for minutes is a bug worth
        // surfacing, not spinning on forever.
        var fl: java.nio.channels.FileLock = null
        var tries = 0
        while (fl == null) {
          try fl = ch.lock()
          catch {
            case e: java.nio.channels.OverlappingFileLockException =>
              tries += 1
              if (tries > 60000) throw e // ~60s of 1ms retries
              Thread.sleep(1)
          }
        }
        ZTable.processLocksHeld.add(key)
        try f
        finally { ZTable.processLocksHeld.remove(key); fl.release() }
      } finally ch.close()
    }
  }

  private val swapSuffixes = Seq(".compacting", ".deleting", ".merging", ".retiring")

  /** Read-path open: the table's files as a frame (partition column
    * included), or None when no write has landed. A crash between
    * [[swapIn]]'s renames leaves `p_date=X.retiring` / staging dirs that
    * Spark partition discovery would parse as partition VALUES —
    * double-counting (debris beside a live target) or silently dropping
    * (mid-swap) that partition's rows. Reads check the root listing and
    * only take the mutation lock when debris exists — so a read during a
    * live rewrite waits for it to finish and then finds nothing to
    * recover. The same listing answers [[hasData]] and starts the
    * footer lookup of [[Parquet]], so opening costs one root ls, one
    * partition ls and one footer read — no Spark job. */
  private def openFiles(): Option[DataFrame] = {
    val ls = Parquet.listing(spark, path)
    val root =
      if (!ls.exists(f => swapSuffixes.exists(f.getPath.getName.endsWith))) ls
      else { mutate { recoverSwaps() }; Parquet.listing(spark, path) }
    if (hasData(root)) Some(Parquet.readListed(spark, path, root)) else None
  }

  /** Two-RENAME partition swap shared by every copy-on-write rewrite
    * (compact / deleteWhere / merge): target -> .retiring, fully-written
    * staging -> target, then drop the retired copy. Never a file-by-file
    * delete of live data, so with [[recoverSwaps]] every crash point
    * leaves a complete copy under exactly one name. */
  private def swapIn(dir: java.nio.file.Path, tmp: java.nio.file.Path): Unit = {
    val retired = dir.resolveSibling(dir.getFileName.toString + ".retiring")
    Files.move(dir, retired)
    Files.move(tmp, dir)
    rmTree(retired)
  }

  /** Crash recovery for the copy-on-write rewrites, run on entry to
    * each mutating op (any op recovers any earlier op's crash):
    *  - a staging dir whose parquet write committed (_SUCCESS) and
    *    whose target is gone rolls FORWARD (crash between the renames);
    *  - any other staging dir is a partial rewrite — rolled back;
    *  - a .retiring dir beside a live target is post-swap debris —
    *    dropped; with no live target the swap never happened — the
    *    original is restored. */
  private def recoverSwaps(): Unit = {
    val root = Paths.get(path)
    if (!Files.exists(root)) return
    // orphaned merge/delete stage roots (crash before/while the swaps
    // consumed them) are pure debris: dot-prefixed so scans never see
    // them, and the op they belonged to never committed
    lsDir(root).filter { d =>
      val n = d.getFileName.toString
      n.startsWith(".merge-stage-") || n.startsWith(".delete-stage-") ||
        n.startsWith(".compact-stage-")
    }.foreach(rmTree)
    Seq(".compacting", ".deleting", ".merging").foreach { suf =>
      lsDir(root).filter(_.getFileName.toString.endsWith(suf)).foreach { tmp =>
        val target = tmp.resolveSibling(tmp.getFileName.toString.stripSuffix(suf))
        if (!Files.exists(target) && Files.exists(tmp.resolve("_SUCCESS")))
          Files.move(tmp, target)
        else rmTree(tmp)
      }
    }
    lsDir(root).filter(_.getFileName.toString.endsWith(".retiring")).foreach { r =>
      val target = r.resolveSibling(r.getFileName.toString.stripSuffix(".retiring"))
      if (Files.exists(target)) rmTree(r) else Files.move(r, target)
    }
  }

  /** A rewrite that removed every row leaves an empty partition behind —
    * drop it. Two shapes exist: no data file at all, and (the common
    * one) a single ZERO-ROW parquet file, because Spark's all-empty
    * write special-cases one schema-preserving file. The zero-row check
    * reads only the parquet FOOTER, driver-local, per data file of the
    * just-rewritten partition — bounded by the rewrite itself, no job.
    * An emptied dir serves no scan, and its stats-less zero-row file is
    * exactly what compact(clusterBy)'s missing-stats guard has to skip. */
  private def dropIfEmptied(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      val dataFiles = lsDir(dir).filter { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      if (dataFiles.isEmpty || dataFiles.forall(parquetRowCount(_) == 0L))
        rmTree(dir)
    }

  /** Row count from the parquet footer alone — no Spark job, no data IO. */
  private def parquetRowCount(f: java.nio.file.Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri),
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Raw partition VALUE from a partition directory name — the single
    * dir-name→value mapping every probe-map lookup routes through.
    * Spark path-escapes special characters when writing partition dirs
    * (space, colon → %20, %3A …); probe maps key on RAW values
    * ([[partKeyStr]]), so a dir-derived key must unescape or the two
    * sides silently disagree and affected partitions get skipped.
    * Today's formats (Day/Month/Year dates, "all", the hive null name)
    * are all path-safe — this makes the correspondence a contract
    * rather than a coincidence. */
  private[graft] def dirToPartValue(dir: java.nio.file.Path): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(dir.getFileName.toString.stripPrefix(partCol + "="))

  /** Partition directory NAME from a raw value — [[dirToPartValue]]'s
    * inverse, matching what Spark's partitionBy writer produces. */
  private[graft] def partValueToDirName(pval: String): String =
    partCol + "=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(pval)

  /** Spark's reserved dir name for a NULL partition value. Probe maps
    * key on this instead of a raw (nullable) cast so rows with a null
    * ts — legal under strictOrder = false — are matched to the
    * `p_date=__HIVE_DEFAULT_PARTITION__` dir they were written to,
    * rather than silently skipped by every delete/merge. */
  private val NullPartName = "__HIVE_DEFAULT_PARTITION__"

  /** The partition key as a non-null string — the dir-name the row
    * lives under. */
  private def partKeyStr: org.apache.spark.sql.Column =
    coalesce(col(partCol).cast("string"), lit(NullPartName))

  private def withPartCol(df: DataFrame): DataFrame = spec.partitionBy.fmt match {
    case Some(f) => df.withColumn(partCol, date_format(col(spec.tsCol), f))
    case None    => df.withColumn(partCol, lit("all"))
  }

  /** Floor ts to the resolution grid (reference `src/table/write.rs:62-65`). */
  private def floorResolution(df: DataFrame): DataFrame = spec.resolutionMicros match {
    case Some(res) =>
      df.withColumn(spec.tsCol,
        timestamp_micros((unix_micros(col(spec.tsCol)) / res).cast("long") * res))
    case None => df
  }

  /** Append a batch. Strict mode rejects rows before the table's current
    * last timestamp — the reference's per-row out-of-order panic
    * (`src/table/write.rs:79-85`). The check rides the write pass itself
    * as a per-row raise_error filter, so the incoming batch is scanned
    * ONCE (a separate pre-write `agg(min)` action would double ingest
    * I/O at scale); an out-of-order row aborts the write job before the
    * committer publishes any file. The table's last ts comes from the
    * `_ts_bounds.json` stamp, and the same write pass observes the
    * batch's min/max ts to advance it — so, like the reference's
    * meta-derived check, a stamped append never reads the existing
    * table. Crash protocol: the stamp is deleted before the write and
    * rewritten (write-then-rename) after the commit; a missing stamp
    * falls back to one aggregate over the files, and a strict append
    * that fell back writes the stamp again. */
  def append(df: DataFrame): Unit = append(df, allowColumnDrift = false)

  /** Column-SET validation (round 12): an appended batch must present
    * exactly the table's columns — a typo'd name fails fast the way a
    * bad projection does (P1's contract), instead of silently minting a
    * new parquet column on some files and nulls everywhere else (the
    * drift seam that forced `merge` to be files-authoritative).
    * Authority order matches the rest of the lifecycle: the recorded
    * meta schema when stamped, else the files when data exists, else
    * nothing (a schema-less first append DEFINES the columns). Names
    * compare case-insensitively, like Spark's own resolution.
    * `allowColumnDrift = true` is the escape hatch for INTENTIONAL
    * evolution (e.g. staged column addition where later batches carry a
    * new column); the recorded schema stays first-write-wins, and
    * `merge` continues to align to file types — drift remains legal,
    * it just has to be asked for. */
  def append(df: DataFrame, allowColumnDrift: Boolean): Unit = mutate {
    // every mutating op recovers earlier crashes on entry — append
    // included: appending into a mid-swap partition (target renamed
    // away, complete staging beside it) would recreate the target with
    // ONLY the new batch, and the next recovery sweep would then drop
    // the staged/retired pre-crash copy as debris — permanent loss
    recoverSwaps()
    if (!allowColumnDrift) {
      val expected: Option[Seq[String]] =
        recordedSchema.map(_.fieldNames.toSeq).orElse(
          if (hasData)
            Some(Parquet.read(spark, path).drop(partCol).schema.fieldNames.toSeq)
          else None)
      expected.foreach { exp =>
        val expSet = exp.map(_.toLowerCase).toSet
        val incoming = df.schema.fieldNames.toSeq
        val inSet = incoming.map(_.toLowerCase).toSet
        val missing = exp.filterNot(c => inSet.contains(c.toLowerCase))
        val extra = incoming.filterNot(c => expSet.contains(c.toLowerCase))
        if (missing.nonEmpty || extra.nonEmpty)
          throw new IllegalArgumentException(
            s"append: batch columns drift from the table's (" +
            (if (missing.nonEmpty) s"missing: ${missing.mkString(", ")}" else "") +
            (if (missing.nonEmpty && extra.nonEmpty) "; " else "") +
            (if (extra.nonEmpty) s"unknown: ${extra.mkString(", ")}" else "") +
            s"). Table columns: ${exp.mkString(", ")}. For intentional " +
            "schema evolution use append(df, allowColumnDrift = true).")
      }
    }
    val data = floorResolution(df)
    // the table's bounds before this batch: the stamp, else (empty
    // table, or a strict append that needs the last ts) the aggregate;
    // unknown for a non-strict append into an unstamped table
    val prior = readStamp().orElse(
      if (spec.strictOrder || !hasData) Some(scanBounds()) else None)
    val checked = prior.filter(b => spec.strictOrder && !b.isEmpty) match {
      case Some(b) =>
        data.where(
          when(tsMicros < lit(b.hi), raise_error(concat(
            lit("Timestamp "), col(spec.tsCol).cast("string"),
            lit(s" is out of order (table last ts: ${b.last})"))))
          .otherwise(lit(true)))
      case None => data
    }
    val batchBounds = org.apache.spark.sql.Observation()
    dropStamp()
    try {
      withPartCol(checked.observe(batchBounds,
          min(tsMicros).as("lo"), max(tsMicros).as("hi")))
        .repartition(col(partCol))
        // partCol FIRST: a dynamic-partition write requires its child
        // ordered by the partition columns and INSERTS a sort when it
        // is not — which lets the optimizer ELIMINATE a child sort on
        // ts alone, silently unsorting the files (caught r13 by the
        // z1b plan pin's listener). With the partition key as the sort
        // prefix the writer's requirement is satisfied by this very
        // sort and the per-file ts order actually survives.
        .sortWithinPartitions(col(partCol), col(spec.tsCol))
        .write.mode("append").partitionBy(partCol).parquet(path)
      recordSchemaIfMissing(data.schema)
      for (p <- prior; b <- observedBounds(batchBounds)) writeStamp(p ++ b)
    } catch {
      case e: Exception if msgChain(e).exists(_.contains("out of order")) =>
        throw new IllegalStateException(
          msgChain(e).find(_.contains("out of order")).get, e)
    }
  }

  private def msgChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(t => Option(t.getMessage)).toSeq

  def exists: Boolean = Files.exists(Paths.get(path, "_meta.json"))

  /** True once at least one write landed (partition dirs or parquet files
    * exist — a fresh table is just its `_meta.json`). */
  def hasData: Boolean = hasData(Parquet.listing(spark, path))

  private def hasData(root: Seq[org.apache.hadoop.fs.FileStatus]): Boolean =
    root.exists { f =>
      val n = f.getPath.getName
      n.startsWith(partCol + "=") || n.endsWith(".parquet")
    }

  /** The recorded DATA-column schema from `_meta.json` — the reference
    * persists its column schema in table meta (reference
    * `src/table/meta.rs:25-37`, `src/schema.rs:79-139`); here it's
    * written at create (when given) or stamped by the first successful
    * append/merge. This is what keeps a table READABLE when it holds no
    * data files: a never-appended table, or one whose every row a
    * delete/merge removed (dropIfEmptied legitimately dropped the last
    * partition dir), has nothing for parquet inference to work with. */
  def recordedSchema: Option[StructType] = {
    val metaPath = Paths.get(path, "_meta.json")
    if (!Files.exists(metaPath)) None
    else {
      // a real JSON parse (not substring slicing): field order, pretty
      // printing, trailing whitespace, and future meta fields are all
      // legal in a hand-edited or regenerated sidecar
      val node = ZTable.metaMapper.readTree(Files.readString(metaPath))
      Option(node.get("schema")).filterNot(_.isNull)
        .map(n => DataType.fromJson(n.toString).asInstanceOf[StructType])
    }
  }

  /** Stamp the data schema into `_meta.json` once (first write wins;
    * parquet reads surface every column nullable, so the recorded form
    * is normalized the same way — an empty read and a 1-row read must
    * present identical schemas). */
  /** Match what a parquet READ will present: file relations force
    * nullable at every nesting level (HadoopFsRelation applies
    * asNullable), so the recorded schema must too — otherwise an empty
    * table and a 1-row table would disagree on nested nullability. */
  private def nullify(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullify(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = nullify(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = nullify(m.valueType), valueContainsNull = true)
    case other => other
  }

  private[sources] def normalizeSchema(s: StructType): StructType =
    nullify(StructType(s.fields.filterNot(_.name == partCol)))
      .asInstanceOf[StructType]

  private def recordSchemaIfMissing(s: StructType): Unit =
    if (recordedSchema.isEmpty) writeMeta(Some(normalizeSchema(s).json))

  /** Zero-row frame carrying the recorded schema — what reads serve
    * when no data file exists. A schema-less empty table (created
    * without a schema, never appended) degrades to the 0-column empty
    * frame rather than throwing. */
  private def emptyFrame: DataFrame = recordedSchema match {
    case Some(s) => spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], s)
    case None => spark.emptyDataFrame
  }

  def df: DataFrame = openFiles().fold(emptyFrame)(_.drop(partCol))

  /** Time-range scan, inclusive bounds (reference `src/table/scan.rs:62-88`).
    * Adds the derived partition predicate so users filtering only on ts
    * still get directory pruning (SURVEY.md §4) — the only pruning a ts
    * range gets, since INT96 ts columns carry no row-group stats — plus
    * the exact ts predicate. */
  def scan(fromTs: String, toTs: String, cols: Seq[String] = Nil): DataFrame = {
    val base = openFiles().getOrElse {
      // empty table: serve the recorded schema (no partition dirs to
      // prune, no files to range-filter — the predicates are no-ops)
      val e = emptyFrame
      return if (cols.isEmpty) e else e.select(cols.map(col): _*)
    }
    val from = lit(fromTs).cast(TimestampType)
    val to = lit(toTs).cast(TimestampType)
    val pruned = spec.partitionBy.fmt match {
      case Some(f) =>
        base.where(col(partCol) >= date_format(from, f) &&
                   col(partCol) <= date_format(to, f))
      case None => base
    }
    val ranged = pruned.where(col(spec.tsCol) >= from && col(spec.tsCol) <= to)
      .drop(partCol)
    if (cols.isEmpty) ranged else ranged.select(cols.map(col): _*)
  }

  /** C2: table first/last timestamp (reference `src/table/meta.rs:39-67`),
    * null on a table with no non-null ts. Read from the `_ts_bounds.json`
    * stamp; without one, one aggregate over the files. */
  def firstLastTs: (java.sql.Timestamp, java.sql.Timestamp) = {
    val b = readStamp().getOrElse(scanBounds())
    (b.first, b.last)
  }
  def firstTs: java.sql.Timestamp = firstLastTs._1
  def lastTs: java.sql.Timestamp = firstLastTs._2

  /** The ts as epoch µs — the unit of the stamp and of the strict check. */
  private def tsMicros = unix_micros(col(spec.tsCol).cast(TimestampType))

  private def stampPath = Paths.get(path, ZTable.TsBoundsFile)

  /** The stamp, or None when absent (legacy table, or a delete, merge or
    * crash since the last append). Reads take no lock: a writer may drop
    * the stamp at any moment, so absence is the read failing. */
  private def readStamp(): Option[ZTable.TsBounds] =
    try {
      val node = ZTable.metaMapper.readTree(Files.readString(stampPath))
      def v(k: String) = Option(node.get(k)).filterNot(_.isNull).map(_.asLong)
      Some((v("firstTs"), v("lastTs")) match {
        case (Some(lo), Some(hi)) => ZTable.TsBounds(lo, hi)
        case _ => ZTable.TsBounds.Empty
      })
    } catch { case _: java.nio.file.NoSuchFileException => None }

  /** Write-then-rename, so a reader or a crash never sees half a stamp. */
  private def writeStamp(b: ZTable.TsBounds): Unit = {
    def num(x: Long) = if (b.isEmpty) "null" else x.toString
    val tmp = stampPath.resolveSibling(ZTable.TsBoundsFile + ".tmp")
    Files.writeString(tmp, s"""{"firstTs":${num(b.lo)},"lastTs":${num(b.hi)}}""")
    Files.move(tmp, stampPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Every write except compact calls this before touching data. */
  private def dropStamp(): Unit = Files.deleteIfExists(stampPath)

  /** The fallback: one aggregate over the files, no job when empty. */
  private def scanBounds(): ZTable.TsBounds =
    openFiles().fold(ZTable.TsBounds.Empty)(d =>
      ZTable.TsBounds.of(d.agg(min(tsMicros), max(tsMicros)).head))

  /** A finished write's observed min/max ts; None when the metrics did
    * not arrive (an empty row), which leaves the stamp missing rather
    * than wrong. */
  private def observedBounds(o: org.apache.spark.sql.Observation): Option[ZTable.TsBounds] = {
    import scala.concurrent.duration._
    scala.util.Try(scala.concurrent.Await.result(o.future, 1.minute)).toOption
      .filter(_.length == 2).map(ZTable.TsBounds.of)
  }

  /** C3: schema describe (the reference's schema debug print,
    * `src/schema.rs:88-103`) as a DataFrame — one row per column plus
    * the table spec (time column flagged, partition grain, resolution,
    * strict mode) so tooling can introspect a table without opening
    * files. */
  def describe(): DataFrame = {
    import spark.implicits._
    df.schema.fields.toSeq.map { f =>
      val role =
        if (f.name == spec.tsCol)
          s"time column; partitionBy=${spec.partitionBy.name}" +
            spec.resolutionMicros.map(r => s"; resolutionMicros=$r").getOrElse("") +
            s"; strictOrder=${spec.strictOrder}"
        else ""
      (f.name, f.dataType.simpleString, f.nullable, role)
    }.toDF("column", "type", "nullable", "role")
  }

  /** C1: distinct values of a symbol-like column, sorted — the analog of
    * the reference's symbol-dictionary dump (`src/server/mod.rs:84-122`). */
  def symbols(colName: String): DataFrame =
    df.select(col(colName)).distinct().orderBy(col(colName))

  /** S8: offline column-type migration (reference
    * `scripts/convert_col.jl:28-60` rewrites a column file across all
    * partitions; here it's a single declarative cast + rewrite). */
  def migrateColumn(colName: String, newType: String, outPath: String): ZTable = {
    val source = openFiles().getOrElse {
      // empty source: the migration is pure metadata — carry the
      // recorded schema across with the one column retyped. The column
      // must EXIST in it: the non-empty path fails analysis on a typo'd
      // name, and the metadata path must hold the same contract instead
      // of silently returning the schema unchanged.
      val rs = recordedSchema.getOrElse(throw new IllegalStateException(
        s"migrateColumn('$colName'): table at $path is empty and records " +
        "no schema, so there is nothing to migrate"))
      require(rs.fieldNames.contains(colName),
        s"migrateColumn: no such column '$colName' " +
        s"(table columns: ${rs.fieldNames.mkString(", ")})")
      val migratedSchema = Some(StructType(rs.fields.map(f =>
        if (f.name == colName)
          f.copy(dataType = org.apache.spark.sql.catalyst.parser
            .CatalystSqlParser.parseDataType(newType))
        else f)))
      return ZTable.create(spark, outPath, spec, migratedSchema)
    }
    val out = ZTable.create(spark, outPath, spec)
    val migrated = source
      .withColumn(colName, col(colName).cast(newType))
    migrated
      // partCol first — see append: the dynamic-partition writer's own
      // sort otherwise eliminates the ts ordering
      .sortWithinPartitions(col(partCol), col(spec.tsCol))
      .write.mode("append").partitionBy(partCol).parquet(outPath)
    out.recordSchemaIfMissing(migrated.schema)
    out
  }

  /** S6 hardening: small-file compaction. Streaming/micro-batch appends
    * leave each partition directory with one file per (batch ×
    * writer-task) — at 100 TB that's millions of tiny files, and file
    * listing + per-file open overhead dominates scans. Compaction
    * rewrites any partition whose file count exceeds its byte-size
    * budget into `ceil(bytes / targetFileBytes)` files, RANGE-partitioned
    * and sorted on ts — so compacted files carry non-overlapping ts
    * ranges; the rows are the same, so the `_ts_bounds.json` stamp is
    * kept. Each partition rewrite is one distributed Spark job
    * (driver only enumerates partition dirs — bounded by the date grain,
    * never by rows), and the per-partition jobs are DISPATCHED
    * CONCURRENTLY (Spark's scheduler interleaves them; the driver loop
    * would otherwise serialize date-grain-many small jobs); a production
    * run would commit via manifest instead of dir swap.
    *
    * `clusterBy` switches the rewrite to Z-ORDER layout: the sort key
    * becomes a Morton interleave of ts and the given columns (numeric/
    * timestamp columns min-max scaled per partition, strings hash-
    * bucketed — see [[ZOrder]]), so row-group stats prune on secondary
    * predicates too, at the cost of slightly looser ts bounds. A
    * clusterBy compaction always rewrites (it exists to change layout,
    * not just to merge small files). */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil): Int = mutate {
    val root = Paths.get(path)
    if (!Files.exists(root)) return 0
    recoverSwaps()
    val parts = lsDir(root).filter(d => Files.isDirectory(d) &&
      d.getFileName.toString.startsWith(partCol + "="))
    // Z-order stats: ONE grouped job covers every partition's min/max
    // (grouped rows = #partitions × #keys — stats-sized), instead of one
    // tiny agg job per date dir.
    import org.apache.spark.sql.types._
    val keys = spec.tsCol +: clusterBy
    // linearizable (numeric/ts) keys get a double projection for min-max
    // scaling; strings fall through to hash buckets
    lazy val linearCol: Map[String, Option[org.apache.spark.sql.Column]] = {
      // ROOT schema, not parts.head's: a fully-emptied partition (all
      // rows deleted) may hold no data files, and a single-dir read of
      // it cannot infer a schema; the root read succeeds while any
      // partition has data. The recorded meta schema answers without
      // any file listing/footer inference when stamped (r14 — it is
      // normalized to exactly what a parquet read presents).
      val schema = recordedSchema.getOrElse(Parquet.read(spark, path).schema)
      keys.map { k =>
        k -> (schema(k).dataType match {
          case _: NumericType => Some(col(k).cast("double"))
          case _: TimestampType | _: TimestampNTZType =>
            Some(unix_micros(col(k)).cast("double"))
          case _ => None
        })
      }.toMap
    }
    lazy val statsByPart: Map[String, org.apache.spark.sql.Row] = {
      val statCols = keys.flatMap(k => linearCol(k).map(c =>
        Seq(min(c).as(s"lo_$k"), max(c).as(s"hi_$k")))).flatten
      if (statCols.isEmpty) Map.empty
      else Parquet.read(spark, path)
        .groupBy(partKeyStr.as("p__"))
        .agg(statCols.head, statCols.tail: _*)
        .collect().map(r => r.getAs[String]("p__") -> r).toMap
    }
    // force the stats scan BEFORE any staging dir exists: it lists the
    // table root, and a concurrent partition job's .compacting dir
    // would land in its partition discovery
    if (clusterBy.nonEmpty && parts.nonEmpty) { val _ = (linearCol, statsByPart) }
    // Per-dir rewrite DECISION, driver-side (unchanged semantics: over
    // file budget, or clusterBy always; zero-row/stats-less partitions
    // skipped — a delete that emptied a dir has no stats row and
    // nothing to cluster).
    val decisions: List[(java.nio.file.Path, String, Int)] =
      parts.flatMap { dir =>
        val dataFiles = lsDir(dir).filter { f =>
          val n = f.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }
        val bytes = dataFiles.map(Files.size).sum
        val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        val partVal = dirToPartValue(dir)
        val statsOk = clusterBy.isEmpty || statsByPart.contains(partVal) ||
          keys.forall(k => linearCol(k).isEmpty)
        if ((dataFiles.length > nOut ||
            (clusterBy.nonEmpty && dataFiles.nonEmpty)) && statsOk)
          Some((dir, partVal, nOut))
        else None
      }
    if (decisions.isEmpty) return 0
    // the clusterBy fast path carries per-partition Morton bounds as
    // when-chains over the partition key — O(#dirs) expressions; cap the
    // chain so a many-thousand-directory table cannot blow up plan size
    // or codegen (beyond the cap the per-dir jobs are big enough that
    // job-scheduling overhead no longer dominates)
    val fastOk = decisions.forall(_._3 == 1) &&
      (clusterBy.isEmpty || decisions.size <= 256)
    if (fastOk) {
      // FAST PATH (r13 optimization, guide §1.2/§2.6): every rewritten
      // partition targets ONE output file — the steady-state shape
      // (fresh appends, date-grain dirs under the byte budget) — so the
      // whole rewrite is ONE staged partitionBy job + the per-dir
      // two-rename swaps, instead of a Spark job per directory (each of
      // which paid its own range-sampling pass). Per-file layout is
      // EXACT: hash repartition by the partition key + within-task sort
      // means each written file holds exactly its directory's rows in
      // key order (a subsequence of a sorted task is sorted), identical
      // to the per-dir rewrite. Per-partition Morton scaling arrives as
      // when-chain bounds columns (ZOrder.scaleCol — bit-identical
      // arithmetic to the literal form).
      val names = decisions.map(_._2).toSet
      val stage = root.resolve(s".compact-stage-${ProcessHandle.current.pid}")
      try {
        val base = Parquet.read(spark, path)
          .where(partKeyStr.isInCollection(names))
          .withColumn(partCol, col(partCol).cast("string"))
        val laid =
          // partCol first in both sorts — see append: the staged
          // partitionBy writer's own partition-column sort otherwise
          // eliminates the layout key's ordering entirely
          if (clusterBy.isEmpty)
            base.repartition(col(partCol))
              .sortWithinPartitions(col(partCol), col(spec.tsCol))
          else {
            // Per-partition Morton bounds arrive via ONE broadcast-
            // joined bounds table (r14, guide §1.2): the fold-built
            // when-chains this replaces made Catalyst analysis +
            // codegen time scale linearly in directory count —
            // measured ~3 s of DRIVER time at 31 dirs, more than the
            // write's own jobs — where a broadcast hash lookup is
            // constant plan size and O(1) per row. Values are
            // identical: the same lo/hi doubles reach the same
            // scaleCol arithmetic, just joined in instead of chained.
            // The join key is partKeyStr, which is coalesced non-null,
            // and every filtered row's partition is in `decisions`, so
            // the inner join drops nothing.
            val linKeys = keys.filter(k => linearCol(k).isDefined)
            val bSchema = StructType(
              org.apache.spark.sql.types.StructField("pb__",
                org.apache.spark.sql.types.StringType) +:
              linKeys.flatMap(k => Seq(
                org.apache.spark.sql.types.StructField(s"lo__$k",
                  org.apache.spark.sql.types.DoubleType),
                org.apache.spark.sql.types.StructField(s"hi__$k",
                  org.apache.spark.sql.types.DoubleType))))
            val bRows = decisions.map { case (_, pv, _) =>
              Row.fromSeq(pv +: linKeys.flatMap(k => Seq(
                statsByPart(pv).getAs[Double](s"lo_$k"),
                statsByPart(pv).getAs[Double](s"hi_$k"))))
            }
            import scala.jdk.CollectionConverters._
            val bounds = spark.createDataFrame(
              new java.util.ArrayList[Row](bRows.asJava), bSchema)
            val scaled = keys.map { k =>
              linearCol(k) match {
                case Some(c) =>
                  ZOrder.scaleCol(c, col(s"lo__$k"), col(s"hi__$k"))
                case None => ZOrder.bucket(col(k))
              }
            }
            val dataCols = base.columns.toSeq
            base.join(broadcast(bounds), partKeyStr === col("pb__"))
              .withColumn("z__", ZOrder.interleave(scaled))
              .select(dataCols.map(col) :+ col("z__"): _*)
              .repartition(col(partCol))
              .sortWithinPartitions(col(partCol), col("z__"))
              .drop("z__")
          }
        laid.write.mode("overwrite").partitionBy(partCol).parquet(stage.toString)
        decisions.foreach { case (dir, pv, _) =>
          val staged = stage.resolve(partValueToDirName(pv))
          val stagedMissing = !Files.exists(staged)
          val tmp = dir.resolveSibling(dir.getFileName.toString + ".compacting")
          if (stagedMissing) Files.createDirectories(tmp)
          else Files.move(staged, tmp)
          if (!Files.exists(tmp.resolve("_SUCCESS")))
            Files.createFile(tmp.resolve("_SUCCESS"))
          swapIn(dir, tmp)
          // a decision partition whose rows were all zero-row debris
          // stages NOTHING (a dynamic partitionBy write creates a dir
          // only for keys with rows): mirror stagedRewrite and drop the
          // emptied dir, or a data-file-less partition would linger and
          // break root schema inference if it were the table's only
          // partition (r14, ADVICE). Gated on the staged dir's absence
          // so the steady-state swap never pays a per-partition footer
          // read — staged-present implies >= 1 row.
          if (stagedMissing) dropIfEmptied(dir)
        }
      } finally if (Files.exists(stage)) rmTree(stage)
      decisions.size
    } else {
      // general path: per-dir range split into nOut sized files —
      // unchanged, dispatched concurrently
      import scala.concurrent.{ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.global
      val jobs = decisions.map { case (dir, partVal, nOut) => Future {
        val tmp = dir.resolveSibling(dir.getFileName.toString + ".compacting")
        val base = Parquet.read(spark, dir.toString)
        val laid =
          if (clusterBy.isEmpty)
            base.repartitionByRange(nOut, col(spec.tsCol))
              .sortWithinPartitions(col(spec.tsCol))
          else {
            // Morton key: numeric/ts keys min-max scaled per partition
            // (from the precomputed stats), strings hash-bucketed; one
            // key drives both the range split and the within-file sort.
            val stats = statsByPart.get(partVal).orNull
            val scaled = keys.map { k =>
              linearCol(k) match {
                case Some(c) => ZOrder.scale(c,
                  stats.getAs[Double](s"lo_$k"), stats.getAs[Double](s"hi_$k"))
                case None => ZOrder.bucket(col(k))
              }
            }
            // ts least significant, clusterBy columns most significant
            base.withColumn("z__", ZOrder.interleave(scaled))
              .repartitionByRange(nOut, col("z__"))
              .sortWithinPartitions(col("z__"))
              .drop("z__")
          }
        laid.write.mode("overwrite").parquet(tmp.toString)
        swapIn(dir, tmp) // staging fully written before any rename
      }}
      ZTable.awaitAll(jobs)
      decisions.size
    }
  }

  /** Copy-on-write delete: remove every row matching `pred`, rewriting
    * ONLY the partition directories that contain matches — the takedown
    * / right-to-be-forgotten primitive a training-data store needs.
    *
    * Scale shape: the probe is ONE `pred`-filtered count over the table,
    * so parquet pushdown + row-group stats bound it (a partition with no
    * candidate row groups reads only footers); untouched partitions are
    * never rewritten; affected ones rewrite once, ts-sorted, preserving
    * the scan layout — all of them in ONE staged partitionBy job
    * ([[stagedRewrite]]), never a job per directory. Returns the number
    * of rows deleted. */
  def deleteWhere(pred: org.apache.spark.sql.Column): Long = mutate {
    val root = Paths.get(path)
    if (!Files.exists(root)) return 0L
    recoverSwaps()
    val parts = lsDir(root).filter(d => Files.isDirectory(d) &&
      d.getFileName.toString.startsWith(partCol + "="))
    if (parts.isEmpty) return 0L
    // ONE probe job over the whole table (pred pushdown + row-group
    // stats still bound it) instead of date-grain-many tiny count jobs
    val hitsByPart: Map[String, Long] = Parquet.read(spark, path)
      .where(pred)
      .groupBy(partKeyStr.as("p__"))
      .count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val affected = parts.filter(d => hitsByPart.contains(dirToPartValue(d)))
    stagedRewrite(affected,
      Parquet.read(spark, path).where(!coalesce(pred, lit(false))))
    hitsByPart.values.sum
  }

  /** ONE staged rewrite job for every affected partition dir (r13
    * optimization, guide §1.2/§2.6): the surviving rows of ALL affected
    * partitions are written by a single partitionBy job into a
    * dot-prefixed stage root (invisible to scans; swept by
    * [[recoverSwaps]] if orphaned), then each affected dir goes through
    * the same two-rename [[swapIn]] protocol as before. The old shape
    * dispatched one Spark job per affected directory — date-grain-many
    * scheduling round trips per delete — where one job moves the same
    * bytes; the swap/crash story is unchanged (stage commits fully
    * before the first rename; each moved half is _SUCCESS-marked so a
    * mid-swap crash still rolls forward). File contract unchanged: one
    * ts-sorted file per rewritten partition; a fully-drained partition
    * stages empty and is dropped by [[dropIfEmptied]] after its swap. */
  private def stagedRewrite(affected: List[java.nio.file.Path],
      survivors: DataFrame): Unit = {
    if (affected.isEmpty) return
    dropStamp() // removing rows may lower the table's max ts
    val affectedNames = affected.map(dirToPartValue).toSet
    val stage = Paths.get(path)
      .resolve(s".delete-stage-${ProcessHandle.current.pid}")
    try {
      survivors
        .where(partKeyStr.isInCollection(affectedNames))
        // discovery infers a VOID partition column when ONLY the
        // null-key partition exists — normalize to string so the
        // staged partitionBy write accepts it (null still lands in
        // the hive-default dir)
        .withColumn(partCol, col(partCol).cast("string"))
        .repartition(col(partCol))
        // partCol first — see append: the staged writer's own sort
        // otherwise eliminates the ts ordering inside the files
        .sortWithinPartitions(col(partCol), col(spec.tsCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(stage.toString)
      affected.foreach { dir =>
        val staged = stage.resolve(partValueToDirName(dirToPartValue(dir)))
        val stagedMissing = !Files.exists(staged)
        val tmp = dir.resolveSibling(dir.getFileName.toString + ".deleting")
        if (stagedMissing) Files.createDirectories(tmp) // fully drained
        else Files.move(staged, tmp)
        // the staged write committed before any swap began — mark the
        // moved half complete so recovery rolls a mid-swap crash
        // forward (the retired per-dir jobs got this from their commit)
        if (!Files.exists(tmp.resolve("_SUCCESS")))
          Files.createFile(tmp.resolve("_SUCCESS"))
        swapIn(dir, tmp)
        // gated on the staged dir's absence (r14): a dynamic
        // partitionBy write creates a dir only for keys with rows, so
        // staged-present implies survivors and the per-partition
        // footer-read row-count check is skipped on the steady path
        if (stagedMissing) dropIfEmptied(dir)
      }
    } finally if (Files.exists(stage)) rmTree(stage)
  }

  /** Copy-on-write deletion by KEY LIST — the GDPR/right-to-be-
    * forgotten request as it actually arrives: "remove every row for
    * THESE ids", where the ids come from another table/query, not a
    * predicate. [[deleteWhere]]'s machinery with the probe and rewrite
    * swapped to joins: the probe is a left_semi against the distinct
    * key set (planner picks broadcast for the typical bounded request
    * list, shuffled-hash beyond it — no forced hint, the dq4 lesson),
    * the rewrite a left_anti; ONLY partitions holding a matching key
    * rewrite, once, ts-sorted, all in ONE staged job ([[stagedRewrite]]).
    * The key projection is cached for the duration (the probe and
    * the staged rewrite both read it) and released before returning.
    * Returns rows deleted. */
  def deleteMatching(keys: org.apache.spark.sql.DataFrame,
      keyCol: String): Long = mutate {
    val root = Paths.get(path)
    if (!Files.exists(root)) return 0L
    recoverSwaps()
    val parts = lsDir(root).filter(d => Files.isDirectory(d) &&
      d.getFileName.toString.startsWith(partCol + "="))
    if (parts.isEmpty) return 0L
    Pins.scope {
      val k = Pins.cache(keys.select(col(keyCol)).distinct())
      val hitsByPart: Map[String, Long] = Parquet.read(spark, path)
        .join(k, Seq(keyCol), "left_semi")
        .groupBy(partKeyStr.as("p__"))
        .count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val affected = parts.filter(d => hitsByPart.contains(dirToPartValue(d)))
      stagedRewrite(affected,
        Parquet.read(spark, path).join(k, Seq(keyCol), "left_anti"))
      hitsByPart.values.sum
    }
  }

  /** MERGE (copy-on-write upsert): every table row whose key matches a
    * source row is replaced by the source version; source rows with no
    * current match are inserted. The other half of the mutation story
    * next to [[deleteWhere]] — corrections, re-scored quality columns,
    * late restatements.
    *
    * Scale shape: phase 1 drops current versions of matched keys with
    * one probe (semi-join against the distinct source keys) + ONE
    * staged rewrite job covering every affected partition (source half
    * unioned with the anti-join survivors, split back into its
    * directories by the partitionBy write — stagedRewrite's shape);
    * partitions with no matched key are never rewritten,
    * and the key set is delta-sized (broadcast when small, AQE picks a
    * shuffle join when not — never a nested loop, keys are equi).
    * Phase 2 writes all source rows into their ts-derived partitions in
    * one pass, sorted within files like [[append]]. Strict ordering is
    * deliberately bypassed: an upsert into history is out-of-order by
    * nature, same class as [[compact]]/[[deleteWhere]] maintenance.
    * Returns (replacedRows, writtenRows). */
  def merge(source: DataFrame, keyCols: Seq[String]): (Long, Long) = mutate { Pins.scope {
    val root = Paths.get(path)
    // recover any crashed earlier rewrite (see [[recoverSwaps]]); the
    // swap below is the shared two-rename [[swapIn]] protocol
    recoverSwaps()
    dropStamp() // replaced rows may have held the table's first/last ts
    val parts =
      if (!Files.exists(root)) Nil
      else lsDir(root).filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith(partCol + "="))
    // Align the source to the TABLE schema BEFORE anything is written:
    // the staged source half and the appended anti-join half land in
    // the SAME directory, and two writers with drifted schemas would
    // commit mixed-schema files that later reads resolve arbitrarily
    // per-file. The retired unionByName formulation coerced (or failed
    // at analysis) — this keeps that contract explicitly: identical
    // column SET required, types cast to the table's.
    val aligned = {
      val floored = floorResolution(source)
      // DATA columns only: on a partitioned layout the inferred schema
      // carries the partition column (partCol), which sources never do.
      // FILES are authoritative when any exist: append never validates
      // against the recorded schema, so file types may legitimately
      // drift after the stamp (e.g. v appended as long after being
      // recorded as double) — casting sources to a stale recorded type
      // would write staged files that disagree with every data file
      // beside them. The recorded meta schema is the fallback for an
      // EMPTIED table (no data files, nothing to infer from), where it
      // is the only schema there is.
      val tFieldsOpt =
        if (hasData) Some(Parquet.read(spark, path).schema.fields
          .filterNot(_.name == partCol).toIndexedSeq)
        else recordedSchema.map(_.fields.toIndexedSeq)
      tFieldsOpt match {
        case None => floored
        case Some(tFields) =>
          require(tFields.map(_.name).sorted.sameElements(floored.columns.sorted),
            s"merge: source columns [${floored.columns.sorted.mkString(",")}] " +
            s"differ from table columns [${tFields.map(_.name).sorted.mkString(",")}]")
          floored.select(tFields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
      }
    }
    // one source materialization: the delta is re-read for the probe,
    // per affected-partition rewrite, and the final write
    val src = Pins.cache(aligned)
    // the key set is cached too ([[deleteMatching]]'s discipline —
    // merge originally skipped it): every affected partition's rewrite
    // job broadcasts srcKeys, and without the pin each of those
    // CONCURRENT jobs re-runs the distinct over all of src's partitions
    // — measured 20 s vs 2 s on a 31-partition merge whose delta came
    // in 64 partitions (the cost scales as affected × srcPartitions
    // tasks, invisible when the delta is a narrow scan)
    val srcKeys = Pins.cache(src.select(keyCols.map(col): _*).distinct())
    val stage = root.resolve(s".merge-stage-${ProcessHandle.current.pid}")
    try {
    // ONE probe job over the whole table finds every affected partition
    // and its hit count (a per-directory probe would launch
    // date-grain-many tiny join jobs)
    val hitsByPart: Map[String, Long] =
      if (parts.isEmpty) Map.empty
      else Parquet.read(spark, path)
        .join(srcKeys, keyCols, "left_semi")
        .groupBy(partKeyStr.as("p__"))
        .count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Each affected partition's staging dir carries BOTH halves —
    // surviving old rows (anti-join) AND this partition's source rows —
    // so the two-rename swap is the only mutation and a crash at any
    // point leaves a complete copy under exactly one name (see the
    // recovery sweep above). The insert pass below then only touches
    // partitions with no matched key, where a plain additive append
    // cannot lose anything.
    val affected = parts.filter(d => hitsByPart.contains(dirToPartValue(d)))
    val affectedNames = affected.map(dirToPartValue).toSet
    // BOTH halves of every staging dir come from ONE partitionBy job
    // (r13 optimization, guide §1.2/§2.6 — stagedRewrite's shape): the
    // source half unioned with the affected partitions' anti-join
    // survivors, repartitioned by the partition key and ts-sorted, into
    // the dot-prefixed stage root (invisible to scans, swept by
    // recoverSwaps if orphaned). The retired shape wrote the source
    // half up front but still dispatched one anti-join append JOB per
    // affected directory — date-grain-many scheduling round trips; the
    // union moves the same bytes in one job, and each staged dir is now
    // one globally ts-sorted file instead of two half-sorted ones.
    if (affected.nonEmpty)
      withPartCol(src)
        .where(partKeyStr.isInCollection(affectedNames))
        .unionByName(Parquet.read(spark, path)
          .where(partKeyStr.isInCollection(affectedNames))
          .join(srcKeys, keyCols, "left_anti"))
        .repartition(col(partCol))
        .sortWithinPartitions(col(partCol), col(spec.tsCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(stage.toString)
    val replaced = new java.util.concurrent.atomic.AtomicLong(0L)
    affected.foreach { dir =>
      val pval = dirToPartValue(dir)
      val tmp = dir.resolveSibling(dir.getFileName.toString + ".merging")
      val staged = stage.resolve(partValueToDirName(pval))
      // absent = fully drained: every old row matched and every
      // replacement's ts moved it to another partition
      if (Files.exists(staged)) Files.move(staged, tmp)
      else Files.createDirectories(tmp)
      // the staged write committed before any swap began — mark the
      // moved half complete so recovery rolls a mid-swap crash forward
      if (!Files.exists(tmp.resolve("_SUCCESS")))
        Files.createFile(tmp.resolve("_SUCCESS"))
      swapIn(dir, tmp)
      dropIfEmptied(dir)
      replaced.addAndGet(hitsByPart(pval))
    }
    val written = src.count()
    // partKeyStr, not a raw (nullable) cast: a null-ts source row —
    // legal under strictOrder = false — must land in the hive-default
    // partition like an append would, not vanish from BOTH filters
    val remainder = withPartCol(src)
      .where(!partKeyStr.isInCollection(
        if (affectedNames.isEmpty) Set("") else affectedNames))
    remainder
      .repartition(col(partCol))
      .sortWithinPartitions(col(partCol), col(spec.tsCol))
      .write.mode("append").partitionBy(partCol).parquet(path)
    recordSchemaIfMissing(src.schema)
    (replaced.get, written)
    } finally {
      // the stage root must not outlive a failed merge, or the next op's
      // sweep finds it (Pins.scope frees the two caches either way)
      if (Files.exists(stage)) rmTree(stage)
    }
  }}

  private[sources] def writeMeta(schemaJson: Option[String] = None): Unit = {
    // field order is NOT a contract: recordedSchema/open parse the
    // document with jackson, so meta may grow fields in any position
    val json =
      s"""{"tsCol":"${spec.tsCol}","partitionBy":"${spec.partitionBy.name}",""" +
      s""""resolutionMicros":${spec.resolutionMicros.getOrElse(0L)},""" +
      s""""strictOrder":${spec.strictOrder}""" +
      schemaJson.map(s => s""","schema":$s""").getOrElse("") + "}"
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, "_meta.json"), json,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }
}

object ZTable {

  /** Await EVERY concurrent write job — even after one fails — and
    * only then propagate the first failure (compact's per-partition
    * rewrites, JoinView's two accumulation writes). A fail-fast
    * `Await(Future.sequence)` returns (and `mutate` releases the table
    * locks) while sibling Futures are still writing and swapping;
    * another process's entry recovery would then sweep their live
    * staging dirs as debris mid-write. */
  private[graft] def awaitAll[T](jobs: Seq[scala.concurrent.Future[T]])(
      implicit ec: scala.concurrent.ExecutionContext): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val settled = Await.result(
      Future.sequence(jobs.map(_.transform(t => scala.util.Success(t)))),
      Duration.Inf)
    settled.foreach(_.get)
  }

  /** Shared meta-sidecar parser — jackson is thread-safe for read once
    * configured, and already on Spark's classpath. */
  private[sources] val metaMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** Hidden sidecar holding the table's first/last ts. */
  private[graft] val TsBoundsFile = "_ts_bounds.json"

  /** A table's `[lo, hi]` ts in epoch µs — the analog of the reference's
    * per-partition first/last ts in `_meta` (`src/table/meta.rs:25-67`).
    * `lo > hi` ([[TsBounds.Empty]]) is a table with no non-null ts, so
    * `++` (min of the los, max of the his) needs no special case. */
  private[sources] final case class TsBounds(lo: Long, hi: Long) {
    def isEmpty: Boolean = lo > hi
    def ++(o: TsBounds): TsBounds = TsBounds(math.min(lo, o.lo), math.max(hi, o.hi))
    private def ts(us: Long) =
      if (isEmpty) null
      else org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(us)
    def first: java.sql.Timestamp = ts(lo)
    def last: java.sql.Timestamp = ts(hi)
  }
  private[sources] object TsBounds {
    val Empty = TsBounds(Long.MaxValue, Long.MinValue)
    /** From a (min, max) row, null when no ts was seen. */
    def of(r: Row): TsBounds =
      if (r.isNullAt(0) || r.isNullAt(1)) Empty else TsBounds(r.getLong(0), r.getLong(1))
  }

  /** Create (meta file is table existence, reference `src/table/mod.rs:54-56`).
    * With a schema, it is recorded in `_meta.json` up front — like the
    * reference, whose create takes the column schema
    * (`src/schema.rs:79-139`) — so the table is readable before its
    * first append; without one, the first successful append/merge
    * stamps it. Creating where a table already EXISTS refuses: the
    * reference treats `_meta` existence as table existence, and a
    * silent meta rewrite would drop a previously recorded schema
    * (durably regressing an emptied table to the 0-column degraded
    * state). Callers that want idempotence use [[createOrOpen]]. */
  def create(spark: SparkSession, path: String, spec: ZTableSpec,
      schema: Option[StructType] = None): ZTable = {
    require(!Files.exists(Paths.get(path, "_meta.json")),
      s"ZTable already exists at $path (_meta.json is table existence); " +
      "use ZTable.open or ZTable.createOrOpen")
    val t = new ZTable(spark, path, spec)
    t.writeMeta(schema.map(s => t.normalizeSchema(s).json))
    t
  }

  def open(spark: SparkSession, path: String): ZTable = {
    val metaPath = Paths.get(path, "_meta.json")
    require(Files.exists(metaPath), s"no such ZTable: $path")
    val node = metaMapper.readTree(Files.readString(metaPath))
    def str(k: String) = Option(node.get(k)).filter(_.isTextual).map(_.asText)
    def num(k: String) = Option(node.get(k)).filter(_.isNumber).map(_.asLong)
    val spec = ZTableSpec(
      tsCol = str("tsCol").getOrElse("ts"),
      partitionBy = ZPartitionBy.of(str("partitionBy").getOrElse("day")),
      resolutionMicros = num("resolutionMicros").filter(_ > 0),
      strictOrder = Option(node.get("strictOrder")).exists(_.asBoolean(false)))
    new ZTable(spark, path, spec)
  }

  def createOrOpen(spark: SparkSession, path: String, spec: ZTableSpec): ZTable =
    if (Files.exists(Paths.get(path, "_meta.json"))) open(spark, path)
    else create(spark, path, spec)

  /** JVM-wide per-path mutation locks — two ZTable instances over the
    * same directory (e.g. a streaming ingest and an ad-hoc compact)
    * must share one monitor, so the lock is keyed by normalized path,
    * not held per instance. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def lockFor(path: String): Object =
    locks.computeIfAbsent(
      Paths.get(path).toAbsolutePath.normalize.toString, _ => new Object)

  /** Paths whose cross-process `_lock` this JVM currently holds — makes
    * [[ZTable.mutate]] reentrant (a mutation that triggers another
    * mutation on the same table must not re-lock the channel: the JVM
    * would throw OverlappingFileLockException). Only read/written under
    * the path's monitor, so a plain set suffices. */
  private[sources] val processLocksHeld =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
