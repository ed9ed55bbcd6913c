package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.sources.{Parquet, ZPartitionBy, ZTableSpec}

/** Event-stream row shape (mirrors the `events` test table). */
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Per-key running aggregate emitted by the stateful fold. */
case class RunningTotal(key: String, n: Long, sumCents: Long) {
  def sum: Double = sumCents / 100.0
}

/** A purchase enriched with the latest click known for its user. */
case class AsOfEnriched(event_id: Long, ts: Timestamp, user_id: Long,
    value: Double, click_ts: Option[Timestamp], click_value: Option[Double])

/** Structured-Streaming ingest — the reference's write path re-expressed
  * (SURVEY.md §2.9): append-only, time-partitioned, resolution-floored,
  * with its panic-on-out-of-order (`src/table/write.rs:79-85`) turned
  * into a configurable stateful drop (strict mode) because a distributed
  * stream cannot crash the writer per late row.
  *
  * Scale: the parquet sink writes `partitionBy(p_date)` so each
  * micro-batch appends to date dirs exactly like the batch ZTable;
  * stateful ops are keyed (per-symbol state, hash-distributed), and
  * windowed aggs carry watermarks so state is bounded.
  */
object Ingest {

  /** Continuous ingest of an event stream into a ZTable-layout directory.
    * Resolution flooring matches ZTable.append. */
  def ingestStream(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      spec: ZTableSpec = ZTableSpec()): StreamingQuery = {
    val floored = spec.resolutionMicros match {
      case Some(res) => stream.withColumn(spec.tsCol,
        timestamp_micros((unix_micros(col(spec.tsCol)) / res).cast("long") * res))
      case None => stream
    }
    val withPart = spec.partitionBy.fmt match {
      case Some(f) => floored.withColumn("p_date", date_format(col(spec.tsCol), f))
      case None    => floored.withColumn("p_date", lit("all"))
    }
    withPart.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("p_date")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Exactly-once streaming ingest THROUGH the ZTable facade. The plain
    * file sink above is already exactly-once via its own metadata log,
    * but it bypasses ZTable semantics; going through [[graft.sources
    * .ZTable.append]] preserves resolution flooring, strict-order
    * rejection, and the meta sidecar — and `append` is NOT idempotent,
    * so a micro-batch replayed after a failure (Spark reprocesses the
    * last uncommitted batch on restart) would double its rows. The
    * batch-id high-water mark in the table directory closes that window:
    * replays of already-landed batches are skipped. Mark persistence is
    * one tiny driver-side file per batch — no data-path cost. */
  def ingestZTable(
      stream: DataFrame,
      tablePath: String,
      checkpoint: String,
      spec: ZTableSpec = ZTableSpec()): StreamingQuery = {
    val table = graft.sources.ZTable.createOrOpen(
      stream.sparkSession, tablePath, spec)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        appendBatchIdempotent(table, df, batchId)
      }
      .start()
  }

  /** Append `df` as micro-batch `batchId` unless that batch already
    * landed (exposed for direct testing of the replay path). */
  def appendBatchIdempotent(table: graft.sources.ZTable,
      df: DataFrame, batchId: Long): Unit = {
    val mark = java.nio.file.Paths.get(table.path, "_last_stream_batch")
    if (batchId > readMark(mark)) {
      table.append(df)
      commitMark(mark, batchId)
    }
  }

  /** The last landed batch id, -1 before the first. */
  private def readMark(mark: java.nio.file.Path): Long =
    if (java.nio.file.Files.exists(mark))
      java.nio.file.Files.readString(mark).trim.toLong
    else -1L

  /** Write-then-rename: an in-place truncate+write crashing midway
    * leaves an unparseable mark that wedges every later batch. The
    * `.tmp` keeps the mark's leading underscore, so a leftover one is
    * hidden from parquet reads of the directory. */
  private def commitMark(mark: java.nio.file.Path, batchId: Long): Unit = {
    val tmp = mark.resolveSibling(mark.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, batchId.toString)
    java.nio.file.Files.move(tmp, mark,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Exactly-once streaming sink writing the REFERENCE'S NATIVE FORMAT:
    * each micro-batch appends its own `block-b<batchId>-*` dirs (the
    * reference's partition rollover, one fsynced block per burst), and
    * a batch-id high-water mark skips replays — so a restarted query
    * never double-writes a block. Micro-batches accumulate small
    * blocks; `GraftNative.compactBlocks` merges them (the lifecycle
    * pair, same as ZTable compact after streaming appends). */
  def ingestNative(stream: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        appendNativeIdempotent(dir, df, batchId)
      }
      .start()

  /** Append `df` as native blocks for micro-batch `batchId` unless that
    * batch already landed (exposed for direct replay testing).
    * Timestamp columns store as i64 EPOCH NANOS — the reference's
    * Timestamp type IS an i64 nanos column (ref src/schema.rs:7,
    * SURVEY §1.2); readers reconstruct with
    * `timestamp_micros(ts div 1000)` exactly like s6. */
  def appendNativeIdempotent(dir: String, df: DataFrame, batchId: Long): Unit = {
    val mark = java.nio.file.Paths.get(dir, graft.sources.GraftNative.StreamMarkFile)
    val last = graft.sources.GraftNative.streamMark(dir)
    if (batchId > last) {
      // a crash can land between per-partition block writes and the
      // high-water-mark write; a replay may also plan FEWER partitions
      // than the failed attempt, which would orphan the higher-pid
      // blocks next to the replay's. Clearing this batch's blocks first
      // makes the replay fully supersede any partial attempt.
      val prefix = f"block-b$batchId%06d-"
      val dirP = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(dirP))
        graft.sources.GraftNative.listBlockDirs(dir)
          .filter(_.getFileName.toString.startsWith(prefix))
          .foreach(graft.sources.GraftNative.deleteBlockDir)
      val compat = df.schema.fields.foldLeft(df) { (d, f) =>
        f.dataType match {
          case org.apache.spark.sql.types.TimestampType =>
            d.withColumn(f.name, unix_micros(col(f.name)) * lit(1000L))
          case _ => d
        }
      }
      graft.sources.GraftNative.append(compat, dir, tag = f"b$batchId%06d-")
      commitMark(mark, batchId)
    }
  }

  /** Exactly-once streaming MAINTENANCE OF A PERSISTED IVF-PQ INDEX —
    * the serving-freshness loop: new embeddings arrive as a stream, each
    * micro-batch is assigned + PQ-encoded from the index's PERSISTED
    * sidecars (centroids/codebooks never retrain — IvfIndex.appendPq's
    * serving contract) and committed into the cell partitions. Searches
    * against the index see every ingested vector without a rebuild.
    *
    * Exactly-once protocol (the parquet twin of [[appendNativeIdempotent]]):
    * a bare `appendPq` inside foreachBatch would duplicate rows when a
    * batch replays after a crash between job-commit and mark-write.
    * Instead the batch stages to a scratch dir, then each data file is
    * RENAMED into its cell directory under a `b<batchId>-` prefix; a
    * replay first deletes this batch's prefixed files (superseding any
    * partial attempt — including one that committed but never marked),
    * re-stages, and re-moves. The batch-id high-water mark then skips
    * fully-landed batches, and the mark itself commits by
    * write-then-rename. */
  def ingestIvfPq(stream: DataFrame, idCol: String, vecCol: String,
      indexPath: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        appendPqIdempotent(df, idCol, vecCol, indexPath, batchId)
      }
      .start()

  /** One micro-batch of [[ingestIvfPq]] (exposed for direct replay
    * testing). */
  def appendPqIdempotent(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String, batchId: Long): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(indexPath)
    val mark = root.resolve("_last_stream_batch")
    if (batchId <= readMark(mark)) return
    val tag = f"b$batchId%06d-"
    def ls(p: java.nio.file.Path) = {
      val s = Files.list(p)
      try s.iterator.asScala.toList finally s.close()
    }
    // supersede any partial earlier attempt of THIS batch
    ls(root).filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith("cell="))
      .foreach(cd => ls(cd)
        .filter(_.getFileName.toString.startsWith(tag))
        .foreach(Files.delete))
    // stage with the index's own encoder, then rename files in
    val stage = Files.createTempDirectory("ivfpq_stage_").resolve("out")
    graft.operators.IvfIndex.encodePq(df, idCol, vecCol, indexPath)
      .write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
    ls(stage).filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith("cell="))
      .foreach { cd =>
        val dest = root.resolve(cd.getFileName.toString)
        Files.createDirectories(dest)
        ls(cd).filter { f =>
          val n = f.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }.foreach(f =>
          Files.move(f, dest.resolve(tag + f.getFileName.toString)))
      }
    commitMark(mark, batchId)
  }

  /** Streaming OHLCV bars: tumbling window per symbol with a watermark
    * bounding state; open/close via min_by/max_by on the sequence id. */
  def streamingOhlcv(stream: DataFrame, barWidth: String = "1 minute",
      lateness: String = "10 seconds"): DataFrame =
    stream
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), barWidth), col("event_type"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"))

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks within the trailing window. Watermarks on BOTH sides
    * + the time-bound condition let Spark expire join state — without
    * them a stream-stream join buffers forever. The streaming face of
    * the as-of/range join family. */
  def streamStreamJoin(purchases: DataFrame, clicks: DataFrame,
      within: String = "10 minutes", lateness: String = "1 minute"): DataFrame = {
    val p = purchases.withWatermark("ts", lateness)
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id"), col("value").as("p_value"))
    val c = clicks.withWatermark("ts", lateness)
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user"), col("value").as("c_value"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $within") &&
        col("c_ts") <= col("p_ts"))
      .drop("c_user")
  }

  /** Strict-order enforcement: per-key monotonic filter via keyed state —
    * the streaming analog of the reference's out-of-order panic. Rows
    * with ts earlier than the key's high-water mark are DROPPED (the
    * reference would have crashed the writer). */
  def enforceOrder(ds: Dataset[Event]): Dataset[Event] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, Event](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Event], state: GroupState[Long]) =>
          // True streaming: rows are filtered lazily (no per-group
          // materialization — a hot key no longer buffers its whole
          // micro-batch in executor memory) and the high-water mark is
          // committed once the group's iterator is exhausted, which is
          // before Spark snapshots the state store for the group.
          var hwm = state.getOption.getOrElse(Long.MinValue)
          val kept = rows.filter { e =>
            val t = e.ts.getTime
            if (t >= hwm) { hwm = t; true } else false
          }
          kept ++ { state.update(hwm); Iterator.empty }
      }
  }

  /** Session windows: activity sessions per user closed by a gap — the
    * session_window built-in with watermark-bounded state. */
  def sessionize(stream: DataFrame, gap: String = "5 minutes",
      lateness: String = "10 seconds"): DataFrame =
    stream
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup within the watermark horizon — the streaming
    * face of the dedup family (state bounded by the watermark, so this
    * scales to unbounded streams unlike a global dropDuplicates). */
  def dedupStream(stream: DataFrame, keyCols: Seq[String],
      lateness: String = "10 seconds"): DataFrame =
    stream
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming as-of join: purchases enriched with each user's LATEST
    * click — the streaming face of j6/j8 (live trade↔quote enrichment in
    * the reference's domain). Keyed state holds one (ts, value) pair per
    * user: O(keys) CROSS-batch memory. Within a micro-batch rows are
    * sorted to (ts, event_id) order so intra-batch ordering is exact —
    * that sort materializes one (user, micro-batch) group at a time, so
    * per-task memory is bounded by the hottest key's rate × the trigger
    * interval (size the trigger for the hottest key; Spark's grouped
    * iterator gives no order guarantee, so an exact as-of cannot stream
    * a group without this buffer). Clicks arriving in a LATER batch than
    * a purchase they precede are not retroactively applied (bound that
    * skew upstream with a watermark + trigger interval, or use the batch
    * as-of for backfill). */
  def asofStream(ds: Dataset[Event]): Dataset[AsOfEnriched] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), AsOfEnriched](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[(Long, Double)]) =>
          var last = state.getOption
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).flatMap {
            case e if e.event_type == "click" =>
              if (last.forall(_._1 <= e.ts.getTime))
                last = Some((e.ts.getTime, e.value))
              Nil
            case e if e.event_type == "purchase" =>
              Seq(AsOfEnriched(e.event_id, e.ts, user, e.value,
                last.map(t => new Timestamp(t._1)), last.map(_._2)))
            case _ => Nil
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Per-key running totals — the "user state carried across batches"
    * shape of the reference's Julia folds (`src/server/query.rs:215-227`),
    * exact via cents accumulation. */
  def runningTotals(ds: Dataset[Event]): Dataset[RunningTotal] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long), RunningTotal](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Event], state: GroupState[(Long, Long)]) =>
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { e => n += 1; cents += math.round(e.value * 100) }
          state.update((n, cents))
          Iterator.single(RunningTotal(key, n, cents))
      }
  }

  /** Streaming EWMA — the recursive per-series fold (operators.TimeSeries)
    * carried ACROSS micro-batches: state is one (lastTs, lastEwma) pair
    * per live series, each batch's rows fold in (ts, event_id) order on
    * top of it. The streaming twin of TimeSeries.ewma: same recurrence,
    * same O(1)-per-series state, arriving incrementally;
    * StreamingSpec gates batch/stream parity on a replayed stream.
    * Within-batch order is restored by a sort (grouped iterators carry
    * no order guarantee), so per-task memory is bounded by the hottest
    * series' rate × the trigger interval — same bound as asofStream;
    * rows late across BATCH boundaries are dropped (strict-order
    * ingest semantics, same as enforceOrder). */
  def ewmaStream(ds: Dataset[Event], alpha: Double = 0.25): Dataset[(Long, Long, Double)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val beta = 1.0 - alpha
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[(Long, Double)]) =>
          var st = state.getOption
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            st match {
              case Some((lastTs, _)) if e.ts.getTime < lastTs =>
                Nil // late across batches: strict-order drop
              case Some((_, y)) =>
                st = Some((e.ts.getTime, alpha * e.value + beta * y))
                Seq((user, e.event_id, st.get._2))
              case None =>
                st = Some((e.ts.getTime, e.value))
                Seq((user, e.event_id, e.value))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** KEYLESS stream-stream interval join — points (purchases) matched
    * into incident windows from another stream with NO shared key.
    * Spark requires an equi condition on stream-stream joins; the
    * fragment-join bucket id (operators.Intervals' trick) MANUFACTURES
    * one: windows explode into the time buckets they span, points carry
    * their single bucket, and the join is an ordinary watermarked
    * stream-stream equi join whose event-time range condition
    * (`p_ts BETWEEN w_start AND w_start + len`) lets Spark expire state.
    * StreamingSpec gates parity with the batch fragment join. */
  def incidentJoinStream(points: DataFrame, incidents: DataFrame,
      windowLenMicros: Long = 600000000L, bucketMicros: Long = 600000000L,
      lateness: String = "10 seconds"): DataFrame = {
    require(windowLenMicros % 1000000L == 0,
      "windowLenMicros must be whole seconds (interval literal)")
    val lenExpr = s"INTERVAL ${windowLenMicros / 1000000L} SECONDS"
    val p = points.withWatermark("ts", lateness)
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        floor(unix_micros(col("ts")) / lit(bucketMicros)).as("pb"))
    val w = incidents.withWatermark("ts", lateness)
      .select(col("event_id").as("incident_id"), col("ts").as("w_start"))
      .withColumn("wb", explode(sequence(
        floor(unix_micros(col("w_start")) / lit(bucketMicros)),
        floor((unix_micros(col("w_start")) + lit(windowLenMicros)) / lit(bucketMicros)))))
    p.join(w,
      col("pb") === col("wb") &&
        col("p_ts") >= col("w_start") &&
        col("p_ts") <= col("w_start") + expr(lenExpr))
      .select(col("p_id"), col("incident_id"), col("p_ts"), col("w_start"))
  }

  /** Stream-static dimension enrichment: the most common production
    * streaming join — events against a slowly-changing dimension table.
    * The static side BROADCASTS per micro-batch (re-resolved each batch,
    * so a refreshed dimension file is picked up without restarting the
    * query); no streaming state, no watermark — unlike stream-stream
    * joins this is stateless by construction and scales with the
    * dimension's broadcast size only. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming curation: the pipe1/pipe5 document-quality + PII-scrub
    * signals applied to a LIVE document stream. Every signal is a
    * stateless per-row expression (token count, quality score,
    * duplicated-3-gram repetition, digit-run redaction), so the stream
    * face is the batch plan verbatim — no state, no watermark, no
    * shuffle; curation keeps up with ingest at any rate because each
    * micro-batch is one map. StreamingSpec gates batch/stream parity row
    * by row. */
  def curateStream(docs: DataFrame, minTokens: Int = 20,
      minQuality: Double = 0.5): DataFrame = {
    import graft.functions.Text
    docs
      .select(col("doc_id"), col("text"),
        Text.nTokens(col("text")).cast("long").as("n_tokens"),
        Text.qualityScore(col("text")).as("quality"),
        graft.plans.TextOps.repetitionStats(
          regexp_extract_all(col("text"), lit("\\S+"), lit(0)), 3).as("r"))
      .where(col("n_tokens") >= minTokens && col("quality") >= minQuality &&
        (col("r.n_grams") - col("r.n_distinct")) * 10 <= col("r.n_grams"))
      .select(col("doc_id"), col("n_tokens"), round(col("quality"), 6).as("quality_r"),
        regexp_replace(col("text"), "[0-9]+", "[NUM]").as("text_clean"))
  }

  /** One micro-batch of the cross-batch STREAMING near-dup filter — the
    * incremental twin of [[graft.operators.Dedup.minhashFilter]]. A doc
    * is dropped iff some LSH band pairs it with an EARLIER doc (any
    * previous batch, or a smaller id within this batch) whose
    * signature-estimated Jaccard reaches tauNum/tauDen.
    *
    * State lives in a PARQUET TABLE of band rows, not the executor
    * state store: at 100 TB the corpus's signatures don't fit
    * stateful-operator memory, and a (band, bhash)-hashed table gives
    * the same join locality with spill-free scans (bucket it by bhash
    * on a real cluster). Order of operations matters and is the
    * correctness core: kept docs are WRITTEN (materialized against the
    * pre-batch state) BEFORE this batch's band rows land, so a doc
    * never dups against itself. Output and state are PER-BATCH dirs
    * written with overwrite semantics, so a replay of a failed batch
    * fully supersedes the earlier attempt — no duplicated kept rows,
    * no double-counted state (the [[appendNativeIdempotent]]
    * discipline).
    *
    * The state dir is STAMPED with [[graft.plans.SigEval.hashFamilyId]]
    * (derived from the actual minhash multipliers + signature shape) on
    * first write, and every later batch fails fast on mismatch: a
    * coefficient change — like the round-7 hash-family fix — makes old
    * and new signatures incomparable (estJaccard across families is
    * ~random), so without the stamp cross-batch matches would silently
    * stop firing instead of erroring. Changing the coefficients, the
    * shingle width, numHashes, or bands is a STATE-BREAKING change:
    * rebuild the state dir from the kept corpus when upgrading. */
  def nearDupBatch(batch: DataFrame, idCol: String, textCol: String,
      stateDir: String, outDir: String, batchId: Long = 0L,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tauNum: Int = 7, tauDen: Int = 10): Unit = graft.util.Pins.scope {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    locally {
      val familyId = graft.plans.SigEval.hashFamilyId(shingleN, numHashes, bands)
      val stateP = java.nio.file.Paths.get(stateDir)
      val famFile = stateP.resolve("_hash_family")
      if (java.nio.file.Files.exists(famFile)) {
        val stored = java.nio.file.Files.readString(famFile).trim
        if (stored != familyId)
          throw new IllegalStateException(
            s"nearDupBatch: state at $stateDir was written by hash family " +
            s"'$stored' but this build computes '$familyId' — signatures are " +
            "incomparable across families, so cross-batch near-dup matches " +
            "would silently stop firing. Rebuild the state dir (re-sign the " +
            "kept corpus) or run with the original signature parameters.")
      } else {
        // stamp only GENUINELY fresh dirs: an unstamped dir that
        // already holds b* batch state predates the stamp and was
        // written by coefficients this build cannot identify —
        // stamping it with the CURRENT family would permanently bless
        // exactly the silent mismatch the stamp exists to catch
        val hasLegacyState = java.nio.file.Files.exists(stateP) && {
          val s = java.nio.file.Files.list(stateP)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.exists(p =>
              java.nio.file.Files.isDirectory(p) &&
                p.getFileName.toString.startsWith("b"))
          } finally s.close()
        }
        if (hasLegacyState)
          throw new IllegalStateException(
            s"nearDupBatch: state at $stateDir holds batch subdirs but no " +
            "_hash_family stamp — it predates hash-family stamping, and this " +
            "build cannot verify its signatures are comparable. Rebuild the " +
            "state dir (re-sign the kept corpus) before continuing.")
        java.nio.file.Files.createDirectories(stateP)
        val tmp = famFile.resolveSibling("_hash_family.tmp")
        java.nio.file.Files.writeString(tmp, familyId)
        java.nio.file.Files.move(tmp, famFile,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val br = graft.util.Pins.cache(
      Dedup.bandRows(batch, idCol, textCol, shingleN, numHashes, bands))
    val intraDup = br.select(col("band"), col("bhash"), col("id").as("idb"),
        col("sig").as("sigb"))
      .join(br.select(col("band"), col("bhash"), col("id").as("ida"),
        col("sig").as("siga")), Seq("band", "bhash"))
      .where(col("ida") < col("idb") &&
        Dedup.estJaccardOk(col("siga"), col("sigb"), numHashes, tauNum, tauDen))
      .select(col("idb").as("id"))
    // PRIOR batches only: a replayed batch must not see the failed
    // attempt's own band rows (estJ(sig, sig) = 1 — every doc would dup
    // against itself), so the current batchId's subdir is excluded from
    // the read rather than relying on write order
    val priorState: List[String] = {
      val stateP = java.nio.file.Paths.get(stateDir)
      if (!java.nio.file.Files.exists(stateP)) Nil
      else {
        val s = java.nio.file.Files.list(stateP)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(p => java.nio.file.Files.isDirectory(p) &&
              p.getFileName.toString != s"b$batchId")
            .map(_.toString).toList
        } finally s.close()
      }
    }
    val dup =
      if (priorState.nonEmpty) {
        val seen = Parquet.read(spark, priorState: _*)
        val crossDup = br.select(col("band"), col("bhash"), col("id"), col("sig"))
          .join(seen.select(col("band"), col("bhash"), col("sig").as("siga")),
            Seq("band", "bhash"))
          .where(Dedup.estJaccardOk(col("siga"), col("sig"),
            numHashes, tauNum, tauDen))
          .select(col("id"))
        intraDup.union(crossDup)
      } else intraDup
    val dupIds = dup.distinct()
    val kept = batch.join(dupIds, batch(idCol) === dupIds("id"), "left_anti")
    kept.write.mode("overwrite").parquet(s"$outDir/b$batchId")
    br.write.mode("overwrite").parquet(s"$stateDir/b$batchId")
  }

  /** Streaming wrapper: every micro-batch flows through
    * [[nearDupBatch]]; kept docs append to `outDir`, signatures to the
    * `stateDir` state table. */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, outDir: String, checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        nearDupBatch(b, idCol, textCol, stateDir, outDir, batchId)
      }
      .start()
}
