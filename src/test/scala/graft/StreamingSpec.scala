package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{Event, Ingest}
import graft.sources.{GraftNative => GraftNative2, ZTableSpec}

/** Top-level (Spark 4.1 requires non-nested case classes for encoders). */
case class StreamDoc(doc_id: Long, text: String)

/** Streaming-embedding row for the IVF-PQ maintenance test. */
case class StreamVec(vec_id: Long, embedding: Array[Float])

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(id: Long, t: String, typ: String, v: Double) =
    Event(id, ts(t), id % 10, typ, v)

  test("streaming ingest writes date-partitioned parquet (AvailableNow)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      ev(1, "2024-01-01 10:00:01", "click", 1.0),
      ev(2, "2024-01-02 10:00:02", "click", 2.0))
    val out = Files.createTempDirectory("stream_out_").toString
    val ckpt = Files.createTempDirectory("stream_ckpt_").toString
    val q = Ingest.ingestStream(mem.toDF(), out, ckpt, ZTableSpec())
    q.awaitTermination(60000)
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(back.select("p_date").distinct().count() == 2)
  }

  test("streaming OHLCV bars after watermark close") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Ingest.streamingOhlcv(mem.toDF(), "1 minute", "0 seconds")
      .writeStream.format("memory").queryName("bars_test")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      ev(1, "2024-01-01 10:00:01", "click", 10.0),
      ev(2, "2024-01-01 10:00:30", "click", 30.0),
      ev(3, "2024-01-01 10:00:50", "click", 20.0))
    q.processAllAvailable()
    // advance watermark past the first window
    mem.addData(ev(4, "2024-01-01 10:02:00", "click", 99.0))
    q.processAllAvailable()
    val bars = spark.table("bars_test").collect()
    q.stop()
    assert(bars.length == 1)
    val b = bars.head
    assert(b.getAs[Double]("open") == 10.0)
    assert(b.getAs[Double]("high") == 30.0)
    assert(b.getAs[Double]("low") == 10.0)
    assert(b.getAs[Double]("close") == 20.0)
    assert(b.getAs[Long]("n") == 3L)
  }

  test("enforceOrder drops out-of-order rows per key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Ingest.enforceOrder(mem.toDS())
      .writeStream.format("memory").queryName("ordered_test")
      .outputMode(OutputMode.Append).start()
    mem.addData(ev(1, "2024-01-01 10:00:10", "click", 1.0))
    q.processAllAvailable()
    mem.addData(
      ev(2, "2024-01-01 10:00:05", "click", 2.0),  // late -> dropped
      ev(3, "2024-01-01 10:00:20", "click", 3.0))  // ok
    q.processAllAvailable()
    val ids = spark.table("ordered_test").collect().map(_.getAs[Long]("event_id")).toSet
    q.stop()
    assert(ids == Set(1L, 3L))
  }

  test("stream-stream interval join matches clicks within the window") {
    implicit val sqlCtx = spark.sqlContext
    val p = MemoryStream[Event]
    val c = MemoryStream[Event]
    val q = Ingest.streamStreamJoin(p.toDF(), c.toDF(), "10 minutes", "0 seconds")
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode(OutputMode.Append).start()
    c.addData(
      Event(10, ts("2024-01-01 09:55:00"), 1, "click", 5.0),  // in window
      Event(11, ts("2024-01-01 09:40:00"), 1, "click", 6.0),  // too old
      Event(12, ts("2024-01-01 09:58:00"), 2, "click", 7.0))  // other user
    p.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "purchase", 42.0))
    q.processAllAvailable()
    val rows = spark.table("ssj_test").collect()
    q.stop()
    assert(rows.map(_.getAs[Long]("c_id")).toSet == Set(10L))
    assert(rows.head.getAs[Double]("p_value") == 42.0)
  }

  test("sessionize groups by gap and closes sessions at watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Ingest.sessionize(mem.toDF(), "5 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Append).start()
    // two sessions for user 1 (gap > 5 min), then advance watermark
    mem.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:02:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 10:30:00"), 1, "click", 3.0))
    q.processAllAvailable()
    mem.addData(Event(4, ts("2024-01-01 11:00:00"), 1, "click", 0.0))
    q.processAllAvailable()
    val sessions = spark.table("sessions_test").collect()
    q.stop()
    assert(sessions.length == 2)
    assert(sessions.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
  }

  test("dedupStream drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Ingest.dedupStream(mem.toDF(), Seq("event_id"), "1 minute")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(1, ts("2024-01-01 10:00:01"), 1, "click", 1.0), // dup id
      Event(2, ts("2024-01-01 10:00:02"), 1, "click", 2.0))
    q.processAllAvailable()
    val n = spark.table("dedup_test").count()
    q.stop()
    assert(n == 2)
  }

  test("streaming as-of enriches purchases with the latest click across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Ingest.asofStream(mem.toDS()).writeStream.format("memory")
      .queryName("asof_stream_test").outputMode(OutputMode.Append).start()
    // batch 1: in-batch ordering (click precedes purchase), plus a
    // purchase for a user with no click yet
    mem.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 5.0),
      Event(2, ts("2024-01-01 10:01:00"), 1, "purchase", 100.0),
      Event(3, ts("2024-01-01 10:00:30"), 2, "purchase", 50.0))
    q.processAllAvailable()
    // batch 2: state superseded by a newer click; first click for user 2
    mem.addData(
      Event(4, ts("2024-01-01 10:02:00"), 1, "click", 7.0),
      Event(5, ts("2024-01-01 10:03:00"), 1, "purchase", 200.0),
      Event(6, ts("2024-01-01 10:02:30"), 2, "click", 9.0),
      Event(7, ts("2024-01-01 10:04:00"), 2, "purchase", 60.0))
    q.processAllAvailable()
    val got = spark.table("asof_stream_test").collect().map { r =>
      r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("click_value"))) None
         else Some(r.getAs[Double]("click_value")))
    }.toMap
    q.stop()
    assert(got == Map(2L -> Some(5.0), 3L -> None,
                      5L -> Some(7.0), 7L -> Some(9.0)))
  }

  test("runningTotals carries exact state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Ingest.runningTotals(mem.toDS())
      .writeStream.format("memory").queryName("running_test")
      .outputMode(OutputMode.Update).start()
    mem.addData(ev(1, "2024-01-01 10:00:01", "click", 1.10))
    q.processAllAvailable()
    mem.addData(ev(2, "2024-01-01 10:00:02", "click", 2.20))
    q.processAllAvailable()
    val last = spark.table("running_test").collect().last
    q.stop()
    assert(last.getAs[Long]("n") == 2L)
    assert(last.getAs[Long]("sumCents") == 330L)
  }

  test("native-format streaming sink is exactly-once and compacts after") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      ev(1, "2024-01-01 10:00:01", "click", 1.0),
      ev(2, "2024-01-02 10:00:02", "view", 2.0))
    val dir = Files.createTempDirectory("native_stream_").toString + "/t"
    val ckpt = Files.createTempDirectory("native_stream_ckpt_").toString
    val q = Ingest.ingestNative(mem.toDF(), dir, ckpt)
    q.awaitTermination(60000)
    val read0 = spark.read.format("graft-native").load(dir)
    assert(read0.count() == 2)
    // replaying the same batch id is a no-op (restart-after-commit)
    Ingest.appendNativeIdempotent(dir,
      Seq((9L, 9L)).toDF("a", "b"), batchId = 0L)
    assert(spark.read.format("graft-native").load(dir).count() == 2)
    // a NEW batch appends its own tagged blocks
    Ingest.appendNativeIdempotent(dir,
      spark.createDataFrame(Seq(ev(3, "2024-01-03 10:00:03", "click", 3.0))), batchId = 7L)
    assert(spark.read.format("graft-native").load(dir).count() == 3)
    // compaction folds the per-batch blocks into one, data intact
    GraftNative2.compactBlocks(spark, dir, 1)
    val back = spark.read.format("graft-native").load(dir)
    assert(back.count() == 3)
    assert(back.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // PARTIAL-FAILURE replay: batch 9's first attempt wrote its blocks
    // over many partitions but crashed before the high-water mark; the
    // replay plans FEWER partitions. The replay must fully supersede
    // the failed attempt (no orphan higher-pid blocks → no dup rows).
    Ingest.appendNativeIdempotent(dir, spark.createDataFrame(Seq(
        ev(4, "2024-01-04 10:00:04", "click", 4.0),
        ev(5, "2024-01-04 10:00:05", "view", 5.0),
        ev(6, "2024-01-04 10:00:06", "click", 6.0),
        ev(7, "2024-01-04 10:00:07", "view", 7.0))).repartition(4),
      batchId = 9L)
    // simulate the crash: roll the mark back to before batch 9
    Files.writeString(java.nio.file.Paths.get(dir, "_last_stream_batch"), "7")
    Ingest.appendNativeIdempotent(dir, spark.createDataFrame(Seq(
        ev(4, "2024-01-04 10:00:04", "click", 4.0),
        ev(5, "2024-01-04 10:00:05", "view", 5.0),
        ev(6, "2024-01-04 10:00:06", "click", 6.0),
        ev(7, "2024-01-04 10:00:07", "view", 7.0))).repartition(1),
      batchId = 9L)
    val afterReplay = spark.read.format("graft-native").load(dir)
    assert(afterReplay.count() == 7, "replay must supersede the failed attempt")
    assert(afterReplay.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 7L))
    // COMPACTION between a crashed attempt and its replay: the
    // unmarked batch's blocks must survive under their original names
    // — folded into g-blocks, the replay's prefix cleanup would find
    // nothing and land the batch twice
    Ingest.appendNativeIdempotent(dir, spark.createDataFrame(Seq(
        ev(8, "2024-01-05 10:00:08", "click", 8.0),
        ev(9, "2024-01-05 10:00:09", "view", 9.0))).repartition(2),
      batchId = 11L)
    Files.writeString( // crash state: blocks landed, mark never advanced
      java.nio.file.Paths.get(dir, "_last_stream_batch"), "9")
    GraftNative2.compactBlocks(spark, dir, 1)
    assert(graft.sources.GraftNative.listBlockDirs(dir)
      .exists(_.getFileName.toString.startsWith("block-b000011-")),
      "unmarked batch blocks must not be folded into generation blocks")
    Ingest.appendNativeIdempotent(dir, spark.createDataFrame(Seq(
        ev(8, "2024-01-05 10:00:08", "click", 8.0),
        ev(9, "2024-01-05 10:00:09", "view", 9.0))).repartition(1),
      batchId = 11L)
    val afterCompactReplay = spark.read.format("graft-native").load(dir)
    assert(afterCompactReplay.count() == 9,
      "a compaction mid-replay must not duplicate the batch")
    assert(afterCompactReplay.select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 9L))
  }

  test("END-TO-END lifecycle: stream-ingest -> HTTP query -> compact -> re-query") {
    // the composed story the pieces individually spec: a file stream
    // replays events into a ZTable, the HTTP surface serves scans /
    // symbols / ohlcv from it, compaction runs through the runner, and
    // the post-compaction scan returns the identical row count
    val root = Files.createTempDirectory("lifecycle_root_")
    val name = "events_t"
    val path = s"$root/$name"
    graft.sources.ZTable.create(spark, path, ZTableSpec())
    val srcDir = Files.createTempDirectory("lifecycle_src_")
    Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      srcDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(srcDir.toString).schema
    // mirror Tables.events' schema sniff: raw Long nanos (legacy) vs
    // stored µs timestamps (current testdata)
    val rawStream = spark.readStream.schema(schema).parquet(srcDir.toString)
    val stream = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        rawStream.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        rawStream.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
    val ckpt = Files.createTempDirectory("lifecycle_ckpt_").toString
    val q = Ingest.ingestStream(stream, path, ckpt)
    q.awaitTermination(120000)
    val nBatch = Tables.events(spark, sf001).count()
    val server = new GraftServer(spark, root.toString)
    val port = server.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def get(p: String): String = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body
      def post(body: String): String = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/q"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body
      def scanCount(): Int = "\"event_id\"".r.findAllIn(post(
        s"""{"op":"scan","table":"$path","from":"2024-01-01 00:00:00",
           |"to":"2024-12-31 00:00:00","cols":["event_id","ts","value"]}"""
          .stripMargin)).length
      assert(scanCount() == nBatch, "streamed rows must be queryable over HTTP")
      val syms = get(s"/symbols/$name/event_type")
      assert(syms.split(",").length == 5, syms)
      val bars = get(s"/ohlcv/$name/2024-01-01%2000:00:00/2024-12-31%2000:00:00" +
        "?col=event_type&price=value&size=value&width=1%20hour")
      // uPlot contract shape (the reference frontend's parse target;
      // golden-tested byte-for-byte in QueryRunnerSpec)
      assert(bars.startsWith("""{"results":{""") &&
        bars.contains("\"o\":[") && bars.contains("\"min_date\":"), bars.take(200))
      val compacted = post(s"""{"op":"compact","table":"$path"}""")
      assert(compacted.contains("partitions_rewritten"), compacted)
      assert(scanCount() == nBatch, "compaction must preserve every row")
    } finally server.stop()
  }

  test("streaming IVF-PQ maintenance: exactly-once appends, replay-safe, index serves exactly") {
    import org.apache.spark.sql.functions._
    import graft.operators.{IvfIndex, Pq, Similarity}
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf001)
    val seed = emb.where(col("vec_id") % 2 === 0)
    val rest = emb.where(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding")).as[StreamVec].collect()
    val path = Files.createTempDirectory("ivfpq_stream_").toString + "/idx"
    val model = Pq.train(seed, "vec_id", "embedding", m = 16, ksub = 16, iters = 2)
    IvfIndex.buildPq(seed, "vec_id", "embedding", numCells = 8, path, model)
    // stream the other half in two micro-batches
    val mem = MemoryStream[StreamVec]
    val (b0, b1) = rest.splitAt(rest.length / 2)
    mem.addData(b0.toIndexedSeq)
    val ckpt = Files.createTempDirectory("ivfpq_stream_ckpt_").toString
    val q1 = Ingest.ingestIvfPq(mem.toDF(), "vec_id", "embedding", path, ckpt)
    q1.awaitTermination()
    mem.addData(b1.toIndexedSeq)
    val q2 = Ingest.ingestIvfPq(mem.toDF(), "vec_id", "embedding", path, ckpt)
    q2.awaitTermination()
    def idxIds() = spark.read.parquet(path).select("id").collect()
      .map(_.getLong(0)).toSeq
    val total = emb.count()
    assert(idxIds().length == total, "streamed index must hold the full corpus")
    assert(idxIds().distinct.length == total, "no duplicate ids")
    // replay of an already-landed batch: high-water mark skips it
    val b1df = b1.toSeq.toDF("vec_id", "embedding")
    Ingest.appendPqIdempotent(b1df, "vec_id", "embedding", path, batchId = 1L)
    assert(idxIds().length == total, "marked replay must be a no-op")
    // crash window: files landed but the mark write was lost — the
    // prefixed-file supersede must replace, not duplicate
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_last_stream_batch"), "0")
    Ingest.appendPqIdempotent(b1df, "vec_id", "embedding", path, batchId = 1L)
    assert(idxIds().length == total, "unmarked replay must supersede its files")
    assert(idxIds().distinct.length == total)
    // the maintained index SERVES: full probe + modest candidates
    // reproduces the exact brute-force top-10 of the merged corpus
    // (same bar as the batch appendPq spec)
    val got = IvfIndex.searchPq(spark, path, emb, "vec_id", "embedding",
        queryId = 0L, k = 10, nProbe = 8, candidates = 150)
      .collect().map(_.getAs[Long]("id")).toSeq
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got == brute)
  }

  test("streaming EWMA equals the batch fold when the stream replays in order") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Ingest.ewmaStream(mem.toDS())
      .toDF("user_id", "event_id", "ewma")
      .writeStream.format("memory").queryName("ewma_test")
      .outputMode(OutputMode.Append).start()
    // two users interleaved, split across three batches, in-order per user
    val batches = Seq(
      Seq(ev(10, "2024-01-01 10:00:01", "click", 4.0),   // user 0
          ev(11, "2024-01-01 10:00:02", "click", 8.0)),  // user 1
      Seq(ev(20, "2024-01-01 10:00:03", "click", 12.0),
          ev(21, "2024-01-01 10:00:04", "click", 0.0)),
      Seq(ev(30, "2024-01-01 10:00:05", "click", 6.0)))
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    val got = spark.table("ewma_test").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    q.stop()
    val batch = graft.operators.TimeSeries.ewma(
      batches.flatten.toDF(), Seq("user_id"), Seq("ts", "event_id"),
      "value", alpha = 0.25)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        r.getAs[Double]("ewma")).toMap
    assert(got == batch)
    // state really carried: user 0 saw 4 -> 12 -> 6
    assert(got((0L, 30L)) == 0.25 * 6.0 + 0.75 * (0.25 * 12.0 + 0.75 * 4.0))
  }

  test("streaming EWMA drops rows late across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Ingest.ewmaStream(mem.toDS())
      .toDF("user_id", "event_id", "ewma")
      .writeStream.format("memory").queryName("ewma_late_test")
      .outputMode(OutputMode.Append).start()
    mem.addData(ev(10, "2024-01-01 10:00:05", "click", 4.0))
    q.processAllAvailable()
    mem.addData(ev(20, "2024-01-01 10:00:01", "click", 99.0)) // earlier ts
    q.processAllAvailable()
    val rows = spark.table("ewma_late_test").collect()
    q.stop()
    assert(rows.map(_.getLong(1)).toSet == Set(10L))
  }

  test("ZTable streaming sink is exactly-once: replayed batches are skipped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      ev(1, "2024-01-01 10:00:01", "click", 1.0),
      ev(2, "2024-01-02 10:00:02", "click", 2.0))
    val out = Files.createTempDirectory("ztable_stream_").toString
    val ckpt = Files.createTempDirectory("ztable_stream_ckpt_").toString
    val q = Ingest.ingestZTable(mem.toDF(), out, ckpt,
      ZTableSpec(strictOrder = false))
    q.awaitTermination(60000)
    val table = graft.sources.ZTable.open(spark, out)
    assert(table.df.count() == 2)
    // simulate Spark's post-failure replay: the SAME batch id arrives again
    val replay = Seq(
      ev(1, "2024-01-01 10:00:01", "click", 1.0),
      ev(2, "2024-01-02 10:00:02", "click", 2.0)).toDF()
    Ingest.appendBatchIdempotent(table, replay, 0L)
    assert(table.df.count() == 2, "replayed batch 0 must be skipped")
    // a genuinely new batch still lands
    Ingest.appendBatchIdempotent(table,
      Seq(ev(3, "2024-01-03 10:00:03", "click", 3.0)).toDF(), 1L)
    assert(table.df.count() == 3)
  }

  test("ZTable stream mark commits by rename: a leftover .tmp breaks neither replay nor reads") {
    val out = Files.createTempDirectory("ztable_mark_").toString
    val table = graft.sources.ZTable.create(spark, out, ZTableSpec(strictOrder = false))
    val batch0 = Seq(ev(1, "2024-01-01 10:00:01", "click", 1.0)).toDF()
    Ingest.appendBatchIdempotent(table, batch0, 0L)
    // a crash while writing the next mark leaves a torn temp file beside
    // the committed mark
    val mark = java.nio.file.Paths.get(out, "_last_stream_batch")
    val torn = mark.resolveSibling("_last_stream_batch.tmp")
    Files.writeString(torn, "not a batch id")
    Ingest.appendBatchIdempotent(table, batch0, 0L)
    assert(table.df.count() == 1, "replayed batch 0 must be skipped")
    Ingest.appendBatchIdempotent(table,
      Seq(ev(2, "2024-01-02 10:00:02", "click", 2.0)).toDF(), 1L)
    assert(table.df.count() == 2)
    assert(Files.readString(mark) == "1" && !Files.exists(torn))
  }

  test("keyless stream-stream interval join via fragment buckets matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val errors = MemoryStream[Event]
    // incident at 10:00:00 covers [10:00:00, 10:10:00]; one at 10:30:00
    errors.addData(ev(100, "2024-01-01 10:00:00", "error", 0.0),
      ev(101, "2024-01-01 10:30:00", "error", 0.0))
    purchases.addData(
      ev(1, "2024-01-01 10:05:00", "purchase", 9.0),  // inside incident 100
      ev(2, "2024-01-01 10:10:00", "purchase", 9.0),  // boundary of 100
      ev(3, "2024-01-01 10:20:00", "purchase", 9.0),  // in no window
      ev(4, "2024-01-01 10:31:00", "purchase", 9.0))  // inside incident 101
    val q = Ingest.incidentJoinStream(purchases.toDF(), errors.toDF())
      .writeStream.format("memory").queryName("incident_join")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("incident_join").collect()
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("incident_id"))).toSet
    assert(got == Set((1L, 100L), (2L, 100L), (4L, 101L)))
  }

  test("stream-static enrichment joins the broadcast dimension per batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      ev(1, "2024-01-01 10:00:00", "click", 1.0),   // user 1
      ev(12, "2024-01-01 10:00:01", "view", 2.0),   // user 2
      ev(23, "2024-01-01 10:00:02", "click", 3.0))  // user 3 (no dim row)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = Ingest.enrichStream(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val byEvent = spark.table("enriched").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
    assert(byEvent == Map(1L -> "gold", 12L -> "silver", 23L -> null))
  }

  test("streaming curation equals the REGISTERED pipe1 batch query on the oracle fixture") {
    // NON-CIRCULAR parity (r10 verdict #6): the batch side is the
    // oracle-gated pipe1_quality_filter REGISTERED QUERY — not
    // curateStream run in batch mode — so a drift between the stream
    // twin and the graded surface fails here; the redaction column is
    // checked against an INDEPENDENT driver-side java.util.regex
    // oracle (pipe5's scrub semantics).
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf001)
      .selectExpr("doc_id", "text").as[StreamDoc].collect()
    val mem = MemoryStream[StreamDoc]
    mem.addData(docs.toIndexedSeq)
    val q = Ingest.curateStream(mem.toDF())
      .writeStream.format("memory").queryName("curated")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("curated").orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("quality_r"), r.getAs[String]("text_clean"))).toSeq
    assert(streamed.nonEmpty)
    val batch = graft.queries.PipelineQueries.qualityFilter(spark, sf001)
      .collect() // already doc_id-ordered (the oracle's ORDER BY)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("quality_r"))).toSeq
    assert(streamed.map(t => (t._1, t._2, t._3)) == batch,
      "stream twin drifted from the registered pipe1 row set/signals")
    val texts = docs.map(d => d.doc_id -> d.text).toMap
    assert(streamed.forall { case (id, _, _, clean) =>
      clean == texts(id).replaceAll("[0-9]+", "[NUM]") },
      "redaction drifted from the driver-side regex oracle")
  }

  test("REGISTERED stream1_curate query (r12: streaming on the graded board) matches pipe1 + regex oracle") {
    // the SparkEntry-registered query the driver's DuckDB oracle
    // hash-gates — asserted here against the SAME two independent
    // references as the spec above, so a local run catches drift before
    // the board does
    val out = graft.queries.StreamQueries.streamCurate(spark, sf001).collect()
    assert(out.nonEmpty)
    val viaPipe1 = graft.queries.PipelineQueries.qualityFilter(spark, sf001)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Double]("quality_r"))).toSeq
    assert(out.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("n_tokens"), r.getAs[Double]("quality_r"))).toSeq == viaPipe1,
      "registered streaming row drifted from the registered pipe1 row")
    val texts = Tables.documents(spark, sf001).selectExpr("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.forall(r => r.getAs[String]("text_clean") ==
      texts(r.getAs[Long]("doc_id")).replaceAll("[0-9]+", "[NUM]")),
      "registered streaming row's redaction drifted from the regex oracle")
  }

  test("j10 on a stream: fragment-bucket interval join equals the registered batch query") {
    // The j10_interval_overlap REGISTERED QUERY replayed as two
    // MemoryStreams through incidentJoinStream — exact frame equality
    // at oracle scale (201 incident windows × 35 hot purchases at
    // sf0.001), multiplicity included, against the oracle-gated batch
    // plan (r10 verdict #6's third parity case).
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val errors = ev.where(col("event_type") === "error").as[Event].collect()
    val purchases = ev.where(col("event_type") === "purchase" &&
      col("value") > 95).as[Event].collect()
    assert(errors.nonEmpty && purchases.nonEmpty)
    val pStream = MemoryStream[Event]
    val wStream = MemoryStream[Event]
    pStream.addData(purchases.toIndexedSeq)
    wStream.addData(errors.toIndexedSeq)
    val q = Ingest.incidentJoinStream(pStream.toDF(), wStream.toDF())
      .writeStream.format("memory").queryName("j10_stream")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("j10_stream").collect()
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("incident_id"),
        r.getAs[Timestamp]("p_ts"), r.getAs[Timestamp]("w_start")))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = graft.queries.Relational.intervalOverlap(spark, sf001)
      .collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("incident_id"),
        r.getAs[Timestamp]("p_ts"), r.getAs[Timestamp]("w_start")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(want.nonEmpty, "fixture must produce overlaps")
    assert(got == want)
  }

  test("cross-batch near-dup filter equals the batch minhashFilter on id-ordered batches") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf001)
    val all = docs.selectExpr("doc_id", "text").as[StreamDoc]
      .collect().sortBy(_.doc_id)
    val stateDir = Files.createTempDirectory("neardup_state_").toString + "/st"
    val outDir = Files.createTempDirectory("neardup_out_").toString + "/out"
    // three id-ordered micro-batches through the incremental path
    all.grouped((all.length + 2) / 3).zipWithIndex.foreach { case (chunk, i) =>
      Ingest.nearDupBatch(chunk.toIndexedSeq.toDF(), "doc_id", "text",
        stateDir, outDir, batchId = i.toLong)
    }
    def keptIds(dir: String): Set[Long] =
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val streamedKept = keptIds(outDir)
    val batchFlags = graft.operators.Dedup
      .minhashFilter(docs, "doc_id", "text")
    val batchKept = batchFlags.where(!col("dup"))
      .collect().map(_.getAs[Long]("id")).toSet
    val nDup = batchFlags.where(col("dup")).count()
    assert(nDup > 0, "fixture must contain near-dups")
    assert(streamedKept == batchKept)
    // the writeStream wrapper produces the same result end to end
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    mem.addData(all.toIndexedSeq)
    val st2 = Files.createTempDirectory("neardup_state2_").toString + "/st"
    val out2 = Files.createTempDirectory("neardup_out2_").toString + "/out"
    val ck2 = Files.createTempDirectory("neardup_ck2_").toString
    val q = Ingest.nearDupStream(mem.toDF(), "doc_id", "text", st2, out2, ck2)
    q.awaitTermination(60000)
    assert(keptIds(out2) == batchKept)
    // a replayed batch id fully supersedes its earlier attempt: same
    // final id set, no duplicated kept rows
    Ingest.nearDupBatch(all.toIndexedSeq.toDF(), "doc_id", "text",
      st2, out2, batchId = 0L)
    assert(keptIds(out2) == batchKept)
    val dupRows = spark.read.option("recursiveFileLookup", "true").parquet(out2)
      .groupBy("doc_id").count()
      .where(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dupRows == 0L, "replay must not duplicate kept rows")
  }

  test("near-dup state dir is stamped with the hash family; mismatch fails fast") {
    val docs = Seq(StreamDoc(1L, "alpha beta gamma delta epsilon zeta"),
      StreamDoc(2L, "eta theta iota kappa lambda mu"))
    val stateDir = Files.createTempDirectory("neardup_fam_").toString + "/st"
    val outDir = Files.createTempDirectory("neardup_famout_").toString + "/out"
    Ingest.nearDupBatch(docs.toDF(), "doc_id", "text", stateDir, outDir, 0L)
    val famFile = java.nio.file.Paths.get(stateDir, "_hash_family")
    val stamped = java.nio.file.Files.readString(famFile).trim
    assert(stamped == graft.plans.SigEval.hashFamilyId(3, 64, 16), stamped)
    // same family: next batch proceeds
    Ingest.nearDupBatch(docs.toDF(), "doc_id", "text", stateDir, outDir, 1L)
    // a DIFFERENT signature shape is a different family — fail fast
    // rather than silently matching nothing across batches
    val e = intercept[IllegalStateException] {
      Ingest.nearDupBatch(docs.toDF(), "doc_id", "text", stateDir, outDir, 2L,
        numHashes = 32)
    }
    assert(e.getMessage.contains("hash family"), e.getMessage)
    // a state dir written by retired coefficients (simulated by editing
    // the stamp) is refused the same way
    java.nio.file.Files.writeString(famFile, "mh3-64-16-deadbeefdeadbeef")
    val e2 = intercept[IllegalStateException] {
      Ingest.nearDupBatch(docs.toDF(), "doc_id", "text", stateDir, outDir, 2L)
    }
    assert(e2.getMessage.contains("incomparable"), e2.getMessage)
    // a LEGACY dir — batch state present, no stamp at all — must be
    // refused, never blessed with the current family id (stamping it
    // would permanently mask the very mismatch the stamp detects)
    java.nio.file.Files.delete(famFile)
    val e3 = intercept[IllegalStateException] {
      Ingest.nearDupBatch(docs.toDF(), "doc_id", "text", stateDir, outDir, 3L)
    }
    assert(e3.getMessage.contains("predates"), e3.getMessage)
    assert(!java.nio.file.Files.exists(famFile),
      "legacy refusal must not stamp the dir")
  }

  test("streaming rollup sink maintains the aggregate; replays are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      ev(1, "2024-01-01 10:00:00", "click", 1.50),
      ev(2, "2024-01-01 11:00:00", "click", 2.25),
      ev(3, "2024-01-02 10:00:00", "view", 4.00))
    val path = Files.createTempDirectory("rollup_stream_").toString + "/r"
    val ckpt = Files.createTempDirectory("rollup_stream_ckpt_").toString
    val r = graft.sources.RollupTable(spark, path,
      dims = Seq("event_type"), valueCol = "value")
    r.sink(mem.toDF(), ckpt).awaitTermination(60000)
    def snapshot() = r.read().collect()
      .map(x => (x.getTimestamp(0), x.getString(1), x.getAs[Long]("n"),
        x.getAs[java.math.BigDecimal]("sum_val").doubleValue))
      .toSet
    val after1 = snapshot()
    assert(after1 == Set(
      (ts("2024-01-01 00:00:00"), "click", 2L, 3.75),
      (ts("2024-01-02 00:00:00"), "view", 1L, 4.00)))
    // replayed batch 0 must not double-count
    val replay = Seq(ev(1, "2024-01-01 10:00:00", "click", 1.50)).toDF()
    r.refreshBatchIdempotent(replay, 0L)
    assert(snapshot() == after1)
    // a new batch folds in incrementally
    r.refreshBatchIdempotent(
      Seq(ev(4, "2024-01-01 12:00:00", "click", 0.25)).toDF(), 1L)
    val after2 = snapshot()
    assert(after2.contains((ts("2024-01-01 00:00:00"), "click", 3L, 4.00)))
    // CRASHED-ATTEMPT replay: batch 2's delta landed but the mark write
    // never happened; the replay must OVERWRITE the batch dir, not
    // append a second copy beside the orphaned one
    r.refreshBatchIdempotent(
      Seq(ev(5, "2024-01-03 10:00:00", "view", 7.00)).toDF(), 2L)
    Files.writeString( // crash state: delta written, mark rolled back
      java.nio.file.Paths.get(path + "._last_stream_batch"), "1")
    r.refreshBatchIdempotent(
      Seq(ev(5, "2024-01-03 10:00:00", "view", 7.00)).toDF(), 2L)
    val after3 = snapshot()
    assert(after3.contains((ts("2024-01-03 00:00:00"), "view", 1L, 7.00)),
      s"replay after crashed mark must not double-count: $after3")
    // compaction folds deltas; totals unchanged; crash debris recovers
    r.compactDeltas()
    assert(snapshot() == after3)
    // crash between the two swap renames: table exists only as
    // .retiring — the next read must restore it, not throw
    Files.move(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(path + ".retiring"))
    assert(snapshot() == after3, "read must roll a mid-swap table back")
    assert(Files.exists(java.nio.file.Paths.get(path)))
  }
}
