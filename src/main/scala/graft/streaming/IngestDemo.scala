package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{Parquet, ZTableSpec}

/** End-to-end streaming demo: replay the events parquet as a file stream,
  * ingest it through the streaming sink into a ZTable-layout directory,
  * and reconcile counts against the batch read. Usage:
  *   runMain graft.streaming.IngestDemo [sfDir]
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Stage the source file into a streaming-source directory.
    val srcDir = Files.createTempDirectory("ingest_src_")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      srcDir.resolve("events.parquet"))

    // events.parquet carries TIMESTAMP(NANOS): stream it as raw long nanos
    // and convert, exactly like the batch reader (graft.Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Parquet.read(spark, srcDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

    val out = Files.createTempDirectory("ingest_out_").toString
    val ckpt = Files.createTempDirectory("ingest_ckpt_").toString
    val q = Ingest.ingestStream(stream, out, ckpt, ZTableSpec())
    q.awaitTermination(120000)

    val streamed = Parquet.read(spark, out)
    val batch = graft.Tables.events(spark, sfDir)
    val nStream = streamed.count()
    val nBatch = batch.count()
    val nParts = streamed.select("p_date").distinct().count()
    println(s"[ingest-demo] streamed=$nStream batch=$nBatch partitions=$nParts " +
      (if (nStream == nBatch && nParts > 1) "OK" else "MISMATCH"))
    spark.stop()
    if (nStream != nBatch) sys.exit(1)
  }
}
