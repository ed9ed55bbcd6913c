package graft.operators

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Parquet

/** Persisted inverted text index: the build-once / query-many half of
  * keyword retrieval — the text analog of [[IvfIndex]].
  *
  * `build` explodes the corpus into (term, doc, tf, len) posting rows
  * laid out as parquet PARTITIONED BY TERM-HASH BUCKET (vocabulary is
  * unbounded, so partitions key on `xxhash64(term) mod numBuckets`, not
  * the raw term), plus a one-row corpus-stats sidecar (N, avg length).
  * `search` hashes the query terms driver-side and scans ONLY their
  * bucket directories — partition pruning reads `|terms| / numBuckets`
  * of the index per query, the property that makes serving work at
  * 100 TB. Per-term df comes from the pruned postings themselves (a
  * posting-list-sized count, broadcast back), so index build never
  * materializes a global dictionary.
  *
  * Scoring replicates [[graft.queries.SearchQueries.bm25]]'s arithmetic
  * operation-for-operation; SearchSpec gates that index-serving results
  * equal the full-scan query exactly (the sim6/sim1 trick for text).
  */
object InvertedIndex {

  /** One corpus scan: explode tokens, count (term, doc) pairs — the only
    * shuffle is the posting aggregation, map-side combined; the
    * partitioned write then distributes posting rows by bucket. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
      numBuckets: Int = 256): Unit = {
    val postings = docs
      .select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("len"),
        explode(col("w")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("len"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bkt", pmod(xxhash64(col("term")), lit(numBuckets)))
    postings.write.mode("overwrite").partitionBy("bkt").parquet(path)
    val s = docs
      .select(size(split(lower(col(textCol)), " ")).cast("double").as("len"))
      .agg(count(lit(1)).as("n"), avg(col("len")).as("avglen")).head()
    // Double.toString is shortest-roundtrip (JDK 19+ semantics hold on
    // 17 for Double.toString): avglen survives the JSON hop bitwise.
    Files.writeString(Paths.get(path, "_stats.json"),
      s"""{"n":${s.getLong(0)},"avglen":${s.getDouble(1)},"buckets":$numBuckets}""",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** POSITIONAL index build: postings carry the sorted token-position
    * list per (term, doc) — the Lucene-style layout phrase and
    * proximity queries need. Same one-scan build and term-hash-bucket
    * partitioning as [[build]]; the positions array adds ~tf ints per
    * posting row (the standard positional-index overhead). */
  def buildPositional(docs: DataFrame, idCol: String, textCol: String,
      path: String, numBuckets: Int = 256): Unit = {
    val postings = docs
      .select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("w"))
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("bkt", pmod(xxhash64(col("term")), lit(numBuckets)))
    postings.write.mode("overwrite").partitionBy("bkt").parquet(path)
    Files.writeString(Paths.get(path, "_stats.json"),
      s"""{"buckets":$numBuckets}""",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** PHRASE search over the positional index: documents containing the
    * terms at CONSECUTIVE positions, ranked by phrase frequency. The
    * classic posting-intersection: start from the first term's
    * positions, and for each next term keep positions whose successor
    * appears in that term's list (`array_intersect` of the shifted
    * list — one non-nested HOF per step). Each join is posting-list ×
    * posting-list on doc_id — bounded by the phrase terms' document
    * frequencies, never corpus-sized — and the scan reads ONLY the
    * query terms' bucket partitions, like [[search]]. */
  def phraseSearch(spark: SparkSession, path: String, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.length >= 2, "phrase needs at least two terms")
    val buckets = Files.readString(Paths.get(path, "_stats.json"))
    val nb = """"buckets":(\d+)""".r.findFirstMatchIn(buckets).get.group(1).toInt
    val bkts = terms.map(t => termBucket(t, nb)).distinct
    val scan = Parquet.read(spark, path)
      .where(col("bkt").isin(bkts: _*))
    def postings(t: String) =
      scan.where(col("term") === t).select(col("doc_id"), col("positions"))
    var cur = postings(terms.head).select(col("doc_id"), col("positions").as("pos"))
    terms.zipWithIndex.drop(1).foreach { case (t, _) =>
      cur = cur
        .join(postings(t).withColumnRenamed("positions", "p2"), Seq("doc_id"))
        .select(col("doc_id"),
          array_intersect(transform(col("pos"), _ + 1), col("p2")).as("pos"))
        .where(size(col("pos")) > 0)
    }
    cur.select(col("doc_id"), size(col("pos")).cast("long").as("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Spark's xxhash64 for a string literal, driver-side (seed 42). */
  private def termBucket(term: String, numBuckets: Int): Long = {
    val u = UTF8String.fromString(term)
    val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    java.lang.Math.floorMod(h, numBuckets.toLong)
  }

  /** BM25 top-k over the index: reads only the query terms' buckets. */
  def search(spark: SparkSession, path: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val json = Files.readString(Paths.get(path, "_stats.json"))
    def field(name: String): String =
      s""""$name":([-0-9.Ee]+)""".r.findFirstMatchIn(json).get.group(1)
    val n = field("n").toLong
    val avglen = field("avglen").toDouble
    val numBuckets = field("buckets").toInt
    val bkts = terms.map(termBucket(_, numBuckets)).distinct
    val posts = Parquet.read(spark, path)
      .where(col("bkt").isin(bkts: _*) && col("term").isin(terms: _*))
    val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // identical operation order to SearchQueries.bm25's per-term score
    val tf = col("tf").cast("double")
    val termScore =
      log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("len").cast("double") / lit(avglen)))
    posts.join(broadcast(dfs), Seq("term"))
      .select(col("doc_id"), termScore.as("s"))
      .groupBy(col("doc_id")).agg(sum(col("s")).as("s"))
      .select(col("doc_id"), round(col("s"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
