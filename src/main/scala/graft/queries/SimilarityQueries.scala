package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Parquet
import graft.operators.Similarity
import graft.util.Pins

/** Similarity-search queries over `embeddings` (Array[Float], dim 64).
  * Cosine values are rounded to 6 dp on both sides: Spark and DuckDB
  * agree to ~1e-15 but not bitwise (different norm association), so the
  * oracle compares at a precision where both are identical.
  */
object SimilarityQueries {

  /** SIM1: brute-force cosine top-10 against vec_id 0. */
  def topKCosine(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, dir),
        "vec_id", "embedding", queryId = 0L, k = 10)
      .select(col("id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id"))

  val topKCosineSql: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id AS id,
      |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_r
      |FROM embeddings e, q
      |WHERE e.vec_id <> 0
      |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) DESC, e.vec_id
      |LIMIT 10""".stripMargin

  /** SIM8: top-10 served through RANDOM-PROJECTION candidates — rank in
    * a 32-dim JL projection (½ the vector bytes), exact-verify the top
    * 300 candidates at full width. Shares sim1's oracle, so projected-
    * space recall of the true top-10 is itself hash-gated (deterministic
    * planes make the gate stable run-to-run). The candidate budget is
    * deliberately generous: this corpus is isotropic random — the JL
    * worst case (true top-10 spread to projected rank ~200 of 500);
    * clustered real-world embeddings prune far harder. The scan-bytes
    * saving (projected column is outDim/inDim the width) holds either
    * way — that, not candidate count, is the 100 TB lever. */
  def rpTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.rpTopK(Tables.embeddings(spark, dir),
        "vec_id", "embedding", queryId = 0L, k = 10,
        outDim = 32, candidates = 300)
      .select(col("id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id"))

  /** SIM9: top-10 served through PRODUCT-QUANTIZATION candidates —
    * rank the corpus by ADC cosine reading only the 16-byte PQ code
    * column (16× narrower than the float vectors, 8× narrower than
    * sim8's 32-dim projection), exact-verify the top 300 at full
    * width. Shares sim1's exact oracle: hash-seeded Lloyd codebooks
    * are deterministic, so the candidate set — and therefore the
    * reranked top-10 — is stable, and the gate proves code-space
    * recall of the true top-10 (measured headroom in SimilaritySpec;
    * the worst true-top-10 ADC rank is ~30 of 500 at sf0.001). */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.Pq.train(emb, "vec_id", "embedding",
      m = 16, ksub = 16, iters = 2)
    graft.operators.Pq.topK(emb, "vec_id", "embedding", model,
        queryId = 0L, k = 10, candidates = 300)
      .select(col("id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id"))
  }

  /** SIM13: FILTERED ANN — top-10 among vectors satisfying a metadata
    * predicate (label = 3), served from the IVF index built WITH the
    * label as an index payload column. This is hybrid vector search's
    * core primitive (every vector DB exposes it): the predicate applies
    * INSIDE the probed-cell scan — parquet pushes it down beside the
    * cell pruning — so candidates are pre-filtered, never a post-filter
    * of an unfiltered top-k (which under-fills k when the predicate is
    * selective). Full probe degrades to the exact filtered scan, so the
    * gate shares sim1's oracle shape with the filter applied; the
    * selective-predicate recall story is spec'd in SimilaritySpec. */
  def filteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_f_")
      .toString + "/idx"
    graft.operators.IvfIndex.build(emb, "vec_id", "embedding",
      numCells = 16, path, metaCols = Seq("label"))
    val qv = emb.where(col("vec_id") === 0L).select(col("embedding"))
      .head.getSeq[Float](0).toArray.map(_.toDouble)
    graft.operators.IvfIndex.search(spark, path, qv, k = 10, nProbe = 16,
        excludeId = Some(0L), filter = Some(col("label") === 3))
      .select(col("id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id"))
  }

  val filteredAnnSql: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id AS id,
      |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_r
      |FROM embeddings e, q
      |WHERE e.vec_id <> 0 AND e.label = 3
      |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) DESC, e.vec_id
      |LIMIT 10""".stripMargin

  /** SIM12: top-10 served through SCALAR-QUANTIZATION (SQ8) candidates —
    * per-dimension 8-bit codes on a trained [min, max] grid (¼ the
    * float32 bytes; the FAISS SQ tier between sim8's projection and
    * sim9's PQ codebooks), dequantized-cosine ranking, exact verify of
    * the top 300. Training, encoding, and ranking are all one-pass /
    * map-side; deterministic, so it shares sim1's exact oracle — the
    * gate proves code-space recall of the true top-10 (8-bit error is
    * ~1e-2 per dim on this range, far inside the 300-candidate
    * headroom; measured in SimilaritySpec). */
  def sqTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.sqTopK(Tables.embeddings(spark, dir),
        "vec_id", "embedding", queryId = 0L, k = 10, candidates = 300)
      .select(col("id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id"))

  /** SIM10: top-10 served from a PERSISTED IVF-PQ index — the composed
    * FAISS-style stack: coarse cells partition the index on disk (probe
    * = partition pruning), rows inside hold only (id, 16-byte PQ code)
    * (ADC ranking reads 1/16 the bytes of the vectors), and the top 300
    * candidates exact-verify at full width against the base table. Full
    * probe + sim9's measured candidate headroom ⇒ the reranked top-10
    * is the exact top-10, so the gate shares sim1's oracle; the
    * partial-probe recall and pruning behavior are spec'd in
    * SimilaritySpec. */
  def ivfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_q_")
      .toString + "/idx"
    val model = graft.operators.Pq.train(emb, "vec_id", "embedding",
      m = 16, ksub = 16, iters = 2)
    graft.operators.IvfIndex.buildPq(emb, "vec_id", "embedding",
      numCells = 16, path, model)
    graft.operators.IvfIndex.searchPq(spark, path, emb, "vec_id", "embedding",
        queryId = 0L, k = 10, nProbe = 16, candidates = 300)
      .select(col("id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id"))
  }

  /** D5: embedding near-dup pairs (cosine >= 0.45) — EXACT, via the
    * block-pair equi-join (no broadcast nested loop, no cartesian;
    * PlanSpec asserts). The oracle is the exact pair set, green by
    * construction since every pair is examined exactly once. */
  def cosineNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairs(Tables.embeddings(spark, dir),
        "vec_id", "embedding", threshold = 0.45)
      .select(col("ida"), col("idb"), round(col("cos"), 6).as("cos_r"))
      .orderBy("ida", "idb")

  val cosineNearDupSql: String =
    """SELECT a.vec_id AS ida, b.vec_id AS idb,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos_r
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.45
      |ORDER BY ida, idb""".stripMargin

  /** SIM5: batch multi-query top-10 — three query vectors served from
    * ONE scan via per-partition bounded heaps + an output-sized merge
    * (no N×Q shuffle, no per-query rescan; see Similarity.topKBatch). */
  def topKBatch(spark: SparkSession, dir: String): DataFrame =
    Similarity.topKBatch(Tables.embeddings(spark, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L), k = 10)
      .select(col("qid"), col("rk"), col("id"), round(col("cos"), 6).as("cos_r"))
      .orderBy("qid", "rk")

  val topKBatchSql: String =
    """SELECT qid, CAST(rk AS BIGINT) AS rk, id, cos_r FROM (
      |  SELECT q.vec_id AS qid, e.vec_id AS id,
      |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                 CAST(q.embedding AS DOUBLE[])), 6) AS cos_r,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                      CAST(q.embedding AS DOUBLE[])) DESC,
      |               e.vec_id) AS rk
      |  FROM embeddings e,
      |       (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)) q
      |  WHERE e.vec_id <> q.vec_id)
      |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** SIM4: per-label embedding centroid — the k-means "update" step —
    * via the typed VecCentroid Aggregator: element-wise partial sums
    * fold map-side, so the shuffle carries one dim-sized buffer per
    * (label, partition), never the vectors. Exploded to (label, dim, c)
    * flat rows so DuckDB can hash-compare without list types. */
  def centroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding")).as[(Int, Array[Float])]
      .groupByKey(_._1)
      .agg(graft.functions.VecCentroid.toColumn.name("centroid"))
      .toDF("label", "centroid")
      .select(col("label"), posexplode(col("centroid.values")).as(Seq("pos", "v")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        round(col("v"), 6).as("c"))
      .orderBy("label", "dim")
  }

  val centroidsSql: String =
    """SELECT label, CAST(t.i AS BIGINT) AS dim,
      |  round(sum(embedding[t.i]) / count(*), 6) AS c
      |FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** SIM6: persisted-IVF-index roundtrip — build the cell-partitioned
    * index (graft.operators.IvfIndex), then probe ALL cells for query 0:
    * a full probe degrades to the exact scan, so the layout must change
    * nothing and sim1's brute-force oracle gates the whole build+search
    * path (the same layout-roundtrip gate as s5/b1/z1). Partial-probe
    * partition pruning and recall are pinned by SimilaritySpec. */
  def ivfIndexSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_q_")
      .toString + "/idx"
    graft.operators.IvfIndex.build(emb, "vec_id", "embedding",
      numCells = 16, path)
    val qv = emb.where(col("vec_id") === 0L).select(col("embedding"))
      .head.getSeq[Float](0).toArray.map(_.toDouble)
    graft.operators.IvfIndex.search(spark, path, qv, k = 10, nProbe = 16,
        excludeId = Some(0L))
      .select(col("id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id"))
  }

  /** SIM7: distributed spherical k-means — HASH init (one TakeOrdered
    * picks all k seeds in a single pass; the farthest-point alternative
    * costs k sequential full-corpus scans before training even starts,
    * so it stays an opt-in for quality-sensitive small-k fits, never
    * the registered corpus-scale path), map-side argmin assignment,
    * VecCentroid updates (one scan per iteration, driver holds k×dim
    * doubles). Iterative + hash-seeded → not
    * SQL-expressible; the oracle gate emits the SQL-derivable corpus
    * size plus two TRUE flags, BOTH derived from the distributed path
    * alone (nothing data-sized ever reaches the driver — the plan here
    * is the one you'd run at 100 TB):
    *  - `sse_ok`: the Lloyd objective did not increase from the seed
    *    centroids to the trained ones (monotone-improvement property),
    *    both objectives computed by Similarity.kmeansSseDistributed —
    *    map-side array_min + scalar sum, one double back per pass;
    *  - `cells_ok`: every one of the k cells is non-empty under the
    *    trained centroids (k bounded rows to the driver).
    * The sequential-parity cross-check (distributed centroids == a
    * same-math driver Lloyd, CrossCheck.kmeansRef) lives in
    * SimilaritySpec on the bounded sf0.001 corpus — the ml1 precedent:
    * the gate measures the operator, not the oracle. DuckDB asserts
    * both flags as literal TRUE. */
  def kmeansQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val k = 8
    val (seeds, cs) = graft.operators.Similarity.kmeansFit(
      emb, "vec_id", "embedding", k = k, iters = 3, init = "hash")
    val sseT = graft.operators.Similarity.kmeansSseDistributed(
      emb, "vec_id", "embedding", cs)
    val sse0 = graft.operators.Similarity.kmeansSseDistributed(
      emb, "vec_id", "embedding", seeds)
    val nonEmpty = graft.operators.Similarity
      .kmeansAssignments(emb, "vec_id", "embedding", cs)
      .select(col("cell")).distinct().count()
    val n = emb.count()
    Seq((n, k.toLong, sseT <= sse0 * (1 + 1e-9), nonEmpty == k.toLong))
      .toDF("n_vecs", "k", "sse_ok", "cells_ok")
  }

  val kmeansSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(8 AS BIGINT) AS k,
      |  TRUE AS sse_ok, TRUE AS cells_ok
      |FROM embeddings""".stripMargin

  /** Exact ≥0.3 cosine truth pairs, persisted ONCE per scale factor and
    * reused by the sim2/sim3 recall gates. The Θ(N²) exact scan is the
    * ORACLE's cost, not the ANN path's — running it inside every gate
    * invocation made the registered queries time the exact scan (the
    * round-3 bench regression) and would be unrunnable at 100 TB, where
    * a truth set is always a precomputed (sampled) fixture. The fixture
    * carries a fingerprint of the source table (row count + vec_id sum)
    * and rebuilds itself if the driver regenerates the testdata, so the
    * gate can never compare against a stale truth set. */
  /** Fingerprint of the embeddings source from FILE METADATA plus a
    * FOOTER digest, not a data scan: validating a fixture must not cost
    * a full pass over the source table — at scale that scan would dwarf
    * the ANN path being timed. The print keys on (a) the ABSOLUTE
    * source path, so a basename collision across roots can't alias two
    * corpora; (b) name/size per file; (c) an md5 of each file's
    * parquet FOOTER tail (row counts + column stats live there), so
    * even a size-preserving swap (`cp -p`, tar round-trip) of
    * different data rebuilds the fixture. mtime is deliberately NOT
    * keyed: the driver re-touches byte-identical testdata between
    * rounds, and an mtime key made every round rebuild — and
    * re-commit — fixtures whose content never changed; the footer
    * digest is the real freshness signal. */
  private[queries] def embPrint(dir: String, tag: String,
      file: String = "embeddings.parquet"): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(dir, file).toAbsolutePath.normalize
    val files =
      if (Files.isDirectory(src)) {
        val s = Files.list(src) // close the NIO stream (fd leak otherwise)
        try s.iterator().asScala.toSeq.filter(p =>
          p.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
        finally s.close()
      } else Seq(src)
    def footerMd5(p: java.nio.file.Path): String = {
      val size = Files.size(p)
      val tail = math.min(size, 4096L).toInt
      val ch = java.nio.channels.FileChannel.open(p)
      try {
        val buf = java.nio.ByteBuffer.allocate(tail)
        ch.read(buf, size - tail)
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(buf.array(), 0, buf.position())
        md.digest().map("%02x".format(_)).mkString
      } finally ch.close()
    }
    files.map(p =>
        s"${p.getFileName}:${Files.size(p)}:${footerMd5(p)}")
      .mkString(s"$tag|src=$src|", "|", "")
  }

  /** Build-once artifact (truth set, serving index) keyed by the
    * embeddings fingerprint: rebuilt only when the source data changes,
    * so the queries that READ it time their own path, never the
    * oracle's. Built in a temp sibling then RENAMED into place — a
    * concurrent reader of the fixture dir never sees a half-written
    * overwrite. Returns the artifact path. */
  private[queries] def cachedArtifact(dir: String, tag: String, name: String,
      file: String = "embeddings.parquet")(
      build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val print = embPrint(dir, tag, file)
    val root = sys.env.getOrElse("SPARK_GRAFT_FIXTURES", "/root/repo/fixtures")
    val sf = Paths.get(dir).getFileName.toString
    val data = Paths.get(root, s"$name-$sf")
    val mark = Paths.get(root, s"$name-$sf.fingerprint")
    val fresh = Files.exists(mark) && Files.exists(data) &&
      new String(Files.readAllBytes(mark)) == print
    if (!fresh) {
      Files.createDirectories(data.getParent)
      val tmp = data.resolveSibling(
        s"${data.getFileName}.build-${ProcessHandle.current.pid}")
      build(tmp.toString)
      Files.deleteIfExists(mark) // invalidate before the swap, not after
      if (Files.exists(data)) {
        def rm(p: java.nio.file.Path): Unit = {
          if (Files.isDirectory(p)) {
            val s = Files.list(p)
            try s.iterator().asScala.toList.foreach(rm) finally s.close()
          }
          Files.delete(p)
        }
        rm(data)
      }
      Files.move(tmp, data, StandardCopyOption.ATOMIC_MOVE)
      Files.write(mark, print.getBytes) // marker last: no torn fixture
    }
    data.toString
  }

  private def truthPairs(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, cachedArtifact(dir, "thr=0.3", "truthpairs") { tmp =>
      Similarity.cosinePairs(Tables.embeddings(spark, dir),
          "vec_id", "embedding", threshold = 0.3)
        .select(col("ida"), col("idb"))
        .write.mode("overwrite").parquet(tmp)
    })

  /** The serving panel for sim14: fixed query ids, k=10 (10 queries =
    * 100 truth rows, so one boundary miss moves measured recall by
    * 0.01 and the 0.9 gate keeps a multi-hit margin under the 0.92+
    * measured floor). */
  private val ServePanel: Seq[Long] = (0L to 9L).toSeq
  private val ServeCells = 16

  /** SIM14: PRUNED-PROBE ANN SERVING from the persisted IVF index — the
    * row that measures the index doing its JOB. sim6/sim10/sim13 probe
    * every cell so the exact oracle can hash-gate the build+layout
    * roundtrip; this query is the other half of the serving story (the
    * reference's "seek, don't scan" thesis): the index is a build-once
    * artifact (fingerprint-keyed like the sim2/sim3 truth sets — a
    * serving system builds once and answers many queries), and each of
    * the 10 panel queries is answered by [[graft.operators.IvfIndex
    * .searchAdaptive]] probing only the smallest centroid-ranked cell
    * prefix whose estimated neighbor-mass share reaches the 0.95
    * target — strictly fewer than all 16 cell directories (pruned_ok
    * asserts it for every query; partition pruning reaching the scan is
    * PlanSpec-pinned). The gate is measured panel recall@10 against the
    * persisted exact-top-10 truth fixture: >= [[PrunedRecallBound]],
    * set below the measured floor (see the bound's doc) so the flag
    * tests "adaptive pruning did not collapse recall", not run noise —
    * deterministic planes/centroids make it exact at a fixed SF.
    * This query's timed cost is index probes ONLY: no index build, no
    * exact scan, no corpus-sized collect. */
  def prunedAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val idxPath = cachedArtifact(dir, s"ivf=$ServeCells", "ivfidx") { tmp =>
      graft.operators.IvfIndex.build(emb, "vec_id", "embedding",
        numCells = ServeCells, tmp)
    }
    val truthPath = cachedArtifact(dir,
        s"topk=10|panel=${ServePanel.mkString(",")}", "truthtopk") { tmp =>
      Similarity.topKBatch(emb, "vec_id", "embedding", ServePanel, k = 10)
        .select(col("qid"), col("id"))
        .write.mode("overwrite").parquet(tmp)
    }
    val truth = Parquet.read(spark, truthPath).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    // panel query vectors: |panel| rows to the driver, dimension-sized
    val qvs = emb.where(col("vec_id").isin(ServePanel: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .toMap
    // the panel's probes are independent requests — run them through a
    // small driver pool so each query's tiny cell-scan job back-fills
    // the previous one's tail (r13 optimization, guide §2.6: overlap
    // independent jobs) instead of paying panel-many serial job walls;
    // the served results are unchanged per query, only their jobs overlap
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val served = Await.result(Future.sequence(ServePanel.map { qid => Future {
      val qv = qvs(qid)
      // rank cells ONCE; scanCells executes the same probe searchAdaptive
      // would, without re-ranking the centroid sidecar
      val (cells, qnorm) = graft.operators.IvfIndex.adaptiveProbeCells(
        idxPath, qv, PrunedRecallTarget, beta = PrunedBeta)
      val got = graft.operators.IvfIndex.scanCells(spark, idxPath, cells,
          qv, qnorm, k = 10, excludeId = Some(qid))
        .select(col("id")).collect().map(_.getLong(0))
      (cells.length < ServeCells, got.count(truth(qid).contains))
    }}), Duration.Inf)
    val allPruned = served.forall(_._1)
    val hits = served.map(_._2).sum
    val recall = hits.toDouble / (10 * ServePanel.size)
    Seq((emb.count(), ServePanel.size.toLong,
        recall >= PrunedRecallBound, allPruned))
      .toDF("n_vecs", "n_queries", "recall_ok", "pruned_ok")
  }

  /** Adaptive-probe mass-share target for sim14 (see
    * IvfIndex.searchAdaptive's calibration notes). Beta stays PINNED at
    * 5 here — one cell more conservative than this corpus's
    * auto-calibrated 5.2-5.5 (IvfIndex.betaFromSep from the build-time
    * separation stat; the auto path is the library default and is
    * spec-gated on the clustered regime where it claims ~2× probe
    * pruning) — because the sf0.001 recall floor (0.92 vs bound 0.9)
    * has no margin to spend on probing less, and a pinned beta keeps
    * this graded row's probe counts bit-stable across rounds. */
  private val PrunedRecallTarget = 0.95
  private val PrunedBeta = 5.0

  /** Measured sim14 panel recall@10 (target 0.95, beta 5, 16 cells,
    * 10-query panel; tools/Sim14Measure is the harness): 0.92
    * (sf0.001) / 0.99 (sf0.01) / 0.97 (sf0.1), probing 13.2-14.2 of
    * 16 cells on average — one easy query probed just 4-5 cells, the
    * adaptivity a fixed nProbe lacks (isotropic corpus is the worst
    * case for cell concentration; clustered real embeddings prune far
    * harder). Gate below the floor; deterministic at a fixed SF. */
  private val PrunedRecallBound = 0.9

  val prunedAnnSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(${ServePanel.size} AS BIGINT) AS n_queries,
      |  TRUE AS recall_ok, TRUE AS pruned_ok
      |FROM embeddings""".stripMargin

  /** SIM2: LSH-bucketed ANN pairs — the 100 TB scale path. Recall < 1
    * by construction (bucket collisions only), so the oracle gate is a
    * measured-recall bound: the exact pair count (SQL-derivable — the
    * DuckDB side counts cosine pairs >= 0.3 directly) plus a TRUE flag
    * asserting the bucketed path recovered at least RecallBound of the
    * exact pairs (truth set read from the persisted fixture, so this
    * query's cost IS the banded path). Precision is 1 by construction
    * (candidates are verified with the exact cosine before emission). */
  def lshAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val banded = Similarity.lshNeighborPairsMulti(emb,
        "vec_id", "embedding", numPlanes = 6, numTables = 12, threshold = 0.3,
        multiProbe = true)
      .select(col("ida"), col("idb")).withColumn("hit", lit(true))
    truthPairs(spark, dir)
      .join(banded, Seq("ida", "idb"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("n_true_pairs"),
        (col("n_hit") >= col("n_true_pairs") * lit(LshRecallBound)).as("recall_ok"))
  }

  /** Measured recall of the 12-table/6-plane MULTIPROBE construction on
    * the full >= 0.3 truth set: 0.959 (sf0.001) / 0.966 (sf0.01) /
    * 0.968 (sf0.1). The truth pairs cluster near cos 0.3-0.5 where
    * per-plane collision p = 1 - θ/π ≈ 0.6-0.67; Hamming-1 multiprobe
    * lifts per-table collision from p^6 to p^6 + 6·p^5(1-p) ≈ 0.23-0.36,
    * so theory predicts 1-(1-·)^12 ≈ 0.96+ — the measurement sits in
    * band (WITHOUT multiprobe, 16 of the same tables measured only
    * 0.547-0.580; 16 multiprobe tables reach 0.984-0.991 at ~1.4× the
    * candidate cost of 12 — tuned to 12 to stay well inside the bench
    * bound while clearing the 0.9 gate with margin). Gate below the
    * floor so the flag tests "amplified LSH recall did not collapse",
    * not run noise (the planes are deterministic, so at a fixed SF this
    * is exact). */
  private val LshRecallBound = 0.9

  val lshAnnSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ok
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.3""".stripMargin

  /** SIM3: IVF-cell ANN pairs — coarse-quantized scale path with
    * multi-probe (top-6 of 16 cells per vector); same measured-recall
    * oracle gate as sim2. */
  def ivfAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cells = Similarity.ivfNeighborPairs(emb,
        "vec_id", "embedding", numCells = 16, threshold = 0.3, nProbe = 6)
      .select(col("ida"), col("idb")).withColumn("hit", lit(true))
    truthPairs(spark, dir)
      .join(cells, Seq("ida", "idb"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("n_true_pairs"),
        (col("n_hit") >= col("n_true_pairs") * lit(IvfRecallBound)).as("recall_ok"))
  }

  /** Measured multi-probe (nProbe=6) recall on the >= 0.3 truth set:
    * 0.998 (sf0.001) / 0.999 (sf0.01) / 0.996 (sf0.1) — nProbe=4
    * measured 0.910-0.912; the two extra probes close the cell-boundary
    * misses for 1.5× the candidate mass. Gate below the floor;
    * deterministic at a fixed SF (hash-seeded centroids). */
  private val IvfRecallBound = 0.95

  val ivfAnnSql: String = lshAnnSql

  /** ML1: distributed Newton/IRLS logistic regression
    * (Classifier.trainLogRegNewton) — the trainable-scorer stage of a
    * curation pipeline — probed on a KNOWN separable target: y =
    * (v·embedding >= 0) for the deterministic JL plane v
    * (Similarity.rpPlanes), features = embedding ⊕ bias. A linear probe
    * with planted linear structure is the honest operator demo on this
    * corpus (the synthetic embeddings' `label` column is random — no
    * learnable signal; real quality labels plug into the identical
    * call). Training is iterative float math → not SQL-expressible;
    * the gate emits the SQL-derivable corpus size plus two flags:
    *  - `loss_ok`: trained log-loss beats the w=0 loss (ln 2) by >30%;
    *  - `acc_ok`: training accuracy >= [[LogRegAccBound]] on the
    *    separable target (measured 0.97-0.98 across SFs).
    * Every stage here is map-side (one scan per Newton iteration, one
    * scan each for accuracy and the two losses) — nothing data-sized
    * ever reaches the driver, so the query's plan is the one you'd run
    * at 100 TB. The sequential-parity cross-check (distributed weights
    * == same-math driver Newton) lives in SimilaritySpec on a bounded
    * sample, where a driver-side replay belongs. */
  def logreg(spark: SparkSession, dir: String): DataFrame = Pins.scope {
    import spark.implicits._
    val v = graft.operators.Similarity.rpPlanes(64, 1)(0)
    val emb = Pins.cache(Tables.embeddings(spark, dir)
      .select(concat(col("embedding"), array(lit(1.0f))).as("x"),
        (graft.plans.VectorOps.dot(col("embedding"), typedlit(v)) >= 0)
          .cast("int").as("y")))
    val iters = 4
    val w = graft.operators.Classifier.trainLogRegNewton(emb, "x", "y", iters)
    // ONE evaluation pass (r14 — the ml2 discipline from r13): accuracy,
    // both losses and the count are aggregates of the same cached frame
    // with fixed weights; identical expressions, one job instead of four.
    val st = emb.agg(
        count(lit(1)).as("n"),
        avg(((graft.operators.Classifier.score(col("x"), w) >= 0.5).cast("int")
          === col("y")).cast("int")).as("acc"),
        graft.operators.Classifier.logLossExpr(col("x"), col("y"), w).as("loss_t"),
        graft.operators.Classifier.logLossExpr(col("x"), col("y"),
          new Array[Double](w.length)).as("loss_0"))
      .head
    val (n, acc, lossT, loss0) =
      (st.getLong(0), st.getDouble(1), st.getDouble(2), st.getDouble(3))
    Seq((n, lossT <= loss0 * 0.7, acc >= LogRegAccBound))
      .toDF("n_rows", "loss_ok", "acc_ok")
  }

  /** SIM11: CLUSTER-BALANCED SAMPLING — the diversity-preserving subset
    * selection step of embedding-aware curation (sample evenly across
    * semantic clusters instead of uniformly, so a dominant mode can't
    * crowd the subset; the serving-side companion of SemDeDup's
    * per-cell pruning). Deterministic end to end, so the gate is an
    * EXACT hash match, not a bound flag:
    *
    *  - centroids: the 8 vectors with smallest (md5(vec_id), vec_id) —
    *    both engines compute the identical md5 hex;
    *  - assignment: argmax of ROUNDED (6 dp) cosine over the centroid
    *    set, smallest-cell tiebreak (centroids sorted cell-ascending +
    *    first-max array_position ⟺ DuckDB's ORDER BY cs DESC, cell);
    *    rounding first makes the argmax engine-stable — raw-float
    *    argmax could flip on a last-ulp difference;
    *  - per-cell pick: 20 smallest (md5(vec_id), vec_id) via
    *    Sampling.topKPerGroup's bounded heaps — sample-sized shuffle,
    *    never a per-cell global sort.
    *
    * Scale shape: assignment is MAP-SIDE (literal centroid arrays,
    * zero shuffle — sim3's pattern); the only shuffle carries ≤ k·per
    * heap survivors per partition. The centroid collect is k rows,
    * dimension-sized plan-time setup, same class as a broadcast dim. */
  def clusterSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val per = 20
    val emb = Tables.embeddings(spark, dir)
    val cents = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))
      .collect()
      .map { r =>
        val cv = r.getSeq[Float](1).toArray.map(_.toDouble)
        var nsq = 0.0
        cv.foreach(x => nsq += x * x)
        (r.getLong(0), cv, math.sqrt(nsq))
      }
      .sortBy(_._1)
    val cellIds = typedlit(cents.map(_._1))
    val simCols = cents.map { case (_, cv, cn) =>
      round(graft.plans.VectorOps.dot(col("v"), typedlit(cv)) /
        (col("vnorm") * lit(cn)), 6)
    }
    val assigned = emb
      .select(col("vec_id"), col("embedding").as("v"),
        sqrt(graft.plans.VectorOps.normSq(col("embedding"))).as("vnorm"))
      .withColumn("sims", array(simCols.toIndexedSeq: _*))
      .select(col("vec_id"),
        element_at(cellIds,
          array_position(col("sims"), array_max(col("sims"))).cast("int"))
          .as("cell"))
    graft.operators.Sampling.topKPerGroup(assigned, Seq("cell"),
        md5(col("vec_id").cast("string")), "vec_id", per)
      .select(col("vec_id"), col("cell"), col("rk"))
      .orderBy("cell", "rk")
  }

  val clusterSampleSql: String =
    """WITH c AS (
      |  SELECT vec_id AS cell, embedding AS cv FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      |a AS (
      |  SELECT e.vec_id, c.cell,
      |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                 CAST(c.cv AS DOUBLE[])), 6) AS cs
      |  FROM embeddings e CROSS JOIN c),
      |asg AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
      |    FROM a) WHERE rn = 1),
      |rk AS (
      |  SELECT vec_id, cell,
      |    CAST(row_number() OVER (PARTITION BY cell
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
      |  FROM asg)
      |SELECT vec_id, cell, rk FROM rk WHERE rk <= 20
      |ORDER BY cell, rk""".stripMargin

  /** Measured Newton training accuracy on the planted-hyperplane
    * target: see SimilaritySpec; gated below the floor so the flag
    * tests "training converged", not boundary-row float noise. */
  private val LogRegAccBound = 0.9

  val logregSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  TRUE AS loss_ok, TRUE AS acc_ok
      |FROM embeddings""".stripMargin
}
