package graft.operators

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.VectorOps
import graft.sources.Parquet

/** Persisted IVF index: the build-once / probe-many half of ANN serving.
  *
  * [[Similarity.ivfNeighborPairs]] quantizes and searches in one job;
  * a serving system builds the index ONCE and answers many queries
  * against it. `build` writes the corpus re-laid-out as parquet
  * PARTITIONED BY CELL (plus a tiny centroid sidecar); `search` ranks
  * cells against the query driver-side and scans only the `nProbe` best
  * cell directories — Spark partition pruning turns the probe into
  * `nProbe / numCells` of the data read, which is the property that
  * makes IVF work at 100 TB (a 1024-cell index probed at 8 reads <1% of
  * the corpus per query). Probing ALL cells degrades gracefully to the
  * exact brute-force scan, which is how the parity spec gates
  * correctness of the whole path.
  *
  * Centroid choice matches ivfNeighborPairs: the numCells vectors with
  * the smallest xxhash64(id) — deterministic, no RNG. Norms are
  * precomputed at build time and stored (the "norm is a stored column at
  * 100 TB" note on cosinePairs, made real).
  */
object IvfIndex {

  private case class Centroid(cell: Long, vec: Array[Double], norm: Double)

  /** Deterministic centroids + map-side cell assignment (shared with
    * ivfNeighborPairs' logic; ordered so ties resolve identically). */
  private def centroids(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int): Array[Centroid] =
    emb.orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(numCells)
      .select(col(idCol), col(vecCol))
      .collect()
      .map { r =>
        val cv = r.getSeq[Float](1).toArray.map(_.toDouble)
        var nsq = 0.0
        cv.foreach(x => nsq += x * x)
        Centroid(r.getLong(0), cv, math.sqrt(nsq))
      }
      .sortBy(_.cell)

  /** Build the index directory: `cell=<id>/` parquet partitions holding
    * (id, vec, vnorm), plus `_centroids.json`. One scan, zero shuffle —
    * assignment is a codegen'd array-argmax over literal centroid
    * vectors; the partitioned write distributes rows by cell value.
    *
    * `quantize = true` stores int8 codes + a per-vector scale INSTEAD of
    * the float vector: probes then read ~1/4 the bytes — at 100 TB, ANN
    * serving is scan-I/O-bound, so storage width is the lever that
    * matters after partition pruning. Cell assignment still uses full
    * precision; only storage (and therefore probe-time cosines, within
    * ~1e-2) is approximate — SimilaritySpec bounds the recall and the
    * cosine error. */
  /** Map-side cell assignment: argmax of centroid cosine, ties to the
    * first (lowest-cell) maximum — one codegen'd pass, zero shuffle. */
  private def assignCells(emb: DataFrame, idCol: String, vecCol: String,
      cents: Array[Centroid], metaCols: Seq[String] = Nil): DataFrame = {
    val cellIds = typedlit(cents.map(_.cell))
    val simCols = cents.map { c =>
      VectorOps.cosFrom(VectorOps.dot(col("vec"), typedlit(c.vec)),
        col("vnorm"), lit(c.norm))
    }
    emb.select(Seq(col(idCol).as("id"), col(vecCol).as("vec"),
        sqrt(VectorOps.normSq(col(vecCol))).as("vnorm")) ++ metaCols.map(col): _*)
      .withColumn("sims", array(simCols.toIndexedSeq: _*))
      .withColumn("cell",
        element_at(cellIds, array_position(col("sims"), array_max(col("sims"))).cast("int")))
      .drop("sims")
  }

  private def writeCentroids(cents: Array[Centroid], path: String): Unit = {
    val json = cents.map(c =>
        s"""{"cell":${c.cell},"norm":${c.norm},"vec":[${c.vec.mkString(",")}]}""")
      .mkString("[", ",", "]")
    Files.writeString(Paths.get(path, "_centroids.json"), json,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Vectors in the separation sample written to `_stats.json` at build
    * time: enough to average query-margin noise down (the statistic
    * separates regimes by >5× — see [[betaFromSep]] — so 32 is plenty),
    * few enough that the build-time cost is one TakeOrdered + 32·k dot
    * products on the driver. */
  private val SepSampleN = 32

  /** Build-time separation statistic: over a hash-chosen sample of
    * corpus vectors (a DIFFERENT hash stream than the centroid choice,
    * so the sample is not the centroids), the mean top1−top2
    * centroid-cosine margin a query drawn from the corpus sees. Small
    * margins = near-isotropic corpus (neighbor mass spreads across
    * cells, probe conservatively); large margins = clustered corpus
    * (the query's own cluster dominates, probe aggressively). Persisted
    * so SERVING derives its decay rate from the corpus the index was
    * actually built on — the STRESS.md #5 finding productized: a fixed
    * isotropic-calibrated beta left ~2× probe pruning unclaimed on
    * clustered corpora. */
  private def writeStats(emb: DataFrame, idCol: String, vecCol: String,
      cents: Array[Centroid], path: String): Unit = {
    val sample = emb
      .orderBy(xxhash64(col(idCol), lit("sep-sample")), col(idCol))
      .limit(SepSampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val margins = sample.map { qv =>
      var qn = 0.0
      qv.foreach(x => qn += x * x)
      val qnorm = math.sqrt(qn)
      var best = -2.0
      var second = -2.0
      cents.foreach { c =>
        var d = 0.0
        var i = 0
        while (i < c.vec.length) { d += c.vec(i) * qv(i); i += 1 }
        val s = VectorOps.cosScalar(d, c.norm, qnorm)
        if (s > best) { second = best; best = s }
        else if (s > second) { second = s }
      }
      best - second
    }
    val sep = if (margins.isEmpty) 0.0 else margins.sum / margins.length
    Files.writeString(Paths.get(path, "_stats.json"),
      s"""{"sep":$sep,"sample":${margins.length}}""",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  private[graft] def loadSep(path: String): Option[Double] = {
    val p = Paths.get(path, "_stats.json")
    if (!Files.exists(p)) None
    else """"sep":([-0-9.Ee]+)""".r.findFirstMatchIn(Files.readString(p))
      .map(_.group(1).toDouble)
  }

  def build(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int, path: String, quantize: Boolean = false,
      metaCols: Seq[String] = Nil): Unit = {
    val cents = centroids(emb, idCol, vecCol, numCells)
    val assigned = assignCells(emb, idCol, vecCol, cents, metaCols)
    val stored =
      if (!quantize) assigned
      else assigned
        // one-time build cost: HOFs are fine here, the hot path is probe
        .withColumn("scale",
          greatest(aggregate(col("vec"),
            lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0,
            lit(java.lang.Double.MIN_NORMAL)))
        .withColumn("codes", transform(col("vec"),
          x => round(x.cast("double") / col("scale")).cast("byte")))
        // norm of the DEQUANTIZED vector keeps probe cosines in [-1, 1]
        .withColumn("vnorm", col("scale") * sqrt(VectorOps.normSq(col("codes"))))
        .drop("vec")
    stored.write.mode("overwrite").partitionBy("cell").parquet(path)
    writeCentroids(cents, path)
    writeStats(emb, idCol, vecCol, cents, path)
  }

  /** IVF-PQ build: the composed FAISS-style serving layout. Rows store
    * ONLY (id, m-byte PQ code), partitioned by coarse cell — a probe
    * prunes to `nProbe / numCells` of the partitions (the IVF lever) and
    * reads ~m+8 bytes per surviving row instead of 4·dim (the PQ lever,
    * 16× at dim 64 / m 16). Cell assignment runs at full precision; the
    * PQ model is trained by the caller ([[Pq.train]] — typically on the
    * same corpus) and persisted as `_pq.json` so serving never retrains.
    * One scan, zero shuffle: assignment and encoding are both map-side
    * codegen'd expressions; the partitioned write distributes by cell. */
  def buildPq(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int, path: String, model: Pq.Model): Unit = {
    val cents = centroids(emb, idCol, vecCol, numCells)
    assignCells(emb, idCol, vecCol, cents)
      .select(col("id"),
        graft.plans.PqOps.encode(col("vec"), model.books).as("pq_codes"),
        col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeCentroids(cents, path)
    writeStats(emb, idCol, vecCol, cents, path)
    Pq.save(model, Paths.get(path, "_pq.json"))
  }

  private def loadCentroids(path: String): Array[Centroid] = {
    val json = Files.readString(Paths.get(path, "_centroids.json"))
    """\{"cell":(-?\d+),"norm":([-0-9.Ee]+),"vec":\[([^\]]*)\]\}""".r
      .findAllMatchIn(json)
      .map(m => Centroid(m.group(1).toLong, m.group(3).split(',').map(_.toDouble),
        m.group(2).toDouble))
      .toArray
  }

  /** Top-k by cosine against `queryVec`, probing the `nProbe` cells whose
    * centroids are most query-similar. The cell ranking is k tiny dot
    * products on the driver; the scan reads ONLY those cell directories
    * (partition pruning — probeSpec asserts `PartitionFilters` carries
    * the cell list); within them one codegen'd dot per row feeds
    * TakeOrdered. nProbe = numCells ⇒ exact. */
  def search(spark: SparkSession, path: String, queryVec: Array[Double],
      k: Int, nProbe: Int, excludeId: Option[Long] = None,
      filter: Option[Column] = None): DataFrame = {
    val (probed, qnorm) = probeCells(path, queryVec, nProbe)
    scanCells(spark, path, probed, queryVec, qnorm, k, excludeId, filter)
  }

  /** [[search]] with the probe count derived from a RECALL TARGET
    * instead of a fixed nProbe: rank cells by centroid similarity, then
    * probe the smallest prefix whose estimated share of the query's
    * neighbor mass reaches `recallTarget`. The estimate weights cell i
    * by exp(beta·(s_i − s_1)) — an exponential decay in the similarity
    * margin to the best cell (a von-Mises-Fisher-style surrogate:
    * neighbor density falls off exponentially in angular distance, so a
    * cell whose centroid trails the best by margin δ holds ~e^(−βδ) as
    * many of the query's near neighbors). An easy query (one dominant
    * cell) probes 1-2 cells; a boundary query (flat margins) probes
    * many — which is exactly the adaptivity a fixed nProbe lacks.
    * `beta` is the decay rate, calibrated so AVERAGE measured recall
    * matches the target on an ISOTROPIC dim-64 cosine corpus — the
    * worst case for cell concentration (measured over a 20-query panel
    * at 16 cells: target 0.9 → avg recall 0.91/0.93 probing 11-12
    * cells, target 0.8 → 0.78/0.83 probing ~9, at sf0.001/sf0.1;
    * AdaptiveScan is the harness). Clustered real-world embeddings
    * concentrate harder, so the same beta probes fewer cells there —
    * but a beta calibrated for the isotropic worst case stays
    * CONSERVATIVE on them: measured on a 16-cluster corpus
    * (STRESS.md #5), beta 5 probed ~10/16 cells where beta 9-12
    * probed 4-5/16 at recall 1.00. Beta is a corpus-separation
    * parameter — and the default (NaN = auto) now DERIVES it from the
    * separation statistic the build persisted in `_stats.json`
    * ([[betaFromSep]]): near-isotropic indexes serve at the
    * conservative floor, clustered ones claim the measured ~2× probe
    * pruning with no manual sweep. Pass beta explicitly to override;
    * per-query recall varies around the target, as in any unverified
    * ANN serving path. recallTarget = 1 probes every cell ⇒ exact. */
  def searchAdaptive(spark: SparkSession, path: String, queryVec: Array[Double],
      k: Int, recallTarget: Double, excludeId: Option[Long] = None,
      beta: Double = Double.NaN): DataFrame = {
    val (probed, qnorm) = adaptiveProbeCells(path, queryVec, recallTarget, beta)
    scanCells(spark, path, probed, queryVec, qnorm, k, excludeId)
  }

  /** The probe-execution half of [[search]]/[[searchAdaptive]]:
    * scan exactly `probed` cell directories, rank by cosine, top-k.
    * Package-visible so a caller that already ranked cells (e.g. to
    * report the probe count) doesn't pay the centroid ranking twice. */
  private[graft] def scanCells(spark: SparkSession, path: String,
      probed: Array[Long], queryVec: Array[Double], qnorm: Double, k: Int,
      excludeId: Option[Long], filter: Option[Column] = None): DataFrame = {
    val probedScan = Parquet.read(spark, path)
      .where(col("cell").isin(probed.toIndexedSeq: _*))
    val metaFiltered = filter.fold(probedScan)(probedScan.where)
    val filtered = excludeId.fold(metaFiltered)(x => metaFiltered.where(col("id") =!= x))
    // quantized index: dot(q, codes)·scale == dot(q, dequantized), one
    // codegen'd int8 loop per row reading 1/4 the bytes
    val dot =
      if (filtered.columns.contains("codes"))
        VectorOps.dot(typedlit(queryVec), col("codes")) * col("scale")
      else VectorOps.dot(col("vec"), typedlit(queryVec))
    filtered
      .select(col("id"), VectorOps.cosFrom(dot, col("vnorm"), lit(qnorm)).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Append new vectors to an existing IVF-PQ index: assignment and
    * encoding run from the PERSISTED sidecars — centroids and codebooks
    * are never retrained, which is the serving contract (a code means
    * the same thing in every block ever written, so probes never
    * version-check rows). This is the streaming-maintenance shape: call
    * per micro-batch from foreachBatch; exactly-once is the CALLER's
    * concern (pair with a batch-id marker as in streaming/Ingest —
    * replaying a batch through a bare append duplicates rows). One
    * map-side scan of the new rows, partitioned append by cell. */
  def appendPq(emb: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    encodePq(emb, idCol, vecCol, path)
      .write.mode("append").partitionBy("cell").parquet(path)

  /** The assignment+encoding stage of [[appendPq]] — (id, pq_codes,
    * cell) from the PERSISTED sidecars, no write. Exposed so the
    * streaming sink (streaming/Ingest.appendPqIdempotent) can stage the
    * same rows and commit them with batch-tagged filenames. */
  private[graft] def encodePq(emb: DataFrame, idCol: String, vecCol: String,
      path: String): DataFrame = {
    val cents = loadCentroids(path)
    val model = Pq.load(Paths.get(path, "_pq.json"))
    assignCells(emb, idCol, vecCol, cents)
      .select(col("id"),
        graft.plans.PqOps.encode(col("vec"), model.books).as("pq_codes"),
        col("cell"))
  }

  /** Rank the `nProbe` most query-similar cells driver-side (k tiny dot
    * products against the centroid sidecar). Package-visible so the
    * spec can assert partial-probe results equal brute force restricted
    * to exactly these cells. */
  private[graft] def probeCells(path: String, queryVec: Array[Double],
      nProbe: Int): (Array[Long], Double) = {
    val (ranked, qnorm) = rankCells(path, queryVec)
    (ranked.take(nProbe).map(_._1), qnorm)
  }

  /** The isotropic serving floor for the adaptive decay rate: the value
    * AdaptiveScan calibrated so average measured recall meets the target
    * on an isotropic dim-64 corpus — the worst case for cell
    * concentration, so it is the CONSERVATIVE end of the scale. */
  private[graft] val BetaIso = 5.0

  /** Aggressive end of the scale: on the 16-cluster stress corpus,
    * beta 9-12 probed 4.4-4.9/16 cells at measured recall 1.00
    * (STRESS.md #5 beta sweep) — 12 is the highest value that sweep
    * verified, so auto-calibration never extrapolates past it. */
  private[graft] val BetaMax = 12.0

  /** Separation anchor points for [[betaFromSep]], calibrated against
    * the `_stats.json` statistic MEASURED on both regimes (32-vector
    * hash sample, mean top1−top2 centroid-cosine margin, 16 cells;
    * tools/SepScan is the harness): the driver embeddings corpora
    * (near-isotropic — the regime BetaIso was calibrated on) measure
    * sep 0.063-0.083 → beta 5.2-5.5, just above the floor; the
    * 16-cluster stress corpus measures sep 0.343-0.344 (stable 1×→10×)
    * → beta 9.6, the middle of the band the beta sweep verified at
    * recall 1.00 probing 4.4-4.9/16 cells. SepClustered sits ABOVE the
    * measured stress value so only corpora separated harder than the
    * stress case approach BetaMax — the conservative side of the
    * verified band. */
  private[graft] val SepIso = 0.05
  private[graft] val SepClustered = 0.50

  /** Derive the adaptive-probe decay rate from the index's build-time
    * separation statistic: linear in sep between the two measured
    * anchors, clamped to [BetaIso, BetaMax]. Monotone — more measured
    * separation, more aggressive pruning — and conservative by
    * construction at both ends: an unclustered corpus gets exactly the
    * isotropic calibration, and no corpus gets a beta beyond what the
    * stress sweep verified at recall 1.00. */
  private[graft] def betaFromSep(sep: Double): Double =
    BetaIso + (BetaMax - BetaIso) *
      math.min(1.0, math.max(0.0, (sep - SepIso) / (SepClustered - SepIso)))

  /** Resolve the serve-time beta: NaN (the default) = auto-calibrate
    * from the sidecar statistic, falling back to the isotropic floor
    * for indexes built before `_stats.json` existed. An explicit beta
    * always wins — AdaptiveScan/stress sweeps need the raw knob. */
  private def resolveBeta(path: String, beta: Double): Double =
    if (!beta.isNaN) beta
    else loadSep(path).map(betaFromSep).getOrElse(BetaIso)

  /** Adaptive probe selection (see [[searchAdaptive]]): smallest
    * similarity-ranked prefix whose exp(beta·margin) mass share reaches
    * `recallTarget`. `beta = NaN` auto-calibrates via [[resolveBeta]]. */
  private[graft] def adaptiveProbeCells(path: String, queryVec: Array[Double],
      recallTarget: Double, beta: Double = Double.NaN): (Array[Long], Double) = {
    require(recallTarget > 0 && recallTarget <= 1,
      s"recallTarget must be in (0, 1], got $recallTarget")
    val b = resolveBeta(path, beta)
    val (ranked, qnorm) = rankCells(path, queryVec)
    val top = ranked.head._2
    val ws = ranked.map { case (_, s) => math.exp(b * (s - top)) }
    val total = ws.sum
    var acc = 0.0
    var n = 0
    while (n < ranked.length && acc / total < recallTarget) {
      acc += ws(n)
      n += 1
    }
    (ranked.take(n).map(_._1), qnorm)
  }

  /** All cells ranked by query-centroid cosine (desc, cell-id tiebreak):
    * k tiny driver-side dot products against the sidecar. */
  private def rankCells(path: String,
      queryVec: Array[Double]): (Array[(Long, Double)], Double) = {
    var qn = 0.0
    queryVec.foreach(x => qn += x * x)
    val qnorm = math.sqrt(qn)
    val ranked = loadCentroids(path)
      .map { c =>
        var d = 0.0
        var i = 0
        while (i < c.vec.length) { d += c.vec(i) * queryVec(i); i += 1 }
        (c.cell, VectorOps.cosScalar(d, c.norm, qnorm))
      }
      .sortBy { case (cell, sim) => (-sim, cell) }
    (ranked, qnorm)
  }

  /** IVF-PQ top-k: probe the `nProbe` best cells, ADC-rank ONLY the
    * m-byte code column within them ([[Pq.adcCosine]] — two LUT-sum
    * expressions, no vector touched), take `candidates`, exact-verify
    * those at full width against the base table `emb`. Candidate I/O is
    * `(nProbe/numCells) · (m+8)/(4·dim+8)` of a brute-force scan — both
    * ANN levers compounded — and the rerank touches `candidates` rows.
    * nProbe = numCells degrades to PQ-only ([[Pq.topK]] semantics), which
    * is how the sim10 gate shares sim1's exact oracle. */
  def searchPq(spark: SparkSession, path: String, emb: DataFrame,
      idCol: String, vecCol: String, queryId: Long, k: Int, nProbe: Int,
      candidates: Int): DataFrame = {
    val qv = emb.where(col(idCol) === queryId).select(col(vecCol))
      .head.getSeq[Float](0).toArray.map(_.toDouble)
    searchPqCells(spark, path, emb, idCol, vecCol, queryId, k, candidates,
      qv, probeCells(path, qv, nProbe)._1)
  }

  /** [[searchPq]] with the probe count derived from a recall target via
    * [[adaptiveProbeCells]] — same mass model as [[searchAdaptive]],
    * composed with the PQ/ADC rerank. */
  def searchPqAdaptive(spark: SparkSession, path: String, emb: DataFrame,
      idCol: String, vecCol: String, queryId: Long, k: Int,
      recallTarget: Double, candidates: Int,
      beta: Double = Double.NaN): DataFrame = {
    val qv = emb.where(col(idCol) === queryId).select(col(vecCol))
      .head.getSeq[Float](0).toArray.map(_.toDouble)
    searchPqCells(spark, path, emb, idCol, vecCol, queryId, k, candidates,
      qv, adaptiveProbeCells(path, qv, recallTarget, beta)._1)
  }

  private def searchPqCells(spark: SparkSession, path: String, emb: DataFrame,
      idCol: String, vecCol: String, queryId: Long, k: Int, candidates: Int,
      qv: Array[Double], probed: Array[Long]): DataFrame = {
    val model = Pq.load(Paths.get(path, "_pq.json"))
    val cand = Parquet.read(spark, path)
      .where(col("cell").isin(probed.toIndexedSeq: _*))
      .where(col("id") =!= queryId)
      .select(col("id"), Pq.adcCosine(col("pq_codes"), model, qv).as("acos"))
      .orderBy(col("acos").desc, col("id"))
      .limit(candidates)
      .select(col("id"))
    // exact verify with bruteForceTopK's arithmetic — identical ops, so
    // a full probe with enough candidate headroom hash-gates on sim1
    val q = emb.where(col(idCol) === queryId)
      .select(transform(col(vecCol), _.cast("double")).as("qv"))
    emb.join(broadcast(cand), emb(idCol) === cand("id"))
      .join(broadcast(q))
      .select(col("id"),
        Similarity.cosine(transform(col(vecCol), _.cast("double")), col("qv"))
          .as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }
}
