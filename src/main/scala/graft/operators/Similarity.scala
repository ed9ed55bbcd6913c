package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.plans.VectorOps
import graft.util.Pins

/** Similarity search over an embedding column (Array[Float]).
  *
  * Three tiers, by threshold regime:
  *
  *  - `bruteForceTopK`: single scan + broadcast query vector +
  *    TakeOrdered — the per-query baseline, scales linearly.
  *  - `cosinePairs`: EXACT all-pairs mining at an arbitrary threshold.
  *    Exact loose-threshold mining is inherently Θ(N²) dot products (at
  *    cos ≥ 0.45 the angle budget is ~63°; no hashing scheme prunes
  *    subquadratically with recall ≈ 1 there — band-hit rate p ≈ 0.65
  *    vs bucket prune 2^-r never closes). What CAN scale is the shape:
  *    a block-pair equi-join shards the quadratic work evenly across the
  *    cluster with bounded task memory, instead of the broadcast
  *    nested-loop cross join (full-table broadcast = driver/executor OOM
  *    at 100 TB) it replaces.
  *  - `lshNeighborPairs` / `ivfNeighborPairs`: approximate candidates for
  *    the TIGHT-threshold regime (real near-dup, cos ≥ 0.9, where a few
  *    hyperplanes give high recall). Recall < 1 by construction;
  *    SimilaritySpec gates measured recall against the exact pair set.
  *
  * Hyperplane components are derived from xxhash64(seed, dim) —
  * deterministic, no RNG at plan time.
  */
object Similarity {

  /** Cosine similarity via the codegen'd DotProduct expression
    * (graft.plans.VectorExprs). Sequential left-to-right double
    * accumulation — bit-identical to the interpreted
    * `aggregate(zip_with(...))` formulation it replaced, ~50× faster on
    * pairwise workloads because the loop lives inside whole-stage codegen.
    *
    * Zero-norm semantics (whole family, pinned by SimilaritySpec): a
    * zero vector is defined orthogonal to everything — cos = 0, never
    * NaN, never a division by zero (ANSI-safe). See VectorOps.cosFrom. */
  def cosine(a: Column, b: Column): Column =
    VectorOps.cosFrom(VectorOps.dot(a, b),
      sqrt(VectorOps.normSq(a)), sqrt(VectorOps.normSq(b)))

  private[graft] def toDouble(c: Column): Column = transform(c, _.cast(DoubleType))

  /** Brute-force top-k by cosine against the vector of `queryId`.
    * The 1-row query side is broadcast; compiles to scan + TakeOrdered. */
  def bruteForceTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(idCol) === queryId)
      .select(toDouble(col(vecCol)).as("qv"))
    emb.where(col(idCol) =!= queryId)
      .join(broadcast(q))
      .select(col(idCol).as("id"),
        cosine(toDouble(col(vecCol)), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Batch multi-query top-k: serve Q query vectors in ONE table scan.
    *
    * Per-partition bounded min-heaps (Q×k entries per task) fold each
    * partition's vectors into local top-k lists map-side; the final
    * merge ranks only `partitions × Q × k` partial rows — so there is
    * no N×Q shuffle (the window-over-all-scores formulation) and no
    * per-query rescan (Q× the I/O). This is the batch ANN serving shape
    * at 100 TB: query set broadcast, one pass, output-bounded merge.
    * The same mapPartitions-fold-then-merge pattern as functions.Fold —
    * the universal per-partition fold, specialized to top-k.
    *
    * Cosines use the same sequential double accumulation as [[cosine]]
    * so results line up with the DuckDB oracle at 6 dp.
    */
  def topKBatch(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val queries: Array[(Long, Array[Double], Double)] = emb
      .where(col(idCol).isin(queryIds: _*))
      .select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
      .collect()
      .map { case (qid, vf) =>
        val qv = vf.map(_.toDouble)
        var nsq = 0.0
        qv.foreach(x => nsq += x * x)
        (qid, qv, math.sqrt(nsq))
      }
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(queries)
    // evict-worst ordering: PriorityQueue dequeues its max, so "max" must
    // mean worst kept = lowest cos, then largest id
    val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
      case (c, id) => (-c, id)
    }
    val partials = emb.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        val heaps = qs.map(_ =>
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst))
        it.foreach { case (id, vf) =>
          var nsq = 0.0
          var i = 0
          while (i < vf.length) { val x = vf(i).toDouble; nsq += x * x; i += 1 }
          val nrm = math.sqrt(nsq)
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv, qnorm) = qs(qi)
            if (id != qid) {
              var dot = 0.0
              var d = 0
              while (d < vf.length) { dot += vf(d).toDouble * qv(d); d += 1 }
              val cos = VectorOps.cosScalar(dot, nrm, qnorm)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((cos, id))
              else {
                val (wc, wid) = h.head
                if (cos > wc || (cos == wc && id < wid)) {
                  h.dequeue(); h.enqueue((cos, id))
                }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.map { case (c, id) => (qs(qi)._1, id, c) }
        }
      }
      .toDF("qid", "id", "cos")
    import org.apache.spark.sql.expressions.Window
    partials
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk").cast("long").as("rk"),
        col("id"), col("cos"))
  }

  /** EXACT all pairs with cosine >= threshold, as a block-pair equi-join.
    *
    * Each vector hashes into one of B blocks and is replicated to every
    * unordered block-pair key (lo, hi) it participates in; a shuffle join
    * on that key brings each pair of blocks to one task. A pair with
    * blocks (i, j), i ≠ j shares exactly the key (i, j); a same-block
    * pair shares all B of its keys, so the residual
    * `(lo, hi) == (min(blk_a, blk_b), max(..))` pins every pair to
    * exactly one key. Norms are computed once per vector BEFORE
    * replication (N sqrt ops, not N²; at 100 TB the norm is a stored
    * column), so each surviving pair costs one codegen'd dot product.
    *
    * Scale knobs: shuffle volume is B·N vectors; per-task work is
    * (N/B)² dots — B is chosen so a block pair fits one task. No
    * broadcast, no nested loop, no driver materialization.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBlocks: Int = 8): DataFrame =
    cosinePairsFrom(
      emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(VectorOps.normSq(col(vecCol))).as("nrm")),
      threshold, numBlocks)

  /** Augment an embedding table with its precomputed L2 norm — the
    * "norm is a stored column" move the scaladoc above describes: write
    * this once (`withNorm(...).write...` or a ZTable append) and every
    * later pair-mining pass skips the N sqrt+dot prologue entirely. */
  def withNorm(emb: DataFrame, idCol: String, vecCol: String,
      normCol: String = "vnorm"): DataFrame =
    emb.withColumn(normCol, sqrt(VectorOps.normSq(col(vecCol))))

  /** [[cosinePairs]] over a table that already carries (id, v, nrm) —
    * e.g. one persisted by [[withNorm]]. */
  def cosinePairsFrom(prepped: DataFrame,
      threshold: Double, numBlocks: Int = 8): DataFrame = {
    val rep = prepped.select(col("id"), col("v"), col("nrm"),
        pmod(xxhash64(col("id")), lit(numBlocks)).cast("int").as("blk"))
      .select(col("id"), col("v"), col("nrm"), col("blk"),
        explode(sequence(lit(0), lit(numBlocks - 1))).as("q"))
      .select(col("id"), col("v"), col("nrm"), col("blk"),
        least(col("blk"), col("q")).as("lo"),
        greatest(col("blk"), col("q")).as("hi"))
    val a = rep.select(col("lo"), col("hi"), col("id").as("ida"),
      col("v").as("va"), col("nrm").as("norm_a"), col("blk").as("blka"))
    val b = rep.select(col("lo"), col("hi"), col("id").as("idb"),
      col("v").as("vb"), col("nrm").as("norm_b"), col("blk").as("blkb"))
    a.join(b, Seq("lo", "hi"))
      .where(col("ida") < col("idb") &&
        col("lo") === least(col("blka"), col("blkb")) &&
        col("hi") === greatest(col("blka"), col("blkb")))
      .select(col("ida"), col("idb"),
        VectorOps.cosFrom(VectorOps.dot(col("va"), col("vb")),
          col("norm_a"), col("norm_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Hyperplane h component d, computed driver-side — the exact value the
    * previous per-row Column formula produced
    * (`pmod(xxhash64(d + h*4096), 2000003) / 1000001.5 - 1`), so bucket
    * assignments are bit-identical, but the per-row work is now one
    * codegen'd dot against a literal array instead of an interpreted
    * `aggregate(zip_with(...))` per plane — the exact anti-pattern the
    * DotProduct expression was built to kill (VectorExprs.scala). */
  private def planeComponent(h: Int, d: Int): Double = {
    val hash = XXH64.hashInt(h * 4096 + d, 42L) // xxhash64's default seed
    val m = ((hash % 2000003L) + 2000003L) % 2000003L
    m.toDouble / 1000001.5 - 1.0
  }

  /** The full L-table plane matrix, flat (t·numPlanes + h)·dim + d —
    * the [[graft.plans.SignBands]] reference-object layout. Same
    * [[planeComponent]] values the per-table [[lshBucket]] literals
    * carry, so fused and per-table signatures agree bit-for-bit. */
  private[graft] def planesFlat(numPlanes: Int, numTables: Int, dim: Int): Array[Double] = {
    val out = new Array[Double](numTables.toInt * numPlanes * dim)
    var t = 0
    while (t < numTables) {
      var h = 0
      while (h < numPlanes) {
        var d = 0
        while (d < dim) {
          out((t * numPlanes + h) * dim + d) = planeComponent(t * numPlanes + h, d)
          d += 1
        }
        h += 1
      }
      t += 1
    }
    out
  }

  /** Deterministic random-hyperplane sign bits: bucket = H-bit signature.
    * Planes are materialized once as array literals; signing a vector is
    * H codegen'd dot products, fully inside whole-stage codegen.
    * `table` offsets the plane index so independent hash tables (the
    * classic LSH amplification) reuse the same machinery. */
  def lshBucket(vecCol: Column, numPlanes: Int, dim: Int = 64, table: Int = 0): Column = {
    val bits = (0 until numPlanes).map { h =>
      val plane = typedlit((0 until dim).map(
        planeComponent(table * numPlanes + h, _)).toArray)
      when(VectorOps.dot(vecCol, plane) > 0, shiftleft(lit(1L), h)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a + b)
  }

  /** Multi-table LSH ANN pairs — the amplified construction: L
    * independent numPlanes-bit tables; a pair is a candidate if it
    * collides in ANY table (miss probability (1-p^H)^L for per-plane
    * collision p), then candidates are verified with the exact cosine.
    * Vectors are replicated L-fold map-side (a table column rides the
    * shuffle key), pairs are distinct'd before verification so each
    * candidate pays one dot product. The shuffle is L×N bucket rows,
    * but the bucket SELF-JOIN emits ~N²/2^H pairs per table — so the
    * construction scales only while 2^H tracks N. SCALE BOUNDARY
    * (measured, STRESS.md #4): on isotropic vectors at the default
    * 6-plane/12-table multiprobe banding, a random pair collides
    * somewhere with p ≈ 0.75 — candidate mass ~0.75·N²/2, which
    * exhausted 75 GB of spill at just 60 k vectors. Planes must grow
    * ~log N (selectivity), tables buy the recall back — and at LOW
    * cosine thresholds on unclustered data p₁/p₂ separation collapses
    * (LSH ρ → 1), so no banding is cheap: corpus-scale pair mining in
    * that regime belongs to the cell-blocked contracts ([[semDeDup]]
    * per-cell pairs, [[topK]] bounded heaps, IVF candidates) instead.
    *
    * That boundary is now a CONTRACT, not a scaladoc warning: every call
    * prices the requested banding against the corpus size first (the
    * [[planBanding]] background model, one metadata-cheap `count()`).
    * A request whose modeled background-candidate mass exceeds
    * `candidateBudget` either fails fast with the planner's numbers
    * (default) or — with `autoSize = true` — runs the planner-sized
    * banding instead, logging the honest predicted recall (which may
    * fall short of `targetRecall` in the collapsed-ρ regime; the log
    * and the thrown message both say so, and both name the cell-blocked
    * alternatives). The registered sim2 banding at driver scale models
    * ~1.5 M candidates — far inside the default budget — so the guard
    * is free there; the 60 k-isotropic stress configuration (~1.35e9
    * modeled, 75 GB spill measured) is exactly what it refuses.
    *
    * `multiProbe = true` turns on Hamming-1 multiprobe (Lv et al.,
    * VLDB'07): ONE side of the self-join additionally probes the
    * numPlanes buckets one bit-flip away, so a pair collides in a table
    * when its signatures differ in ≤ 1 bit. Per-table collision rises
    * from p^H to p^H + H·p^(H-1)(1-p) — ~5× at the hard end of a
    * cos ≥ 0.3 truth set — for (H+1)× probe rows on one side, which is
    * far cheaper than the (H+1)²× of expanding both sides or the ~5×
    * table count the same recall would otherwise need (probe rows carry
    * ids + signatures only; the exact-verify cost grows with the
    * candidate mass either way). */
  def lshNeighborPairsMulti(emb: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, numTables: Int, threshold: Double,
      multiProbe: Boolean = false,
      candidateBudget: Long = DefaultCandidateBudget,
      autoSize: Boolean = false,
      targetRecall: Double = 0.9,
      knownN: Long = -1L): DataFrame = {
    // the gate needs the corpus size; counting is footer-metadata cheap
    // on a parquet-backed frame but re-executes a DERIVED input's plan —
    // callers composing pipelines upstream should pass knownN
    val (planes, tables) = guardBanding("lshNeighborPairsMulti",
      if (knownN >= 0) knownN else emb.count(),
      numPlanes, numTables, threshold, multiProbe,
      candidateBudget, autoSize, targetRecall)
    val vecs = emb.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"),
      sqrt(VectorOps.normSq(col(vecCol))).as("nrm"))
    val cands = lshCandidates(emb, idCol, vecCol, planes, tables, multiProbe)
    cands
      .join(vecs.select(col("id").as("ida"), col("v").as("va"),
        col("nrm").as("nrm_a")), Seq("ida"))
      .join(vecs.select(col("id").as("idb"), col("v").as("vb"),
        col("nrm").as("nrm_b")), Seq("idb"))
      .select(col("ida"), col("idb"),
        VectorOps.cosFrom(VectorOps.dot(col("va"), col("vb")),
          col("nrm_a"), col("nrm_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Candidate-pair stage of [[lshNeighborPairsMulti]]: (ida, idb),
    * each emitted exactly once (first-colliding-table dedup), no
    * verification. Exposed so the candidate cost can be measured apart
    * from the exact-verify cost. */
  private[graft] def lshCandidates(emb: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, numTables: Int, multiProbe: Boolean): DataFrame = {
    require(numPlanes <= 60, "numPlanes must fit a packed long lane")
    val vecs = emb.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    // all L signatures in ONE fused codegen expression (plane matrix is
    // a flat reference object): the array-of-lshBucket formulation this
    // replaces inlined L·H·dim literal doubles into the generated class
    // and crossed janino's 64 KB method limit at planner-sized bandings
    // (11×79 observed) — Spark then ran the signing stage INTERPRETED on
    // exactly the configs where LSH works hardest. Signatures are
    // bit-identical (see SignBands scaladoc); measured 33 s → fused at
    // 11×79/sf0.1 with zero codegen fallbacks.
    val signed = vecs
      .withColumn("bks", VectorOps.signBands(col("v"),
        planesFlat(numPlanes, numTables, dim = 64), numPlanes, numTables, dim = 64))
    // All L signatures packed into one ⌈L/(60/H)⌉-long array column
    // (H-bit lanes). The per-joined-row dedup condition below runs on
    // EVERY bucket-join match (~collision mass × L rows), so it must be
    // a handful of primitive shift/mask ops per table. Packing and the
    // first-collision scan are single fused expressions (PackLanes /
    // FirstCollision, VectorExprs.scala): the per-table Column-chain
    // formulations they replace generated stage methods past HotSpot's
    // 8 KB JIT ceiling at planner-sized bandings — janino compiled them
    // fine, but the JVM ran the stage in its BYTECODE interpreter,
    // measured 2× slower than even Spark's expression-interpreted
    // fallback (11×79/sf0.1: 38 s chain-form vs 6 s fused).
    // PINNED (r14, guide §1.2 pass count): the probe and build sides of
    // the bucket self-join both read `packed`, and the signing kernel
    // (L·H dim-sized dot products per vector) is map-side — without the
    // pin each side re-evaluates it from the scan. The pin is
    // corpus-ROW-sized but signature-narrow (id + L+⌈L·H/60⌉ longs per
    // vector — the signature table a production LSH pipeline
    // materializes anyway, ~30× narrower than the vectors at dim 64).
    val packed = Pins.pin(signed.select(col("id"), col("bks"),
      VectorOps.packLanes(col("bks"), numPlanes, numTables).as("pks")))
    val bucketed = packed
      .select(col("id"), col("pks"),
        posexplode(col("bks")).as(Seq("tbl", "bucket")))
    // probe side: the exact bucket, plus — under multiprobe — each
    // single-bit-flip neighbor bucket. Only this side expands; the
    // build side stays at exact signatures, so a Hamming-≤1 pair meets
    // on exactly one key per colliding table (exact-exact at distance
    // 0, flip_j-exact at distance 1 — never both).
    val probed =
      if (!multiProbe) bucketed
      else packed
        .select(col("id"), col("pks"),
          posexplode(col("bks")).as(Seq("tbl", "sig")))
        .select(col("id"), col("pks"), col("tbl"),
          explode(array((col("sig") +: (0 until numPlanes).map(h =>
            col("sig").bitwiseXOR(lit(1L << h)))): _*)).as("bucket"))
    val a = probed.select(col("tbl"), col("bucket"),
      col("id").as("ida"), col("pks").as("pksa"))
    val b = bucketed.select(col("tbl"), col("bucket"),
      col("id").as("idb"), col("pks").as("pksb"))
    // CANDIDATES, then VERIFY: the L-fold replicated self-join carries
    // only ids + packed signatures (pairs deduped without a distinct —
    // each pair survives only in the FIRST table where its signatures
    // collide, equal or within 1 bit under multiprobe); the dim-sized
    // vectors join in once per side afterwards, so the collision mass
    // never shuffles dim-width payloads. At dim=64/L=16 the bucket rows
    // are ~30× narrower than carrying the vectors through the join —
    // the gap that matters at 100 TB.
    a.join(b, Seq("tbl", "bucket")).where(col("ida") < col("idb"))
      .where(col("tbl") === VectorOps.firstCollision(
        col("pksa"), col("pksb"), numPlanes, numTables, multiProbe))
      .select(col("ida"), col("idb"))
  }

  /** IVF-style ANN: a deterministic coarse quantizer — the k vectors with
    * the smallest xxhash64(id) act as centroids (no RNG, stable across
    * runs); assignment is MAP-SIDE: the k centroid similarities are an
    * array expression over literal centroid vectors and the argmax is
    * `array_position(sims, array_max(sims))` — zero shuffle, unlike a
    * `row_number().over(partitionBy(id))` which would shuffle N×k scored
    * rows just to take an argmax. Candidate pairs are searched within
    * cells only (one shuffle on cell id). The k-row centroid collect is
    * dimension-sized plan-time setup, same class as a broadcast dim.
    * Recall < 1 by construction (cell-boundary neighbors are missed);
    * `nProbe` > 1 is the standard multi-probe trade: each vector joins
    * its top-nProbe cells (nProbe×N bucket rows, nProbe× the candidate
    * mass, recall approaches 1 as nProbe→numCells). */
  def ivfNeighborPairs(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int, threshold: Double, nProbe: Int = 1): DataFrame = {
    val cents = emb
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(numCells)
      .select(col(idCol).as("cell"), col(vecCol).as("cv"))
      .collect()
      .map { r =>
        val cv = r.getSeq[Float](1).toArray.map(_.toDouble)
        // left-to-right double accumulation, matching VectorOps.normSq
        var nsq = 0.0
        cv.foreach(x => nsq += x * x)
        (r.getLong(0), cv, math.sqrt(nsq))
      }
      .sortBy(_._1) // cell-ascending: first-max tie-break = smallest cell
    val cellIds = typedlit(cents.map(_._1))
    val simCols = cents.map { case (_, cv, cnorm) =>
      VectorOps.cosFrom(VectorOps.dot(col("v"), typedlit(cv)),
        col("vnorm"), lit(cnorm))
    }
    val scored = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(VectorOps.normSq(col(vecCol))).as("vnorm"))
      .withColumn("sims", array(simCols.toIndexedSeq: _*))
    val assigned =
      if (nProbe <= 1)
        scored.withColumn("cell",
          element_at(cellIds, array_position(col("sims"), array_max(col("sims"))).cast("int")))
          .select(col("id"), col("v"), col("vnorm"), col("cell"))
      else
        // top-nProbe cells: sort (sim, cell) structs descending, slice,
        // explode — nProbe bucket rows per vector, all map-side
        scored.withColumn("probe",
          explode(slice(reverse(array_sort(arrays_zip(col("sims"), cellIds.as("cid")))),
            1, nProbe)))
          .select(col("id"), col("v"), col("vnorm"), col("probe.cid").as("cell"))
    // CANDIDATES, then VERIFY (same shape as lshNeighborPairsMulti):
    // the cell self-join carries only ids; multi-probe duplicates are
    // distinct'd while the rows are still two longs — BEFORE the dot
    // products — then the vectors join in once per side for the one
    // exact verification each candidate pays.
    val a = assigned.select(col("id").as("ida"), col("cell"))
    val b = assigned.select(col("id").as("idb"), col("cell"))
    val cands0 = a.join(b, Seq("cell")).where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"))
    val cands = if (nProbe <= 1) cands0 else cands0.distinct()
    val vecs = scored.select(col("id"), col("v"), col("vnorm"))
    cands
      .join(vecs.select(col("id").as("ida"), col("v").as("va"),
        col("vnorm").as("norm_a")), Seq("ida"))
      .join(vecs.select(col("id").as("idb"), col("v").as("vb"),
        col("vnorm").as("norm_b")), Seq("idb"))
      .select(col("ida"), col("idb"),
        VectorOps.cosFrom(VectorOps.dot(col("va"), col("vb")),
          col("norm_a"), col("norm_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Distributed Lloyd k-means over the embedding column.
    *
    * Init is deterministic farthest-point (k short driver rounds: seed =
    * min-xxhash vector, then repeatedly the vector maximizing min
    * squared distance to the chosen set — with separated clusters this
    * lands one seed per cluster, which plain hash-init does not). Each
    * Lloyd iteration is ONE scan: assignment is a map-side argmin over
    * literal centroids (|v|²−2v·c+|c|², codegen dots, no shuffle), the
    * update is the VecCentroid typed Aggregator whose shuffle carries
    * k×partitions dim-sized partials — never the vectors. Driver holds
    * only k×dim doubles. That is the k-means shape that survives 100 TB.
    * Empty cells keep their previous centroid.
    *
    * `spherical = true` (default) runs spherical k-means — vectors
    * normalized up front, centroids renormalized each iteration, so
    * argmin-euclidean == argmax-cosine. Embedding clusters are
    * directional (cosine) structures; plain euclidean k-means splits
    * them on norm differences.
    *
    * `init`: `"farthest"` (default) is deterministic corpus-wide
    * farthest-point — best separation, but k−1 SEQUENTIAL driver
    * rounds (each a full scan), so it is a small-k tool; `"hash"` is
    * the k-means||-style one-job init that survives large k at
    * 100 TB: ONE TakeOrdered pulls an 8k hash-chosen oversample, and
    * greedy farthest-point selection runs over that bounded candidate
    * array on the driver — no extra scans, and the oversampled
    * selection avoids plain first-k hash seeding's co-seeded-cluster
    * risk (an empty post-Lloyd cell). */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, spherical: Boolean = true,
      init: String = "farthest"): Array[Array[Double]] =
    kmeansFit(emb, idCol, vecCol, k, iters, spherical, init)._2

  /** [[kmeans]] that also returns the SEED centroids (post-init,
    * pre-Lloyd), so callers can assert the monotone-improvement
    * property (SSE(trained) <= SSE(seeds)) without re-deriving the
    * init — the sim7 gate's distributed sse_ok flag. */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, spherical: Boolean = true,
      init: String = "farthest",
      onRound: (Int, Double) => Unit = (_, _) => ())
      : (Array[Array[Double]], Array[Array[Double]]) = Pins.scope {
    val spark = emb.sparkSession
    import spark.implicits._
    // onRound(0, s) reports the init scan, onRound(i, s) Lloyd round i —
    // the hook the build-path scale stress reads; a no-op by default
    def rounded[T](r: Int)(f: => T): T =
      graft.util.Timing.rounded(onRound, r)(f)
    def unit(c: Array[Double]): Array[Double] = {
      var n = 0.0
      c.foreach(x => n += x * x)
      val s = math.sqrt(n)
      if (s > 0) c.map(_ / s) else c
    }
    val prepped = unitPrep(emb, idCol, vecCol, spherical)
    // reused k init rounds + iters times — cache instead of rescanning
    val base = Pins.cache(prepped.select(col(idCol).as("id"), col(vecCol).as("vf"),
        VectorOps.normSq(col(vecCol)).as("vnormsq")))
    def dist2(c: Array[Double]): Column = {
      var cn = 0.0
      c.foreach(x => cn += x * x)
      col("vnormsq") - lit(2.0) * VectorOps.dot(col("vf"), typedlit(c)) + lit(cn)
    }
    var cs: Array[Array[Double]] = rounded(0) { init match {
      case "hash" =>
        // k-means||-style oversampled seeding in ONE job: TakeOrdered
        // pulls 8k hash-chosen candidates (bounded driver state —
        // 8k×dim doubles), then greedy farthest-point selection runs
        // over the candidate ARRAY on the driver (k·8k·dim flops, no
        // extra scans). Plain take-the-first-k hash seeding can co-seed
        // one tight cluster and leave a cell empty after Lloyd — which
        // would flip sim7's cells_ok gate on an unlucky corpus draw;
        // farthest selection among an oversample keeps the one-pass
        // cost AND the separation property.
        val pool = base.orderBy(xxhash64(col("id")), col("id"))
          .limit(math.max(8 * k, k)).select(col("vf")).collect()
          .map(_.getSeq[Float](0).toArray.map(_.toDouble))
        def d2(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
          s
        }
        // running min-distance-to-chosen per candidate, updated
        // O(pool·dim) per round — the whole selection is k·8k·dim
        // flops, not the k²·8k·dim a recompute-per-round would cost.
        // Zero-distance candidates (already chosen, or exact dups of a
        // chosen vector) are skipped: a duplicate centroid IS the
        // empty-post-Lloyd cell this init exists to avoid.
        val minD = Array.fill(pool.length)(Double.MaxValue)
        val taken = Array.fill(pool.length)(false)
        taken(0) = true
        val chosen = scala.collection.mutable.ArrayBuffer(pool.head)
        var exhausted = false
        while (chosen.size < k && !exhausted) {
          var i = 0
          while (i < pool.length) {
            if (!taken(i)) {
              val d = d2(pool(i), chosen.last)
              if (d < minD(i)) minD(i) = d
            }
            i += 1
          }
          var best = -1; var bestD = 0.0
          i = 0
          while (i < pool.length) {
            if (!taken(i) && minD(i) > bestD) { best = i; bestD = minD(i) }
            i += 1
          }
          if (best < 0) exhausted = true // < k distinct vectors in pool
          else { taken(best) = true; chosen += pool(best) }
        }
        // degenerate corpus (< k distinct candidates): keep the k-arity
        // contract by repeating — Lloyd then leaves empty cells, which
        // the caller's cells_ok gate reports rather than hides
        while (chosen.size < k) chosen += chosen.last
        chosen.toArray
      case _ =>
        val seed = base.orderBy(xxhash64(col("id")), col("id"))
          .select(col("vf")).head.getSeq[Float](0).toArray.map(_.toDouble)
        val cents = scala.collection.mutable.ArrayBuffer(seed)
        while (cents.size < k) {
          val minD = cents.map(dist2).reduce(least(_, _))
          val next = base.orderBy(minD.desc, col("id"))
            .select(col("vf")).head.getSeq[Float](0).toArray.map(_.toDouble)
          cents += next
        }
        cents.toArray
    } }
    val seeds = cs.map(_.clone())
    for (r <- 1 to iters) rounded(r) {
      val byCell = kmeansAssign(base.drop("id"), "vf", cs)
        .select(col("cell"), col("vf")).as[(Int, Array[Float])]
        .groupByKey(_._1)
        .agg(graft.functions.VecCentroid.toColumn.name("c"))
        .collect().toMap
      cs = Array.tabulate(cs.length)(i => byCell.get(i + 1).map(_.values).getOrElse(cs(i)))
      if (spherical) cs = cs.map(unit)
    }
    (seeds, cs)
  }

  /** Spherical prep shared by [[kmeansFit]]/[[kmeansSseDistributed]]:
    * unit-normalize through Float (so distributed and driver-reference
    * arithmetic agree bit-for-bit). The norm is HOISTED into its own
    * projection column — referencing normSq inside the transform lambda
    * would re-evaluate the full dot product per ELEMENT (O(dim²) per
    * row); hoisted, it's one evaluation per row, same float math. */
  private def unitPrep(emb: DataFrame, idCol: String, vecCol: String,
      spherical: Boolean): DataFrame =
    if (!spherical) emb
    else emb
      .select(col(idCol), col(vecCol),
        sqrt(VectorOps.normSq(col(vecCol))).as("nrm__"))
      .select(col(idCol),
        // a zero vector stays the zero vector (dividing would poison
        // every element NaN and then every k-means assignment it
        // touches); ANSI-safe for the same reason as cosFrom
        transform(col(vecCol), x =>
          when(col("nrm__") > 0d, x.cast("double") / col("nrm__"))
            .otherwise(x.cast("double")))
          .cast("array<float>").as(vecCol))

  /** The Lloyd objective Σ_v min_c ‖v − c‖² computed DISTRIBUTED: one
    * map-side pass (array_min over the codegen'd per-centroid distance
    * expressions) folded into a scalar sum — k×dim literals ship with
    * the plan and ONE double comes back, so the sse gate runs at corpus
    * scale with no driver collect (unlike CrossCheck.kmeansSse, the
    * bounded-sample spec reference). */
  def kmeansSseDistributed(emb: DataFrame, idCol: String, vecCol: String,
      cs: Array[Array[Double]], spherical: Boolean = true): Double = {
    val prepped = unitPrep(emb, idCol, vecCol, spherical)
    val d2s = cs.map { c =>
      var cn = 0.0
      c.foreach(x => cn += x * x)
      col("vnormsq") - lit(2.0) * VectorOps.dot(col("vf"), typedlit(c)) + lit(cn)
    }
    prepped.select(col(vecCol).as("vf"), VectorOps.normSq(col(vecCol)).as("vnormsq"))
      .select(array_min(array(d2s.toIndexedSeq: _*)).as("d"))
      .agg(sum(col("d")))
      .head.getDouble(0)
  }

  /** Map-side hard assignment to the nearest centroid (1-based cell =
    * centroid index + 1). Input needs `vnormsq`; adds `cell`. */
  private def kmeansAssign(withNorm: DataFrame, vecCol: String,
      cs: Array[Array[Double]]): DataFrame = {
    val d2s = cs.map { c =>
      var cn = 0.0
      c.foreach(x => cn += x * x)
      col("vnormsq") - lit(2.0) * VectorOps.dot(col(vecCol), typedlit(c)) + lit(cn)
    }
    withNorm.withColumn("cell",
      array_position(array(d2s.toIndexedSeq: _*),
        array_min(array(d2s.toIndexedSeq: _*))).cast("int"))
  }

  /** Final hard assignment for trained centroids: (id, cell). */
  def kmeansAssignments(emb: DataFrame, idCol: String, vecCol: String,
      cs: Array[Array[Double]]): DataFrame =
    kmeansAssign(
      emb.select(col(idCol).as("id"), col(vecCol).as("vf"),
        VectorOps.normSq(col(vecCol)).as("vnormsq")),
      "vf", cs)
      .select(col("id"), col("cell"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication at corpus scale — spherical k-means coarse
    * clustering, then EXACT cosine pruning only WITHIN each cell, so the
    * quadratic never spans the corpus: total work is Σ m_c² ≈ N²/k for
    * balanced cells, and each cell's greedy runs in one task with
    * m_c·dim doubles of state (choose k so cells fit a task — at 100 TB
    * that is k in the tens of thousands, exactly the paper's regime).
    *
    * Within a cell, members are ordered by (cosine-to-centroid ASC, id)
    * — the paper keeps the LOW-centroid-similarity outliers and drops
    * the prototypical near-dups around them — and greedily kept unless
    * some already-kept member is within `threshold`. Deterministic
    * given the (hash-seeded) centroids.
    *
    * Returns (id, cell, kept, witness): `witness` is the kept near-dup
    * that evicted a dropped row (null on kept rows), so every drop is
    * independently checkable with one exact cosine.
    *
    * Known recall loss (measured, gated loosely in d10's oracle): near-
    * dup pairs split across cells are both kept — the cross-cell leak
    * the paper accepts in exchange for killing the corpus-wide O(N²). */
  def semDeDup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double,
      init: String = "farthest"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cs = kmeans(emb, idCol, vecCol, k, iters, init = init) // spherical → unit centroids
    val bc = spark.sparkContext.broadcast(cs)
    kmeansAssign(
        emb.select(col(idCol).as("id"), col(vecCol).as("vf"),
          VectorOps.normSq(col(vecCol)).as("vnormsq")), "vf", cs)
      .select(col("cell"), col("id"), col("vf"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val c = bc.value(cell - 1)
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        val members = it.map { case (_, id, vf) =>
          val u = new Array[Double](vf.length)
          var n = 0.0
          var i = 0
          while (i < vf.length) { val x = vf(i).toDouble; u(i) = x; n += x * x; i += 1 }
          val s = math.sqrt(n)
          if (s > 0) { i = 0; while (i < u.length) { u(i) /= s; i += 1 } }
          (id, u, dot(u, c))
        }.toArray.sortBy { case (id, _, cc) => (cc, id) }
        val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        members.map { case (id, u, _) =>
          kept.find { case (_, ku) => dot(u, ku) >= threshold } match {
            case Some((wid, _)) => (id, cell, false, Some(wid))
            case None => kept += ((id, u)); (id, cell, true, Option.empty[Long])
          }
        }.toIndexedSeq
      }
      .toDF("id", "cell", "kept", "witness")
  }

  /** LSH-bucketed ANN: group vectors into hyperplane buckets, search
    * candidate pairs only within buckets. Recall < 1 by construction;
    * SimilaritySpec measures it against the exact pair set. Single-table
    * variant of [[lshNeighborPairsMulti]]; the same candidate-mass guard
    * applies (fail-fast only — auto-sizing needs tables to buy recall
    * back, so infeasible requests are routed to the multi-table entry
    * point by the error message rather than silently re-planned). */
  def lshNeighborPairs(emb: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, threshold: Double,
      candidateBudget: Long = DefaultCandidateBudget,
      knownN: Long = -1L): DataFrame = {
    guardBanding("lshNeighborPairs",
      if (knownN >= 0) knownN else emb.count(), numPlanes, numTables = 1,
      threshold, multiProbe = false, candidateBudget,
      autoSize = false, targetRecall = 0.9)
    val withBucket = emb.select(col(idCol).as("id"),
      toDouble(col(vecCol)).as("v"), lshBucket(col(vecCol), numPlanes).as("bucket"))
    val a = withBucket.select(col("id").as("ida"), col("v").as("va"), col("bucket"))
    val b = withBucket.select(col("id").as("idb"), col("v").as("vb"), col("bucket"))
    a.join(b, Seq("bucket")).where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), cosine(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Per-dimension [min, max] quantization range for SCALAR (int8)
    * quantization — ONE pass, 2·dim agg columns, map-side combined (no
    * explode, no shuffle of vector rows). Elements cast to double
    * inside the aggregate so float AND double embedding columns both
    * work (the loaders schema-sniff; VectorOps is type-tolerant the
    * same way). */
  private[graft] def sqTrain(emb: DataFrame, vecCol: String,
      dim: Int): (Array[Double], Array[Double]) = {
    val aggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col(vecCol), i + 1).cast(DoubleType)).as(s"mn$i"),
      max(element_at(col(vecCol), i + 1).cast(DoubleType)).as(s"mx$i")))
    val row = emb.agg(aggs.head, aggs.tail: _*).head
    val mn = Array.tabulate(dim)(i => row.getAs[Double](s"mn$i"))
    val mx = Array.tabulate(dim)(i => row.getAs[Double](s"mx$i"))
    (mn, mx)
  }

  /** Top-k by exact cosine with candidate generation in SCALAR-QUANTIZED
    * (SQ8) space — the FAISS ScalarQuantizer tier between sim8's random
    * projection (dim reduction) and sim9's product quantization (vector
    * codebooks): each dimension maps to an 8-bit code on its trained
    * [min, max] grid, candidates rank by the cosine of the DEQUANTIZED
    * codes, and the top `candidates` exact-verify at full width.
    *
    * Scale shape: training is one 2·dim-column aggregation; encoding and
    * ranking are map-side; at 100 TB the code column (dim bytes — ¼ of
    * float32, composable with IVF cells like sim10's PQ codes) is
    * PERSISTED next to the corpus and the scan reads only it — here it
    * is computed inline since the corpus fits a scan (sim8's argument).
    * Codes materialize through separate projections (no nested HOFs —
    * composed transform/element_at re-evaluates the inner array).
    * Deterministic end to end, so sim12 shares sim1's exact oracle. */
  def sqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, candidates: Int = 300,
      dim: Int = 64): DataFrame = {
    val (mn, mx) = sqTrain(emb, vecCol, dim)
    val delta = Array.tabulate(dim)(i =>
      if (mx(i) > mn(i)) (mx(i) - mn(i)) / 255.0 else 1.0)
    val mnL = typedlit(mn)
    val dL = typedlit(delta)
    val coded = emb.select(col(idCol).as("id"),
      transform(col(vecCol), (x, i) =>
        least(greatest(round(
          (x.cast(DoubleType) - element_at(mnL, i + 1)) / element_at(dL, i + 1)),
          lit(0.0)), lit(255.0)).cast("int")).as("code"))
    val deq = coded.select(col("id"),
      transform(col("code"), (c, i) =>
        element_at(mnL, i + 1) + c.cast(DoubleType) * element_at(dL, i + 1))
        .as("vhat"))
    val q = emb.where(col(idCol) === queryId)
      .select(toDouble(col(vecCol)).as("qv"))
    val qv = q.head.getSeq[Double](0).toArray
    // query norm is constant across rows — dividing by ||vhat|| alone
    // preserves the candidate order
    val cand = deq.where(col("id") =!= queryId)
      .select(col("id"),
        VectorOps.cosFrom(VectorOps.dot(col("vhat"), typedlit(qv)),
          sqrt(VectorOps.normSq(col("vhat"))), lit(1d)).as("acos"))
      .orderBy(col("acos").desc, col("id"))
      .limit(candidates)
      .select(col("id"))
    emb.join(broadcast(cand), emb(idCol) === cand("id"))
      .join(broadcast(q))
      .select(col("id"), cosine(toDouble(col(vecCol)), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Deterministic sparse-sign random projection planes (Achlioptas-
    * style JL embedding): outDim rows of ±1/√outDim, signs from
    * xxhash64 of the flat (plane, dim) index — no RNG, same planes on
    * every executor and every run. */
  private[graft] def rpPlanes(inDim: Int, outDim: Int): Array[Array[Double]] = {
    val s = 1.0 / math.sqrt(outDim)
    Array.tabulate(outDim)(j => Array.tabulate(inDim) { i =>
      if (XXH64.hashInt(j * inDim + i, 42L) < 0) -s else s
    })
  }

  /** Project the embedding column to `outDim` dims: one codegen'd dot
    * per plane, map-side, zero shuffle. At 100 TB the projected column
    * is PERSISTED next to the corpus (outDim/inDim of the vector bytes —
    * the same scan-I/O lever as int8 IVF codes, composable with it);
    * here it is computed inline since the corpus fits a scan. */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
      outDim: Int, inDim: Int = 64): DataFrame = {
    val planes = rpPlanes(inDim, outDim)
    emb.select(col(idCol).as("id"),
      array(planes.map(p => VectorOps.dot(col(vecCol), typedlit(p))).toIndexedSeq: _*)
        .as("rvec"))
  }

  /** Top-k by exact cosine, with candidate generation in PROJECTED
    * space: rank all vectors by projected cosine (reading only the
    * narrow rvec column), take `candidates` of them, then score just
    * those against the full-width query vector. Recall is a JL
    * distortion question — gated by sim8 sharing sim1's exact oracle
    * (deterministic planes ⇒ the gate is stable, the d2/d4 trick), and
    * measured in SimilaritySpec. */
  def rpTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, outDim: Int = 16,
      candidates: Int = 100): DataFrame = {
    val proj = randomProject(emb, idCol, vecCol, outDim)
    val qp = proj.where(col("id") === queryId).select(col("rvec").as("qr"))
    val cand = proj.where(col("id") =!= queryId)
      .join(broadcast(qp))
      .select(col("id"), cosine(col("rvec"), col("qr")).as("rcos"))
      .orderBy(col("rcos").desc, col("id"))
      .limit(candidates)
      .select(col("id"))
    val q = emb.where(col(idCol) === queryId)
      .select(toDouble(col(vecCol)).as("qv"))
    emb.join(broadcast(cand), emb(idCol) === cand("id"))
      .join(broadcast(q))
      .select(col("id"), cosine(toDouble(col(vecCol)), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** A sign-LSH banding sized for a corpus: `planes`/`tables` for
    * [[lshNeighborPairsMulti]], with the predicted recall at the
    * threshold and the predicted background candidate load that led to
    * the choice. */
  case class BandingPlan(planes: Int, tables: Int,
      predictedRecall: Double, candidatesPerVector: Double)

  /** Default modeled-background-candidate-pair budget for the sign-LSH
    * pair miners: 2e8 pairs ≈ the candidate mass the 10× stress corpus
    * (20 k isotropic vectors at the registered banding) carried to
    * completion, and ~7× under the 1.35e9 that exhausted 75 GB of
    * spill at 60 k (STRESS.md #4). Sized to admit everything measured
    * to work and refuse everything measured to die. */
  val DefaultCandidateBudget: Long = 200000000L

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Similarity")

  /** Modeled background candidate-pair mass for a banding: the
    * [[planBanding]] collision model (per-plane p₀ = ½ at
    * backgroundCos 0) scaled to all n(n−1)/2 pairs. The quantity the
    * 30× stress measured agreeing with real `lshCandidates.count()`
    * within 1.5× (SimilaritySpec) — and the quantity that predicts the
    * spill wall before the shuffle pays for it. */
  private[graft] def modeledCandidateMass(n: Long, numPlanes: Int,
      numTables: Int, multiProbe: Boolean): Double = {
    val p0 = 0.5
    val base = math.pow(p0, numPlanes)
    val t0 = if (multiProbe) base + numPlanes * math.pow(p0, numPlanes - 1) * (1 - p0)
             else base
    // Double arithmetic from the start: n·(n−1) overflows Long past
    // ~3e9 vectors — silently NEGATIVE mass would wave the exact
    // corpus sizes this gate exists to refuse straight through
    n.toDouble * (n - 1).toDouble / 2.0 * (1.0 - math.pow(1.0 - t0, numTables))
  }

  /** The sim2-family admission gate: price the requested banding with
    * [[modeledCandidateMass]]; within budget → run as requested. Over
    * budget: `autoSize = true` re-plans via [[planBanding]] (budget
    * expressed per-vector, honest recall logged — including the
    * shortfall case where no feasible banding reaches `targetRecall`);
    * otherwise throw with the planner's numbers so the caller decides,
    * instead of discovering the wall as executor spill death. Returns
    * the (planes, tables) actually admitted. */
  private[graft] def guardBanding(who: String, n: Long,
      numPlanes: Int, numTables: Int, threshold: Double,
      multiProbe: Boolean, candidateBudget: Long,
      autoSize: Boolean, targetRecall: Double): (Int, Int) = {
    val mass = modeledCandidateMass(n, numPlanes, numTables, multiProbe)
    if (mass <= candidateBudget) (numPlanes, numTables)
    else {
      // planBanding's candidatesPerVector counts each pair once with
      // total mass = n · candPerVec, so the per-vector budget is B/n —
      // a 2·B/n conversion would let autoSize admit up to 2× the
      // ceiling the fail-fast branch just enforced
      val perVec = math.max(1.0,
        candidateBudget.toDouble / math.max(1L, n).toDouble)
      // clamp to planBanding's open-interval domain: threshold 0 (any
      // non-negative cosine) and targetRecall 1 are valid GATE inputs
      // but sit on the model's boundary; the clamped plan is the
      // honest nearest-neighbor of the request, and the shortfall
      // message still fires when the regime is quadratic
      val thrP = math.min(0.999, math.max(1e-6, threshold))
      val trP = math.min(0.999, math.max(1e-6, targetRecall))
      val plan = planBanding(math.max(2L, n), thrP, trP,
        candidateBudgetPerVector = perVec, multiProbe = multiProbe)
      val shortfall =
        if (plan.predictedRecall >= trP) ""
        else f" (recall SHORTFALL: no banding reaches $targetRecall%.2f inside " +
          f"the budget at this threshold — the ≥$threshold%.2f pair set is " +
          "near-quadratic here; prefer a cell-blocked contract: semDeDup " +
          "per-cell pairs, topK bounded heaps, or IVF candidates)"
      if (autoSize) {
        log.warn(f"$who: requested $numPlanes planes × $numTables tables models " +
          f"$mass%.3g background candidates on n=$n (budget $candidateBudget); " +
          f"auto-sized to ${plan.planes} × ${plan.tables}, predicted recall " +
          f"${plan.predictedRecall}%.3f at threshold $threshold$shortfall")
        (plan.planes, plan.tables)
      } else throw new IllegalArgumentException(
        f"$who: $numPlanes planes × $numTables tables on n=$n models " +
        f"$mass%.3g background candidate pairs — over the $candidateBudget " +
        f"budget (the measured 75 GB-spill regime, STRESS.md #4). planBanding " +
        f"sizes ${plan.planes} planes × ${plan.tables} tables inside the budget " +
        f"with predicted recall ${plan.predictedRecall}%.3f$shortfall; pass " +
        "autoSize = true to run that plan, raise candidateBudget deliberately, " +
        "or use a cell-blocked contract.")
    }
  }

  /** Size a sign-LSH banding for corpus size `n` — the planner the 30×
    * stress run proved necessary (STRESS.md #4: the fixed 6-plane
    * banding's candidate mass is ~0.75·N²/2 on isotropic data and
    * exhausted 75 GB of spill at 60 k vectors; planes must grow with
    * log N and tables must buy the recall back).
    *
    * Model (standard sign-LSH): per-plane collision for cosine c is
    * p(c) = 1 − acos(c)/π; per-table collision is p^H, or
    * p^H + H·p^(H−1)(1−p) under the Hamming-1 multiprobe; a pair
    * survives L tables with prob 1 − (1 − t)^L. The planner picks the
    * SMALLEST H whose expected background candidates per vector
    * (pairs at `backgroundCos`, the bulk of an unclustered corpus)
    * fit `candidateBudgetPerVector`, then the smallest L reaching
    * `targetRecall` at `threshold` — smallest H first because tables
    * replicate the corpus L-fold, so excess selectivity is paid for
    * in recall-restoring tables. Returns the plan UNFEASIBLE-honest:
    * if no (H ≤ maxPlanes, L ≤ maxTables) meets both, the returned
    * plan carries the best achievable predictedRecall so the caller
    * sees the shortfall instead of silently losing pairs — at low
    * thresholds p₁/p₂ separation collapses (ρ → 1) and the honest
    * answer is "use a cell-blocked contract instead".
    *
    * SimilaritySpec gates the closed forms and checks the predicted
    * background candidate count against a measured
    * [[lshCandidates]].count() on the real corpus. */
  def planBanding(n: Long, threshold: Double, targetRecall: Double,
      candidateBudgetPerVector: Double = 32.0,
      multiProbe: Boolean = true, backgroundCos: Double = 0.0,
      maxPlanes: Int = 40, maxTables: Int = 512): BandingPlan = {
    require(n > 1 && threshold > 0 && threshold < 1)
    require(targetRecall > 0 && targetRecall < 1)
    def pOf(c: Double): Double = 1.0 - math.acos(c) / math.Pi
    def tableCollision(p: Double, h: Int): Double = {
      val base = math.pow(p, h)
      if (multiProbe) base + h * math.pow(p, h - 1) * (1 - p) else base
    }
    val p1 = pOf(threshold)
    val p0 = pOf(backgroundCos)
    def tablesFor(h: Int): Int = {
      val t1 = tableCollision(p1, h)
      if (t1 >= 1.0) 1
      else math.min(maxTables,
        math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-t1)).toInt))
    }
    def recall(h: Int, l: Int): Double =
      1.0 - math.pow(1.0 - tableCollision(p1, h), l)
    def candPerVec(h: Int, l: Int): Double =
      (n - 1) / 2.0 * (1.0 - math.pow(1.0 - tableCollision(p0, h), l))
    val feasible = (1 to maxPlanes).iterator.map { h =>
      val l = tablesFor(h)
      (h, l, recall(h, l), candPerVec(h, l))
    }.find { case (_, l, r, c) =>
      r >= targetRecall && c <= candidateBudgetPerVector && l <= maxTables
    }
    feasible match {
      case Some((h, l, r, c)) => BandingPlan(h, l, r, c)
      case None =>
        // no feasible point: stay STRICTLY inside the candidate budget
        // (that is the resource constraint; recall is the reported
        // shortfall) — for each H that fits the budget at all, take the
        // most tables that still fit, and return the best recall among
        // those. If even one table busts the budget at every H, return
        // the most selective configuration possible.
        val inBudget = (1 to maxPlanes).flatMap { h =>
          if (candPerVec(h, 1) > candidateBudgetPerVector) None
          else {
            val l = (1 to maxTables).takeWhile(l =>
              candPerVec(h, l) <= candidateBudgetPerVector).last
            Some((h, l, recall(h, l), candPerVec(h, l)))
          }
        }
        val best =
          if (inBudget.nonEmpty) inBudget.maxBy(_._3)
          else (maxPlanes, 1, recall(maxPlanes, 1), candPerVec(maxPlanes, 1))
        BandingPlan(best._1, best._2, best._3, best._4)
    }
  }
}
