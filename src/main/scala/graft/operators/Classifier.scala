package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.VectorOps

/** Distributed binary logistic regression — the trainable
  * quality-classifier stage of a curation pipeline (the
  * fastText/DSIR-style "does this look like reference text?" scorer
  * used to rank pretraining corpora), in the same driver-state shape
  * as [[Similarity.kmeans]]:
  *
  *  - each full-batch epoch is ONE scan: the gradient mean((σ(w·x)−y)·x)
  *    is the [[graft.functions.VecCentroid]] of per-row derived vectors,
  *    so map-side element-wise partial sums fold before the exchange and
  *    the shuffle carries one dim-sized buffer per partition — never rows;
  *  - the driver holds d doubles of state (w), updated between scans;
  *  - scoring is a map-side codegen dot product — rank/filter a 100 TB
  *    corpus with zero shuffles.
  *
  * Full-batch GD (not mini-batch SGD) is the deliberate choice: at this
  * driver-loop granularity each epoch costs one corpus scan either way,
  * and the full-batch gradient is deterministic up to float sum order —
  * which is what lets ml1's oracle gate pin training behavior.
  */
object Classifier {

  /** σ(w·x) as a map-side column over literal weights. */
  def score(featCol: Column, w: Array[Double]): Column =
    lit(1.0) / (lit(1.0) + exp(-VectorOps.dot(featCol, typedlit(w))))

  /** HASHED bag-of-words features — the fastText/DCLM trick that makes
    * a text classifier corpus-scale: no vocabulary table, no dictionary
    * broadcast — each unigram maps straight to bucket
    * pmod(xxhash64(token), buckets), so featurization needs zero
    * pre-passes and the feature width is a constant the operator picks,
    * not a corpus property. The aggregation is SPARSE — one explode,
    * a (doc, bucket) count with map-side combine, then per-doc entry
    * lists densified by the codegen'd [[graft.plans.SparseFill]]
    * expression (O(width + entries) per doc) — so the plan's column
    * count and codegen size are CONSTANT in the bucket width:
    * realistic hashing-trick widths (2^15–2^21; the fastText default
    * is 2^21 bigram buckets) plan exactly like B=256, where a dense
    * per-bucket `sum(when)` column list would blow up planning/codegen
    * at tens of thousands of aggregate expressions long before data
    * size matters. The shuffles carry (doc, bucket, count) triples
    * then per-doc sparse entry lists — ≤ min(#tokens, B) entries per
    * doc, never a dense B-wide buffer.
    * Returns (id, feats: array<float>[buckets]).
    * Collisions are the standard hashing-trick tradeoff: pick buckets
    * ≥ a few × active vocab; a colliding pair shares one feature and
    * the classifier sees their summed count. */
  def hashedBow(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val counts = df
      .select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), " ")).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("id"),
        pmod(xxhash64(col("t")), lit(buckets.toLong)).cast("int").as("b"))
      .agg(count(lit(1)).cast("double").as("c"))
    counts.groupBy(col("id"))
      .agg(collect_list(struct(col("b"), col("c"))).as("e"))
      .select(col("id"), VectorOps.sparseFill(col("e"), buckets).as("feats"))
  }

  /** Mean log-loss as a COLUMN aggregate — so callers computing several
    * statistics of one frame fold them into a single pass (guide §5:
    * the ml1/ml2 evaluation jobs were serial full scans per statistic). */
  def logLossExpr(featCol: Column, labelCol: Column,
      w: Array[Double]): Column = {
    val p = least(greatest(score(featCol, w), lit(1e-12)), lit(1.0 - 1e-12))
    avg(-(labelCol * log(p) + (lit(1.0) - labelCol) * log(lit(1.0) - p)))
  }

  /** Mean binary cross-entropy of σ(w·x) against a 0/1 label column —
    * one scan, clamped away from log(0). */
  def logLoss(df: DataFrame, featCol: String, labelCol: String,
      w: Array[Double]): Double =
    df.select(logLossExpr(col(featCol), col(labelCol), w))
      .head.getDouble(0)

  /** Full-batch gradient descent from w = 0. `featCol` is an
    * Array[Float] feature vector (append a 1.0f for bias upstream);
    * `labelCol` a 0/1 numeric. Returns the trained weights. Simple and
    * dependency-free, but first-order: budget ~tens of epochs (= scans).
    * Prefer [[trainLogRegNewton]] — 3-5 scans to the same optimum. */
  def trainLogReg(df: DataFrame, featCol: String, labelCol: String,
      epochs: Int, lr: Double): Array[Double] = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(size(col(featCol))).head.getInt(0)
    var w = new Array[Double](d)
    for (_ <- 1 to epochs) {
      val res = score(col(featCol), w) - col(labelCol).cast("double")
      val g = df
        .select(lit(1).as("k"),
          transform(col(featCol), x => (x.cast("double") * res))
            .cast("array<float>").as("g"))
        .as[(Int, Array[Float])]
        .groupByKey(_._1)
        .agg(graft.functions.VecCentroid.toColumn.name("c"))
        .collect().head._2.values
      w = Array.tabulate(d)(i => w(i) - lr * g(i))
    }
    w
  }

  /** Newton / IRLS training — the distributed-logreg shape that holds
    * at 100 TB: each iteration is ONE scan whose
    * [[graft.functions.LogRegStep]] aggregator folds gradient (d) and
    * upper-triangular Hessian (d(d+1)/2) partials map-side, so the
    * shuffle carries one O(d²) buffer per partition — never rows — and
    * the driver solves the d×d normal equations by Cholesky (state:
    * d² doubles; fine for the d ≤ a-few-thousand feature widths this
    * targets — beyond that, switch to L-BFGS on the same one-scan
    * gradient). Converges in 3-5 iterations where first-order GD needs
    * tens of scans. `ridge` regularizes the solve (per-row scale). */
  def trainLogRegNewton(df: DataFrame, featCol: String, labelCol: String,
      iters: Int = 4, ridge: Double = 1e-8, dim: Int = -1): Array[Double] = {
    val spark = df.sparkSession
    import spark.implicits._
    // dim > 0 skips the feature-width probe job — callers that built the
    // feature vector know its width (r13: one less driver action per fit)
    val d = if (dim > 0) dim else df.select(size(col(featCol))).head.getInt(0)
    val data = df.select(col(featCol), col(labelCol).cast("int"))
      .as[(Array[Float], Int)]
    var w = new Array[Double](d)
    for (_ <- 1 to iters) {
      val st = data.select(graft.functions.LogRegStep(w).toColumn).head
      val n = st.n.toDouble
      val h = Array.ofDim[Double](d, d)
      var idx = 0
      for (i <- 0 until d; j <- i until d) {
        val v = st.h(idx) / n
        h(i)(j) = v; h(j)(i) = v
        idx += 1
      }
      for (i <- 0 until d) h(i)(i) += ridge
      val delta = solveSpd(h, st.g.map(_ / n))
      w = Array.tabulate(d)(i => w(i) - delta(i))
    }
    w
  }

  /** Cholesky solve of a symmetric positive-definite system (the d×d
    * Newton normal equations) — dependency-free driver math. */
  private[graft] def solveSpd(a: Array[Array[Double]],
      b: Array[Double]): Array[Double] = {
    val n = b.length
    val l = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- 0 to i) {
      var s = a(i)(j)
      var k = 0
      while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
      if (i == j) l(i)(i) = math.sqrt(s) else l(i)(j) = s / l(j)(j)
    }
    val y = new Array[Double](n)
    for (i <- 0 until n) {
      var s = b(i)
      var k = 0
      while (k < i) { s -= l(i)(k) * y(k); k += 1 }
      y(i) = s / l(i)(i)
    }
    val x = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var s = y(i)
      var k = i + 1
      while (k < n) { s -= l(k)(i) * x(k); k += 1 }
      x(i) = s / l(i)(i)
    }
    x
  }
}
