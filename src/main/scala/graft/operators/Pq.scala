package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.PqOps

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the compressed-domain half of the
  * FAISS-style IVF-PQ serving stack, next to [[IvfIndex]]'s coarse
  * cells and int8 codes.
  *
  * The vector's dim axis splits into `m` contiguous subspaces; each
  * subspace gets its own `ksub`-centroid codebook, and a vector stores
  * only its m nearest-sub-centroid indices — m bytes instead of 4·dim
  * (dim 64 / m 16: 16 bytes, 16× narrower than float32, 4× narrower
  * than [[IvfIndex]]'s int8 codes). Search never reconstructs: the
  * query precomputes an m×ksub table of partial dot products
  * driver-side, and each row's approximate dot is m table lookups over
  * its code bytes (asymmetric distance computation, ADC).
  *
  * Why this is THE 100 TB shape: ANN serving after partition pruning is
  * scan-I/O-bound, so bytes-per-vector is the lever — PQ reads 1/16 the
  * bytes and turns per-row math into table lookups; the codebooks
  * (m·ksub·subDim doubles — KBs) ride the plan as flat reference
  * arrays inside two custom codegen expressions ([[graft.plans.PqEncode]]
  * / [[graft.plans.PqLutSum]] — the Column-combinator formulation blew
  * janino's 64KB method limit and knocked the stage out of codegen).
  * Training reads the corpus once per Lloyd iteration with ALL m
  * subspaces folding in the SAME pass (assignment is ONE map-side
  * PqEncode per row; the update shuffle carries m×ksub×partitions
  * subDim-sized partials, never vectors — the kmeans shape, m-fold).
  *
  * Everything is deterministic: hash-seeded init (the ksub
  * smallest-xxhash64 ids donate sub-vectors), sequential left-to-right
  * double sums — so candidate sets are stable run-to-run and the sim9
  * query hash-gates against sim1's EXACT oracle through the
  * candidates-then-verify rerank (the sim8 trick at 8× narrower
  * candidate I/O).
  */
object Pq {

  /** Trained PQ model: `books(s)(c)` is sub-centroid c of subspace s
    * (subDim doubles each); dim = m · subDim. */
  case class Model(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def ksub: Int = books(0).length
    def subDim: Int = books(0)(0).length
  }

  /** Persist / restore a model as a JSON sidecar (the codebooks are
    * m·ksub·subDim doubles — KBs; a serving index trains once and every
    * later query deserializes instead of rescanning the corpus).
    * Doubles round-trip exactly (Jackson emits shortest-round-trip
    * decimal), so a loaded model encodes bitwise-identically. */
  def save(model: Model, file: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.writeString(file, mapper.writeValueAsString(model.books),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
  }

  def load(file: java.nio.file.Path): Model = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Model(mapper.readValue(java.nio.file.Files.readString(file),
      classOf[Array[Array[Array[Double]]]]))
  }

  /** Train per-subspace codebooks: deterministic hash init (the ksub
    * smallest-xxhash64 rows donate their sub-vectors, the IvfIndex
    * centroid trick applied per subspace), then `iters` Lloyd rounds.
    * Each round is ONE corpus scan: every vector emits m (subspace,
    * code, sub-vector) rows map-side and the VecCentroid aggregator
    * folds them with map-side partials — the shuffle is
    * m·ksub·partitions sub-vector partials, never the corpus. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): Model = graft.util.Pins.scope {
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = emb.select(size(col(vecCol))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val seedRows = emb.orderBy(xxhash64(col(idCol)), col(idCol)).limit(ksub)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(seedRows.length == ksub,
      s"corpus has ${seedRows.length} rows < ksub=$ksub codebook entries")
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      seedRows.map(v => v.slice(s * subDim, (s + 1) * subDim)))
    val base = graft.util.Pins.cache(emb.select(col(vecCol).as("v")))
    for (_ <- 1 to iters) {
      val bks = books
      // ONE PqEncode per row assigns all m subspaces, then posexplode
      // fans out (s·ksub + code, sub-vector) pairs; the flat Int key
      // keeps the group count at m·ksub
      val parts = base
        .select(col("v"), posexplode(PqOps.encode(col("v"), bks)))
        .select((col("pos") * ksub + col("col").cast("int")).as("g"),
          slice(col("v"), col("pos") * subDim + 1, lit(subDim))
            .cast("array<float>").as("sv"))
        .as[(Int, Array[Float])]
        .groupByKey(_._1)
        .agg(graft.functions.VecCentroid.toColumn.name("c"))
        .collect().toMap
      books = Array.tabulate(m)(s => Array.tabulate(ksub)(c =>
        parts.get(s * ksub + c).map(_.values).getOrElse(books(s)(c))))
    }
    Model(books)
  }

  /** Append the m-byte code column: one map-side pass, one codegen'd
    * PqEncode. At 100 TB this column is PERSISTED next to (or instead
    * of) the vectors and every later ADC pass reads only it. */
  def encode(emb: DataFrame, vecCol: String, model: Model,
      codeCol: String = "pq_codes"): DataFrame =
    emb.withColumn(codeCol, PqOps.encode(col(vecCol), model.books))

  /** ADC approximate cosine of the RECONSTRUCTED vector against
    * `query`, computed entirely from the code bytes: dot and norm are m
    * lookups each into query-specific / model-static tables (subspaces
    * are disjoint, so |v̂|² = Σ_s |c_{s,code_s}|² exactly). No vector
    * column is touched. */
  def adcCosine(codeCol: Column, model: Model, query: Array[Double]): Column = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    val dotLut = Array.tabulate(model.m) { s =>
      val qs = query.slice(s * model.subDim, (s + 1) * model.subDim)
      model.books(s).map { c =>
        var d = 0.0
        var i = 0
        while (i < c.length) { d += c(i) * qs(i); i += 1 }
        d
      }
    }
    val normLut = Array.tabulate(model.m)(s => model.books(s).map { c =>
      var n = 0.0
      c.foreach(x => n += x * x)
      n
    })
    PqOps.lutSum(codeCol, dotLut) /
      (sqrt(PqOps.lutSum(codeCol, normLut)) * lit(qn))
  }

  /** Top-k by exact cosine, with candidate generation in CODE space:
    * rank the corpus by ADC cosine reading only the m-byte code column,
    * take `candidates`, then score just those at full width — the sim8
    * candidates-then-verify shape with 8-16× narrower candidate I/O.
    * Deterministic model ⇒ stable candidate set ⇒ the caller can gate
    * against the exact-oracle top-k (sim9). */
  def topK(emb: DataFrame, idCol: String, vecCol: String, model: Model,
      queryId: Long, k: Int, candidates: Int): DataFrame = {
    val enc = encode(emb, vecCol, model).select(col(idCol).as("id"), col("pq_codes"))
    val qv = emb.where(col(idCol) === queryId).select(col(vecCol))
      .head.getSeq[Float](0).toArray.map(_.toDouble)
    val cand = enc.where(col("id") =!= queryId)
      .select(col("id"), adcCosine(col("pq_codes"), model, qv).as("acos"))
      .orderBy(col("acos").desc, col("id"))
      .limit(candidates)
      .select(col("id"))
    // exact verify with Similarity.cosine's arithmetic — identical ops
    // to bruteForceTopK, so sim9 shares sim1's oracle
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
