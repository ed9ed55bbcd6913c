package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup
import graft.util.Pins

/** Dedup queries over `documents`. The generator plants ~0.99-Jaccard
  * near-duplicate pairs with a wide gap to the background (<0.3), so both
  * the exact inverted-index path (d4) and the MinHash-LSH path (d2) must
  * produce the identical pair set — d2 shares d4's oracle, making LSH
  * recall itself part of the correctness gate.
  */
object DedupQueries {

  /** D1: exact dedup by md5 content fingerprint. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("keep_id")

  val exactDedupSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Shared oracle for d2/d4: exact word-3-gram Jaccard pairs >= 0.8. */
  val jaccardPairsSql: String =
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |       FROM tok, UNNEST(range(1, len(w) - 1)) AS u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |ov AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS ninter
      |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2)
      |SELECT ida, idb,
      |  CAST(ninter AS DOUBLE) / CAST(na.n + nb.n - ninter AS DOUBLE) AS jaccard
      |FROM ov JOIN sizes na ON ida = na.doc_id JOIN sizes nb ON idb = nb.doc_id
      |WHERE ninter * 5 >= (na.n + nb.n - ninter) * 4
      |ORDER BY ida, idb""".stripMargin

  /** D4: exact n-gram Jaccard near-dup pairs via inverted-index join.
    * The hot-shingle cap (500) is the adversarial-corpus guard — far
    * above this corpus's max shingle doc-frequency (25 at sf0.1), so the
    * oracle is unaffected while the guard stays in the plan. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(
        Dedup.shingles(Tables.documents(spark, dir), "doc_id", "text", 3),
        thrNum = 4, thrDen = 5, maxDocFreq = 500)
      .select(col("ida"), col("idb"), col("jaccard"))
      .orderBy("ida", "idb")

  /** D2: MinHash+LSH candidates + exact verify — same output as d4.
    * 24 bands x 3 rows: a pair at exactly the 0.8 threshold is missed
    * with p = (1 - 0.8^3)^24 ~ 3.5e-8, so LSH recall genuinely gates at
    * every SF (sf0.1 has a planted pair at jaccard 0.80; the original
    * 8x4 banding missed it ~1.5% of configurations). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(
        Tables.documents(spark, dir), "doc_id", "text",
        thrNum = 4, thrDen = 5, bands = 24, rowsPerBand = 3,
        maxDocFreq = 500) // same verify-stage guard + pruned-Jaccard
                          // semantics as d4 (oracle-invisible here: max
                          // shingle df is 25 at sf0.1)
      .select(col("ida"), col("idb"), col("jaccard"))
      .orderBy("ida", "idb")

  /** D6: benchmark decontamination — the "held-out eval" set is the
    * deterministic doc_id%10==0 slice; training docs sharing >= half
    * their word 8-grams with any benchmark doc are flagged. 8-grams give
    * clean separation on this corpus (background docs share ZERO;
    * near-dup partners of benchmark docs share >= 94%), mirroring why
    * production decontamination uses 8-13-gram overlap. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.contamination(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 8, thrNum = 1, thrDen = 2)
      .select(col("id").as("doc_id"), col("n_shared"), col("n_grams"), col("frac_r"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String = {
    val gram = (1 to 7).foldLeft("w[i]")((acc, k) => s"$acc || ' ' || w[i+$k]")
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, $gram AS sh
       |       FROM tok, UNNEST(range(1, len(w) - 6)) AS u(i)),
       |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh
       |          WHERE doc_id % 10 <> 0 GROUP BY doc_id),
       |ov AS (SELECT s.doc_id, COUNT(*) AS n_shared
       |       FROM sh s JOIN bench b USING (sh)
       |       WHERE s.doc_id % 10 <> 0 GROUP BY 1)
       |SELECT doc_id, n_shared, n_grams,
       |  round(CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS frac_r
       |FROM ov JOIN sizes USING (doc_id)
       |WHERE n_shared * 2 >= n_grams
       |ORDER BY doc_id""".stripMargin
  }

  /** D7: near-dup cluster resolution — the jaccard pair list (d4's
    * edges) resolved into connected components; root = min doc id =
    * the canonical keeper. Exercises TRANSITIVE closure: at sf0.1 the
    * corpus has multi-pair chains, so min-over-direct-neighbors would
    * be wrong — the oracle is a recursive CTE. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.components(
        Dedup.jaccardPairs(
          Dedup.shingles(Tables.documents(spark, dir), "doc_id", "text", 3),
          thrNum = 4, thrDen = 5, maxDocFreq = 500))
      .select(col("id").as("member"), col("comp").as("root"))
      .orderBy("member")

  val dedupClustersSql: String =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |       FROM tok, UNNEST(range(1, len(w) - 1)) AS u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |ov AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS ninter
      |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |p AS (SELECT ida, idb FROM ov
      |      JOIN sizes na ON ida = na.doc_id JOIN sizes nb ON idb = nb.doc_id
      |      WHERE ninter * 5 >= (na.n + nb.n - ninter) * 4),
      |e AS (SELECT ida AS src, idb AS dst FROM p
      |      UNION ALL SELECT idb, ida FROM p),
      |reach(member, root) AS (
      |  SELECT DISTINCT src, src FROM e
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.member)
      |SELECT member, MIN(root) AS root
      |FROM reach GROUP BY member ORDER BY member""".stripMargin

  /** D8: decontamination through the BLOOM probe path — identical rows
    * to d6 by construction (bloom false positives are removed by the
    * exact-verify shuffle join), so it shares d6's oracle: the gate
    * proves fpp-independence of the result, the way d2 gates LSH recall
    * against d4's exact pairs. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.bloomContamination(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 8, thrNum = 1, thrDen = 2)
      .select(col("id").as("doc_id"), col("n_shared"), col("n_grams"), col("frac_r"))
      .orderBy("doc_id")
  }

  /** D9: d7's dedup clusters resolved by the ALTERNATING STAR variant
    * (Dedup.componentsStar) instead of min-label propagation — the
    * deep-diameter scale path, sharing d7's recursive-CTE oracle: both
    * algorithms must produce the identical (member, root) labeling. */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    Dedup.componentsStar(
        Dedup.jaccardPairs(
          Dedup.shingles(Tables.documents(spark, dir), "doc_id", "text", 3),
          thrNum = 4, thrDen = 5, maxDocFreq = 500))
      .select(col("id").as("member"), col("comp").as("root"))
      .orderBy("member")

  /** D3: SimHash near-dup detection (hamming <= 3 on 64-bit signatures).
    * xxhash64-based, so the signatures are not SQL-expressible; the
    * oracle gate is two per-document TRUE flags instead:
    *  - `sig_ok`: the single-pass SimHash64 expression bit-equals the
    *    independent exploded bit-count formulation (Dedup.simhashViaAgg);
    *  - `pairs_ok`: the banded (16-bit pigeonhole) candidate pairs equal
    *    the brute-force all-pairs hamming result for this document —
    *    i.e. band recall AND precision are both exactly 1, which the
    *    pigeonhole argument guarantees for maxDist < 4.
    * DuckDB asserts both as literal TRUE per doc_id, so the hash gate
    * fails iff the expression, the banding, or the hamming filter ever
    * diverge. (The brute-force side is a signature-table self-join —
    * 64-bit rows, not documents — honest at this corpus; the banded
    * path is the one that scales.) */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // PINNED (r14, guide §1.2 pass count): `sig` is referenced from FIVE
    // subtrees below (the parity check, both banded self-join sides,
    // both brute self-join sides) and the SimHash64 expression — a full
    // tokenize+hash pass over the text — is map-side, so nothing is
    // reused without the pin. Doc-count-sized (id + one long).
    val sig = Pins.pin(Dedup.simhash(docs, "doc_id", "text"))
    val sigOk = sig
      .join(Dedup.simhashViaAgg(docs, "doc_id", "text")
        .withColumnRenamed("simhash", "simhash_ref"), Seq("id"))
      .select(col("id"), (col("simhash") === col("simhash_ref")).as("sig_ok"))
    val banded = Dedup.simhashPairs(sig, maxDist = 3).select(col("ida"), col("idb"))
    val brute = sig.select(col("id").as("ida"), col("simhash").as("sa"))
      .join(sig.select(col("id").as("idb"), col("simhash").as("sb")),
        col("ida") < col("idb"))
      .where(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select(col("ida"), col("idb"))
    def sym(p: DataFrame, flag: String): DataFrame =
      p.select(col("ida").as("id"), col("idb").as("nb"))
        .union(p.select(col("idb").as("id"), col("ida").as("nb")))
        .withColumn(flag, lit(true))
    val mismatch = sym(banded, "in_band")
      .join(sym(brute, "in_brute"), Seq("id", "nb"), "full_outer")
      .where(col("in_band").isNull || col("in_brute").isNull)
      .select(col("id")).distinct().withColumn("bad", lit(true))
    docs.select(col("doc_id"))
      .join(sigOk.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(mismatch.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sig_ok"), lit(false)).as("sig_ok"),
        col("bad").isNull.as("pairs_ok"))
      .orderBy("doc_id")
  }

  val simhashSql: String =
    """SELECT doc_id, TRUE AS sig_ok, TRUE AS pairs_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** D10: SemDeDup — semantic dedup by spherical-k-means cells + exact
    * within-cell greedy pruning (Similarity.semDeDup; Abbas et al.
    * 2023). Cell assignment is kmeans-derived → not SQL-expressible;
    * the oracle gate emits two SQL-derivable counts plus three TRUE
    * flags the Spark side proves with EXACT cosines.
    *
    * The flags:
    *  - `witness_ok`: every dropped doc's witness is kept, shares its
    *    cell, and really is within the threshold;
    *  - `independent_ok`: no two kept docs of one cell are within the
    *    threshold (the greedy's maximal-independent-set property);
    *  - `leak_ok`: cross-cell leak — true pairs >= τ with BOTH ends
    *    kept, SemDeDup's accepted recall loss — stays under
    *    [[SemDedupLeakBound]] of the exact pair set. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // hash init: one TakeOrdered job instead of k−1 sequential farthest-
    // point scans — the large-k regime SemDeDup actually runs in.
    // a pin, not a cache (r13 optimization, guide §5): the
    // labeling feeds FOUR subtrees of the gate plan below; the pin
    // materializes it once and the whole gate — previously three serial
    // driver actions (witness count, pair agg head, emb count) plus a
    // driver-built result row — collapses into ONE lazy plan whose
    // aggregates Spark schedules concurrently under the caller's single
    // action. Values are identical: same frames, same expressions, the
    // former driver-side comparisons now literal column expressions.
    val res = Pins.pin(graft.operators.Similarity.semDeDup(emb, "vec_id", "embedding",
      k = 16, iters = 3, threshold = SemDedupThreshold, init = "hash"))
    val vecs = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val witness = res.where(!col("kept"))
      .join(res.select(col("id").as("witness"), col("kept").as("w_kept"),
        col("cell").as("w_cell")), Seq("witness"))
      .join(vecs, Seq("id"))
      .join(vecs.select(col("id").as("witness"), col("v").as("wv")), Seq("witness"))
      .where(!col("w_kept") || col("w_cell") =!= col("cell") ||
        graft.operators.Similarity.cosine(col("v"), col("wv")) < SemDedupThreshold)
      .agg(count(lit(1)).as("n_witness_bad"))
    val pairAgg = graft.operators.Similarity
      .cosinePairs(emb, "vec_id", "embedding", SemDedupThreshold)
      .select(col("ida"), col("idb"))
      .join(res.select(col("id").as("ida"), col("kept").as("ka"),
        col("cell").as("ca")), Seq("ida"))
      .join(res.select(col("id").as("idb"), col("kept").as("kb"),
        col("cell").as("cb")), Seq("idb"))
      .agg(count(lit(1)).as("n_true_pairs"),
        coalesce(sum(when(col("ka") && col("kb") &&
          col("ca") === col("cb"), 1L).otherwise(0L)), lit(0L)).as("same_cell_kept"),
        coalesce(sum(when(col("ka") && col("kb"), 1L).otherwise(0L)), lit(0L))
          .as("both_kept"))
    emb.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(pairAgg)
      .crossJoin(witness)
      .select(col("n_vecs"), col("n_true_pairs"),
        (col("n_witness_bad") === 0L).as("witness_ok"),
        (col("same_cell_kept") === 0L).as("independent_ok"),
        (col("both_kept").cast("double") <=
          col("n_true_pairs").cast("double") * lit(SemDedupLeakBound))
          .as("leak_ok"))
  }

  private val SemDedupThreshold = 0.3

  /** Measured cross-cell leak (both-kept fraction of the exact >= 0.3
    * pair set, k=16): see DedupSpec's gate test for the per-SF numbers;
    * bounded loosely so the flag tests "clustering routes near-dup
    * pairs into shared cells", not centroid float noise. */
  private val SemDedupLeakBound = 0.75

  /** D11: exact duplicated-substring spans (Dedup.dupSpans, K=8 word
    * tokens, >= 2 docs) — the ExactSubstr dedup of Lee et al. 2021.
    * Fully SQL-expressible (the oracle joins raw gram STRINGS where
    * Spark shuffles xxhash64 keys), so the gate is exact: window
    * counts and merged-span token masses must agree to the row. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(Tables.documents(spark, dir), "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val dupSpansSql: String =
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |wins AS (SELECT doc_id, i AS s, array_to_string(w[i:i+7], ' ') AS g
      |         FROM tok, UNNEST(range(1, len(w) - 6)) AS u(i)),
      |dup AS (SELECT g FROM wins GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
      |dw AS (SELECT w.doc_id, w.s FROM wins w JOIN dup USING (g)),
      |mass AS (SELECT doc_id, COUNT(DISTINCT s) AS n_dup_windows,
      |                COUNT(DISTINCT t.idx) AS dup_token_mass
      |         FROM dw, UNNEST(range(s, s + 8)) AS t(idx) GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(m.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
      |  CAST(COALESCE(m.dup_token_mass, 0) AS BIGINT) AS dup_token_mass
      |FROM tok t LEFT JOIN mass m USING (doc_id) ORDER BY doc_id""".stripMargin

  /** D14: CROSS-SOURCE DUPLICATION MATRIX — which sources copy from
    * which: every exact near-dup pair (d4's >= 0.8 word-3-gram Jaccard
    * inverted-index path, identical machinery) attributed to the
    * UNORDERED pair of its documents' sources. The diagonal is
    * within-source redundancy; off-diagonal mass tells a corpus build
    * where cross-source dedup (and which keep-priority) actually
    * matters before picking per-source policy. Pair mining is the d4
    * plan; attribution adds two id-keyed joins against the (doc_id,
    * source) projection and an output-sized group — nothing new
    * shuffles at corpus scale. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3),
      thrNum = 4, thrDen = 5, maxDocFreq = 500)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("ida"), col("source").as("sa")), Seq("ida"))
      .join(src.select(col("doc_id").as("idb"), col("source").as("sb")), Seq("idb"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  val sourceOverlapSql: String =
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |       FROM tok, UNNEST(range(1, len(w) - 1)) AS u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |ov AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS ninter
      |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |pr AS (SELECT ida, idb FROM ov
      |       JOIN sizes na ON ida = na.doc_id JOIN sizes nb ON idb = nb.doc_id
      |       WHERE ninter * 5 >= (na.n + nb.n - ninter) * 4)
      |SELECT LEAST(da.source, db.source) AS src_a,
      |  GREATEST(da.source, db.source) AS src_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM pr JOIN documents da ON pr.ida = da.doc_id
      |        JOIN documents db ON pr.idb = db.doc_id
      |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  /** D13: ExactSubstr span REMOVAL (Lee et al. 2021's actual rewrite,
    * where d11 only measures): every duplicated 8-token window keeps
    * its first-owner copy (smallest doc_id) and is stripped elsewhere;
    * cleaned text re-joined from the surviving tokens. The oracle
    * replays ownership and the indexed-lambda rebuild on raw gram
    * strings, so the full rewritten corpus text is hash-gated. */
  def spanRemove(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeDupSpans(Tables.documents(spark, dir), "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val spanRemoveSql: String =
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |wins AS (SELECT doc_id, i AS s, array_to_string(w[i:i+7], ' ') AS g
      |         FROM tok, UNNEST(range(1, len(w) - 6)) AS u(i)),
      |own AS (SELECT g, MIN(doc_id) AS owner
      |        FROM (SELECT DISTINCT doc_id, g FROM wins)
      |        GROUP BY g HAVING COUNT(*) >= 2),
      |rem AS (SELECT DISTINCT w.doc_id, t.p
      |        FROM wins w JOIN own o ON w.g = o.g AND w.doc_id <> o.owner,
      |             UNNEST(range(w.s, w.s + 8)) AS t(p)),
      |msk AS (SELECT doc_id, list(p ORDER BY p) AS mask FROM rem GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(len(mask), 0) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(list_filter(w,
      |    (x, i) -> NOT list_contains(COALESCE(mask, []), i)), ' '), '') AS text_clean
      |FROM tok t LEFT JOIN msk USING (doc_id) ORDER BY doc_id""".stripMargin

  /** T11: cross-document BOILERPLATE fraction — word-3-grams appearing
    * in >= 5 distinct documents are template/chrome text; each document
    * reports the boilerplate share of its gram stream
    * (Dedup.boilerplateStats: one explode, one gram-space df agg, one
    * 8-byte-key join back — linear, never a self-join). Fully exact.
    * The hashed surface is the integer pair (n_grams, n_boiler) only:
    * the derived ratio is engine-rounding-sensitive (half-up vs
    * half-even on exact .5 ties) and lives in Dedup.boilerplateRatio
    * + DedupSpec instead. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateStats(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, minDf = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val boilerplateSql: String =
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |      FROM tok, UNNEST(range(1, len(w) - 1)) AS u(i)),
      |hot AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM g)
      |        GROUP BY sh HAVING COUNT(*) >= 5),
      |per AS (SELECT g.doc_id, COUNT(*) AS n_grams,
      |          SUM(CASE WHEN hot.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
      |        FROM g LEFT JOIN hot ON g.sh = hot.sh GROUP BY g.doc_id)
      |SELECT d.doc_id, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** D12: QUALITY-AWARE CANONICAL SELECTION — d7's near-dup clusters
    * resolved to one kept representative each, picked by the t2 quality
    * score (rounded to 6 dp BEFORE the argmax so the pick can't flip on
    * a last-ulp engine difference; ties to the smallest doc_id).
    * Singletons keep themselves. The exact oracle recomputes clusters
    * via the recursive CTE and the pick via the same rounded window. */
  def canonicalKeep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.canonicalKeep(docs, "doc_id",
        round(graft.functions.Text.qualityScore(col("text")), 6),
        Dedup.jaccardPairs(
          Dedup.shingles(docs, "doc_id", "text", 3),
          thrNum = 4, thrDen = 5, maxDocFreq = 500))
      .select(col("id").as("doc_id"), col("root"), col("keep"),
        col("score").as("q_r"))
      .orderBy("doc_id")
  }

  val canonicalKeepSql: String =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |       FROM tok, UNNEST(range(1, len(w) - 1)) AS u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |ov AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS ninter
      |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |p AS (SELECT ida, idb FROM ov
      |      JOIN sizes na ON ida = na.doc_id JOIN sizes nb ON idb = nb.doc_id
      |      WHERE ninter * 5 >= (na.n + nb.n - ninter) * 4),
      |e AS (SELECT ida AS src, idb AS dst FROM p
      |      UNION ALL SELECT idb, ida FROM p),
      |reach(member, root) AS (
      |  SELECT DISTINCT src, src FROM e
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.member),
      |comp AS (SELECT member, MIN(root) AS root FROM reach GROUP BY member),
      |m AS (SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS root,
      |  round(
      |    0.4 * LEAST((CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
      |                / CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE)) * 5.0, 1.0)
      |    + 0.3 * (1.0 - LEAST((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |                / CAST(length(text) AS DOUBLE)) * 20.0, 1.0))
      |    + 0.3 * LEAST(CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) / 100.0, 1.0)
      |  , 6) AS q
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.member)
      |SELECT doc_id, root,
      |  row_number() OVER (PARTITION BY root ORDER BY q DESC, doc_id) = 1 AS keep,
      |  q AS q_r
      |FROM m ORDER BY doc_id""".stripMargin

  val semDedupSql: String =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vecs,
      |  CAST((SELECT COUNT(*)
      |        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                     CAST(b.embedding AS DOUBLE[])) >= 0.3)
      |       AS BIGINT) AS n_true_pairs,
      |  TRUE AS witness_ok, TRUE AS independent_ok, TRUE AS leak_ok""".stripMargin
}
