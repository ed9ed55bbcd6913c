package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.Text
import graft.util.Pins

/** Deduplication operators for the training-data pipeline (north star):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: nothing here is quadratic in the corpus.
  *  - exact: one hash-groupBy on a 128-bit content fingerprint.
  *  - jaccardPairs: shingle-inverted-index self-join — cost is bounded by
  *    shared-shingle pairs, not all pairs (an explicit `maxShinglesPerKey`
  *    style guard is unnecessary on synthetic data but hot shingles can be
  *    frequency-capped upstream at real scale).
  *  - minhashLsh: signatures via per-doc min-aggregation (map-side
  *    combine), banding join touches only same-bucket candidates, then an
  *    exact-Jaccard verify on the (tiny) candidate set.
  *  - simhash: 64-bit signature per doc; pairs via 16-bit band pigeonhole
  *    (hamming<=3 over 4 bands => at least one band equal), never all-pairs.
  */
object Dedup {

  /** Session shuffle-partition setting (the harness pins 32; Spark's
    * default is 200). The `numPartitions` knobs below only engage when
    * they EXCEED this — repartitioning to the session count would add
    * exchanges without adding parallelism. */
  private def sessionShufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Shuffle partitions sized to the exploded shingle volume — the knob
    * the ×100 scale stress measured as the ONE remaining lever on the
    * exact pair-mining path (STRESS.md: d4 at 30×→100× bent to exponent
    * ~1.5 at the harness's fixed 32 partitions purely from per-partition
    * shuffle mass outgrowing executor memory share; at 128 it is linear,
    * exponent ~0.96). Target ≈ 750 k shingle rows per partition (the
    * measured-linear operating point: the ×100 corpus's ~1e8 shingle
    * rows / 128 partitions), floored at the session setting (small
    * corpora keep the session plan untouched) and capped at 4096 (a
    * 1000-executor ceiling; beyond it task-scheduling overhead, not
    * partition size, dominates). */
  def recommendedShufflePartitions(spark: org.apache.spark.sql.SparkSession,
      shingleRows: Long): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(session, math.min(4096, math.ceil(shingleRows / 750000.0).toInt))
  }

  /** [[recommendedShufflePartitions]] from the corpus itself: one
    * column-pruned pre-pass (count + total token count — the shingle
    * row count is within n-1 per doc of the token count). The pre-pass
    * scans `textCol` once; the pair-mining ops it sizes scan it several
    * times, so the measurement is amortized — and it is what lets the
    * knob track data volume instead of requiring the caller to have
    * read STRESS.md. */
  def autoShufflePartitions(docs: DataFrame, textCol: String): Int = {
    // LEAF-FILE bytes gate the exact pre-pass — free (driver metadata,
    // no job). Widening only ENGAGES past ~24M shingle rows at the
    // harness's 32 session partitions (750k/partition × 32) ≈ 144 MB of
    // raw text; even at a pathological 20× parquet text-compression
    // ratio that is ≥ 7 MB on disk, so any corpus under 4 MB of SOURCE
    // FILE bytes cannot cross the threshold and the exact token-count
    // pre-pass would be a wasted full scan (r13 optimization, guide
    // §1.2 — measure the cheap proxy first, pay the exact pass only
    // where it could matter). r14 (ADVICE): the proxy is the scan's
    // FileIndex size — NOT optimizedPlan.stats.sizeInBytes, which
    // Catalyst scales by projected-column default widths and filter
    // selectivity, so a projected/filtered frame over a wide table
    // could estimate under 4 MB while holding far more text and
    // silently skip the widening the ×100 stress path exists for. A
    // cached leaf counts only once its column buffers are MATERIALIZED:
    // then the cache's accumulated byte size is exact (columnar cache
    // compression is lighter than parquet's, so the 4 MB gate stays
    // conservative); before that its stats are the optimizer estimate
    // above. Any other leaf makes the gate fall through to the exact
    // pass (conservative).
    val leafBytes = docs.queryExecution.optimizedPlan.collectLeaves().map {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some(BigInt(fs.location.sizeInBytes))
          case _ => None
        }
      case loc: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(loc.stats.sizeInBytes) // exact: literal in-memory rows
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if im.cacheBuilder.isCachedColumnBuffersLoaded =>
        Some(BigInt(im.cacheBuilder.sizeInBytesStats.value.longValue))
      case _ => None
    }
    if (leafBytes.nonEmpty && leafBytes.forall(_.isDefined) &&
        leafBytes.flatten.sum < BigInt(4L * 1024 * 1024))
      return sessionShufflePartitions(docs)
    val rows = docs.agg(
      coalesce(sum(size(split(col(textCol), " ")).cast(LongType)), lit(0L)))
      .head.getLong(0)
    recommendedShufflePartitions(docs.sparkSession, rows)
  }

  /** Word n-gram shingle set: (id, sh), deduplicated per doc by default.
    * Tokenization is split-on-single-space over lowercased text, mirrored
    * in oracle SQL. `dedup = false` skips the distinct — callers that
    * only need the gram STREAM (e.g. a map-side membership probe) avoid
    * a corpus-wide shuffle that way. `numPartitions` (when it exceeds
    * the session shuffle-partition setting) runs the dedup exchange at
    * that width — the exploded gram stream is |tokens|-sized, the
    * largest thing this family shuffles, and map-side combine barely
    * reduces it (per-doc grams are mostly corpus-unique), so partition
    * sizing must track data volume ([[recommendedShufflePartitions]]). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      dedup: Boolean = true, numPartitions: Int = 0): DataFrame = {
    val w = split(lower(col(textCol)), " ")
    val raw = df.select(col(idCol).as("id"), w.as("w"))
      .where(size(col("w")) >= n)
      .withColumn("i", explode(sequence(lit(1), size(col("w")) - (n - 1))))
      .select(col("id"),
        concat_ws(" ", (0 until n).map(k => element_at(col("w"), col("i") + k)): _*).as("sh"))
    if (!dedup) raw
    else if (numPartitions > sessionShufflePartitions(df))
      // the repartition IS the distinct's exchange, just at the sized
      // width: HashPartitioning(id, sh, np) satisfies the aggregate's
      // ClusteredDistribution, so no second shuffle is planned. The
      // (id, sh) key is deliberate on this measured ×100 scale path:
      // it spreads a pre-cap hot shingle across partitions, and the
      // wide pair-mining callers re-key their join exchanges explicitly
      // anyway (jaccardPairs/minhashLshPairs onKey).
      raw.repartition(numPartitions, col("id"), col("sh")).distinct()
    else
      // session width (r13 optimization, guide §2.4 "share one
      // exchange"): partition by sh ALONE — HashPartitioning(sh) still
      // satisfies the distinct's ClusteredDistribution(id, sh) (subset
      // rule), and every downstream pair-mining op is sh-keyed, so the
      // hot-shingle df aggregate, the anti-join and the inverted-index
      // self-join in jaccardPairs all reuse THIS one exchange instead
      // of planning their own (measured: 2 edge-sized exchanges removed
      // from the d4 plan). A pre-cap hot shingle concentrates in one
      // partition here, but the aggregates are hash-based and
      // spillable, and the hot keys are dropped before the join.
      raw.repartition(col("sh")).distinct()
  }

  /** Exact dedup: group by md5 content fingerprint, keep lowest id. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), Text.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** All pairs with shingle-Jaccard >= thrNum/thrDen, via inverted-index
    * join. Threshold test uses integer arithmetic (no float boundary).
    *
    * `maxDocFreq > 0` drops stop-shingles appearing in more than that
    * many documents BEFORE the self-join — the one unbounded blowup in
    * the inverted-index shape: a shingle shared by D documents expands
    * to D² candidate rows, so a boilerplate phrase across 1M docs is
    * 10¹² rows from a single key. Stop-shingles carry ~no similarity
    * signal (they're corpus-wide background); dropping them bounds the
    * worst key at maxDocFreq² and the whole join at |shingles|·K².
    * Jaccard is then computed over the pruned sets (sizes too), the
    * standard semantics for stopword-filtered similarity.
    *
    * `numPartitions` (when it exceeds the session shuffle-partition
    * setting) runs the inverted-index self-join at that width — the
    * |shingles|-sized exchange the ×100 stress measured as the bend:
    * at a fixed 32 partitions the 30×→100× exponent was ~1.5 (spill-
    * bound, not algorithm-bound), at 128 it was ~0.96. Size it with
    * [[recommendedShufflePartitions]]/[[autoShufflePartitions]]; the
    * post-combine aggregates (inter, sizes) stay at the session width —
    * map-side combine bounds their exchanges by output, not input. */
  def jaccardPairs(sh0: DataFrame, thrNum: Int, thrDen: Int,
      maxDocFreq: Int = 0, numPartitions: Int = 0): DataFrame = {
    val sh = if (maxDocFreq > 0) {
      val hot = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .where(col("df") > maxDocFreq).select(col("sh"))
      sh0.join(hot, Seq("sh"), "left_anti")
    } else sh0
    val wide = numPartitions > sessionShufflePartitions(sh0)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // the explicit repartition IS the join's exchange at the sized
    // width: both sides land hash-partitioned on the join key, so the
    // planner adds no further shuffle
    def onKey(df: DataFrame): DataFrame =
      if (wide) df.repartition(numPartitions, col("sh")) else df
    val a = onKey(sh.select(col("id").as("ida"), col("sh")))
    val b = onKey(sh.select(col("id").as("idb"), col("sh")))
    val inter = a.join(b, Seq("sh")).where(col("ida") < col("idb"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("ida"), col("n").as("na")), Seq("ida"))
      .join(sizes.select(col("id").as("idb"), col("n").as("nb")), Seq("idb"))
      .where(col("inter") * thrDen >= (col("na") + col("nb") - col("inter")) * thrNum)
      .select(col("ida"), col("idb"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")).cast(DoubleType)).as("jaccard"))
  }

  /** Exact duplicated-SUBSTRING spans (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * their ExactSubstr dedup), re-expressed relationally instead of via
    * a corpus-wide suffix array: hash every K-token window; a window is
    * a duplicate span iff its gram occurs in >= `minDocs` DISTINCT
    * documents; per document, report the window count and the token
    * mass of the span UNION (overlapping windows merged by counting
    * distinct covered token positions — no interval-merge state).
    *
    * Everything is LINEAR in corpus token count — unlike pair-mining
    * (jaccardPairs) there is no inverted-index self-join: the gram
    * table aggregates to a duplicate-gram set (map-side-combinable
    * count_distinct), joins back once to flag windows, and a hot
    * boilerplate gram costs its row count, never a quadratic fan-out.
    * Suffix-array ExactSubstr finds arbitrary-length duplicates; the
    * fixed-K window formulation finds exactly the spans of length >= K
    * (any such span is a union of overlapping K-windows), which is the
    * semantics the paper actually thresholds at (their K = 50 BPE
    * tokens).
    *
    * Returns (id, n_tokens, n_dup_windows, dup_token_mass). */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
      minDocs: Int = 2): DataFrame = {
    val w = split(lower(col(textCol)), " ")
    val toks = df.select(col(idCol).as("id"), w.as("w"),
      size(w).cast(LongType).as("n_tokens"))
    val wins = toks.where(size(col("w")) >= k)
      .withColumn("s", explode(sequence(lit(1), size(col("w")) - (k - 1))))
      .select(col("id"), col("s"),
        xxhash64(concat_ws(" ",
          (0 until k).map(j => element_at(col("w"), col("s") + j)): _*)).as("gh"))
    val dupGrams = wins.groupBy(col("gh"))
      .agg(count_distinct(col("id")).as("df"))
      .where(col("df") >= minDocs)
      .select(col("gh"))
    val perDoc = wins.join(dupGrams, Seq("gh"))
      .select(col("id"), col("s"),
        explode(sequence(col("s"), col("s") + (k - 1))).as("t"))
      .groupBy(col("id"))
      .agg(count_distinct(col("s")).as("n_dup_windows"),
        count_distinct(col("t")).as("dup_token_mass"))
    toks.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_token_mass"), lit(0L)).as("dup_token_mass"))
  }

  /** The REMOVAL half of ExactSubstr dedup — [[dupSpans]] detects,
    * this REWRITES the corpus the way Lee et al. 2021 actually ship it:
    * every cross-document duplicated K-token window keeps its
    * FIRST-OWNER copy (the smallest doc id containing the window —
    * deterministic, engine-replayable attribution) and is stripped from
    * every other document; a document's surviving tokens re-join into
    * the cleaned text. One copy of every span survives corpus-wide, so
    * no verbatim region trains twice, and no document loses ALL copies.
    *
    * Scale shape: the same linear machinery as dupSpans — one window
    * explode, a gram-space agg now carrying (df, min-id owner), a
    * join-back on the 8-byte hash, a ×K position explode of only the
    * REMOVED windows, and a per-doc mask agg. The final rebuild filters
    * each doc's token array against its sorted removal mask — per-doc
    * O(len · |mask|) inside one map-side HOF, bounded by document
    * length (pretraining docs are chunk-bounded; pipe9 is the chunker).
    *
    * Returns (id, n_tokens, n_removed, text_clean). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int = 2): DataFrame = {
    val w = split(lower(col(textCol)), " ")
    val toks = df.select(col(idCol).as("id"), w.as("w"),
      size(w).cast(LongType).as("n_tokens"))
    val wins = toks.where(size(col("w")) >= k)
      .withColumn("s", explode(sequence(lit(1), size(col("w")) - (k - 1))))
      .select(col("id"), col("s"),
        xxhash64(concat_ws(" ",
          (0 until k).map(j => element_at(col("w"), col("s") + j)): _*)).as("gh"))
    // gram-space: duplicated grams with their first owner
    val owners = wins.groupBy(col("gh"))
      .agg(count_distinct(col("id")).as("df"), min(col("id")).as("owner"))
      .where(col("df") >= minDocs)
      .select(col("gh"), col("owner"))
    // windows REMOVED: duplicated gram in a non-owner doc -> its K
    // covered positions; distinct mask per doc
    val mask = wins.join(owners, Seq("gh"))
      .where(col("id") =!= col("owner"))
      .select(col("id"),
        explode(sequence(col("s"), col("s") + (k - 1))).as("t"))
      .groupBy(col("id"))
      .agg(array_sort(collect_set(col("t"))).as("mask"))
    toks.join(mask, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        // isNull guard, not coalesce(size(...)): under legacy non-ANSI
        // sessions size(null) is -1 (not null), which would report a
        // clean doc as n_removed = -1
        when(col("mask").isNull, lit(0L))
          .otherwise(size(col("mask")).cast(LongType)).as("n_removed"),
        concat_ws(" ",
          filter(zip_with(col("w"),
              sequence(lit(1), size(col("w"))),
              (tok, pos) => struct(tok.as("tok"), pos.as("pos"))),
            p => coalesce(
              !array_contains(col("mask"), p.getField("pos")), lit(true)))
            .getField("tok")).as("text_clean"))
  }

  /** Cross-document BOILERPLATE profiling (the corpus-level half of the
    * C4/RefinedWeb repetition filters, which t7 covers within-document):
    * a word n-gram is boilerplate when it appears in >= `minDf` distinct
    * documents; each document reports how much of its gram stream is
    * boilerplate. Headers, navigation chrome, license blurbs, and
    * template text light up this signal; prose does not.
    *
    * Scale shape: one explode of the gram stream, ONE distinct-keyed
    * aggregation to the df table (gram-space-sized, never corpus-row-
    * sized), one join back on xxhash64(gram) — 8-byte keys, the gram
    * strings never shuffle twice — then a per-doc count. Linear in
    * corpus token count; a hot gram costs its row count (no self-join
    * fan-out, same argument as [[dupSpans]]).
    *
    * Returns (id, n_grams, n_boiler) — integers only; the derived
    * ratio lives in [[boilerplateRatio]], off the cross-engine-hashed
    * surface. */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDf: Int = 5): DataFrame = {
    val w = split(lower(col(textCol)), " ")
    val docs = df.select(col(idCol).as("id"), w.as("w"))
    val grams = docs.where(size(col("w")) >= n)
      .withColumn("i", explode(sequence(lit(1), size(col("w")) - (n - 1))))
      .select(col("id"),
        xxhash64(concat_ws(" ",
          (0 until n).map(k => element_at(col("w"), col("i") + k)): _*)).as("gh"))
    val boiler = grams.select(col("id"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("gh"), lit(true).as("hot"))
    grams.join(boiler, Seq("gh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hot"), 1L).otherwise(0L)).as("n_boiler"))
      .join(docs.select(col("id")), Seq("id"), "right")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
  }

  /** The boilerplate RATIO derived from [[boilerplateStats]]' exact
    * integer pair. Kept OUT of the oracle-hashed surface on purpose:
    * `round()` of an exact .5 tie at the last digit differs between
    * engines (half-up vs half-even), so the cross-engine gate hashes
    * the integers only and the ratio lives behind this helper + a
    * spec assertion. */
  def boilerplateRatio(stats: DataFrame): DataFrame =
    stats.withColumn("boiler_r",
      round(col("n_boiler").cast(DoubleType) /
        greatest(col("n_grams"), lit(1L)).cast(DoubleType), 6))

  /** CANONICAL SELECTION: resolve near-dup clusters ([[components]] over
    * a pair list) and keep exactly one representative per cluster — the
    * member with the best `scoreCol` (quality-aware dedup: drop the
    * low-quality copies, not an arbitrary one). Ties break to the
    * smallest id, and singletons (docs in no cluster) keep themselves.
    *
    * The caller pre-ROUNDS the score so argmax cannot flip on a
    * last-ulp float difference between engines. The per-cluster pick is
    * a row_number window PARTITIONED BY root — parallel across
    * clusters, and a cluster's size bounds its window, so the 100 TB
    * cost is the components fixpoint itself, not this ranking.
    *
    * Returns (id, root, keep, score). */
  def canonicalKeep(docs: DataFrame, idCol: String, scoreCol: Column,
      pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = components(pairs)
      .select(col("id"), col("comp").as("root"))
    val member = docs.select(col(idCol).as("id"), scoreCol.as("score"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("root"), col("score"))
    val rn = row_number().over(
      Window.partitionBy(col("root")).orderBy(col("score").desc, col("id")))
    member.withColumn("keep", rn === 1)
      .select(col("id"), col("root"), col("keep"), col("score"))
  }

  /** Benchmark decontamination: flag training documents sharing at least
    * thrNum/thrDen of their word n-grams with ANY benchmark document
    * (the GPT-3/FLAN-style n-gram overlap check; long n-grams — default
    * 8 — make background collisions vanish while verbatim/near-verbatim
    * leaks still overlap almost fully).
    *
    * Scale shape: the benchmark side is an eval suite — tiny relative to
    * the corpus — so its distinct n-gram set BROADCASTS; the corpus side
    * is a map-side hash probe over the raw gram stream (no corpus-wide
    * distinct — the per-doc distinct-gram denominator comes from the
    * single-pass [[graft.plans.RepetitionStats]] expression instead),
    * and only MATCHING (doc, gram) rows enter a shuffle. Nothing is
    * quadratic and the 100 TB corpus is scanned exactly once. */
  def contamination(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      thrNum: Int = 1, thrDen: Int = 2): DataFrame = {
    val benchSh = shingles(bench, idCol, textCol, n).select(col("sh")).distinct()
    val sizes = docs.select(col(idCol).as("id"),
        graft.plans.TextOps.repetitionStats(split(lower(col(textCol)), " "), n)
          .getField("n_distinct").as("n_grams"))
      .where(col("n_grams") > 0)
    val shared = shingles(docs, idCol, textCol, n, dedup = false)
      .join(broadcast(benchSh), Seq("sh"))
      .groupBy(col("id")).agg(count_distinct(col("sh")).as("n_shared"))
    shared.join(sizes, Seq("id"))
      .where(col("n_shared") * thrDen >= col("n_grams") * thrNum)
      .select(col("id"), col("n_shared"), col("n_grams"),
        round(col("n_shared").cast(DoubleType) /
          col("n_grams").cast(DoubleType), 6).as("frac_r"))
  }

  /** Bloom-filter decontamination: same contract and output as
    * [[contamination]], but the membership probe is a BLOOM FILTER built
    * over the benchmark gram set instead of a broadcast of the exact set.
    *
    * This is the shape for when the eval-suite gram set outgrows an
    * exact broadcast (a full eval stack is 10⁸-10⁹ grams — tens of GB as
    * strings, ~1 GB as a 1% bloom): the filter's bits broadcast to every
    * task, the corpus gram stream is pre-filtered map-side (false
    * positives only ADD candidates), and the exact verify then runs as a
    * plain shuffle join on the surviving (tiny) candidate stream — NOT a
    * broadcast, deliberately, because at that scale the exact set can't
    * ship. Correctness is fpp-independent: the verify join removes every
    * false positive, so output == [[contamination]] exactly (gated by
    * d8 sharing d6's oracle, and DedupSpec equality). */
  def bloomContamination(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      thrNum: Int = 1, thrDen: Int = 2, fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val benchSh = Pins.cache(shingles(bench, idCol, textCol, n).select(col("sh")).distinct())
    val bf = benchSh.stat.bloomFilter("sh", math.max(benchSh.count(), 1L), fpp)
    val bfBc = spark.sparkContext.broadcast(bf)
    // named so the PlanSpec pin can anchor on THIS filter (an anonymous
    // UDF string would let the pin pass on any unrelated UDF filter)
    val mightContain = udf((s: String) => s != null && bfBc.value.mightContainString(s))
      .withName("bloom_probe")
    val sizes = docs.select(col(idCol).as("id"),
        graft.plans.TextOps.repetitionStats(split(lower(col(textCol)), " "), n)
          .getField("n_distinct").as("n_grams"))
      .where(col("n_grams") > 0)
    val shared = shingles(docs, idCol, textCol, n, dedup = false)
      .where(mightContain(col("sh")))            // map-side bloom probe
      .join(benchSh, Seq("sh"))                  // exact verify: shuffle join
      .groupBy(col("id")).agg(count_distinct(col("sh")).as("n_shared"))
    shared.join(sizes, Seq("id"))
      .where(col("n_shared") * thrDen >= col("n_grams") * thrNum)
      .select(col("id"), col("n_shared"), col("n_grams"),
        round(col("n_shared").cast(DoubleType) /
          col("n_grams").cast(DoubleType), 6).as("frac_r"))
  }

  /** MinHash signature columns: minhash_j = min over shingles of
    * ((a_j * h + b_j) mod p), h = murmur3 of the shingle. Coefficients
    * come from the ONE definition in [[graft.plans.SigEval]] — the
    * bit-equality contract with the single-pass MinHashSig expression
    * depends on both paths sharing them. */
  private def minhashAggs(numHashes: Int): Seq[Column] = {
    val as = graft.plans.SigEval.coeffA(numHashes)
    val bs = graft.plans.SigEval.coeffB(numHashes)
    (0 until numHashes).map { j =>
      min(pmod(col("h").cast(LongType) * as(j) + bs(j),
        lit(graft.plans.SigEval.PRIME))).as(s"mh_$j")
    }
  }

  /** Test-only reference: the exploded min-aggregation signature the
    * single-pass MinHashSig expression replaced (DedupSpec gates their
    * bit-equality). */
  private[graft] def minhashSigViaAgg(sh: DataFrame, numHashes: Int): DataFrame =
    sh.withColumn("h", hash(col("sh")))
      .groupBy(col("id")).agg(minhashAggs(numHashes).head, minhashAggs(numHashes).tail: _*)

  /** MinHash + LSH banding candidates, verified with exact Jaccard.
    * numHashes = bands * rowsPerBand.
    *
    * Signatures are computed MAP-SIDE by the single-pass MinHashSig
    * expression (one imperative pass per document in the scan stage) —
    * the exploded shingle-then-72-way-min-agg formulation shuffled the
    * whole corpus's (id, shingle-hash) pairs just to build signatures,
    * the dominant exchange at 100 TB. Shingles are still materialized,
    * but only the exact-verify join on the (tiny) candidate set reads
    * them.
    *
    * `maxDocFreq` DEFAULTS to 500 (matching [[jaccardPairs]]' wrapper
    * default at the call site below): the 10× adversarial stress
    * measured the unpruned verify at 204 s where the capped path took
    * 23 s, so the unguarded behavior is the opt-IN (`maxDocFreq = 0`),
    * not the default a cold caller walks into. The semantics under the
    * cap are pruned-Jaccard — documented at the `sh` pruning step — and
    * are exactly d4's; on every driver SF the cap is dormant (max
    * shingle df 25 at sf0.1 vs 500 — a dormancy DedupSpec now asserts
    * per graded SF, so a future SF bump that crosses the threshold
    * fails a spec instead of silently diverging d2 from its raw-Jaccard
    * oracle).
    *
    * `maxBucket` DEFAULTS to 1000 since round 12 — the same
    * measurement-follows-default discipline as maxDocFreq (its r8
    * precedent): the ×100 ADVERSARIAL stress corpus measured the
    * uncapped path superlinear (exponent ~1.76, 321.7 s — band buckets
    * on template mega-clusters grow with corpus size and verify mass
    * with their square) while `maxBucket = 1000` returned 164.9 s, so
    * the cap IS the scale path and `maxBucket = 0` is the opt-in for
    * corpora known mega-cluster-free. RECALL under the default cap,
    * honestly: pairs BOTH of whose endpoints sit in >1000-doc band
    * buckets in EVERY band are never candidates — on the ×100
    * adversarial corpus that cost 1.5 % of pairs (98.5 % returned),
    * all inside boilerplate mega-clusters that exact dedup /
    * [[exact]]-then-components handles for free upstream (how
    * production near-dup pipelines sequence it); on every graded SF and
    * on clean corpora to ×100 the largest bucket is orders of magnitude
    * below the cap (dormancy asserted per graded SF in DedupSpec), so
    * the registered d2 keeps exact parity with its raw-Jaccard oracle.
    *
    * `numPartitions`: -1 (default) SIZES the shingle/verify exchanges
    * from the corpus itself via [[autoShufflePartitions]] — one
    * column-pruned pre-pass, dormant when the recommendation does not
    * exceed the session setting (every graded SF); 0 disables; >0 is
    * the explicit override. */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      thrNum: Int, thrDen: Int,
      bands: Int = 8, rowsPerBand: Int = 4, shingleN: Int = 3,
      maxDocFreq: Int = 500, maxBucket: Int = 1000,
      numPartitions: Int = -1): DataFrame = {
    val np = if (numPartitions == -1) autoShufflePartitions(docs, textCol)
             else numPartitions
    val wide = np > sessionShufflePartitions(docs)
    val words = split(lower(col(textCol)), " ")
    // band strings emitted by ONE expression evaluation per row —
    // element_at-per-band would let CollapseProject re-evaluate the
    // signature bands×rows times (see MinHashBands scaladoc).
    // PINNED (r14, guide §1.2 pass count): the signature expression is
    // the MAP-SIDE heavy kernel here (bands×rowsPerBand xxhash64 evals
    // per shingle), and the plan below references `sig` from FOUR
    // subtrees — the bucket fan-out's two self-join sides plus the
    // mega-bucket pre-pass — each of which would re-evaluate it (no
    // exchange below it, so nothing is reused). The pin is doc-count-
    // sized (id + bands longs), safe at any corpus scale — it is the
    // signature table a production pipeline materializes anyway.
    val sig = Pins.pin(docs.select(col(idCol).as("id"),
        graft.plans.TextOps.minhashBands(words, shingleN, bands, rowsPerBand)
          .as("bsig"))
      .where(col("bsig").isNotNull))
    // `maxDocFreq` prunes stop-shingles from the VERIFY sets — the same
    // guard and the same pruned-Jaccard THRESHOLD SEMANTICS as
    // [[jaccardPairs]]: every pair d2 emits satisfies exactly d4's
    // pruned-Jaccard test. Without it, a boilerplate-heavy corpus pays
    // the hot-shingle fan-out in the verify join even when the
    // candidate stage behaved (the 10× adversarial stress: capped d4
    // 7 s, uncapped d2 verify 204 s). CANDIDATE RECALL, however, still
    // follows RAW-space Jaccard — the minhash signatures are computed
    // from the text in one scan, deliberately without a corpus df
    // pre-pass — so where pruning actually bites, pairs whose pruned
    // similarity clears the threshold but whose raw similarity is low
    // may never become candidates (measured: 41 k of d4's 47 k pairs on
    // the adversarial stress corpus, STRESS.md finding #2). On corpora
    // where the cap is a dormant guard (every driver SF here: max df 25
    // vs cap 500), pruning changes nothing and the documented LSH miss
    // bound applies verbatim; where boilerplate makes it bite, d4 is
    // the exact contract and d2 is the recall-documented fast path.
    val sh0 = shingles(docs, idCol, textCol, shingleN, numPartitions = np)
    val sh = if (maxDocFreq > 0) {
      val hot = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .where(col("df") > maxDocFreq).select(col("sh"))
      sh0.join(hot, Seq("sh"), "left_anti")
    } else sh0
    val bucketed0 = sig.select(col("id"),
        posexplode(col("bsig")).as(Seq("band", "sig")))
    // `maxBucket` (DEFAULT 1000 — see the scaladoc's measurement) drops
    // band buckets holding more than that many docs BEFORE the
    // self-join. A (band, sig) bucket of B docs expands to B² candidate
    // pairs, and a mega-cluster of near-identical boilerplate docs
    // lands in the SAME bucket in ~every band — quadratic candidate
    // mass from one key, the LSH analogue of jaccardPairs' hot-shingle
    // blowup. The trade is explicit: pairs INSIDE a dropped mega-bucket
    // are missed (measured 1.5 % on the ×100 adversarial corpus, zero
    // everywhere the cap is dormant), which is why mega-clusters belong
    // to a cheaper contract run first (exact dedup / minhashFilter /
    // components) — how production near-dup pipelines sequence it
    // anyway. `maxBucket = 0` opts back into the uncapped quadratic.
    val bucketed = if (maxBucket > 0) {
      val big = bucketed0.groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("bn"))
        .where(col("bn") > maxBucket).select(col("band"), col("sig"))
      bucketed0.join(big, Seq("band", "sig"), "left_anti")
    } else bucketed0
    val cand = bucketed.select(col("id").as("ida"), col("band"), col("sig"))
      .join(bucketed.select(col("id").as("idb"), col("band"), col("sig")), Seq("band", "sig"))
      .where(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    // Verify candidates with exact Jaccard (join back to shingle sets).
    // The two verify joins move |shingles|-sized streams — when `wide`,
    // the explicit repartitions BECOME those joins' exchanges at the
    // sized width (same mechanism as jaccardPairs'): the planner sees
    // both sides hash-partitioned on the join key and adds no shuffle.
    def onA(df: DataFrame): DataFrame =
      if (wide) df.repartition(np, col("ida")) else df
    val shA = onA(sh.select(col("id").as("ida"), col("sh")))
    val shB = sh.select(col("id").as("idb"), col("sh"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val j1 = onA(cand).join(shA, Seq("ida"))
    def onB(df: DataFrame): DataFrame =
      if (wide) df.repartition(np, col("idb"), col("sh")) else df
    val inter = onB(j1).join(onB(shB), Seq("idb", "sh"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("ida"), col("n").as("na")), Seq("ida"))
      .join(sizes.select(col("id").as("idb"), col("n").as("nb")), Seq("idb"))
      .where(col("inter") * thrDen >= (col("na") + col("nb") - col("inter")) * thrNum)
      .select(col("ida"), col("idb"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")).cast(DoubleType)).as("jaccard"))
  }

  /** Band-bucket signature rows for the streaming/batch near-dup
    * FILTER: one (id, sig, band, bhash) row per band per doc, both
    * arrays computed by the single-pass scan-stage expressions. Docs
    * shorter than the shingle width produce no rows (they have no
    * signature and can never be near-dups). */
  private[graft] def bandRows(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int,
      bands: Int): DataFrame = {
    val words = split(lower(col(textCol)), " ")
    docs.select(col(idCol).as("id"),
        graft.plans.TextOps.minhashSig(words, shingleN, numHashes).as("sig"),
        graft.plans.TextOps.minhashBands(words, shingleN, bands,
          numHashes / bands).as("bsig"))
      .where(col("bsig").isNotNull)
      .select(col("id"), col("sig"),
        posexplode(col("bsig")).as(Seq("band", "bhash")))
  }

  /** Signature-estimated Jaccard >= tauNum/tauDen — the unbiased
    * MinHash estimator (fraction of equal components), thresholded in
    * INTEGER arithmetic so no float boundary can flake a gate. */
  private[graft] def estJaccardOk(a: Column, b: Column, numHashes: Int,
      tauNum: Int, tauDen: Int): Column =
    aggregate(zip_with(a, b, (x, y) => (x === y).cast("int")),
      lit(0), (acc, v) => acc + v) * tauDen >= lit(numHashes * tauNum)

  /** Greedy near-dup FILTER on the signature estimate: a doc is `dup`
    * iff some LSH band pairs it with a SMALLER-ID doc whose estimated
    * Jaccard reaches the threshold — no text re-verify, so the rule
    * streams (state = signatures only, not shingle sets;
    * [[graft.streaming.Ingest.nearDupStream]] is the incremental twin
    * and matches this batch face exactly on id-ordered arrival).
    * [[minhashLsh]] is the exact-verified variant when the full corpus
    * text is at hand. Returns (id, dup). */
  def minhashFilter(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tauNum: Int = 7, tauDen: Int = 10): DataFrame = {
    val br = bandRows(docs, idCol, textCol, shingleN, numHashes, bands)
    val dup = br.select(col("band"), col("bhash"), col("id").as("idb"),
        col("sig").as("sigb"))
      .join(br.select(col("band"), col("bhash"), col("id").as("ida"),
        col("sig").as("siga")), Seq("band", "bhash"))
      .where(col("ida") < col("idb") &&
        estJaccardOk(col("siga"), col("sigb"), numHashes, tauNum, tauDen))
      .select(col("idb").as("id")).distinct()
    docs.select(col(idCol).as("id"))
      .join(dup.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("dup"), lit(false)).as("dup"))
  }

  /** Connected components over an undirected near-dup edge list
    * (`ida < idb`): the cluster-resolution step that turns pairwise
    * matches into dedup groups (root = smallest doc id in the component
    * = the canonical keeper, matching `exact`'s min-id convention).
    *
    * Iterative min-label propagation: each round joins the edge list
    * with current labels (one hash shuffle on node id) and lowers every
    * node to the min label in its neighborhood; converges in
    * O(component diameter) rounds — near-dup components are shallow
    * (pairs/chains), so 2-4 rounds in practice. At extreme diameters
    * the alternating small-star/large-star variant halves rounds; the
    * join shape is identical. Returns (id, comp).
    *
    * Each round's labeling is localCheckpoint-PINNED, not persist()ed
    * (round 12 — the r12 property-sweep ghost, caught with its seed in
    * validation/r12_prop_sweeps/sweep_4.log): `comp` appears TWICE in
    * every round's plan (the neighbor-min join and the label-lower
    * join), so with persist() the logical plan NESTS GEOMETRICALLY —
    * persist caches data but Catalyst re-analyzes the full tower each
    * round. Measured on a 12-node diameter-9 graph (tools/GhostProbe):
    * plan nodes 35 → 12 785 by round 9, per-round wall 2.3 s → 242 s,
    * driver OOM at 16 g before round 10 — on a tiny graph. Truncating
    * lineage per round makes round cost O(1) in round count, which is
    * also the only shape that survives deep-diameter components at
    * 100 TB. Same contract as [[componentsStar]]: the body runs in
    * [[graft.util.Pins.owned]], and the returned plan reads through the
    * FINAL pin only, which passes to the caller's scope.
    *
    * `checkpointDir`: when set, each round's labeling is RELIABLY
    * checkpointed there (parquet-class durability via the RDD
    * checkpoint mechanism) instead of the default localCheckpoint —
    * the local variant truncates lineage, so its blocks are NOT
    * recomputable: an executor loss mid-fixpoint kills the job (a
    * strictly worse failure trade than plain persist, accepted for the
    * plan-tower fix above). Cluster deployments should set it — same
    * wording and trade as [[componentsStar]]; local runs and tests can
    * leave it None. `maxRounds` bounds the
    * O(diameter) loop: a pathological edge list (or a convergence-
    * detection regression) fails with a clear error instead of
    * spinning the cluster forever. */
  def components(edges: DataFrame, checkpointDir: Option[String] = None,
      maxRounds: Int = 100): DataFrame = Pins.owned {
    // LAZY pin on the local path (r14, guide §1.2 pass count): every
    // pin here — the init labeling and each round's `next` — is
    // immediately followed by the label-sum signature aggregate, and a
    // lazy pin lets that ONE sig job both materialize the blocks and
    // compute the sum, where the eager pin paid a separate
    // materialization job first (2 jobs/round -> 1; fixed scheduling
    // latency dominates these node-sized rounds — r13 OptProbe). Safe
    // because sig() computes every partition (lineage truncates at that
    // job's end) BEFORE the previous round's blocks are released. The
    // reliable-checkpoint path keeps eager semantics.
    def pin(df: DataFrame): DataFrame = Pins.pin(df, eager = false, dir = checkpointDir)
    // The symmetrized edge list is PRE-PARTITIONED on the join key (r13
    // optimization, guide §2.4): every round's neighbor-min join reads
    // `sym` by dst, and an InMemoryRelation keeps its outputPartitioning,
    // so paying the edge-sized exchange ONCE here removes it from every
    // round (the comp/nmin sides are node-sized and stay partitioned by
    // id through the pins — a local checkpoint preserves partitioning).
    // The returned labeling reads only its final pin, so Pins.owned
    // frees `sym` on return.
    val symP = sessionShufflePartitions(edges)
    val sym = Pins.cache(edges.select(col("ida").as("src"), col("idb").as("dst"))
      .union(edges.select(col("idb").as("src"), col("ida").as("dst")))
      .repartition(symP, col("dst")))
    // Init = identity labeling LOWERED by one propagation round (r13):
    // comp0(v) = min(v, min neighbor(v)) comes out of one aggregate over
    // the already-dst-partitioned sym — the same exchange the old
    // identity init paid for its distinct, but it does round 1's work,
    // so the fixpoint arrives one full round (join + agg + join + pin +
    // sig job) earlier. Same fixpoint by the ball-min invariant:
    // comp_t(v) = min over the radius-(t+1) ball instead of radius-t.
    var comp = pin(sym.groupBy(col("dst")).agg(min(col("src")).as("nmin"))
      .select(col("dst").as("id"), least(col("dst"), col("nmin")).as("comp")))
    // Convergence via the label-sum signature: labels only ever
    // decrease element-wise, so sum(comp) strictly decreases until the
    // fixpoint — one tiny aggregate per round instead of a
    // changed-rows join against the previous labeling.
    def sig(df: DataFrame): java.math.BigDecimal = { // decimal: id sums can pass 2^63 at scale
      val s = df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
      // sum over zero rows is null: an EMPTY edge list must converge on
      // the first equality test, not NPE in compareTo
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSig = sig(comp)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"components: no fixpoint after $maxRounds rounds — the edge " +
          "list has a component of diameter > maxRounds (use " +
          "componentsStar, which converges in O(log n) alternations, " +
          "or raise maxRounds)")
      val nmin = sym
        .join(comp.select(col("id").as("dst"), col("comp").as("ncomp")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("ncomp")).as("nmin"))
      val next = pin(comp
        .join(nmin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp")))
      val s = sig(next)
      Pins.release(comp)
      comp = next
      converged = s.compareTo(prevSig) == 0
      prevSig = s
    }
    comp
  }

  /** Near-duplicate CLUSTERS of a document table in one call: word
    * n-gram shingles -> exact-Jaccard pair mining -> connected
    * components. This is THE near-dup grouping the pipeline surface
    * builds on (pipe8's leakage-free split, the runner's `split` op) —
    * one definition so the thresholds cannot drift between the
    * oracle-gated query and the serving path. Returns (id, comp).
    *
    * `numPartitions` follows [[minhashLshPairs]]' contract: -1 sizes
    * the shingle/join exchanges from the corpus (dormant at every
    * graded SF), 0 disables, >0 overrides. */
  def nearDupComponents(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thrNum: Int = 4, thrDen: Int = 5,
      maxDocFreq: Int = 500, numPartitions: Int = -1): DataFrame = {
    val np = if (numPartitions == -1) autoShufflePartitions(docs, textCol)
             else numPartitions
    components(jaccardPairs(
      shingles(docs, idCol, textCol, n, numPartitions = np),
      thrNum, thrDen, maxDocFreq, numPartitions = np))
  }

  /** Connected components by ALTERNATING SMALL-STAR / LARGE-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the deep-diameter variant [[components]]' scaladoc points to: the
    * path-graph worst case converges in O(log n) alternations instead
    * of O(diameter) label rounds, with the same one-hash-shuffle-per-
    * round join shape.
    *
    *  - large-star: every node u links each LARGER neighbor to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node u links its SMALLER neighbors (and
    *    itself) to that minimum.
    * The edge multiset stabilizes to stars rooted at component minima;
    * the fixpoint is detected by an (edge-count, endpoint-sum)
    * signature, one tiny aggregate per alternation like
    * [[components]]' label-sum trick. Returns (id, comp); nodes
    * appearing only in self-loops are retained, labeled themselves
    * (r12 — matching [[components]] and the union-find contract).
    *
    * `checkpointDir`: when set, each alternation reliably checkpoints
    * its edge multiset there instead of `localCheckpoint` — the local
    * variant only truncates lineage, so on a real cluster an executor
    * loss mid-fixpoint loses blocks and kills the job; the reliable
    * path recomputes from the last checkpoint. `maxRounds` (default 50
    * ≈ log₂ of any feasible node count, with slack: convergence is
    * O(log n) alternations) turns a convergence-detection regression
    * into a clear error instead of an unbounded cluster spin. */
  def componentsStar(edges: DataFrame, checkpointDir: Option[String] = None,
      maxRounds: Int = 50): DataFrame = Pins.owned {
    // Round pins are LAZY on the local path (r14, guide §1.2 pass
    // count): each alternation's pin is immediately followed by
    // next.count(), which materializes every partition in the same job
    // (2 jobs/alternation -> 1). The ENTRY pins (`all`, `loops`) stay
    // EAGER: `loops` must hold blocks before round 1 releases `e`'s
    // leaves (= `all`'s blocks), and nothing counts it in between.
    def pin(df: DataFrame, eager: Boolean): DataFrame =
      Pins.pin(df, eager, checkpointDir)
    def bothDirs(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val nbrs = bothDirs(e)
      val m = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val linked = nbrs.join(m, Seq("u"))
        .where(if (large) col("v") > col("u") else col("v") < col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = if (large) linked
        else linked.union(m.select(col("u"), col("m").as("v")))
      val out = self.where(col("u") =!= col("v"))
      // only the alternation boundary (the small star, whose output is
      // pinned and set-compared) needs the exchange-costing distinct;
      // duplicate edges between the chained stars are harmless — `m` is
      // a min and the trailing distinct dedups the final multiset (r13:
      // one less edge-sized exchange per alternation)
      if (large) out else out.distinct()
    }
    // SOUND fixpoint test: exact set equality (|A| = |B| = |A ∪ B|,
    // both sides already distinct). A count/endpoint-sum signature is
    // cheaper but can collide mid-convergence — unlike [[components]]'
    // label-sum (monotone: labels only decrease), star rounds REWRITE
    // edges, so nothing makes a hash signature monotone here. `na` is
    // CARRIED between alternations (r13: each round's next.count()
    // becomes the following round's na — the old shape recounted the
    // previous pin every round, one extra job per alternation), and the
    // union-distinct job only runs when the counts already agree.
    def sameEdges(a: DataFrame, b: DataFrame, na: Long, nb: Long): Boolean =
      nb == na && a.union(b).distinct().count() == na
    // each alternation composes two joins+distinct over the previous
    // round's FULL plan — persist alone caches data but the logical
    // plan still nests geometrically and analysis OOMs after ~6 rounds.
    // pin() truncates lineage to a materialized RDD: localCheckpoint by
    // default, reliable checkpoint when checkpointDir is set.
    val all = pin(edges.select(col("ida").as("u"), col("idb").as("v")).distinct(),
      eager = true)
    // nodes appearing ONLY in self-loops vanish from the star rounds
    // (the u =!= v entry filter) but are nodes of the input graph —
    // [[components]] and the union-find contract label them with
    // themselves (found by the r12 ghost shrinker: the shrunk artifact
    // List((0,0)) returned {} here vs {0->0} from components). Their
    // recovery set is pinned HERE, from the entry pin — deriving it
    // from the raw `edges` plan in the returned labeling (the r12
    // shape) re-evaluated the full upstream input per action, doubling
    // d9's mining cost and breaking the pin-only contract below. One
    // input scan total: `loops` materializes off `all`'s blocks before
    // round 1 releases them.
    val loops = pin(all.where(col("u") === col("v"))
      .select(col("u").as("id")).distinct(), eager = true)
    var e = all.where(col("u") =!= col("v"))
    var eCount = e.count()
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"componentsStar: no fixpoint after $maxRounds alternations — " +
          "star rounds converge in O(log n); this indicates a " +
          "convergence-detection regression or an edge list far beyond " +
          "the assumed scale (raise maxRounds only after ruling out the " +
          "former)")
      val next = pin(star(star(e, large = true), large = false), eager = false)
      val nextCount = next.count() // materializes the lazy pin
      converged = sameEdges(e, next, eCount, nextCount)
      eCount = nextCount
      // next is materialized by its pin, so the previous round's edge
      // multiset is dead weight NOW: freed here, not at the end of the
      // call, to bound the loop's memory to two edge-sized pins
      Pins.release(e)
      e = next
    }
    // stars point leaves at roots; a root's own min neighbor is larger,
    // so least(u, min v) labels roots with themselves. The returned
    // plan reads through the FINAL pinned edge multiset and the tiny
    // self-loop recovery pin — the TWO residues of this call, which
    // Pins.owned hands to the caller's scope (outside one, the caller
    // frees both with Pins.release(result), which walks every pinned
    // leaf of the plan). The pair miners emit ida < idb strictly, so
    // `loops` is empty there.
    val labels = bothDirs(e).groupBy(col("u"))
      .agg(least(first(col("u")), min(col("v"))).as("comp"))
      .select(col("u").as("id"), col("comp"))
    labels.union(
      loops.join(labels.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("comp")))
  }

  /** 64-bit SimHash per document from xxhash64 token hashes — computed
    * MAP-SIDE by the single-pass SimHash64 expression (zero shuffle; the
    * exploded 64-way bit-count aggregation it replaces shuffled every
    * (doc, token-hash) pair — DedupSpec gates bit-equality of the two). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.plans.TextOps.simhash64(split(lower(col(textCol)), " ")).as("simhash"))

  /** Test-only reference: the exploded bit-count formulation. */
  private[graft] def simhashViaAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), " ")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$j")
    }
    val agg = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _) // bits are disjoint, so + == |
    agg.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist, via 16-bit
    * band pigeonhole (maxDist must be < 4 for 4 bands to be exhaustive). */
  def simhashPairs(sig: DataFrame, maxDist: Int = 3): DataFrame = {
    val banded = sig.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.select(col("id").as("ida"), col("simhash").as("sa"), col("band"), col("key"))
      .join(banded.select(col("id").as("idb"), col("simhash").as("sb"), col("band"), col("key")),
        Seq("band", "key"))
      .where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }
}
