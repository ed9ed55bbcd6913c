package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.Text
import graft.plans.TextOps
import graft.util.Pins

/** Training-data curation surface (north star): the document-pipeline
  * operators a 100 TB pretraining corpus build needs beyond dedup —
  * composed quality filtering, deterministic stratified sampling, and
  * token-budget packing. All three are oracle-gated.
  */
object PipelineQueries {

  /** PIPE1: C4/RefinedWeb-style composed quality filter in ONE scan —
    * token count, heuristic quality, and duplicated-3-gram repetition
    * all evaluate per row with no shuffle; the filter keeps docs with
    * >= 20 tokens, quality >= 0.5, and <= 10% duplicated 3-grams (the
    * repetition gate uses integer arithmetic, dup*10 <= total, so no
    * float boundary can flake the oracle). At 100 TB this is the shape
    * that matters: every signal is computed in the same pipeline stage
    * as the scan, so filtering N docs costs exactly one pass. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        Text.nTokens(col("text")).cast(LongType).as("n_tokens"),
        Text.qualityScore(col("text")).as("quality"),
        TextOps.repetitionStats(
          regexp_extract_all(col("text"), lit("\\S+"), lit(0)), 3).as("r"))
      .where(col("n_tokens") >= 20 && col("quality") >= 0.5 &&
        (col("r.n_grams") - col("r.n_distinct")) * 10 <= col("r.n_grams"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("quality"), 6).as("quality_r"))
      .orderBy("doc_id")

  val qualityFilterSql: String =
    """WITH sig AS (
      |  SELECT doc_id, lang,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |    0.4 * LEAST((CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
      |                / CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE)) * 5.0, 1.0)
      |    + 0.3 * (1.0 - LEAST((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |                / CAST(length(text) AS DOUBLE)) * 20.0, 1.0))
      |    + 0.3 * LEAST(CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) / 100.0, 1.0) AS quality,
      |    list_transform(range(1, greatest(len(regexp_extract_all(text, '\S+'))-1, 1)),
      |      i -> regexp_extract_all(text, '\S+')[i] || ' ' ||
      |           regexp_extract_all(text, '\S+')[i+1] || ' ' ||
      |           regexp_extract_all(text, '\S+')[i+2]) AS grams
      |  FROM documents
      |)
      |SELECT doc_id, lang, n_tokens, round(quality, 6) AS quality_r
      |FROM sig
      |WHERE n_tokens >= 20 AND quality >= 0.5
      |  AND (len(grams) - len(list_distinct(grams))) * 10 <= len(grams)
      |ORDER BY doc_id""".stripMargin

  /** PIPE2: deterministic stratified sampling — top-20 documents per
    * source stratum ordered by md5(text) (a seedless, engine-agnostic
    * pseudo-random order; doc_id tiebreak). The per-stratum top-k shape
    * scales: one shuffle on the stratum key, rank state bounded by k. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), md5(col("text")).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))))
      .where(col("rk") <= 20)
      .select(col("source"), col("doc_id"), col("rk").cast(LongType).as("rk"))
      .orderBy("source", "rk")

  val stratifiedSampleSql: String =
    """SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 20 ORDER BY source, rk""".stripMargin

  /** PIPE6: the same per-stratum sample as pipe2, served by the
    * DISTRIBUTED-RESERVOIR shape (operators.Sampling: per-partition
    * bounded heaps, sample-sized final rank) instead of pipe2's
    * corpus-shuffling window. Shares pipe2's oracle verbatim, so the
    * heap fold + merge is hash-gated equal to the window formulation —
    * the d2/d8 implementation-B trick. */
  def reservoirSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.topKPerGroup(
      Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"), md5(col("text")).as("h")),
      Seq("source"), col("h"), "doc_id", k = 20)
      .select(col("source"), col("doc_id"), col("rk").cast(LongType).as("rk"))
      .orderBy("source", "rk")

  /** PIPE4: deterministic mixture resampling — the corpus-assembly step
    * that up/down-samples each source to its target weight ("2.25 epochs
    * of curated, 0.4 of crawl"). Every doc emits floor(w) copies plus
    * one more iff its md5 prefix falls under frac(w) — seedless,
    * engine-agnostic (hex strings compare numerically when lowercase and
    * equal length), and exactly w in expectation per source. Pure
    * map-side: no shuffle beyond the oracle's output sort; at 100 TB
    * resampling is a flat-map over the scan. */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val curated = col("source").isin((0 until 5).map("src" + _): _*)
    val whole = when(curated, 2).otherwise(0)
    // frac(2.25)=0.25 -> md5 prefix < '40000000'; frac(0.4) -> '66666666'
    val extra = when(substring(md5(col("text")), 1, 8) <
      when(curated, "40000000").otherwise("66666666"), 1).otherwise(0)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        (whole + extra).cast(LongType).as("n_copies"))
      .where(col("n_copies") > 0)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
      .select(col("source"), col("doc_id"), col("copy"))
      .orderBy("source", "doc_id", "copy")
  }

  val mixtureResampleSql: String =
    """WITH w AS (
      |  SELECT source, doc_id,
      |    (CASE WHEN source IN ('src0','src1','src2','src3','src4')
      |          THEN 2 ELSE 0 END)
      |    + (CASE WHEN substr(md5(text), 1, 8) <
      |            (CASE WHEN source IN ('src0','src1','src2','src3','src4')
      |                  THEN '40000000' ELSE '66666666' END)
      |       THEN 1 ELSE 0 END) AS n_copies
      |  FROM documents
      |)
      |SELECT source, doc_id, CAST(t.c AS BIGINT) AS copy
      |FROM w, UNNEST(range(1, n_copies + 1)) AS t(c)
      |WHERE n_copies > 0
      |ORDER BY source, doc_id, copy""".stripMargin

  /** PIPE5: PII scrubbing — redact digit runs (account numbers, ids)
    * across two heterogeneous sources in one pass: customer names and a
    * deterministic slice of event payloads. Pure codegen'd regexp over
    * the scan (RE2-compatible pattern, no lookaround — Spark's Java
    * regex and DuckDB's RE2 agree on `[0-9]+`); redaction count rides
    * along for audit. Zero shuffle at any scale — the sort exists only
    * for the oracle. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    def scrub(src: String, df: DataFrame, id: Column, text: Column): DataFrame =
      df.select(lit(src).as("src"), id.as("rec_id"),
        regexp_replace(text, "[0-9]+", "[NUM]").as("redacted"),
        size(regexp_extract_all(text, lit("[0-9]+"), lit(0)))
          .cast(LongType).as("n_hits"))
    scrub("customer", Tables.customer(spark, dir), col("c_custkey"), col("c_name"))
      .union(scrub("event",
        Tables.eventsRawTs(spark, dir).where(col("event_id") % 100 === 0),
        col("event_id"), col("props")))
      .orderBy("src", "rec_id")
  }

  val piiScrubSql: String =
    """SELECT * FROM (
      |  SELECT 'customer' AS src, c_custkey AS rec_id,
      |    regexp_replace(c_name, '[0-9]+', '[NUM]', 'g') AS redacted,
      |    CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS BIGINT) AS n_hits
      |  FROM customer
      |  UNION ALL
      |  SELECT 'event' AS src, event_id AS rec_id,
      |    regexp_replace(props, '[0-9]+', '[NUM]', 'g') AS redacted,
      |    CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_hits
      |  FROM events WHERE event_id % 100 = 0)
      |ORDER BY src, rec_id""".stripMargin

  /** PIPE3: greedy token-budget packing — assign documents (per source,
    * in doc_id order) to training-batch bins of 512 tokens by running
    * cumulative sum; bin = tokens-before-this-doc div 512. Pure integer
    * arithmetic; one shuffle on the stratum key. */
  def tokenPack(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        Text.nTokens(col("text")).cast(LongType).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr("(cum - n_tokens) div 512").as("bin"))
      .orderBy("source", "doc_id")

  /** PIPE7: the WHOLE curation pipeline as one flow — quality gates
    * (pipe1's signals) → exact dedup keep-first (d1's fingerprint) →
    * deterministic per-source sampling (pipe6's reservoir operator) →
    * token-budget packing (pipe3's running bins). Each stage is
    * oracle-proven alone; this gates their COMPOSITION: filters feeding
    * dedup feeding the sample feeding the packer, one chained-CTE
    * oracle replaying all four. Scale posture: stage 1 is scan-stage
    * signals, stage 2 one fingerprint shuffle, stage 3 the sample-sized
    * reservoir merge, stage 4 one window over the (tiny) sampled set. */
  def endToEnd(spark: SparkSession, dir: String): DataFrame = {
    val quality = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"),
        Text.nTokens(col("text")).cast(LongType).as("n_tokens"),
        Text.qualityScore(col("text")).as("quality"),
        TextOps.repetitionStats(
          regexp_extract_all(col("text"), lit("\\S+"), lit(0)), 3).as("r"))
      .where(col("n_tokens") >= 20 && col("quality") >= 0.5 &&
        (col("r.n_grams") - col("r.n_distinct")) * 10 <= col("r.n_grams"))
    val kept = quality
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .withColumn("krk", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id")))
      .where(col("krk") === 1)
    val sampled = graft.operators.Sampling.topKPerGroup(
      kept.select(col("source"), col("doc_id"), col("n_tokens"),
        md5(col("text")).as("h")),
      Seq("source"), col("h"), "doc_id", k = 10)
    sampled
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr("(cum - n_tokens) div 256").as("bin"))
      .orderBy("source", "doc_id")
  }

  val endToEndSql: String =
    """WITH sig AS (
      |  SELECT source, doc_id, text,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |    0.4 * LEAST((CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
      |                / CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE)) * 5.0, 1.0)
      |    + 0.3 * (1.0 - LEAST((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |                / CAST(length(text) AS DOUBLE)) * 20.0, 1.0))
      |    + 0.3 * LEAST(CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) / 100.0, 1.0) AS quality,
      |    list_transform(range(1, greatest(len(regexp_extract_all(text, '\S+'))-1, 1)),
      |      i -> regexp_extract_all(text, '\S+')[i] || ' ' ||
      |           regexp_extract_all(text, '\S+')[i+1] || ' ' ||
      |           regexp_extract_all(text, '\S+')[i+2]) AS grams
      |  FROM documents),
      |q AS (
      |  SELECT source, doc_id, text, n_tokens FROM sig
      |  WHERE n_tokens >= 20 AND quality >= 0.5
      |    AND (len(grams) - len(list_distinct(grams))) * 10 <= len(grams)),
      |kept AS (
      |  SELECT source, doc_id, text, n_tokens FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |      ORDER BY doc_id) AS krk FROM q)
      |  WHERE krk = 1),
      |sampled AS (
      |  SELECT source, doc_id, n_tokens FROM (
      |    SELECT source, doc_id, n_tokens,
      |      row_number() OVER (PARTITION BY source
      |        ORDER BY md5(text), doc_id) AS rk FROM kept)
      |  WHERE rk <= 10),
      |c AS (
      |  SELECT source, doc_id, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM sampled)
      |SELECT source, doc_id, n_tokens,
      |  CAST((cum - n_tokens) // 256 AS BIGINT) AS bin
      |FROM c ORDER BY source, doc_id""".stripMargin

  val tokenPackSql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT source, doc_id, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t
      |)
      |SELECT source, doc_id, n_tokens,
      |  CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
      |FROM c ORDER BY source, doc_id""".stripMargin

  /** PIPE8: leakage-free train/val/test split — documents are hashed
    * by their near-dup CLUSTER root (d7's components over the d4 exact
    * pair graph), so near-duplicates land in the same split and the
    * train→test contamination a doc-level hash split allows is
    * structurally impossible. Fully SQL-oracle-able: DuckDB rebuilds
    * the clusters with d7's recursive CTE and applies the identical
    * first-hex-digit md5 rule. */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Sampling}
    val docs = Tables.documents(spark, dir)
    val comp = Dedup.nearDupComponents(docs, "doc_id", "text")
    Sampling.clusterSplit(docs, "doc_id", comp)
      .select(col("id").as("doc_id"), col("root"), col("split"))
      .orderBy("doc_id")
  }

  val leakageSplitSql: String =
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
      |c AS (SELECT member, MIN(root) AS root FROM reach GROUP BY member)
      |SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS root,
      |  CASE WHEN substr(md5(CAST(COALESCE(c.root, d.doc_id) AS VARCHAR)), 1, 1) < 'd'
      |         THEN 'train'
      |       WHEN substr(md5(CAST(COALESCE(c.root, d.doc_id) AS VARCHAR)), 1, 1) = 'd'
      |         THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents d LEFT JOIN c ON c.member = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** PIPE9: context-window CHUNKING — split each document into
    * overlapping token windows (width 128, stride 96 → 32-token overlap),
    * the standard pre-tokenization step that turns long documents into
    * training-context-sized pieces without losing cross-boundary spans.
    *
    * Scale shape: one scan, zero shuffle (the ORDER BY is only the
    * oracle's determinism sort). The chunks are built INSIDE one
    * `transform` over the start-offset sequence and only then exploded,
    * so each row's token array is materialized once and the explode
    * carries chunk-sized structs — never the token array × chunk count
    * (the naive explode-then-slice duplicates a T-token array into
    * every chunk row: O(T²/stride) bytes for a long doc, the classic
    * generate-with-payload trap). Tokenization is the same `\S+`
    * extraction the t1 gate proved identical across engines; a
    * zero-token document yields zero chunks in both. */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    val width = 128
    val stride = 96
    val toks = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    Tables.documents(spark, dir)
      .withColumn("toks", toks) // bind once: HOF lambdas below must see
      .withColumn("n", size(col("toks"))) // an attribute, not re-eval the regex
      .select(col("doc_id"), posexplode(
        transform(
          filter(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(stride)),
            s => s < col("n")),
          s => struct(
            least(lit(width), col("n") - s).cast(LongType).as("n_chunk_tokens"),
            array_join(slice(col("toks"), s + 1, lit(width)), " ").as("chunk"))))
        .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("c.n_chunk_tokens").as("n_chunk_tokens"), col("c.chunk").as("chunk"))
      .orderBy("doc_id", "chunk_idx")
  }

  val chunkSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
      |s AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, greatest(len(toks) - 1, 0), 96)) AS start
      |  FROM t)
      |SELECT doc_id,
      |  CAST(start // 96 AS BIGINT) AS chunk_idx,
      |  CAST(least(128, len(toks) - start) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(toks[start + 1 : start + 128], ' ') AS chunk
      |FROM s WHERE start < len(toks)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** PIPE10: DSIR-style importance scoring for domain-targeted data
    * selection (Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling"): score every document by the
    * log-likelihood ratio of its hashed-unigram features under a
    * TARGET distribution (here: the English slice stands in for "the
    * domain you want more of") vs the RAW corpus distribution; keep
    * documents whose ratio says target-like (score ≥ 0 ⟺ importance
    * weight ≥ 1).
    *
    * Scale shape — the reason DSIR beats classifier-based selection at
    * corpus scale, kept intact here: both feature distributions are
    * B-bucket histograms (B=1024) built with one map-side-combined
    * aggregation each; the per-bucket weight table is B rows and
    * BROADCASTS into the scoring join, so scoring N documents costs
    * one token scan + one doc_id-keyed partial-agg shuffle — no model,
    * no N×N anything. Feature hash = md5 hex prefix (the one hash both
    * engines compute identically). Smoothing is Jelinek-Mercer
    * (p̂ = (1-λ)·c/N + λ/B, λ=0.01) — NOT add-one: with unequal corpus
    * sizes, add-one turns identical empirical distributions into a
    * nonzero per-token bias (log((c+1)/(N+B)) shifts by the N), which
    * at ~140 tokens/doc swamped the actual domain signal and made the
    * selection degenerate; JM maps equal distributions to weight
    * exactly 0, so score ≥ 0 means "more target-like than raw".
    * Scores rounded to 6 dp so float sum order can't flake the gate,
    * and the selected flag tests the ROUNDED score on both sides (no
    * raw-float boundary). */
  def dsir(spark: SparkSession, dir: String): DataFrame = {
    val B = 1024
    val docs = Tables.documents(spark, dir)
    val bk = docs.select(col("doc_id"), col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("t"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("t")), 1, 4), 16, 10).cast(LongType) % B).as("bk"))
    // ONE pass over the hashed token stream for all four statistics
    // (r13 optimization, guide §2.3 "aggregate before you shuffle"): the
    // retired shape ran tgt/raw/nt/nr as four separate aggregations,
    // each re-evaluating the per-token md5 explode; one grouped
    // aggregate carries both counts (ct = conditional sum, identical to
    // the old left-join-then-coalesce value), and the scalar totals roll
    // up from the B-row stats frame instead of rescanning the corpus.
    val stats = bk.groupBy(col("bk")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tot = stats.agg(coalesce(sum(col("cr")), lit(0L)).as("nr"),
      coalesce(sum(col("ct")), lit(0L)).as("nt")) // empty corpus: 0, not null
    val lam = 0.01
    val w = stats
      .crossJoin(tot) // one-row stats frame: scalar broadcast
      .select(col("bk"),
        (log(lit(1.0 - lam) * col("ct") / col("nt")
           + lit(lam / B)) -
         log(lit(1.0 - lam) * col("cr") / col("nr")
           + lit(lam / B))).as("w"))
    val scores = bk.join(broadcast(w), Seq("bk"))
      .groupBy(col("doc_id")).agg(sum(col("w")).as("score"))
    docs.select(col("doc_id"), col("lang"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        round(coalesce(col("score"), lit(0.0)), 6).as("score_r"))
      .withColumn("selected", col("score_r") >= 0.0)
      .orderBy("doc_id")
  }

  val dsirSql: String =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(t), 1, 4)) AS INTEGER) % 1024 AS bk
      |  FROM (SELECT doc_id, lang,
      |          unnest(regexp_extract_all(lower(text), '\S+')) AS t
      |        FROM documents)),
      |tgt AS (SELECT bk, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY bk),
      |rawc AS (SELECT bk, COUNT(*) AS cr FROM b GROUP BY bk),
      |nt AS (SELECT COUNT(*) AS n FROM b WHERE lang = 'en'),
      |nr AS (SELECT COUNT(*) AS n FROM b),
      |w AS (SELECT rawc.bk,
      |        ln(0.99 * COALESCE(tgt.ct, 0) / nt.n + 0.01 / 1024)
      |      - ln(0.99 * rawc.cr / nr.n + 0.01 / 1024) AS w
      |      FROM rawc LEFT JOIN tgt ON rawc.bk = tgt.bk, nt, nr),
      |s AS (SELECT b.doc_id, SUM(w.w) AS score
      |      FROM b JOIN w ON b.bk = w.bk GROUP BY b.doc_id)
      |SELECT d.doc_id, d.lang,
      |  round(COALESCE(s.score, 0.0), 6) AS score_r,
      |  round(COALESCE(s.score, 0.0), 6) >= 0.0 AS selected
      |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** PIPE11: CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020) —
    * the LM-quality partition of a pretraining corpus: score every doc
    * with the corpus bigram LM (lm1's exact formula, shared code), cut
    * the range into head/middle/tail at the 1/3 and 2/3 points, keep
    * buckets downstream as quality tiers.
    *
    * Calibration is the scale-honest part: CCNet computes its cut
    * points ONCE on a sample, then filters the corpus with constant
    * thresholds. The sample is a fixed COUNT, not a fixed fraction:
    * the [[CalSampleK]] docs with the smallest (md5("cal:"+doc_id),
    * doc_id) — deterministic, no RNG, and O(K) driver state at ANY
    * corpus size (a fraction would collect 5 TB of nll at 100 TB; a
    * TakeOrdered of K hashes collects K doubles always). The
    * thresholds are the sample's exact 1/3- and 2/3-order STATISTICS —
    * plain values picked from the sorted sample, no interpolation
    * arithmetic, so DuckDB derives the bit-identical thresholds from
    * the same hash-selected sample and the bucket comparison can never
    * flake on float math. The corpus pass is then map-side: nll <= thr
    * against two literal doubles.
    *
    * At 100 TB: the nll scoring joins a broadcast model (lm1's plan),
    * the calibration is a TakeOrdered of K ids + a broadcast semi-join
    * for their nll (bounded driver state for real), and the bucketing
    * adds zero shuffles to the scoring pass. */
  def pplFilter(spark: SparkSession, dir: String): DataFrame = {
    // PIN the per-doc score table (r14, guide §5): the calibration
    // collect below materializes the full bigram-LM scoring pass, and
    // the returned plan previously RECOMPUTED it — token explode, two
    // count joins, the lot — under the caller's action. The nll frame
    // is doc-count-sized (id + double — the score table a production
    // run would persist to disk anyway), so one pin makes both reads
    // hit the same blocks.
    val nll = Pins.pin(SearchQueries.bigramPpl(spark, dir)
      .select(col("doc_id"), col("nll")))
    val calIds = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(lit("cal:"), col("doc_id").cast("string"))).as("ch"))
      .orderBy(col("ch"), col("doc_id")).limit(CalSampleK)
      .select(col("doc_id"))
    val sample = nll.join(broadcast(calIds), Seq("doc_id"))
      .select(col("nll")).collect().map(_.getDouble(0)).sorted
    require(sample.nonEmpty, "empty calibration sample")
    val thrHead = sample(math.ceil(sample.length / 3.0).toInt - 1)
    val thrMid = sample(math.ceil(2.0 * sample.length / 3.0).toInt - 1)
    nll.select(col("doc_id"), col("nll"),
        when(col("nll") <= thrHead, "head")
          .when(col("nll") <= thrMid, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Calibration-sample size: 256 docs regardless of corpus size —
    * order-statistic thresholds from a hash-selected fixed-count
    * sample (CCNet's "calibrate once on a sample" with O(K) driver
    * state). */
  private val CalSampleK = 256

  val pplFilterSql: String =
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |big AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |        FROM tok, UNNEST(range(1, len(w))) AS u(i) WHERE len(w) >= 2),
      |uni AS (SELECT wd, COUNT(*) AS cu
      |        FROM (SELECT unnest(w) AS wd FROM tok) GROUP BY wd),
      |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2),
      |v AS (SELECT COUNT(*) AS v FROM uni),
      |nll AS (SELECT doc_id, round(AVG(-ln((cb + 1.0) / (cu + v))), 6) AS nll
      |        FROM big JOIN bc USING (w1, w2) JOIN uni ON big.w1 = uni.wd CROSS JOIN v
      |        GROUP BY doc_id),
      |cal AS (SELECT doc_id FROM documents
      |        ORDER BY md5('cal:' || CAST(doc_id AS VARCHAR)), doc_id
      |        LIMIT $CalSampleK),
      |samp AS (SELECT nll, row_number() OVER (ORDER BY nll) AS rn
      |         FROM nll JOIN cal USING (doc_id)),
      |ks AS (SELECT CAST(CEIL(COUNT(*) / 3.0) AS BIGINT) AS k1,
      |              CAST(CEIL(2 * COUNT(*) / 3.0) AS BIGINT) AS k2 FROM samp),
      |thr AS (SELECT
      |  (SELECT nll FROM samp WHERE rn = (SELECT k1 FROM ks)) AS t1,
      |  (SELECT nll FROM samp WHERE rn = (SELECT k2 FROM ks)) AS t2)
      |SELECT n.doc_id, n.nll,
      |  CASE WHEN n.nll <= t1 THEN 'head'
      |       WHEN n.nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket
      |FROM nll n CROSS JOIN thr
      |ORDER BY doc_id""".stripMargin

  /** PIPE12: deterministic TRAINING-ORDER SHUFFLE + SHARD PACKING — the
    * last batch step of a corpus build: give every document a
    * reproducible pseudo-random global order (so training runs are
    * repeatable and restartable) and pack that order into fixed shard
    * files. Order key = salted md5 of the doc id (the one hash both
    * engines compute identically); shard = hex-prefix bucket of the
    * same hash, position = rank within the shard.
    *
    * Scale shape: shard assignment is map-side; the ONLY shuffle is the
    * partition-by-shard window, and each shard sorts independently —
    * exactly the "hash-bucket then sort-within-bucket" layout a 100 TB
    * corpus writer uses (numShards scales with corpus size; a shard's
    * window never sees another shard's rows). No global sort, no
    * single-partition window, no driver state. */
  def orderShard(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val h = md5(concat(lit("ord:"), col("doc_id").cast("string")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        (conv(substring(h, 1, 4), 16, 10).cast(LongType) % nShards).as("shard"),
        h.as("h"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
        .cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_chars"))
      .orderBy("shard", "pos")
  }

  val orderShardSql: String =
    """WITH h AS (SELECT doc_id, n_chars,
      |    md5('ord:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |s AS (SELECT doc_id, n_chars, h,
      |    CAST(CAST(('0x' || substr(h, 1, 4)) AS INTEGER) % 8 AS BIGINT) AS shard
      |  FROM h)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos,
      |  n_chars
      |FROM s ORDER BY shard, pos""".stripMargin

  /** PIPE13: WEIGHTED sampling without replacement (Efraimidis &
    * Spirtakis 2006, A-ES) — the "sample proportional to quality/size"
    * step of a curation pipeline, where pipe2/pipe6 sample uniformly:
    * each document draws an exponential key -ln(u)/w (u from the md5
    * hash both engines compute identically, mapped to (0,1) as
    * (x+0.5)/2^32 so ln never sees 0; w = n_chars — longer docs
    * proportionally likelier), and the K smallest keys ARE a weighted
    * sample without replacement. One map-side key expression +
    * TakeOrdered — no per-stratum state, no global sort, the one-pass
    * 100 TB shape (and keys are mergeable across shards by
    * construction).
    *
    * Engine determinism: the key is ROUNDED to 9 dp before ordering
    * (ties to doc_id), the d12 pre-rounded-argmax trick — ln differs
    * by ulps across libms, and 1e-9 granularity absorbs that while the
    * hash-spread keys make a rounding-boundary collision vanishingly
    * unlikely. The oracle replays hash, key, and ranking exactly. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val x = conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))),
      1, 8), 16, 10).cast("double")
    val u = (x + 0.5) / 4294967296.0
    val key = round(-log(u) / col("n_chars"), 9)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), key.as("key_r"))
      .orderBy(col("key_r"), col("doc_id"))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("key_r"), col("doc_id"))).cast(LongType))
      .orderBy("rk")
  }

  val weightedSampleSql: String =
    """WITH keyed AS (SELECT doc_id, n_chars,
      |    round(-ln((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |               AS UBIGINT) + 0.5) / 4294967296.0) / n_chars, 9) AS key_r
      |  FROM documents)
      |SELECT doc_id, n_chars, key_r,
      |  CAST(row_number() OVER (ORDER BY key_r, doc_id) AS BIGINT) AS rk
      |FROM keyed ORDER BY key_r, doc_id LIMIT 100""".stripMargin

  /** ML2: fastText/DCLM-style TEXT quality classifier — the
    * classifier-based filtering stage (DataComp-LM, LLaMA's "looks like
    * reference text" scorer) over RAW text, where ml1 trains on
    * embedding features: hashed bag-of-words featurization
    * (Classifier.hashedBow — no vocabulary table, constant feature
    * width) into the same one-scan-per-iteration distributed Newton.
    * Probed on a KNOWN planted linear target — y = (count("fast") >
    * count("slow")) in the doc's token stream — because the corpus's
    * `lang`/`source` labels are synthetic-random (no learnable signal;
    * real quality labels plug into the identical call). The target is
    * linear in RAW token counts; the hashed features recover it
    * through bucket [xxhash64] collisions, which is the hashing
    * trick's real tradeoff — at B=256 the two signal tokens land in
    * unshared buckets here and measured training accuracy is 1.000 at
    * all three SFs, loss ratio 0.02 (harness: tools/Ml2Measure).
    * The gate emits SQL-derivable counts (n_docs, n_pos — DuckDB
    * recomputes the planted label with list_filter) plus two
    * distributed-path flags:
    *  - `loss_ok`: trained log-loss beats the w=0 baseline (ln 2) by
    *    >50% (strongly separable target);
    *  - `acc_ok`: training accuracy >= [[TextClfAccBound]].
    * Every stage is map-side or a doc-keyed partial agg; nothing
    * data-sized reaches the driver (featurize: one explode + B-wide
    * agg; train: LogRegStep partials; score: codegen dot). */
  def textClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (n, nPos, acc, lossT, loss0) = textClfStats(spark, dir)
    Seq((n, nPos, lossT <= loss0 * 0.5, acc >= TextClfAccBound))
      .toDF("n_docs", "n_pos", "loss_ok", "acc_ok")
  }

  /** ml2's raw training stats (n, n_pos, accuracy, trained loss, w=0
    * loss) — package-visible for the Ml2Measure calibration harness and
    * PipelineSpec. */
  private[graft] def textClfStats(spark: SparkSession,
      dir: String): (Long, Long, Double, Double, Double) = Pins.scope {
    val docs = Tables.documents(spark, dir)
    val feats = graft.operators.Classifier.hashedBow(
      docs, "doc_id", "text", TextClfBuckets)
    val toks = split(lower(col("text")), " ")
    val labeled = docs.select(col("doc_id").as("id"),
      (size(filter(toks, _ === "fast")) > size(filter(toks, _ === "slow")))
        .cast("int").as("y"))
    val data = Pins.cache(feats.join(labeled, Seq("id"))
      .select(concat(col("feats"), array(lit(1.0f))).as("x"), col("y")))
    val w = graft.operators.Classifier.trainLogRegNewton(data, "x", "y",
      iters = 5, dim = TextClfBuckets + 1)
    // ONE evaluation pass (r13 optimization, guide §5): accuracy, trained
    // loss, w=0 loss, n and n_pos are all aggregates of the same cached
    // frame with FIXED weights — the original ran them as five serial
    // driver actions (five jobs); identical expressions, one job.
    def lossExpr(wv: Array[Double]): org.apache.spark.sql.Column = {
      val p = least(greatest(
        graft.operators.Classifier.score(col("x"), wv), lit(1e-12)),
        lit(1.0 - 1e-12))
      avg(-(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p)))
    }
    val st = data.agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("npos"),
        avg(((graft.operators.Classifier.score(col("x"), w) >= 0.5).cast("int")
          === col("y")).cast("int")).as("acc"),
        lossExpr(w).as("loss_t"),
        lossExpr(new Array[Double](w.length)).as("loss_0"))
      .head
    (st.getLong(0), st.getLong(1), st.getDouble(2), st.getDouble(3),
      st.getDouble(4))
  }

  /** Feature width for ml2's hashing trick: ~6× the corpus's active
    * vocabulary, so the planted target's two signal tokens rarely
    * share a bucket with a confounder. */
  private val TextClfBuckets = 256

  /** Measured ml2 training accuracy on the planted token-count target:
    * see the scaladoc above (harness: tools/Ml2Measure); gated below
    * the floor so the flag tests "the hashed-feature classifier
    * learned the target", not boundary-row float noise. */
  private val TextClfAccBound = 0.9

  /** The corpus ml2 trains on is "documents with >= 1 non-empty
    * token" on BOTH sides: hashedBow's explode produces no feature row
    * for a token-less doc (Spark side drops it via the join), so the
    * oracle filters identically — the counts stay aligned even on a
    * corpus with empty/whitespace-only text. */
  val textClassifierSql: String =
    """WITH d AS (SELECT text FROM documents WHERE
      |  len(list_filter(string_split(lower(text), ' '), t -> t <> '')) > 0)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN
      |        len(list_filter(string_split(lower(text), ' '), t -> t = 'fast'))
      |      > len(list_filter(string_split(lower(text), ' '), t -> t = 'slow'))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |  TRUE AS loss_ok, TRUE AS acc_ok
      |FROM d""".stripMargin
}
