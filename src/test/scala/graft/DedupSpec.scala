package graft

import org.apache.spark.sql.functions.col

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy dog tomorrow"), // near-dup of 0
    (2L, "completely different content about spark query engines"),
    (3L, "THE   quick brown fox jumps over the lazy dog today")   // ws/case variant of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups whitespace/case variants") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    val byKeep = out.map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byKeep(0L) == 2L) // 0 and 3 share a fingerprint
    assert(out.length == 3)
  }

  test("ngram jaccard finds the near-dup pair") {
    val pairs = Dedup.jaccardPairs(Dedup.shingles(docs, "doc_id", "text", 3), 1, 2)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("minhash LSH finds the same near-dup pair") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 1, 2)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("d2/d4 df-cap dormancy: max shingle doc-frequency stays under 500 at every graded SF") {
    // The registered d2/d4 run with maxDocFreq = 500 (now also the
    // library default) under PRUNED-Jaccard semantics, while their
    // DuckDB oracles compute RAW Jaccard — equal only while the cap is
    // dormant. This pin turns that equivalence from a comment
    // ("max df 25 at sf0.1") into a failing spec the moment a data
    // refresh or SF bump pushes any shingle's df over the cap.
    for (dir <- Seq(sf001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val maxDf = Dedup.shingles(graft.Tables.documents(spark, dir),
          "doc_id", "text", 3)
        .groupBy(col("sh")).count()
        .agg(org.apache.spark.sql.functions.max(col("count"))).head.getLong(0)
      info(s"$dir max shingle df = $maxDf")
      assert(maxDf <= 500,
        s"$dir: max shingle df $maxDf crosses the 500 cap — d2/d4 pruned " +
          "semantics now diverge from their raw-Jaccard oracles; re-derive " +
          "the cap or update the oracle SQL to prune the same shingles")
    }
  }

  test("minhash LSH guards: pruned verify equals d4's semantics; maxBucket drops mega-buckets only") {
    // hand corpus: a genuine near-dup pair (0,1) plus a 12-doc mega-
    // cluster of IDENTICAL boilerplate (ids 100..111) whose shingles
    // all exceed a tiny maxDocFreq — the adversarial shape STRESS.md
    // measures at scale.
    val boiler = (0 until 12).map(i =>
      (100L + i, "copy paste template header body footer repeated everywhere"))
    val corpus = (Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog tomorrow"),
      (2L, "completely different content about spark query engines")
    ) ++ boiler).toDF("doc_id", "text")
    // (a) pruned verify == jaccardPairs' pruned semantics, pair-for-pair
    val viaD2 = Dedup.minhashLshPairs(corpus, "doc_id", "text", 1, 2,
        bands = 24, rowsPerBand = 3, maxDocFreq = 5)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    val viaD4 = Dedup.jaccardPairs(
        Dedup.shingles(corpus, "doc_id", "text", 3), 1, 2, maxDocFreq = 5)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(viaD2.contains((0L, 1L)))
    // pruning drops the boiler docs' shingles entirely (df 12 > 5), so
    // NEITHER contract reports boiler pairs — and they agree overall
    assert(!viaD2.exists { case (a, b) => a >= 100L || b >= 100L })
    assert(viaD2 == viaD4, s"d2=$viaD2 d4=$viaD4")
    // (b) maxBucket: the 12-doc identical cluster shares every band
    // bucket; capping buckets below 12 kills exactly its pairs and
    // keeps the genuine (0,1) pair (whose buckets hold 2 docs)
    val capped = Dedup.minhashLshPairs(corpus, "doc_id", "text", 1, 2,
        bands = 24, rowsPerBand = 3, maxBucket = 8)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(capped.contains((0L, 1L)))
    assert(!capped.exists { case (a, b) => a >= 100L && b >= 100L },
      s"mega-bucket pairs survived the cap: $capped")
    // (c) DEFAULTS (maxBucket = 1000 since r12, maxDocFreq = 500): both
    // caps are dormant on a 12-doc cluster, so its 66 pairs ARE found —
    // the default cap only bites at mega-cluster scale (the dormancy
    // spec below pins that it never bites at graded SFs)
    val full = Dedup.minhashLshPairs(corpus, "doc_id", "text", 1, 2,
        bands = 24, rowsPerBand = 3)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(full.count { case (a, b) => a >= 100L && b >= 100L } == 66)
  }

  test("d2 bucket-cap dormancy: largest band bucket stays far under the 1000 default at every graded SF") {
    // r12 flipped minhashLshPairs' maxBucket default to 1000 (the ×100
    // adversarial measurement: uncapped exponent ~1.76 vs 164.9 s for
    // 98.5 % of pairs capped). The registered d2 shares d4's RAW-Jaccard
    // oracle, so the flip is only sound while the cap is provably
    // inactive at graded SFs — this pin fails the moment a data refresh
    // grows any band bucket within 10× of the cap, instead of letting
    // d2 silently diverge from its oracle.
    for (dir <- Seq(sf001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val biggest = Dedup.bandRows(graft.Tables.documents(spark, dir),
          "doc_id", "text", 3, 72, 24)
        .groupBy(col("band"), col("bhash")).count()
        .agg(org.apache.spark.sql.functions.max(col("count"))).head.getLong(0)
      info(s"$dir max band-bucket size = $biggest")
      assert(biggest <= 100,
        s"$dir: a band bucket holds $biggest docs — within 10x of the " +
          "default maxBucket=1000; d2's default-capped candidates may " +
          "start diverging from the raw-Jaccard oracle")
    }
  }

  test("shuffle-partition sizing: recommendation tracks shingle volume, parity under wide plans") {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Dedup.recommendedShufflePartitions(spark, 0L) == session)
    // 1e8 shingle rows (the ×100 corpus) -> ceil(1e8/750k) = 134 wide
    assert(Dedup.recommendedShufflePartitions(spark, 100000000L) ==
      math.max(session, 134))
    // capped at the 1000-executor ceiling
    assert(Dedup.recommendedShufflePartitions(spark, Long.MaxValue / 4) == 4096)
    // AUTO is dormant at graded SF: the pre-pass resolves to the session
    // setting, so registered d2/d4/pipe8 plans are untouched
    assert(Dedup.autoShufflePartitions(
      graft.Tables.documents(spark, sf001), "text") == session)
    // width is a plan property, never a result property: forcing wide
    // exchanges on the tiny corpus returns the identical pair set
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"),
        r.getAs[Double]("jaccard"))).toSet
    val narrow = pairs(Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3), 1, 2))
    val wide = pairs(Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3, numPartitions = session * 4),
      1, 2, numPartitions = session * 4))
    assert(narrow == wide && narrow.nonEmpty)
    val wideLsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 1, 2,
        numPartitions = session * 4)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(wideLsh.contains((0L, 1L)))
  }

  test("shuffle sizing gate counts a cached leaf only once its buffers are materialized") {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val corpus = graft.Tables.documents(spark, sf001)
    val loaded = corpus.where(col("doc_id") >= 0).persist()
    val unloaded = corpus.where(col("doc_id") >= 1).persist()
    try {
      loaded.count()
      // materialized cache: its exact byte size passes the gate, no pre-pass
      val (n, jobs) = jobsStarted(Dedup.autoShufflePartitions(loaded, "text"))
      assert(n == session && jobs == 0, s"$jobs jobs")
      // unmaterialized cache: stats are an estimate, so the exact pre-pass runs
      val (m, prePass) = jobsStarted(Dedup.autoShufflePartitions(unloaded, "text"))
      assert(m == session && prePass >= 1, s"$prePass jobs")
    } finally { loaded.unpersist(); unloaded.unpersist() }
  }

  test("single-pass signature expressions are bit-identical to the agg formulations (sf0.001)") {
    val corpus = graft.Tables.documents(spark, sf001)
    // SimHash64 expression vs exploded 64-way bit-count agg
    val viaExpr = Dedup.simhash(corpus, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    val viaAgg = Dedup.simhashViaAgg(corpus, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(viaExpr == viaAgg)
    // MinHashSig expression vs exploded 72-way min agg
    import org.apache.spark.sql.functions._
    val sh = Dedup.shingles(corpus, "doc_id", "text", 3)
    val aggSig = Dedup.minhashSigViaAgg(sh, 72).collect()
      .map(r => r.getAs[Long]("id") ->
        (0 until 72).map(j => r.getAs[Long](s"mh_$j")).toSeq).toMap
    val exprSig = corpus.select(col("doc_id"),
        graft.plans.TextOps.minhashSig(split(lower(col("text")), " "), 3, 72).as("mh"))
      .where(col("mh").isNotNull).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSeq).toMap
    assert(exprSig == aggSig)
  }

  test("signature expressions keep bit-parity on null-bearing token arrays") {
    import org.apache.spark.sql.functions._
    // split() never yields null tokens, but the SQL-registered functions
    // accept any array<string> — null handling must still match the agg
    // formulations: xxhash64(NULL) hashes to the seed; concat_ws skips
    // null elements AND their separator (empty strings keep both)
    val df = Seq(
      (1L, Seq(Option("a"), None, Option("b"), Option("c"), Option("d"))),
      (2L, Seq(None, Option(""), Option("x"), Option("y"), None, Option("z"))),
      (3L, Seq(Option("q"), Option("q"), None, Option(""), Option("r"), Option("s"))))
      .toDF("id", "toks")
    // SimHash64 vs exploded xxhash64 bit-count agg
    val exprS = df.select(col("id"), graft.plans.TextOps.simhash64(col("toks")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tok = df.select(col("id"), explode(col("toks")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$j")
    }
    val sig = (0 until 64).map { j =>
      when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val aggS = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sig.as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exprS == aggS)
    // MinHashSig vs hash(concat_ws(...)) shingle min-agg
    val sh = df.select(col("id"), col("toks").as("w"))
      .where(size(col("w")) >= 3)
      .withColumn("i", explode(sequence(lit(1), size(col("w")) - 2)))
      .select(col("id"), concat_ws(" ",
        (0 until 3).map(k => element_at(col("w"), col("i") + k)): _*).as("sh"))
    val aggM = Dedup.minhashSigViaAgg(sh, 8).collect()
      .map(r => r.getLong(0) -> (0 until 8).map(j => r.getAs[Long](s"mh_$j")).toSeq).toMap
    val exprM = df.select(col("id"),
        graft.plans.TextOps.minhashSig(col("toks"), 3, 8).as("mh"))
      .where(col("mh").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(exprM == aggM)
  }

  test("simhash: identical text -> hamming 0, disjoint text -> large") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sig, maxDist = 10).collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb")) -> r.getAs[Long]("hamming"))
      .toMap
    assert(pairs.get((0L, 1L)).exists(_ <= 10))
  }

  test("boilerplateStats: template grams light up, unique prose stays clean") {
    // grams shared by >= 3 of 4 docs = boilerplate ("subscribe to our newsletter")
    val corp = Seq(
      (0L, "subscribe to our newsletter for more and visit us daily"),
      (1L, "subscribe to our newsletter great recipes inside today folks"),
      (2L, "subscribe to our newsletter breaking news headline report item"),
      (3L, "entirely original writing with no repeated template at all")
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateStats(corp, "doc_id", "text", n = 3, minDf = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_boiler"))).toMap
    // "subscribe to our" and "to our newsletter" appear in docs 0-2
    assert(out(0L)._2 == 2 && out(1L)._2 == 2 && out(2L)._2 == 2)
    assert(out(3L)._2 == 0)
    assert(out(0L)._1 == 8) // 10 words -> 8 3-grams
    // a doc shorter than n grams reports zeros, not a missing row
    val tiny = Dedup.boilerplateStats(
      Seq((9L, "ab cd")).toDF("doc_id", "text"), "doc_id", "text", 3, 2)
      .collect()
    assert(tiny.length == 1 && tiny(0).getAs[Long]("n_grams") == 0L)
    // the derived ratio (kept off the cross-engine hashed surface)
    val ratios = Dedup.boilerplateRatio(
        Dedup.boilerplateStats(corp, "doc_id", "text", n = 3, minDf = 3))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("boiler_r")).toMap
    assert(math.abs(ratios(0L) - 2.0 / 8.0) < 1e-9)
    assert(ratios(3L) == 0.0)
  }

  test("removeDupSpans: first owner keeps the span, later docs lose exactly its tokens") {
    // k=4; docs 0 and 2 share the window "a b c d"; doc 1 is clean
    val corp = Seq(
      (0L, "a b c d tail0 tail1"),
      (1L, "clean words only here"),
      (2L, "head0 a b c d tail2")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(corp, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("text_clean")))).toMap
    assert(out(0L) == ((6L, 0L, "a b c d tail0 tail1"))) // owner keeps
    assert(out(1L) == ((4L, 0L, "clean words only here")))
    assert(out(2L) == ((6L, 4L, "head0 tail2"))) // span stripped, rest joined
    // overlapping duplicated windows merge into one mask (no double count)
    val corp2 = Seq(
      (0L, "x y z w v u"),
      (5L, "pre x y z w v u post") // 3 overlapping dup windows cover 6 tokens
    ).toDF("doc_id", "text")
    val out2 = Dedup.removeDupSpans(corp2, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("text_clean")))).toMap
    assert(out2(0L) == ((0L, "x y z w v u")))
    assert(out2(5L) == ((6L, "pre post")))
  }

  test("d14: source matrix partitions d4's pair set, unordered keys normalized (sf0.001)") {
    val matrix = graft.queries.DedupQueries.sourceOverlap(spark, sf001).collect()
    val total = matrix.map(_.getAs[Long]("n_pairs")).sum
    val d4 = graft.queries.DedupQueries.ngramJaccard(spark, sf001).count()
    assert(total == d4, s"matrix mass $total != pair count $d4")
    matrix.foreach { r =>
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b"),
        "unordered pair not normalized")
    }
    // keys are unique (one row per unordered source pair)
    val keys = matrix.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("canonicalKeep keeps the best-scored member per cluster; singletons keep themselves") {
    val pairs = Seq((0L, 1L), (1L, 4L)).toDF("ida", "idb") // chain {0,1,4}
    val scored = Seq(
      (0L, 0.2), (1L, 0.9), (2L, 0.5), (3L, 0.5), (4L, 0.9)
    ).toDF("doc_id", "q")
    val out = Dedup.canonicalKeep(scored, "doc_id", col("q"), pairs)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("root"), r.getAs[Boolean]("keep"))).toMap
    assert(out(0L) == (0L, false)) // in cluster, low quality
    assert(out(1L) == (0L, true))  // best quality, tie broken to id 1 < 4
    assert(out(4L) == (0L, false))
    assert(out(2L) == (2L, true))  // singletons
    assert(out(3L) == (3L, true))
    assert(out.size == 5)
  }

  test("components resolves chains transitively, not just direct neighbors") {
    // chain 10-20, 20-30 (one component rooted at 10), isolated pair 40-50,
    // and a triangle 1-2, 2-3, 1-3
    val edges = Seq((10L, 20L), (20L, 30L), (40L, 50L),
      (1L, 2L), (2L, 3L), (1L, 3L)).toDF("ida", "idb")
    val comp = Dedup.components(edges).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
    assert(comp == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("componentsStar matches components, including a deep path graph") {
    val edges = Seq((10L, 20L), (20L, 30L), (40L, 50L),
      (1L, 2L), (2L, 3L), (1L, 3L)).toDF("ida", "idb")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
    assert(asMap(Dedup.componentsStar(edges)) == asMap(Dedup.components(edges)))
    // the deep-diameter case the star variant exists for: a 60-node
    // path (min-label needs ~60 rounds; alternating stars ~log)
    val path = (1L until 60L).map(i => (i, i + 1)).toDF("ida", "idb")
    val star = asMap(Dedup.componentsStar(path))
    assert(star.size == 60 && star.values.forall(_ == 1L), star.toSeq.sorted.take(5))
    // shuffled ids: roots are component minima regardless of edge order
    val scrambled = Seq((7L, 3L), (3L, 11L), (11L, 2L), (100L, 90L))
      .toDF("ida", "idb")
    assert(asMap(Dedup.componentsStar(scrambled)) ==
      Map(7L -> 2L, 3L -> 2L, 11L -> 2L, 2L -> 2L, 100L -> 90L, 90L -> 90L))
  }

  test("r11: componentsStar releases retired alternation pins") {
    // pre-r11, every alternation's localCheckpoint pin leaked for the
    // session's lifetime (invisible to unpersist AND clearCache —
    // graft.util.Pins). Pin the fix: exactly TWO residue pins (the
    // final edge multiset the returned labeling reads through, plus the
    // tiny self-loop recovery set — r13, which also keeps the raw input
    // plan OUT of the result so actions never re-run the upstream
    // mining), both freed by one Pins.release on the result.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    def live = spark.sparkContext.getPersistentRDDs.size
    val base = live
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("ida", "idb")
    (1 to 2).foreach { i =>
      val labels = Dedup.componentsStar(path) // ~log2(40) alternations
      assert(labels.collect().forall(_.getAs[Long]("comp") == 1L))
      assert(live == base + 2,
        s"call $i: expected the final edge-multiset pin + the self-loop " +
          s"recovery pin, got ${live - base}")
      graft.util.Pins.release(labels)
      assert(live == base, s"call $i: release must empty the block store")
    }
  }

  test("r13: componentsStar result plan is pin-only — actions never re-run the input") {
    // ADVICE r12 (medium): the self-loop recovery referenced the RAW
    // edges plan in the returned labeling, so every action on the
    // result re-evaluated the full upstream input — for d9 that re-ran
    // the entire shingle+jaccardPairs mining per action. Pin the fix
    // with an input whose evaluation count is observable.
    val evals = spark.sparkContext.longAccumulator("edge_evals")
    val raw = Seq((1L, 2L), (2L, 3L), (7L, 7L), (9L, 9L)).toDF("ida", "idb")
    val counted = raw.filter { _ => evals.add(1L); true }
    val labels = Dedup.componentsStar(counted)
    val n0 = evals.value
    assert(n0 > 0, "entry pin must have materialized the input once")
    // several actions on the result: input must not be touched again
    assert(labels.count() == 5)
    assert(labels.collect().length == 5)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 9L))
    assert(evals.value == n0,
      s"result actions re-evaluated the input: $n0 -> ${evals.value}")
    graft.util.Pins.release(labels)
  }

  test("r12 ghost: the sweep-4 diameter-9 graph is cheap, flat-plan, correct; self-loops kept by BOTH fixpoints") {
    // The r11 "18/19" property-sweep ghost, caught with its seed this
    // round (validation/r12_prop_sweeps/sweep_4.log, seed
    // B5eczG94xWB1NY3cojDJ1kBCGfCNtRXpCrk8ng3379N=, case 57): this
    // 12-node graph needs TEN min-label rounds, and the persist()-era
    // components() nested its plan geometrically (comp appears twice
    // per round) — 35 -> 12 785 plan nodes by round 9, 2.3 s -> 242 s
    // per round, driver OOM at 16 g (tools/GhostProbe). Pin the fix:
    // correct labels, a truncated-lineage result plan, bounded wall,
    // and a flat block store after release.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    def live = spark.sparkContext.getPersistentRDDs.size
    val base = live
    val ghost = Seq((3L, 11L), (4L, 10L), (2L, 5L), (6L, 9L), (0L, 6L),
      (5L, 9L), (2L, 11L), (7L, 4L), (10L, 4L), (4L, 8L), (3L, 7L),
      (7L, 8L), (9L, 0L), (1L, 10L), (9L, 5L)).toDF("ida", "idb")
    val t0 = System.nanoTime()
    val labels = Dedup.components(ghost)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wall = (System.nanoTime() - t0) / 1e9
    assert(got == (0L to 11L).map(_ -> 0L).toMap, got.toSeq.sorted)
    assert(labels.queryExecution.logical.collect { case n => n }.size < 20,
      "components result must read through the final pin, not a nested round tower")
    assert(wall < 60.0, f"ghost graph took $wall%.1fs — the plan tower is back?")
    graft.util.Pins.release(labels)
    assert(live == base, "components must release retired rounds and, via the caller, its result")
    // the shrunk artifact List((0,0)): a self-loop-only node is a node
    // of the graph — BOTH fixpoints label it with itself (pre-r12,
    // componentsStar returned {} here vs components' {0->0})
    val loop = Seq((0L, 0L)).toDF("ida", "idb")
    val cl = Dedup.components(loop)
    assert(cl.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 0L)))
    graft.util.Pins.release(cl)
    val sl = Dedup.componentsStar(loop)
    assert(sl.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 0L)))
    graft.util.Pins.release(sl)
    // a self-loop on a CONNECTED node must not duplicate its row
    val mixed = Seq((5L, 5L), (5L, 9L), (2L, 2L)).toDF("ida", "idb")
    val sm = Dedup.componentsStar(mixed)
    val rows = sm.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == 3 && rows.toMap == Map(5L -> 5L, 9L -> 5L, 2L -> 2L),
      rows.toSeq.sorted)
    graft.util.Pins.release(sm)
    assert(live == base)
  }

  test("components fixpoints: reliable checkpoint path and iteration caps") {
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
    val edges = Seq((10L, 20L), (20L, 30L), (40L, 50L),
      (1L, 2L), (2L, 3L), (1L, 3L)).toDF("ida", "idb")
    val expect = Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L, 1L -> 1L, 2L -> 1L, 3L -> 1L)
    // reliable-checkpoint path: same result, and checkpoint files
    // actually land in the supplied dir (the failure-tolerance claim
    // rests on them being on real storage, not executor memory)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    assert(asMap(Dedup.components(edges, checkpointDir = Some(ckpt))) == expect)
    assert(asMap(Dedup.componentsStar(edges, checkpointDir = Some(ckpt))) == expect)
    val walked = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
    val nCkptFiles =
      try walked.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally walked.close()
    assert(nCkptFiles > 0, "no checkpoint files written to checkpointDir")
    // iteration caps fail loudly instead of spinning: a 10-node path
    // needs ~10 min-label rounds; cap at 3
    val path = (1L until 10L).map(i => (i, i + 1)).toDF("ida", "idb")
    val e = intercept[IllegalStateException] {
      Dedup.components(path, maxRounds = 3).collect()
    }
    assert(e.getMessage.contains("no fixpoint after 3 rounds"))
    val e2 = intercept[IllegalStateException] {
      Dedup.componentsStar(path, maxRounds = 1).collect()
    }
    assert(e2.getMessage.contains("no fixpoint after 1 alternations"))
  }

  test("dupSpans finds shared 8-token runs and merges overlapping windows") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),            // shares a..h with doc 2
      (2L, "x a b c d e f g h z"),
      (3L, "p q r s t u v w y k"),            // unrelated
      (4L, "m n o pp qq rr ss tt uu vv"),     // identical to doc 5:
      (5L, "m n o pp qq rr ss tt uu vv"))     // 3 windows, union = all 10
      .toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Long]("dup_token_mass")))).toMap
    assert(out(1L) == ((10L, 1L, 8L)))
    assert(out(2L) == ((10L, 1L, 8L)))
    assert(out(3L) == ((10L, 0L, 0L)))
    assert(out(4L) == ((10L, 3L, 10L)))
    assert(out(5L) == ((10L, 3L, 10L)))
    // a doc shorter than K has no windows but still reports its tokens
    val short = Dedup.dupSpans(docs.union(Seq((6L, "only three tokens"))
      .toDF("doc_id", "text")), "doc_id", "text", k = 8)
      .where(col("id") === 6L).head
    assert(short.getAs[Long]("n_tokens") == 3L &&
      short.getAs[Long]("n_dup_windows") == 0L)
  }

  test("hot-shingle cap drops stop-shingle pairs, keeps genuine near-dups") {
    // six docs whose ONLY shingle is shared boilerplate (df=6), plus a
    // twin pair sharing rare shingles (df=2)
    val corpus = (Seq.tabulate(6)(i => (i.toLong, "the same boilerplate")) ++
      Seq((100L, "rare words shared by twin docs"),
          (101L, "rare words shared by twin docs"))).toDF("doc_id", "text")
    val sh = Dedup.shingles(corpus, "doc_id", "text", 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    val uncapped = pairs(Dedup.jaccardPairs(sh, 4, 5))
    assert(uncapped.contains((0L, 1L)) && uncapped.contains((100L, 101L)))
    assert(uncapped.size == 16) // C(6,2) boilerplate pairs + the twins
    val capped = pairs(Dedup.jaccardPairs(sh, 4, 5, maxDocFreq = 5))
    assert(capped == Set((100L, 101L)))
  }

  test("simhash banding parity: banded pairs equal brute-force hamming (sf0.001)") {
    // Cross-implementation gate for the no-oracle d3 query: the 16-bit
    // band pigeonhole must be EXHAUSTIVE for hamming <= 3 over 4 bands,
    // so the banded pair set equals an independent brute-force scan of
    // the same signatures.
    val sig = Dedup.simhash(graft.Tables.documents(spark, sf001), "doc_id", "text")
    val sigs = sig.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("simhash")))
    val brute = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 3
    } yield (math.min(sigs(i)._1, sigs(j)._1), math.max(sigs(i)._1, sigs(j)._1))).toSet
    val banded = Dedup.simhashPairs(sig, 3).collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(banded == brute,
      s"banded-only=${(banded -- brute).size} brute-only=${(brute -- banded).size}")
  }
}
