package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pins

/** Distributed graph analytics over edge tables — the link-quality
  * signals (PageRank-style centrality) a pretraining pipeline computes
  * over citation/hyperlink graphs, next to the label-propagation
  * components Dedup.clusters already runs over near-dup pairs.
  *
  * All arithmetic is FIXED-POINT (BIGINT mass units, integer division):
  * float PageRank sums contributions in shuffle order, so no two
  * engines — or two runs — agree bitwise, and an oracle can only gate
  * it with tolerances. Integer mass makes every sum order-independent
  * and every division deterministic, so the DuckDB oracle hash-gates
  * the whole iteration exactly (the same determinism trick as md5
  * sampling orders: engine-agnostic by construction).
  *
  * Scale shape: the edge table is the only big thing. Per iteration:
  * one hash join edges⋈ranks on src (ranks is node-sized), one
  * map-side-combined groupBy(dst) — the standard Pregel-style shuffle
  * pair, linear in |E| per iteration, no driver materialization beyond
  * the node count. Degrees are computed once and cached with the
  * symmetrized edges.
  */
object Graph {

  /** Total rank mass in fixed-point units (1.0 ≡ 10¹²). */
  val Scale = 1000000000000L

  /** Built bytes per key of [[kcore]]'s survivor broadcast: a
    * LongHashedRelation over sparse long ids (hash slots plus the row
    * pages, both grown by doubling) measures 64 bytes per key at a
    * power-of-two key count and 96 just past one (GraphSpec); the worst
    * case is the estimate. */
  private[graft] val BytesPerSurvivorKey = 96L

  /** [[kcore]] broadcasts its survivor set into the per-round semi joins
    * only while the set's estimated built size (the EXACT previous-round
    * count × [[BytesPerSurvivorKey]]) fits this per-executor budget;
    * larger sets keep the shuffled join. 128 MB is under a third of the
    * unified memory of a 1 GB executor ((1024 − 300 reserved) MB × 0.6
    * `spark.memory.fraction` ≈ 434 MB), which every executor must hold
    * the built relation in — about 1.4M survivors.
    * `spark.graft.kcore.broadcastCap` (a survivor count) overrides it
    * for clusters with different executor memory. */
  private[graft] val BroadcastBudgetBytes = 128L << 20

  /** PageRank with damping 0.85 over the UNDIRECTED view of `edges`
    * (both directions added, so every node has out-degree ≥ 1 and no
    * dangling-mass redistribution is needed): for `iters` rounds,
    *   r'(v) = (15·Scale) div (100·N)  +  (85 · Σ_{u~v} r(u) div deg(u)) div 100.
    * `edges` needs `src`/`dst` long columns with DISJOINT id spaces on
    * the two sides or pre-deduplicated pairs (reversal must not create
    * duplicate edges). Returns (id, r) with r in Scale units.
    *
    * Rank lineage is TRUNCATED every `pinEvery` rounds (reliable
    * `checkpoint` when `checkpointDir` is set, `localCheckpoint`
    * otherwise — the same discipline as [[kcore]] and
    * [[Dedup.components]]), plus after the final round of a long run,
    * so plan depth is BOUNDED by 3·pinEvery joins no matter how many
    * iterations run: Catalyst optimization time stays flat, and on a
    * real cluster a reliable dir makes an executor loss mid-iteration
    * recoverable instead of a full-lineage recompute back to the scan.
    * A pin is an EAGER materialization (one job + block write), so
    * pinning every round taxes short runs where lazy chaining would
    * pipeline all rounds into one job — measured 2.2× on the
    * 3-iteration registered query. The default 8 keeps a ≤24-join
    * optimizer ceiling while a 3-iteration run pays none;
    * iterate-to-convergence callers get truncation automatically. `pinEvery = 1` is the
    * per-round-measurement mode the scale stress uses.
    * SHORT runs (`iters < pinEvery` — no scheduled pin ever fires,
    * the registered 3-iteration query included) return the LAZY tower
    * with `nodes`/`withDeg` left cached, exactly the r4–r7 shape: the
    * caller's first action materializes all rounds as one pipelined
    * job, paying zero checkpoint cost (a measured ~0.3–0.7 s final-pin
    * tax at iters=3). The body runs in [[graft.util.Pins.owned]]: the
    * two loop caches back the returned plan, so a short run hands them
    * to the caller's [[graft.util.Pins.scope]] (which frees them when
    * it exits); a long run returns its final pin, self-contained, and
    * the loop caches are freed before returning. A failure frees every
    * pin and cache the call made.
    *
    * `onRound(0, s)` reports the setup scan (symmetrize + node count +
    * initial pin), `onRound(i, s)` iteration i — the hook the graph
    * scale stress reads (kmeansFit's discipline); a no-op by default.
    * Unpinned rounds only CONSTRUCT their plan, so per-round walls are
    * meaningful at `pinEvery = 1` (each round materializes) and lumpy
    * otherwise (the pinning round pays for its predecessors). */
  def pagerank(edges: DataFrame, iters: Int,
      checkpointDir: Option[String] = None,
      onRound: (Int, Double) => Unit = (_, _) => (),
      pinEvery: Int = 8): DataFrame = Pins.owned {
    require(pinEvery >= 1, s"pinEvery must be >= 1, got $pinEvery")
    def rounded[T](r: Int)(f: => T): T =
      graft.util.Timing.rounded(onRound, r)(f)
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // nodes derive from the CACHED degree-joined edges (r13: deriving
    // them from `sym` evaluated the caller's edge pipeline a second
    // time during setup — every node appears as a src in the symmetric
    // multiset, so the sets are identical)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = Pins.cache(sym.join(deg, "src"))
    val nodes = Pins.cache(withDeg.select(col("src").as("id")).distinct())
    val (base, ranks0) = rounded(0) {
      val n = nodes.count()
      val base = (15L * Scale) / (100L * n)
      // the initial ranks are one select over the cached node set —
      // depth-1 lineage, nothing to truncate
      (base, nodes.select(col("id"), lit(Scale / n).as("r")))
    }
    var ranks = ranks0
    var lastPinned: DataFrame = null
    // iters < pinEvery means NO scheduled pin fires — take the lazy
    // path end-to-end (see scaladoc: short runs must not pay a
    // materialization the chained plan doesn't need)
    val willPin = iters >= pinEvery
    for (r <- 1 to iters) rounded(r) {
      val next = {
        val contrib = withDeg
          .join(ranks, col("src") === col("id"))
          .select(col("dst").as("cid"), expr("r div deg").as("c"))
          .groupBy(col("cid")).agg(sum(col("c")).as("cs"))
        nodes
          .join(contrib, col("id") === col("cid"), "left")
          .select(col("id"),
            (lit(base) + expr("(85 * coalesce(cs, CAST(0 AS BIGINT))) div 100")).as("r"))
      }
      if (willPin && (r % pinEvery == 0 || r == iters)) {
        // a pin materializes everything since the previous pin, so the
        // earlier pin's blocks are dead weight from here on (freed now
        // to bound the loop's memory, not at the end of the call)
        val pinned = Pins.pin(next, dir = checkpointDir)
        if (lastPinned != null) Pins.release(lastPinned)
        lastPinned = pinned
        ranks = pinned
      } else ranks = next
    }
    ranks
  }

  /** Triangle count over an ordered edge list (`a < b`, distinct) —
    * the clustering-coefficient numerator (community density of a link
    * graph). Ordered-wedge formulation: a wedge x<y<z exists when
    * (x,y) and (y,z) are edges; a triangle is a wedge whose closing
    * edge (x,z) exists — so each triangle is counted EXACTLY once, no
    * /6 correction, and the closing check is a semi join (no payload).
    *
    * Scale: two hash joins over the edge list — wedge generation is
    * Σ deg⁺(v)² work; at 100 TB the standard refinement is DEGREE
    * ORIENTATION (direct each edge toward its higher-degree endpoint
    * before wedging: Σ over the oriented degrees is O(|E|^1.5) in the
    * worst case, and hub nodes stop generating wedges). The ordered
    * formulation here IS a fixed orientation (by id), which the oracle
    * can replay; swap the comparator for (degree, id) to get the
    * skew-proof variant with identical semantics. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = Pins.cache(edges.select(col("a"), col("b")))
    val wedges = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
    val tris = wedges.join(e,
      wedges("x") === e("a") && wedges("z") === e("b"), "left_semi")
    e.select(count(lit(1)).as("n_edges"))
      .crossJoin(tris.select(count(lit(1)).as("n_triangles")))
  }

  /** k-CORE decomposition by iterative peeling: repeatedly drop nodes
    * with fewer than k neighbors among the survivors until the fixpoint
    * — the maximal subgraph where every node keeps degree >= k (the
    * standard graph-density filter: in a link graph, the k-core is the
    * well-embedded region and the peeled fringe is the spam/orphan
    * tail). The k-core is UNIQUE, so the result is exactly
    * oracle-able — unlike float centralities it needs no tolerance.
    *
    * Scale shape: each round is two semi joins of the edge list
    * against the (node-sized) survivor set plus one map-side-combined
    * degree count — linear in |E| per round, and rounds are bounded by
    * the peeling depth (typically small; degeneracy ordering converges
    * in O(peel depth), not O(V)). `checkpointDir` pins each round's
    * survivor set reliably ([[graft.operators.Dedup.components]]'
    * story: `localCheckpoint` only truncates lineage — an executor
    * loss mid-fixpoint kills the job on a real cluster); `maxRounds`
    * turns a convergence regression into a clear error.
    *
    * Returns every node of the graph with an `in_core` flag, as a pin
    * of its own: the body runs in [[graft.util.Pins.owned]], which frees
    * every loop cache and survivor pin on return or failure.
    * `onRound(i, s)` reports peel round i's wall (the graph scale
    * stress's hook; no-op by default). */
  def kcore(edges: DataFrame, k: Int,
      checkpointDir: Option[String] = None,
      maxRounds: Int = 100,
      onRound: (Int, Double) => Unit = (_, _) => ()): DataFrame = Pins.owned {
    // Loop-round pins are LAZY on the local path (r14, guide §1.2 pass
    // count) — every round's pin is immediately followed by the
    // survivor count, and a lazy pin lets that one count job BOTH
    // materialize the blocks and produce n, where the eager pin paid a
    // separate materialization job first. Per round: 2 jobs -> 1, and
    // the fixed job-scheduling latency is what dominates these
    // node-sized rounds (r13 OptProbe). Safe ONLY because the count
    // computes every partition (lineage truncates at that job's end)
    // BEFORE the previous round's blocks are released below. The
    // reliable-checkpoint path keeps eager semantics (checkpoint files
    // must exist before the next round builds on them).
    // The symmetrized edge list is PRE-PARTITIONED on the degree-count
    // key (r14, guide §2.4 — the components() discipline): every
    // round's groupBy(v) otherwise pays an edge-sized exchange, and the
    // survivor semi joins are node-sized broadcasts that PRESERVE the
    // cached partitioning — so paying the exchange ONCE here makes each
    // peel round exchange-free (scan cached blocks + semi joins +
    // map-side-combined count). nodes' distinct reuses the same
    // partitioning (v renamed to id tracks the attribute).
    val symP = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val broadcastBudget = edges.sparkSession.conf
      .getOption("spark.graft.kcore.broadcastCap")
      .fold(BroadcastBudgetBytes)(_.toLong * BytesPerSurvivorKey)
    val sym = Pins.cache(edges.select(col("a").as("v"), col("b").as("u"))
      .union(edges.select(col("b").as("v"), col("a").as("u")))
      .repartition(symP, col("v")))
    val nodes = Pins.cache(sym.select(col("v").as("id")).distinct())
    var alive = nodes
    var aliveN = nodes.count()
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"kcore: no fixpoint after $maxRounds rounds (peeling depth " +
          "exceeds the bound — raise maxRounds)")
      graft.util.Timing.rounded(onRound, rounds) {
        // both semi joins reference the IDENTICAL `alive` subtree via
        // join conditions (r13: a renamed projection per side made the
        // canonical plans differ, so the node-set broadcast was built
        // twice per round; with matching subtrees it is reused).
        // The broadcast is EXPLICIT and size-gated (r14): after round
        // 1 `alive` is a pinned LogicalRDD whose stats the static
        // planner treats as unknown-huge, so without the hint every
        // round fell back to sort-merge — two edge-sized exchanges —
        // until AQE repaired it stage by stage. aliveN is exact
        // (last round's count), so the gate is deterministic: under
        // the budget the rounds are broadcast + exchange-free; a
        // beyond-the-budget survivor set (the 100 TB worst case)
        // keeps the shuffled plan that cannot OOM an executor.
        val aliveRef =
          if (aliveN * BytesPerSurvivorKey <= broadcastBudget) broadcast(alive)
          else alive
        val next = Pins.pin(sym
          .join(aliveRef, col("v") === col("id"), "left_semi")
          .join(aliveRef, col("u") === col("id"), "left_semi")
          .groupBy(col("v")).agg(count(lit(1)).as("d"))
          .where(col("d") >= k)
          .select(col("v").as("id")), eager = false, dir = checkpointDir)
        // this count MATERIALIZES the lazy pin (computes every
        // partition), so the previous round's survivor blocks are
        // dead weight now — drop them (nodes, the round-0 "alive",
        // is still needed for the final join)
        val n = next.count()
        if (alive ne nodes) Pins.release(alive)
        // survivors only shrink: equal counts == fixpoint
        converged = n == aliveN
        alive = next
        aliveN = n
      }
    }
    // materialize the NODE-sized output through its OWN pin — a lineage
    // cut, so out's blocks no longer run through the final survivor's
    // pin or any loop cache, and Pins.owned frees all of those (the
    // edge-sized sym, nodes, the last survivor pin) on return. The only
    // residue is the result itself, node-sized. Recomputing nodes from
    // edges instead would re-scan the edge list on every downstream
    // action (measured 1.25× on g3).
    Pins.pin(nodes
      .join(alive.withColumn("in_core", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("in_core"), lit(false)).as("in_core")),
      dir = checkpointDir)
  }

  /** The skew-proof variant: DEGREE-ORIENTED triangle counting.
    * Each edge directs toward its higher-(degree, id) endpoint, wedges
    * generate only among OUT-neighbors — so a hub of degree d with
    * mostly higher-ranked neighbors stops producing d² wedges, and
    * total wedge volume is O(|E|^1.5) (arboricity bound) instead of
    * Σ deg². Same count as [[triangleCount]] — GraphSpec pins equality —
    * at one extra degree join. Use this one at 100 TB. */
  def triangleCountOriented(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    // orient toward the higher (degree, id); carry the head's rank key
    val out = Pins.cache(withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("t"), col("b").as("h"), col("db").as("dh")))
        .otherwise(struct(col("b").as("t"), col("a").as("h"), col("da").as("dh")))
        .as("o"))
      .select(col("o.t").as("t"), col("o.h").as("h"), col("o.dh").as("dh")))
    // wedges among out-neighbors, normalized by rank so the closing
    // oriented edge is uniquely (v -> w)
    val wedges = out.select(col("t"), col("h").as("v"), col("dh").as("dv"))
      .join(out.select(col("t"), col("h").as("w"), col("dh").as("dw")), Seq("t"))
      .where(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v"), col("w"))
    val closure = out.select(col("t").as("ct"), col("h").as("ch"))
    val tris = wedges.join(closure,
      wedges("v") === closure("ct") && wedges("w") === closure("ch"), "left_semi")
    e.select(count(lit(1)).as("n_edges"))
      .crossJoin(tris.select(count(lit(1)).as("n_triangles")))
  }
}
