package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.util.Pins

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: the same fixed-point iteration over plain
    * collections — distributed result must match EXACTLY (integers). */
  private def refPagerank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges ++ edges.map(e => (e._2, e._1))
    val nodes = sym.map(_._1).distinct.sorted
    val n = nodes.length.toLong
    val deg = sym.groupBy(_._1).map { case (k, es) => k -> es.length.toLong }
    val base = (15L * Graph.Scale) / (100L * n)
    var r = nodes.map(_ -> Graph.Scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => r(e._1) / deg(e._1)).sum
      }
      r = nodes.map(v => v -> (base + (85L * contrib.getOrElse(v, 0L)) / 100L)).toMap
    }
    r
  }

  test("pagerank matches the driver-side reference exactly (fixed-point)") {
    // star (hub 1) + a path hanging off node 4: asymmetric degrees
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L))
    val got = Graph.pagerank(edges.toDF("src", "dst").repartition(3), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPagerank(edges, 4))
    // hub out-ranks every leaf
    assert(got(1L) > got(2L) && got(1L) > got(6L))
  }

  test("triangle count: exactly-once on a hand-countable graph") {
    // K4 on {1,2,3,4} (4 triangles) + pendant edge (4,5) + isolated
    // edge (6,7): total 4, no double counting, wedges without closure
    // contribute nothing
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L)).toDF("a", "b")
    val r = Graph.triangleCount(edges.repartition(3)).head()
    assert((r.getLong(0), r.getLong(1)) == ((8L, 4L)))
    // triangle-free graph
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Graph.triangleCount(path).head().getLong(1) == 0L)
  }

  test("degree-oriented triangle count equals the ordered count on skewed graphs") {
    // hub-and-clique: node 0 connects to everything (the skew case the
    // orientation exists for) + a random seeded graph
    val rnd = new scala.util.Random(42)
    val hub = (1L to 30L).map(i => (0L, i))
    val clique = for (i <- 1L to 8L; j <- i + 1 to 8L) yield (i, j)
    val random = (for (_ <- 1 to 120) yield {
      val i = rnd.nextInt(40).toLong; val j = rnd.nextInt(40).toLong
      if (i < j) Some((i, j)) else if (j < i) Some((j, i)) else None
    }).flatten.distinct
    for (edges <- Seq(hub ++ clique, random)) {
      val df = edges.toDF("a", "b").repartition(3)
      val plain = Graph.triangleCount(df).head()
      val oriented = Graph.triangleCountOriented(df).head()
      assert((plain.getLong(0), plain.getLong(1)) ==
        ((oriented.getLong(0), oriented.getLong(1))), s"n_edges=${plain.getLong(0)}")
      assert(plain.getLong(1) > 0L)
    }
  }

  test("kcore broadcast gate: BytesPerSurvivorKey covers a built survivor relation") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // kcore's per-round shape: edges semi-joined against a broadcast
    // survivor set of sparse long ids (sparse keys rule out the
    // LongHashedRelation's dense-array layout, the smaller one). The
    // hash array and the row pages grow by doubling, so bytes per key
    // swing with the key count: sizes on both sides of a power of two.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val perKey = Seq(1L << 17, (1L << 17) + 1, 200000L, (1L << 18) + 1, 400000L).map { n =>
      val alive = spark.range(n).select((col("id") * 7919L + 13L).as("id"))
      val sym = spark.range(1000).select((col("id") * 7919L + 13L).as("v"))
      val j = sym.join(broadcast(alive), col("v") === col("id"), "left_semi")
      assert(j.collect().length == 1000)
      val built = nodes(j.queryExecution.executedPlan)
        .collect { case b: BroadcastExchangeExec => b.metrics("dataSize").value }
      assert(built.size == 1, j.queryExecution.executedPlan)
      n -> built.head.toDouble / n
    }
    info(perKey.map { case (n, b) => f"$n: $b%.1f" }.mkString("bytes per key: ", ", ", ""))
    val worst = perKey.map(_._2).max
    assert(worst <= Graph.BytesPerSurvivorKey, f"$worst%.1f bytes per key")
    // a measurement, not a blanket: the constant stays within 2x of it
    assert(worst * 2 > Graph.BytesPerSurvivorKey, f"$worst%.1f bytes per key")
  }

  test("kcore: cascading peel matches sequential peeling; core property holds") {
    // path 1-2-3 hangs off a 4-clique {4,5,6,7}: for k=2 the whole
    // path peels over MULTIPLE rounds (1 first, then 2, then 3)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (4L, 7L), (5L, 6L), (5L, 7L), (6L, 7L))
      .toDF("a", "b")
    val out = Graph.kcore(edges, k = 2).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("in_core")).toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> false,
      4L -> true, 5L -> true, 6L -> true, 7L -> true))
    // k=4: even the clique dissolves (internal degree 3)
    val out4 = Graph.kcore(edges, k = 4).collect()
    assert(out4.forall(!_.getAs[Boolean]("in_core")))
    // reliable-checkpoint path produces the same labeling
    val dir = java.nio.file.Files.createTempDirectory("graft_kcore_ckpt_")
    val outCk = Graph.kcore(edges, k = 2, checkpointDir = Some(dir.toString))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("in_core")).toMap
    assert(outCk == out)
    // sf0.001 core property: every in-core node has >= k in-core
    // neighbors, every peeled node has < k (necessary conditions of
    // the unique maximal core; the exact-set gate lives in the oracle)
    val li = graft.Tables.lineitem(spark, sf001)
      .where(col("l_orderkey") % 200 === 0)
      .select(col("l_orderkey"), col("l_suppkey"))
    val e = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_suppkey") < col("y.l_suppkey"))
      .select(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
      .distinct()
    val core = Graph.kcore(e, k = 5).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("in_core")).toMap
    val adj = e.collect().flatMap(r =>
        Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    core.foreach { case (v, kept) =>
      val coreDeg = adj.getOrElse(v, Set.empty).count(core.getOrElse(_, false))
      if (kept) assert(coreDeg >= 5, s"node $v kept with core degree $coreDeg")
    }
    // sequential reference peel on the same collected graph
    var alive = adj.keySet
    var changed = true
    while (changed) {
      val drop = alive.filter(v => adj(v).count(alive) < 5)
      changed = drop.nonEmpty
      alive = alive -- drop
    }
    assert(core.filter(_._2).keySet == alive)
  }

  test("pagerank plan depth is constant in iters (per-round lineage truncation)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    def depth(iters: Int): Int = {
      val out = Graph.pagerank(edges, iters)
      val d = out.queryExecution.optimizedPlan.collect { case p => p }.size
      out.unpersist()
      d
    }
    // LONG runs (iters >= pinEvery) return the final pin — identical
    // plan shape whether the loop ran 8 rounds or 16
    assert(depth(8) == depth(16))
    // SHORT runs (iters < pinEvery) return the LAZY tower — one
    // pipelined job, no materialization tax; depth grows with iters but
    // is bounded by the pinEvery window
    assert(depth(3) > depth(8))
    // iters = 0 returns the uniform initial ranks (n=4 nodes)
    val r0 = Graph.pagerank(edges, iters = 0).collect()
    assert(r0.length == 4 && r0.forall(_.getLong(1) == Graph.Scale / 4))
    // lazy short run and per-round-pinned short run agree exactly
    val lazy3 = Graph.pagerank(edges, iters = 3)
    val pinned3 = Graph.pagerank(edges, iters = 3, pinEvery = 1)
    assert(lazy3.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .sameElements(pinned3.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)))
    pinned3.unpersist()
    // reliable-checkpoint path matches the local-path result exactly
    val dir = java.nio.file.Files.createTempDirectory("graft_pr_ckpt_")
    val local = Graph.pagerank(edges, iters = 3)
    val ck = Graph.pagerank(edges, iters = 3, checkpointDir = Some(dir.toString))
    assert(local.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .sameElements(ck.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)))
    // pin cadence is a performance knob, never a semantic one: every
    // round pinned == batched (crosses the pinEvery boundary at r=8)
    val perRound = Graph.pagerank(edges, iters = 9, pinEvery = 1)
    val batched = Graph.pagerank(edges, iters = 9)
    assert(perRound.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .sameElements(batched.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)))
    perRound.unpersist(); batched.unpersist()
    local.unpersist(); ck.unpersist()
  }

  test("r11: retired fixpoint pins are freed — block store flat across calls") {
    // Dataset.unpersist / catalog.clearCache are silent no-ops on
    // localCheckpoint blocks (tools/UnpersistProbe; graft.util.Pins) —
    // this pins the fix: repeated long pagerank runs and kcore calls
    // leave EXACTLY one releasable pin each, and release() frees it.
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    def live = spark.sparkContext.getPersistentRDDs.size
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 1L), (2L, 5L)).toDF("src", "dst")
    sweep()
    val base = live
    (1 to 3).foreach { i =>
      // LONG run: 17 iters over pinEvery=4 retires 3 window pins
      val pr = Graph.pagerank(edges, iters = 17, pinEvery = 4)
      assert(pr.count() == 6)
      assert(live == base + 1,
        s"call $i: long run must leave exactly the final pin, got ${live - base}")
      Pins.release(pr)
      assert(live == base, s"call $i: release must empty the block store")
    }
    val kedges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    (1 to 3).foreach { i =>
      // kcore peels node 4 in round 1, fixpoint in round 2+ — every
      // retired survivor pin must be gone, leaving the pinned output
      val core = Graph.kcore(kedges, k = 2)
      assert(core.count() == 4)
      assert(live == base + 1,
        s"call $i: kcore must leave exactly its output pin, got ${live - base}")
      Pins.release(core)
      assert(live == base, s"call $i: release must empty the block store")
    }
  }

  test("pagerank conserves mass up to integer-division dust") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L))
    val got = Graph.pagerank(edges.toDF("src", "dst"), iters = 3)
      .collect().map(_.getLong(1))
    val total = got.sum
    // each division truncates < 1 unit per node per round; 10^12 scale
    assert(total <= Graph.Scale && total > Graph.Scale - 100L, s"total=$total")
  }
}
