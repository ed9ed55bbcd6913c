package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.SECONDS

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}
import graft.util.Pins

/** graft.util.Pins owns every pin and cache in src/main: scopes free
  * what their bodies registered, on success and on failure, the fixpoint
  * operators keep only what their results read, and a scope never frees
  * another thread's pins. */
class PinsSpec extends SparkSpec {
  import spark.implicits._

  private def live = spark.sparkContext.getPersistentRDDs.size
  private def cacheEmpty = spark.sharedState.cacheManager.isEmpty
  private def rddOf(pinned: DataFrame) =
    pinned.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  /** Five edges `(i, i + 1)` named `a`/`b`, the third of which raises
    * an error when evaluated, whatever the ANSI setting. */
  private def failingEdges(a: String, b: String): DataFrame =
    spark.range(1, 6, 1, 2).select(col("id").as(a),
      when(col("id") === 3, raise_error(lit("bad edge")))
        .otherwise(col("id") + 1).as(b))

  test("a failing input leaves no pin or cache behind: the four fixpoints and an eager pin") {
    spark.catalog.clearCache()
    val before = live
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "pagerank" -> (() => Graph.pagerank(failingEdges("src", "dst"), iters = 3)),
      "kcore" -> (() => Graph.kcore(failingEdges("a", "b"), k = 2)),
      "components" -> (() => Dedup.components(failingEdges("ida", "idb"))),
      "componentsStar" -> (() => Dedup.componentsStar(failingEdges("ida", "idb"))),
      "eager pin in a scope" -> (() => Pins.scope(Pins.pin(failingEdges("a", "b")))))
    val ansi0 = spark.conf.get("spark.sql.ansi.enabled")
    try for (ansi <- Seq("true", "false"); (name, call) <- calls) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      intercept[Exception](call())
      assert(live == before, s"$name (ansi=$ansi) stranded pinned RDDs")
      assert(cacheEmpty, s"$name (ansi=$ansi) stranded cache entries")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi0)
  }

  test("an eager pin runs the jobs an eager localCheckpoint runs, and a scope frees it") {
    // a fresh frame per pin: a second run of one executed adaptive plan
    // would reuse its shuffle stage. The second frame is one the
    // optimizer finds empty: its RDD has no partitions and no job.
    def agg = spark.range(0, 40, 1, 4).groupBy(col("id") % 5).count()
    for ((frame, rows) <- Seq((() => agg, 5), (() => agg.where(lit(false)), 0))) {
      val (native, nativeJobs) = jobsStarted(frame().localCheckpoint())
      Pins.release(native)
      val before = live
      Pins.scope {
        val (p, jobs) = jobsStarted(Pins.pin(frame()))
        assert(jobs == nativeJobs, s"pin $jobs jobs, localCheckpoint $nativeJobs")
        assert(spark.sparkContext.getPersistentRDDs.contains(rddOf(p).id))
        assert(p.collect().length == rows)
      }
      assert(live == before)
    }
  }

  test("a lazy short pagerank keeps its two loop caches; the enclosing scope frees them") {
    spark.catalog.clearCache()
    val before = live
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val expected = Graph.pagerank(edges, iters = 3, pinEvery = 1)
    val want = expected.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Pins.release(expected)
    spark.catalog.clearCache()
    val got = Pins.scope {
      val pr = Graph.pagerank(edges, iters = 3)
      val reads = pr.queryExecution.withCachedData
        .collect { case m: InMemoryRelation => m.cacheBuilder }.distinct
      assert(reads.size == 2, "the lazy tower reads withDeg and nodes")
      assert(!cacheEmpty)
      pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == want)
    assert(live == before && cacheEmpty)
  }

  test("a scope exiting on one thread leaves another thread's pin alone") {
    val before = live
    val made = new CountDownLatch(1)
    val exited = new CountDownLatch(1)
    @volatile var otherId = -1
    @volatile var otherRows = Seq.empty[Long]
    val other = new Thread(() => Pins.scope {
      val p = Pins.pin(spark.range(0, 3, 1, 1).toDF("x"))
      otherId = rddOf(p).id
      made.countDown()
      exited.await(60, SECONDS)
      otherRows = p.collect().map(_.getLong(0)).toSeq
    })
    val mineId = Pins.scope {
      val mine = Pins.pin(spark.range(10, 12, 1, 1).toDF("x"))
      other.start()
      assert(made.await(60, SECONDS), "the other thread never pinned")
      rddOf(mine).id
    }
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(!persisted.contains(mineId), "the exiting scope frees its own pin")
    assert(persisted.contains(otherId), "and not the other thread's")
    exited.countDown()
    other.join()
    assert(otherRows == Seq(0L, 1L, 2L))
    assert(live == before)
  }

  test("lint: only graft.util.Pins pins, caches or releases in src/main") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val owner = main.resolve("graft/util/Pins.scala")
    val calls = Seq(".persist(", ".cache()", "localCheckpoint(", ".checkpoint(", ".unpersist(")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(main)
    val offenders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if calls.exists(line.contains) => s"$p:${i + 1}"
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty,
      s"pin, cache and release through graft.util.Pins: ${offenders.mkString(", ")}")
  }
}
