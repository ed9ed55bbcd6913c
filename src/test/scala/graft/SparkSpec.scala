package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** Runs `f` and counts the Spark jobs it started from this thread (a
    * job group scopes the count, so jobs of other threads are not
    * included). */
  def jobsStarted[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-started-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted by jobsStarted")
    try {
      val r = f
      org.apache.spark.graftbridge.Bus.drain(sc)
      (r, n.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // GRAFT_TEST_ANSI=false sweeps the whole suite under NON-ANSI mode
    // (legacy semantics: NaN instead of DIVIDE_BY_ZERO, size(null)=-1);
    // unset, the suite runs under Spark 4's default posture (ANSI on).
    // Don't SET the conf when the env var is absent — pinning "false"
    // here once silently flipped the whole suite off the default and
    // re-exposed legacy-only behaviors the engine must also survive.
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = sys.env.get("GRAFT_TEST_ANSI")
      .fold(b)(v => b.config("spark.sql.ansi.enabled", v))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
