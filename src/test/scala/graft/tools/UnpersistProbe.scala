package graft.tools

import org.apache.spark.sql.SparkSession

/** One-off probe: does Dataset.unpersist() release a localCheckpoint's
  * blocks, or only a cache-manager entry? Decides whether Graph's
  * internal unpin() discipline actually frees pins (round-11 check). */
object UnpersistProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def n = spark.sparkContext.getPersistentRDDs.size
    println(s"start: $n")
    val base = Seq(1L, 2L, 3L).toDF("x")
    val pinned = base.localCheckpoint()
    println(s"after localCheckpoint: $n")
    pinned.unpersist(true)
    println(s"after Dataset.unpersist: $n")
    graft.util.Pins.release(pinned)
    println(s"after Pins.release: $n")
    val cached = base.persist()
    cached.count()
    println(s"after persist+count: $n")
    cached.unpersist(true)
    println(s"after unpersist cached: $n")
    spark.stop()
  }
}
