package graft

import org.apache.spark.sql.SparkSession

/** The local session Bench, Verify and Smoke run in: `local[cpus]`, one
  * shuffle partition per cpu, UTC, no UI, WARN logging. */
object LocalSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
