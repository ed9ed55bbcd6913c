package graft

/** Local analog of the driver's smoke check: SparkEntry.entry(spark) must
  * return rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("4")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "EMPTY"))
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
