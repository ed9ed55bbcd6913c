package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.IvfIndex

/** Calibration harness for IvfIndex.Recall's beta: for a panel
  * of query ids, measures cells probed and recall@10 vs the full-probe
  * (exact) result at several (target, beta) settings.
  * `sbt "Test/runMain graft.tools.AdaptiveScan"` */
object AdaptiveScan {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("adaptive-scan")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      for (sf <- Seq("sf0.001", "sf0.1")) {
        val dir = s"/root/testdata/$sf"
        val emb = Tables.embeddings(spark, dir)
        val numCells = 16
        val path = java.nio.file.Files.createTempDirectory("adaptive_").toString + "/idx"
        IvfIndex.build(emb, "vec_id", "embedding", numCells, path)
        val qids = (0L until 40L by 2L).toSeq
        val qvs = emb.where(col("vec_id").isin(qids.map(Long.box): _*))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
          .toMap
        for (target <- Seq(0.8, 0.9); beta <- Seq(6.0, 9.0, 12.0)) {
          var totCells = 0
          var totRecall = 0.0
          var minRecall = 1.0
          qids.foreach { qid =>
            val qv = qvs(qid)
            val full = IvfIndex.search(spark, path, qv, 10, numCells,
                excludeId = Some(qid))
              .collect().map(_.getAs[Long]("id")).toSet
            val (cells, _) = IvfIndex.probeCells(path, qv, IvfIndex.Recall(target, beta))
            totCells += cells.length
            val got = IvfIndex.search(spark, path, qv, 10, IvfIndex.Recall(target, beta),
                excludeId = Some(qid))
              .collect().map(_.getAs[Long]("id")).toSet
            val r = (got & full).size / 10.0
            totRecall += r
            minRecall = math.min(minRecall, r)
          }
          println(f"ADAPT $sf target=$target beta=$beta " +
            f"avgCells=${totCells.toDouble / qids.size}%.1f/$numCells " +
            f"avgRecall=${totRecall / qids.size}%.3f minRecall=$minRecall%.2f")
        }
      }
    } finally spark.stop()
  }
}
