package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.IvfIndex
import graft.operators.Similarity

/** One-off measurement of sim14's serving panel (queries 0-9, k=10,
  * target 0.95, beta 5, 16 cells — keep in sync with ServePanel /
  * PrunedRecallTarget / PrunedBeta) across SFs — the numbers documented
  * on SimilarityQueries.PrunedRecallBound.
  * `sbt "Test/runMain graft.tools.Sim14Measure"` */
object Sim14Measure {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("sim14-measure")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
        val dir = s"/root/testdata/$sf"
        val emb = Tables.embeddings(spark, dir)
        val numCells = 16
        val panel = (0L to 9L).toSeq
        val path = java.nio.file.Files.createTempDirectory("sim14_").toString + "/idx"
        IvfIndex.build(emb, "vec_id", "embedding", numCells, path)
        val truth = Similarity.topKBatch(emb, "vec_id", "embedding", panel, k = 10)
          .select(col("qid"), col("id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
        val qvs = emb.where(col("vec_id").isin(panel.map(Long.box): _*))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
          .toMap
        var hits = 0
        var cellsMin = numCells
        var cellsMax = 0
        var cellsTot = 0
        panel.foreach { qid =>
          val qv = qvs(qid)
          val (cells, _) = IvfIndex.probeCells(path, qv, IvfIndex.Recall(0.95, beta = 5.0))
          cellsMin = math.min(cellsMin, cells.length)
          cellsMax = math.max(cellsMax, cells.length)
          cellsTot += cells.length
          val got = IvfIndex.search(spark, path, qv, 10, IvfIndex.Recall(0.95, beta = 5.0),
              excludeId = Some(qid))
            .collect().map(_.getAs[Long]("id"))
          hits += got.count(truth(qid).contains)
        }
        println(f"SIM14 $sf recall=${hits / 100.0}%.3f cells=[$cellsMin,$cellsMax] " +
          f"avg=${cellsTot.toDouble / panel.size}%.1f/$numCells")
      }
    } finally spark.stop()
  }
}
