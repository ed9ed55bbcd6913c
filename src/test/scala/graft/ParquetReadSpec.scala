package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.DateType

import graft.sources.{Parquet, ZPartitionBy, ZTable, ZTableSpec}

/** graft.sources.Parquet resolves the data schema from one footer on the
  * driver; these specs pin that the relation it builds is the one
  * `spark.read.parquet` builds, that the fallbacks fail the same way, and
  * that opening a table starts no Spark job. */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("parquet_read_spec_").toString

  private def sameAsSpark(s: SparkSession, paths: String*): DataFrame = {
    val viaHelper = Parquet.read(s, paths: _*)
    assert(viaHelper.schema == s.read.parquet(paths: _*).schema, paths.mkString(", "))
    viaHelper
  }

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  private lazy val eventsTable: ZTable = {
    val t = ZTable.create(spark, tmp() + "/events", ZTableSpec())
    t.append(Tables.events(spark, sf001))
    t
  }

  private lazy val indexDir: String = {
    val p = tmp() + "/idx"
    graft.operators.InvertedIndex.build(Tables.documents(spark, sf001),
      "doc_id", "text", p, numBuckets = 16)
    p
  }

  test("schema equals spark.read.parquet for every TESTDATA table under both nanosAsLong values") {
    for (nanos <- Seq("false", "true")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
      Tables.all.foreach(t => sameAsSpark(s, s"$sf001/$t.parquet"))
    }
  }

  test("partitioned ZTables and an index directory keep their inferred partition columns") {
    val day = sameAsSpark(spark, eventsTable.path)
    assert(day.schema("p_date").dataType == DateType)
    assert(rows(day) == rows(spark.read.parquet(eventsTable.path)))
    val month = ZTable.create(spark, tmp() + "/m",
      ZTableSpec(partitionBy = ZPartitionBy.Month))
    month.append(Tables.events(spark, sf001))
    assert(rows(sameAsSpark(spark, month.path)) ==
      rows(spark.read.parquet(month.path)))
    assert(sameAsSpark(spark, indexDir).columns.contains("bkt"))
  }

  test("multi-path read matches spark.read.parquet") {
    val root = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$root/b0")
    Seq((3L, "c")).toDF("id", "s").write.parquet(s"$root/b1")
    val df = sameAsSpark(spark, s"$root/b0", s"$root/b1")
    assert(df.count() == 3)
  }

  test("missing path and a directory without data files fail like spark.read.parquet") {
    val missing = tmp() + "/nope"
    val noData = tmp()
    Files.createFile(Paths.get(noData, "_SUCCESS"))
    val withData = tmp()
    Seq(1L).toDF("id").write.mode("overwrite").parquet(withData)
    for (paths <- Seq(Seq(missing), Seq(noData), Seq(withData, missing))) {
      val expected = intercept[Exception](spark.read.parquet(paths: _*))
      val got = intercept[Exception](Parquet.read(spark, paths: _*))
      assert(got.getClass == expected.getClass, paths.mkString(", "))
      assert(got.getMessage == expected.getMessage)
    }
  }

  test("mergeSchema on: Spark's own read runs and merges every footer") {
    val root = tmp()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$root/k=0")
    Seq((2L, 2.0)).toDF("id", "x").write.parquet(s"$root/k=1")
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    val df = sameAsSpark(s, root)
    assert(Set("id", "s", "x", "k").subsetOf(df.columns.toSet))
  }

  test("building a ZTable scan and the /q ops scan, sql and search starts no Spark job") {
    val path = eventsTable.path
    // the counter sees the schema-inference job of Spark's own read
    assert(jobsStarted(spark.read.parquet(path))._2 >= 1)
    assert(jobsStarted(eventsTable.scan("2024-01-02 00:00:00",
      "2024-01-02 23:59:59"))._2 == 0)
    val sql = "SELECT (SELECT count(*) FROM ev) AS e, (SELECT count(*) FROM docs) AS d"
    val requests = Seq(
      s"""{"op":"scan","table":"$path","from":"2024-01-02 00:00:00",""" +
        s""""to":"2024-01-02 23:59:59","cols":["ts","value"]}""",
      s"""{"op":"sql","query":"$sql",""" +
        s""""tables":{"ev":"$path","docs":"$sf001/documents.parquet"}}""",
      s"""{"op":"search","index":"$indexDir","terms":["scan","merge"],"k":5}""")
    for (req <- requests) {
      val (df, jobs) = jobsStarted(QueryRunner.run(spark, req))
      assert(jobs == 0, req)
      assert(df.count() > 0, req)
    }
  }

  test("one way to open parquet: no read.parquet( in src/main outside the helper") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val helper = main.resolve("graft/sources/Parquet.scala")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(main)
    val offenders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper)
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("read.parquet(") => s"$p:${i + 1}"
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty,
      s"open parquet through graft.sources.Parquet.read: ${offenders.mkString(", ")}")
  }
}
