package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.FooterBridge

/** The one way graft opens parquet. Like the reference, which learns a
  * table's columns from its meta file and never from data (reference
  * `src/table/meta.rs:25-37`, `src/table/mod.rs:124-133`), opening costs
  * no Spark job: `spark.read.parquet` infers the data schema with a
  * one-task job that reads a single footer, while [[read]] reads that
  * footer on the driver and hands Spark the schema, so the relation is
  * built from a file listing and one footer alone.
  *
  * The result is the relation `spark.read.parquet` builds:
  *  - the data schema is the footer's, converted under the session's
  *    SQLConf at call time (e.g. `spark.sql.legacy.parquet.nanosAsLong`);
  *  - partition columns (`p_date=`, `bkt=`, `delta=`) are still inferred
  *    from directory names, so their types and the plan do not change;
  *  - the footer read is the first data file in name order (Spark reads
  *    the first in its listing order, which is unspecified); summary
  *    files (`_metadata`, `_common_metadata`) are not consulted — graft
  *    never writes them.
  *
  * Spark's own `spark.read.parquet` runs unchanged, with its own errors,
  * when `spark.sql.parquet.mergeSchema` is on, when a path does not exist
  * and when no data file exists under the paths (or the first one's
  * footer is skipped as corrupt under `spark.sql.files.ignoreCorruptFiles`). */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val roots = paths.map { p => val hp = new Path(p); (hp.getFileSystem(conf), hp) }
    val first =
      if (!roots.forall { case (fs, p) => fs.exists(p) }) None
      else roots.iterator
        .flatMap { case (fs, p) => firstDataFile(fs, fs.getFileStatus(p)) }.nextOption()
    readWith(spark, paths, first)
  }

  /** [[read]] of one directory whose visible entries the caller already
    * listed with [[listing]] (ZTable shares its root listing this way). */
  private[sources] def readListed(spark: SparkSession, path: String,
      entries: Seq[FileStatus]): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    readWith(spark, Seq(path), entries.iterator.flatMap(firstDataFile(fs, _)).nextOption())
  }

  /** Visible entries of a directory, by the rule Spark's file index uses
    * to skip names; Nil when it does not exist. Sorted by name, so the
    * footer a read picks does not depend on the file system's order. */
  private[sources] def listing(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) visible(fs, p) else Nil
  }

  private def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName))
      .sortBy(_.getPath.getName)

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else visible(fs, st.getPath).iterator.flatMap(firstDataFile(fs, _)).nextOption()

  private def readWith(spark: SparkSession, paths: Seq[String],
      first: => Option[FileStatus]): DataFrame = {
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else first.flatMap(FooterBridge.schema(spark, _))
    schema.fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
  }
}
