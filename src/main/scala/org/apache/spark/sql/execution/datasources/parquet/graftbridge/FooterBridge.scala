package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's private[parquet] footer reader, needed to resolve a
  * parquet file's Spark schema on the driver (graft.sources.Parquet).
  * Lives under Spark's parquet package only for access; contains no
  * logic beyond the calls Spark's own schema inference makes. */
object FooterBridge {
  /** The file's Spark schema, converted under the session's SQLConf as it
    * is at call time. None when the footer was skipped as corrupt
    * (`spark.sql.files.ignoreCorruptFiles`). */
  def schema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = spark.sessionState.conf
    ParquetFileFormat
      .readParquetFootersInParallel(spark.sessionState.newHadoopConf(), Seq(file), conf.ignoreCorruptFiles)
      .headOption
      .map(ParquetFileFormat.readSchemaFromFooter(_, new ParquetToSparkSchemaConverter(conf)))
  }
}
