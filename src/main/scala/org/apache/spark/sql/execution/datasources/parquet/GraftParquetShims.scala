package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[parquet]` footer reads behind Spark's parquet
  * schema inference, for a caller that knows which file carries the
  * schema and wants it without the inference job.
  */
object GraftParquetShims {

  /** `file`'s Spark schema, read from its footer on the calling thread:
    * the schema Spark's inference takes from the same single file.
    */
  def footerSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file),
        ignoreCorruptFiles = false), spark)
}
