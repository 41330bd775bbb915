package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[parquet]` footer-to-schema conversion
  * (`ParquetFileFormat.readSchema`: the Spark row metadata when the
  * writer left it, else the parquet schema under the session's converter
  * settings), so the engine can read a table's schema from one footer on
  * the driver. Lives in Spark's package solely for access; contains no
  * Spark code. */
object FooterSchema {
  def of(footer: Footer, spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(Seq(footer), spark)
}
