package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column↔Expression converters, so the
  * engine can expose custom Catalyst expressions through the public Column
  * API, and into its Dataset-of-a-plan factory. Lives under
  * `org.apache.spark.sql` solely for access; contains no Spark code. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A LocalRelation of `rows` (Catalyst values, laid out as `schema`):
    * the driver's rows as a frame, with no external-Row conversion. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
