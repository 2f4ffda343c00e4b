package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Rows the driver already holds, as a DataFrame.
  *
  * `classic.Dataset.ofRows` is `private[sql]`; wrapping a prebuilt
  * [[LocalRelation]] through it skips what `createDataFrame` pays per
  * row (the external-Row encoder) and per call (a second analysis). */
object LocalFrame {
  /** `rows` (Catalyst values laid out as `schema`) as one local
    * relation, analyzed once. */
  def apply(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
