package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column<->Expression bridge. Spark 4 made ExpressionUtils private[sql];
  * extension libraries shipping custom Catalyst expressions conventionally
  * host a small adapter inside the sql package to convert between the public
  * Column API and catalyst Expressions. */
object GraftExprBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  /** [[org.apache.spark.sql.types.AbstractDataType]] is private[sql]; alias
    * it so graft expressions can declare `inputTypes` (ExpectsInputTypes). */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
  /** `StructType.asNullable` is private[spark]; file sources read every
    * column as nullable, whatever the writer declared. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
  /** The session-shared Hadoop conf (`SharedState` is private[sql]) that
    * every per-query conf, write job and streaming-query clone copies. */
  def sharedHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sharedState.hadoopConf
}
