package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression conversion
  * (Spark 4.x split Column off the Catalyst Expression; the classic converters
  * live behind package-private `org.apache.spark.sql.classic.ExpressionUtils`).
  * Living inside the org.apache.spark.sql package tree is the standard
  * technique used by public Spark extension libraries (e.g. spark-daria,
  * frameless) to expose native expressions as `Column`s.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, array element and map value nullable — the
    * form a file-source relation reads back.
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Register a native expression as a SQL function on this session. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      builder)
  }
}
