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

  /** A new session sharing `spark`'s context, cache and catalog, with a
    * copy of its conf and functions. Its query executions reach the
    * listeners `spark` has when each one ends — the observations of frames
    * observed on `spark` complete through them — instead of copies of the
    * listeners it had when cloned.
    */
  def cloneSession(spark: SparkSession): SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    val home = spark.listenerManager
    home.listListeners().foreach(clone.listenerManager.unregister)
    clone.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = home.listListeners().foreach(_.onSuccess(f, qe, ns))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = home.listListeners().foreach(_.onFailure(f, qe, e))
    })
    clone
  }

  /** A frame over `plan` bound to `spark`: its actions plan and execute
    * under `spark`'s conf.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

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
