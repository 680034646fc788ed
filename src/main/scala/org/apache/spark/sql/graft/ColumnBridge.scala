package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ catalyst Expression
  * converters and the session FunctionRegistry — the one-file idiom
  * extension libraries use for custom expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function into an already-built session (the
    * per-session complement of wiring [[graft.GraftExtensions]] through
    * `spark.sql.extensions` at session build time).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder)

  /** Rebuild a DataFrame over an InternalRow RDD (`private[sql]`
    * `internalCreateDataFrame`) — lets an iterative loop materialize a
    * round's RDD with `localCheckpoint()+count()` in ONE job (the count
    * both triggers the checkpoint and returns the size) where
    * `Dataset.localCheckpoint(eager)` followed by `.count()` costs two.
    */
  def internalDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Spark's own type equality modulo nullability, nested fields included
    * (`private[sql]` `DataType.equalsIgnoreNullability`).
    */
  def equalsIgnoreNullability(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.types.DataType.equalsIgnoreNullability(a, b)
}
