package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column⇄Expression converters so graft's
  * native Catalyst expressions (graft.functions) can surface as Columns.
  * Lives in org.apache.spark.sql purely for access; no Spark internals
  * are modified.
  */
object GraftGlue {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL function into a LIVE session's registry (extensions
    * passed to builder() only apply to newly created sessions). */
  def registerFunction(spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    classic.ClassicConversions.castToImpl(spark).sessionState.functionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** A DataFrame over the rows of an RDD pipeline: a plain scan of
    * `rows`, so planning adds no exchange and no job of its own. */
  def internalFrame(spark: SparkSession, rows: org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    classic.ClassicConversions.castToImpl(spark).internalCreateDataFrame(rows, schema)

  /** Block until every listener event posted so far has been delivered:
    * listeners see events asynchronously, so counters read or reset
    * right after an action can miss its last events. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
