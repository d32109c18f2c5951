package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column ↔ Expression conversion private[sql]
 * (ExpressionUtils in columnNodeSupport.scala); custom Catalyst
 * expressions still need it, so this is the conventional in-package
 * bridge shim. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether a dataframe's analyzed plan currently has a cache-manager
   * entry (lookupCachedData is private[sql]; cache-lifecycle specs need
   * to observe entries appear and disappear). */
  def isCached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined

  /** Register a catalyst function builder on a LIVE session (extensions
   * hooks only run at session build; sessionState is private[sql]). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       name: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)

  /** Block until every event posted so far has reached its listeners
   * (listenerBus is private[spark]), so a counting listener read right
   * after a job reports that job. */
  def awaitListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
