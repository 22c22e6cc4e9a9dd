package org.apache.spark.sql.pkelbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` / `private[spark]` API: Column↔Expression
  * conversion (the public API for this disappeared in Spark 4's Column
  * refactor; extension libraries conventionally host a shim inside the sql
  * package namespace), the listener-bus drain and the cached-plan count. Custom expressions such as
  * `pkel.functions.IndelRatio` and the pair kernel's generator enter the
  * Column API through [[column]]. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus (`private[spark]`) so a test counting
    * Spark jobs via a SparkListener observes every event before asserting. */
  def waitForListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Plans the session's cache manager holds (`private[sql]`): a run that
    * releases what it persisted leaves this count as it found it. */
  def cachedPlans(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
