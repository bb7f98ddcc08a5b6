package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Column <-> catalyst Expression bridge. Spark 4 made these
 * conversions `private[sql]` (columnNodeSupport.scala); extension
 * libraries that define native Catalyst expressions conventionally
 * bridge them from inside the package, which is what this object does,
 * plus one `private[spark]` listener-bus call for the dev tools and
 * Spark's `private[spark]` hidden-file rule for driver-side listings.
 */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether Spark's file listing drops a file of this name (hidden
    * `_`/`.` names other than the parquet summary files). */
  def skippedByFileListing(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
