package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Column <-> catalyst Expression bridge. Spark 4 made these
 * conversions `private[sql]` (columnNodeSupport.scala); extension
 * libraries that define native Catalyst expressions conventionally
 * bridge them from inside the package, which is what this object does,
 * plus one `private[spark]` listener-bus call for the dev tools,
 * Spark's `private[spark]` hidden-file rule for driver-side listings,
 * and the `private[sql]` session clone and frame rebind behind
 * `graft.GraftSession.withConf`.
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

  /** A child session sharing `spark`'s SparkContext and cached data,
    * with a copy of its SQL conf, temp views, functions and query
    * execution listeners; conf set on the child stays on the child. */
  def cloneSession(spark: SparkSession): SparkSession =
    classic.ClassicConversions.castToImpl(spark).cloneSession()

  /** `ds`'s analyzed plan as a Dataset of session `s`: actions on the
    * result plan under `s`'s conf. */
  def rebind[T](s: SparkSession, ds: Dataset[T]): Dataset[T] = {
    val d = classic.ClassicConversions.castToImpl(ds)
    new classic.Dataset(classic.ClassicConversions.castToImpl(s), d.logicalPlan, d.encoder)
  }
}
