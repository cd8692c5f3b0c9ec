package org.apache.spark.sql.execution.datasources

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.sources.Filter

/** Visibility shim: DataSourceStrategy.translateFilter is
  * protected[datasources]; graft's file-pruning scan builder needs the
  * standard catalyst→source filter translation.
  */
object GraftFilterShim {
  def translate(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)

  /** V2 connector Predicate → V1 source Filter (PredicateUtils is
    * private[sql]); used by the table's batch scan to turn a runtime
    * filter (`In(col, …)` from dynamic pruning or runtime group
    * filtering) into the same Filter shape the driver-side file
    * pruning already understands.
    */
  def toV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}
