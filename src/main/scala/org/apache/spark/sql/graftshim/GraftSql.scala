package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface: wrapping a custom Catalyst
  * `Expression` into a public `Column` (and back) has no public API in
  * Spark 4's classic frontend — `ExpressionUtils.column` is the blessed
  * internal route (the built-in `functions` object uses the same path).
  * The other members below each name the internal they read.
  */
object GraftSql {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The RDD a `localCheckpoint(eager = true)` pinned for this Dataset, if
    * any: the checkpointed plan is a `LogicalRDD` leaf wrapping the
    * persisted internal-row RDD. Lets callers unpersist exactly their own
    * checkpoint blocks instead of diffing the context-wide persistent-RDD
    * registry (which misclassifies RDDs persisted concurrently by anyone
    * else on the session). */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** The source filters a file scan pushes down (its `PushedFilters`):
    * `pushedDownFilters` is protected, and `translateFilter` over the
    * scan's data filters is how it computes them. */
  def pushedFilters(scan: org.apache.spark.sql.execution.FileSourceScanExec)
      : Seq[org.apache.spark.sql.sources.Filter] =
    scan.dataFilters.flatMap(org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(_, supportNestedPredicatePushdown = true))
}
