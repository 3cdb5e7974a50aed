package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, Expression, In, InSet}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.sources.Filter

/** Structural facts about a physical plan, read from the plan tree rather
  * than its rendered string (which `spark.sql.maxPlanStringLength`
  * truncates, so an absence check on it can pass vacuously). The walk
  * descends adaptive-execution wrappers and query stages through Spark's
  * own [[AdaptiveSparkPlanHelper]] and includes subquery plans: before
  * execution it sees AQE's initial plan, after execution the final one. */
final class PlanShape(val plan: SparkPlan) extends AdaptiveSparkPlanHelper {

  /** Every node, subqueries included. */
  lazy val nodes: Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }

  /** The nodes of class `T` (e.g. `BroadcastHashJoinExec`, `WindowExec`). */
  def nodesOf[T <: SparkPlan](implicit t: ClassTag[T]): Seq[T] =
    nodes.collect { case t(p) => p }

  /** Every exchange: shuffles, broadcasts and reused exchanges. */
  def exchanges: Seq[SparkPlan] =
    nodes.filter(p => p.isInstanceOf[Exchange] || p.isInstanceOf[ReusedExchangeExec])

  /** The key expressions of each hash-partitioned shuffle, one entry per
    * exchange. */
  def hashKeys: Seq[Seq[Expression]] =
    nodesOf[ShuffleExchangeExec].map(_.outputPartitioning).collect {
      case h: HashPartitioning => h.expressions
    }

  /** Join operators of every kind (hash, sort-merge, nested-loop,
    * cartesian). */
  def joins: Seq[BaseJoinExec] = nodesOf[BaseJoinExec]

  /** The file scans; read `partitionFilters` and `requiredSchema` off
    * them. */
  def scans: Seq[FileSourceScanExec] = nodesOf[FileSourceScanExec]

  /** The source filters the scans push down. */
  def pushedFilters: Seq[Filter] = scans.flatMap(GraftSql.pushedFilters)

  /** The partition filters of every file scan that are fixed at planning
    * time. A dynamic-pruning subquery is left out: it is decided at run
    * time and may prune nothing. */
  def staticPartitionFilters: Seq[Expression] =
    scans.flatMap(_.partitionFilters).filterNot(_.isInstanceOf[DynamicPruningExpression])

  /** Whether some scan prunes partitions by a literal `IN` list. */
  def prunedByLiteralIn: Boolean = staticPartitionFilters.exists(_.exists {
    case In(_, list) => list.nonEmpty && list.forall(_.foldable)
    case InSet(_, set) => set.nonEmpty
    case _ => false
  })

  /** The nodes that evaluate the function named `name` (its `prettyName`,
    * e.g. `graft_shingle_sketch`), each paired with whether it runs fused
    * inside a whole-stage codegen stage. Adaptive execution forms codegen
    * stages only as it runs them, so for a plan with exchanges ask after
    * the frame has executed. */
  def kernelNodes(name: String): Seq[(SparkPlan, Boolean)] = {
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case q => q +: q.children.flatMap(fused)
    }
    val inStage = nodes.collect { case w: WholeStageCodegenExec => fused(w.child) }.flatten
    nodes.filter(_.expressions.exists(_.exists(_.prettyName == name)))
      .map(p => p -> inStage.exists(_ eq p))
  }

  /** `name` is evaluated somewhere in the plan. */
  def hasKernel(name: String): Boolean = kernelNodes(name).nonEmpty

  /** `name` is evaluated, and only inside whole-stage codegen. */
  def kernelInCodegen(name: String): Boolean = {
    val k = kernelNodes(name)
    k.nonEmpty && k.forall(_._2)
  }
}

object PlanShape {
  /** The shape of `df`'s executed plan. */
  def apply(df: DataFrame): PlanShape = new PlanShape(df.queryExecution.executedPlan)
}
