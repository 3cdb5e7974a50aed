package org.apache.spark.perfbenchshim

import com.codahale.metrics.Histogram
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two `private[spark]` surfaces the benchmark reads: Spark's codegen
  * histograms and the listener bus drain. Nothing here changes what Spark
  * computes. */
object SparkInternals {

  /** Blocks until every posted listener event has been delivered, so
    * per-iteration task metrics are complete when they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Cumulative codegen histograms of this JVM. Each histogram keeps a
    * 1028-sample reservoir; while a JVM has compiled fewer classes than
    * that, the reservoir holds every sample and multiset differences of
    * two snapshots are exact. */
  final case class Codegen(compiles: Long, compileMs: Array[Long], methodBytes: Array[Long]) {
    /** (compiles, compile ms, largest method bytecode) since `before`. */
    def since(before: Codegen): (Long, Long, Long) = {
      def added(now: Array[Long], was: Array[Long]): Seq[Long] =
        now.toSeq.diff(was.toSeq)
      (compiles - before.compiles, added(compileMs, before.compileMs).sum,
        (0L +: added(methodBytes, before.methodBytes)).max)
    }
  }

  private def values(h: Histogram): Array[Long] = h.getSnapshot.getValues

  def codegen(): Codegen = Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    values(CodegenMetrics.METRIC_COMPILATION_TIME),
    values(CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE))
}
