package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. `run` is the iteration the span belongs to;
  * `parent` is -1 for an iteration's root spans. */
final case class Span(id: Int, name: String, parent: Int, run: Int, startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer is the span name up to its first dot; the iteration root
    * (`iter`) and the untimed checks (`check`) are the benchmark's own. */
  def layer: String = name.takeWhile(_ != '.') match {
    case "iter" | "check" => "bench"
    case l => l
  }
}

/** Records spans around the benchmark's calls into each layer, in memory.
  * While `on` is false `span` only runs its body. Each open span is
  * published as a Spark local property, so the jobs it submits (and the
  * jobs of any thread it starts) are attributed to it by [[StageListener]]. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var on = false
  var run = 0
  private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), run, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  def ofRun(run: Int): Seq[Span] = spans.iterator.filter(_.run == run).toSeq

  /** Summed duration of the spans called `name` in one iteration. */
  def seconds(run: Int, name: String): Double =
    ofRun(run).filter(_.name == name).map(_.seconds).sum

  /** Ids of the spans under the iteration root (the timed work). */
  def timedIds(run: Int): Set[Int] = {
    val rs = ofRun(run)
    val roots = rs.filter(_.name == "iter").map(_.id).toSet
    rs.foldLeft(roots)((acc, s) => if (acc(s.parent)) acc + s.id else acc)
  }

  /** Self time per layer in one iteration's timed spans: each span's
    * duration minus the part its child spans cover. Children of one span
    * run one after another, so the covered part is their summed duration. */
  def selfSeconds(run: Int): Map[String, Double] = {
    val ids = timedIds(run)
    val rs = ofRun(run).filter(s => ids(s.id))
    val childSum = rs.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    rs.groupBy(_.layer).view
      .mapValues(_.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum).toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Aggregates task metrics per span. Stages are mapped to the span whose
  * id the submitting job carried in its local properties. */
final class StageListener extends SparkListener {
  final class Agg {
    var jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  }
  /** Per stage: task count, summed and largest task run time (ms). */
  final class StageTimes { var n, sumMs, maxMs = 0L }

  private val bySpan = mutable.Map.empty[Int, Agg]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTimes = mutable.Map.empty[Int, StageTimes]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { id =>
      e.stageIds.foreach(stageSpan(_) = id.toInt)
      bySpan.getOrElseUpdate(id.toInt, new Agg).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = bySpan.getOrElseUpdate(id, new Agg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val st = stageTimes.getOrElseUpdate(e.stageId, new StageTimes)
      st.n += 1
      st.sumMs += m.executorRunTime
      st.maxMs = math.max(st.maxMs, m.executorRunTime)
    }
  }

  /** Stage metrics of the jobs submitted under `spans`. `task_skew` is the
    * largest (slowest task / mean task) over stages with at least `minTasks`
    * tasks; 1 when no stage has that many. */
  def metrics(spans: Set[Int], minTasks: Int): Map[String, Double] = synchronized {
    val aggs = spans.toSeq.flatMap(bySpan.get)
    def sum(f: Agg => Long): Double = aggs.map(f).sum.toDouble
    val skews = stageSpan.collect {
      case (stage, span) if spans(span) => stageTimes.get(stage)
    }.flatten.filter(st => st.n >= minTasks && st.sumMs > 0)
      .map(st => st.maxMs.toDouble * st.n / st.sumMs)
    Map(
      "stage.jobs" -> sum(_.jobs),
      "stage.tasks" -> sum(_.tasks),
      "stage.task_s" -> sum(_.runMs) / 1e3,
      "stage.cpu_s" -> sum(_.cpuNs) / 1e9,
      "stage.gc_s" -> sum(_.gcMs) / 1e3,
      "stage.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
      "stage.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
      "stage.spill_mb" -> sum(_.spill) / 1e6,
      "stage.task_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
  }
}
