package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbenchshim.SparkInternals
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** JSON for the result line, the detail files and the recorded checksums,
  * through the Jackson that ships with Spark. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** What one iteration measured. `wallS` and `cpuS` cover the timed body
  * only; the markers cover the whole iteration including its checks.
  * `retainedMb` is read right after the timed body, `peakRssMb` after the
  * checks. */
final case class IterRecord(index: Int, traced: Boolean, rows: Long,
    wallS: Double, cpuS: Double, checkS: Double, failures: Seq[String], markers: Box.Markers,
    retainedMb: Double, peakRssMb: Double, layers: Map[String, Double])

/** Runs one workload: set-up (repeated, median reported), one cold
  * iteration, then warm iterations for the requested seconds, each checked
  * for correctness. Prints one result line, `PERFBENCH_RESULT {json}`.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  * <results dir> <recorded iot checksums file>` */
object Main {
  val EndToEnd = Seq("setup_s" -> "s", "cold_s" -> "s", "rows_per_s" -> "rows/s",
    "cpu_us_per_row" -> "us", "retained_mb" -> "MB", "bytes_per_row" -> "B")

  val LlmStages = Seq("fix_encoding", "html_extract", "langid_filter", "quality_filter",
    "line_dedup", "exact_dedup", "near_dedup", "decontaminate")

  /** Per-layer metrics with their units, in the order they are printed. */
  val PerLayer: Seq[(String, String)] = Seq(
    "plan.resolve_s" -> "s",
    "engine.build_s" -> "s", "engine.optimize_s" -> "s",
    "engine.plan_nodes" -> "count", "engine.exchanges" -> "count",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "codegen.max_method_bytes" -> "B",
    "stage.jobs" -> "count", "stage.tasks" -> "count", "stage.task_s" -> "s",
    "stage.cpu_s" -> "s", "stage.gc_s" -> "s", "stage.shuffle_write_mb" -> "MB",
    "stage.shuffle_read_mb" -> "MB", "stage.spill_mb" -> "MB", "stage.task_skew" -> "ratio",
    "io.write_s" -> "s", "io.files" -> "count", "io.mb" -> "MB", "io.small_write_s" -> "s") ++
    LlmStages.flatMap(s => Seq(s"llm.${s}_s" -> "s", s"llm.${s}_rows" -> "count")) ++
    Seq("llm.capped_rows" -> "count") ++
    Curate.Kernels.map(k => s"kernel.${k._1}.rows_per_s" -> "rows/s") ++
    Seq("bench", "plan", "engine", "io", "llm").map(l => s"self.${l}_s" -> "s") ++
    Seq("mem.peak_rss_mb" -> "MB") ++
    Seq("trace.rows_per_s_traced" -> "rows/s", "trace.rows_per_s_untraced" -> "rows/s",
      "trace.overhead_pct" -> "%")

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    graft.SessionTuning.tune(SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench"))
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // One shuffle partition per core, as the repository's Bench and
      // Verify sessions set it: at the session default of 200 the
      // near-dup stage of a 40k-doc curate run spends 5x longer.
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
  }

  def readRecorded(file: File): Map[Long, BigDecimal] =
    if (!file.isFile) Map.empty
    else {
      val root = Json.mapper.readTree(file)
      if (root.path("rows").asLong(-1L) != GenIot.Rows) Map.empty
      else root.path("checksums").properties().asScala
        .map(e => e.getKey.toLong -> BigDecimal(e.getValue.asText)).toMap
    }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, workArg, resultsArg, recordedArg) = args
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val work = new File(workArg)
    val inputs = new File(work, "inputs")
    val started = System.nanoTime()
    val probeStart = Box.probe()

    // Set-up: session start until the inputs are ready, repeated; every
    // repeat starts from a collected heap, rebuilds the inputs from nothing,
    // and the last one is kept.
    val recorded = readRecorded(new File(recordedArg))
    var spark: SparkSession = null
    var wl: Workload = null
    val setups = (1 to Workload.setupRepeats(workload)).map { _ =>
      if (spark != null) spark.stop()
      Workload.deleteTree(inputs)
      System.gc()
      val t0 = System.nanoTime()
      spark = session(work)
      spark.sparkContext.setLogLevel("ERROR")
      inputs.mkdirs()
      wl = Workload.prepare(workload, spark, seed, inputs, recorded)
      (System.nanoTime() - t0) / 1e9
    }

    val setupRss = Box.peakRssMb()
    val tracer = new Tracer(spark.sparkContext)
    val listener = new StageListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val cores = spark.sparkContext.defaultParallelism

    def iteration(index: Int, traced: Boolean): IterRecord = {
      tracer.on = traced
      tracer.run = index
      val it = new Iter(index, tracer)
      val cg0 = SparkInternals.codegen()
      // Every timed body starts from a collected heap, so garbage the
      // previous iteration and its checks left does not land in this one.
      System.gc()
      val mark0 = Box.mark()
      val cpu0 = Box.cpuNs()
      val t0 = System.nanoTime()
      val (rows, error) =
        try (tracer.span("iter")(wl.iterate(it)), None)
        catch { case NonFatal(e) => (0L, Some(s"iteration threw $e")) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Box.cpuNs() - cpu0) / 1e9
      val (compiles, compileMs, maxMethod) = SparkInternals.codegen().since(cg0)
      val retained = Box.retainedMb()
      val t1 = System.nanoTime()
      val failures = error.toSeq ++ (
        if (error.nonEmpty) Nil
        else try tracer.span("check")(wl.check(it))
        catch { case NonFatal(e) => Seq(s"check threw $e") })
      try wl.cleanup(it) catch { case NonFatal(_) => () }
      val checkS = (System.nanoTime() - t1) / 1e9
      if (traced) {
        SparkInternals.drainListeners(spark.sparkContext)
        it.layers("codegen.compiles") = compiles.toDouble
        it.layers("codegen.compile_ms") = compileMs.toDouble
        it.layers("codegen.max_method_bytes") = maxMethod.toDouble
        Seq("plan.resolve", "engine.build", "engine.optimize", "io.write").foreach(n =>
          it.layers(n + "_s") = tracer.seconds(index, n))
        it.layers ++= listener.metrics(tracer.timedIds(index), cores)
        tracer.selfSeconds(index).foreach { case (l, s) => it.layers(s"self.${l}_s") = s }
      }
      val rec = IterRecord(index, traced, rows, wall, cpu, checkS, failures,
        mark0.to(Box.mark()), retained, Box.peakRssMb(), it.layers.toMap)
      System.err.println(f"perfbench: iter $index%d ${if (traced) "traced" else "plain"} " +
        f"wall=$wall%.3fs check=$checkS%.3fs retained=$retained%.0fMB rows=$rows ${if (failures.isEmpty) "ok" else failures.mkString("FAIL: ", "; ", "")}")
      rec
    }

    val cold = iteration(0, trace)
    val warm = mutable.ArrayBuffer.empty[IterRecord]
    val warmStart = System.nanoTime()
    // At least two warm iterations, so a median never rests on one. Traced
    // runs alternate plain and traced warm iterations as P T T P, so
    // warm-up drift does not bias the tracing-overhead comparison.
    while (warm.size < 2 || (System.nanoTime() - warmStart) / 1e9 < seconds)
      warm += iteration(warm.size + 1, trace && Set(1, 2)(warm.size % 4))
    val after = if (trace) wl.afterLoop() else Map.empty[String, Double]
    val probeEnd = Box.probe()
    val all = cold +: warm.toSeq
    val failed = all.count(_.failures.nonEmpty)
    val good = warm.filter(_.failures.isEmpty).toSeq
    def rate(rs: Seq[IterRecord]): Double = Stats.median(rs.map(r => r.rows / r.wallS))

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val values = Map(
          "setup_s" -> Stats.median(setups),
          "cold_s" -> cold.wallS,
          "rows_per_s" -> rate(good),
          "cpu_us_per_row" -> Stats.median(good.map(r => r.cpuS * 1e6 / r.rows)),
          // Over every iteration, the cold one too: a single iteration can
          // read 100 MB high, and curate has only three.
          "retained_mb" -> Stats.median(all.filter(_.failures.isEmpty).map(_.retainedMb)),
          "bytes_per_row" -> wl.bytesPerRow)
        EndToEnd.map { case (k, u) => (k, u, values(k)) }
      } else {
        val traced = good.filter(_.traced)
        val plain = good.filterNot(_.traced)
        val medians = PerLayer.map(_._1).map { k =>
          k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))
        }.toMap
        val runWide = Map(
          "mem.peak_rss_mb" -> Box.peakRssMb(),
          "trace.rows_per_s_traced" -> rate(traced),
          "trace.rows_per_s_untraced" -> rate(plain),
          "trace.overhead_pct" -> (rate(plain) / rate(traced) - 1) * 100)
        val fromCold = PerLayer.map(_._1).filter(_.startsWith("codegen."))
          .map(k => k -> cold.layers.getOrElse(k, 0.0)).toMap
        PerLayer.map { case (k, u) =>
          (k, u, runWide.orElse(after).orElse(fromCold).applyOrElse(k, medians))
        }
      }

    val detail = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "setup_s" -> setups, "setup_peak_rss_mb" -> setupRss,
      "probe_start" -> Map("mops" -> probeStart._1, "gbps" -> probeStart._2),
      "probe_end" -> Map("mops" -> probeEnd._1, "gbps" -> probeEnd._2),
      "total_s" -> (System.nanoTime() - started) / 1e9,
      "iterations" -> all,
      "metrics" -> ListMap(metrics.map(m => m._1 -> m._3): _*))
    val results = new File(resultsArg)
    results.mkdirs()
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    Files.write(new File(results, s"detail-$tag.json").toPath, Json(detail).getBytes(UTF_8))
    if (trace)
      Files.write(new File(results, s"spans-$tag.json").toPath, Json(tracer.spans.map(s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
          "start_s" -> (s.startNs - started) / 1e9, "end_s" -> (s.endNs - started) / 1e9)))
        .getBytes(UTF_8))

    val markers = all.map(_.markers)
    System.err.println(f"perfbench: $workload seed=$seed iterations=${all.size} failed=$failed " +
      f"probe start ${probeStart._1}%.0f Mops ${probeStart._2}%.1f GB/s, end ${probeEnd._1}%.0f Mops " +
      f"${probeEnd._2}%.1f GB/s; steal ${markers.map(_.stealS).sum}%.2fs other-cpu " +
      f"${markers.map(_.otherCpuS).sum}%.2fs gc ${markers.map(_.gcS).sum}%.2fs")
    val result = ListMap(
      "correct" -> (failed == 0 && good.nonEmpty),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, u, v) => k -> ListMap("value" -> v, "unit" -> u) }: _*))
    println("PERFBENCH_RESULT " + Json(result))
    spark.stop()
  }
}
