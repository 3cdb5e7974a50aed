package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Per-query optimization profiler (r18): times named SparkEntry queries with
  * the SAME methodology as graft.Bench — noop full-materialization sink, same
  * session config, untimed sf0.001 warmup pass — and optionally dumps the
  * formatted plan. Usage:
  *   runMain graft.tools.DriveProfileQ [--explain[=dir]] [--trials=N] q1 q2 ...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object DriveProfileQ {
  private def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val explainDir = args.collectFirst {
      case a if a.startsWith("--explain=") => a.stripPrefix("--explain=")
      case a if a == "--explain" => "plans/r18"
    }
    val trials = args.collectFirst {
      case a if a.startsWith("--trials=") => a.stripPrefix("--trials=").toInt
    }.getOrElse(3)
    val suffix = args.collectFirst {
      case a if a.startsWith("--suffix=") => a.stripPrefix("--suffix=")
    }.getOrElse("")
    // --conf k=v (repeatable): extra session config for A/B runs (e.g. the
    // streaming state-store provider); applied last, so it overrides the
    // tuning defaults and the fixed session configs.
    val extraConf = args.collect {
      case a if a.startsWith("--conf ") || a.startsWith("--conf=") =>
        a.stripPrefix("--conf=").stripPrefix("--conf ").split("=", 2) match {
          case Array(k, v) => (k, v)
          case _ => sys.error(s"bad --conf: $a")
        }
    }
    val names = args.filterNot(_.startsWith("--"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Mirror Bench: point the working set at tmpfs so temp parquet writes
    // do not contend with the shared disk.
    val tmpfs = new java.io.File("/dev/shm", "graft_profile_tmp")
    if (tmpfs.isDirectory || tmpfs.mkdirs())
      System.setProperty("java.io.tmpdir", tmpfs.getAbsolutePath)
    val b0 = graft.SessionTuning.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", tmpfs.getAbsolutePath))
      .config("spark.sql.maxPlanStringLength",
        sys.props.getOrElse("graft.planLen", "8192"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .appName("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Job/stage/task accounting: attributes a query's wall to scheduling
    // (many tiny jobs) vs compute (task time) without the UI.
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stagesN = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stagesN.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    def snapCounters(): (Long, Long, Long, Long) =
      (jobs.get(), stagesN.get(), tasks.get(), taskMs.get())

    materialize(spark.range(1000000).toDF("id"))
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // Warmup: compile + JIT at sf0.001 then sf0.01 (mirrors Bench).
      try materialize(fn(spark, warmDir)) catch { case NonFatal(_) => () }
      try materialize(fn(spark, "/root/testdata/sf0.01")) catch { case NonFatal(_) => () }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      def markers(): (Long, Long) =
        try {
          val src = scala.io.Source.fromFile("/proc/stat")
          val cpu = try src.getLines().find(_.startsWith("cpu "))
            .map(_.trim.split("\\s+")).getOrElse(Array.empty[String])
          finally src.close()
          val busy = Seq(1, 2, 3, 6, 7, 8, 9, 10)
            .filter(_ < cpu.length).map(cpu(_).toLong).sum
          val steal = if (cpu.length > 8) cpu(8).toLong else -1L
          val selfSrc = scala.io.Source.fromFile("/proc/self/stat")
          val self = try {
            val line = selfSrc.getLines().next()
            val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
            rest(11).toLong + rest(12).toLong
          } finally selfSrc.close()
          (steal, busy - self)
        } catch { case NonFatal(_) => (-1L, -1L) }
      val runs = (1 to trials).map { t =>
        val m0 = markers()
        val c0 = snapCounters()
        val t0 = System.nanoTime()
        materialize(fn(spark, sf))
        val w = (System.nanoTime() - t0) / 1e9
        val c1 = snapCounters()
        if (t == 1)
          println(s"  jobs=${c1._1 - c0._1} stages=${c1._2 - c0._2} " +
            s"tasks=${c1._3 - c0._3} taskSec=${(c1._4 - c0._4) / 1000.0}")
        val m1 = markers()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        val st = StageLog.drain()
        if (t == 1 && st.nonEmpty)
          println("  stages: " + st.map { case (n, v) => f"$n=$v%.2f" }.mkString(", "))
        (w, (m1._1 - m0._1) / 100.0, math.max(0.0, (m1._2 - m0._2) / 100.0))
      }
      val walls = runs.map(_._1)
      println(f"PROFILE $name trials=${walls.map(w => f"$w%.2f").mkString(",")} " +
        f"best=${walls.min}%.2f s steal=${runs.map(r => f"${r._2}%.1f").mkString(",")} " +
        f"other=${runs.map(r => f"${r._3}%.1f").mkString(",")}")
      explainDir.foreach { dir =>
        val df = fn(spark, sf)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val f = new java.io.File(dir)
        f.mkdirs()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/${name}$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"  plan -> $dir/${name}$suffix.txt")
      }
    }
    spark.stop()
  }
}
