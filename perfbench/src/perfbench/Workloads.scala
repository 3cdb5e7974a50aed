package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.engine.Generator
import graft.io.Writer
import graft.llm.{Pipeline, TextAnalysis}
import graft.plan.Planner
import graft.spec.{DataGenPlan, OutputDataset}

/** One iteration: its index, the tracer, and the layer values the workload
  * reads off the program's public results. */
final class Iter(val index: Int, val tracer: Tracer) {
  val layers = mutable.Map.empty[String, Double]
  def add(key: String, v: Double): Unit = layers(key) = layers.getOrElse(key, 0.0) + v
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

abstract class Workload {
  /** The timed body of one iteration; returns the rows it processed. */
  def iterate(it: Iter): Long
  /** Untimed checks of the iteration's output; the failures, if any. */
  def check(it: Iter): Seq[String]
  /** Output bytes per row, as of the last check. */
  def bytesPerRow: Double
  /** Frees what an iteration left behind (untimed). */
  def cleanup(it: Iter): Unit = ()
  /** Layer numbers measured once after the loop, in traced runs. */
  def afterLoop(): Map[String, Double] = Map.empty
}

object Workload {
  val Names = Seq("gen_iot", "gen_star_write", "curate")

  /** How often set-up runs; `setup_s` is the median. The gen set-ups
    * (session start and building the frames) last a fraction of a second
    * and get faster over the first repeats as the JIT warms, so they repeat
    * often enough for the median to sit past that. Curate's writes the
    * corpus and lasts over a second, and a curate run must leave time for
    * three long iterations. */
  def setupRepeats(name: String): Int = if (name == "curate") 3 else 15

  /** Builds a workload's inputs under `dir` from `seed`. */
  def prepare(name: String, spark: SparkSession, seed: Long, dir: File,
      expected: Map[Long, BigDecimal]): Workload = name match {
    case "gen_iot" => new GenIot(spark, seed, expected.get(seed))
    case "gen_star_write" => new GenStarWrite(spark, seed, dir)
    case "curate" => new Curate(spark, seed, dir)
  }

  /** (operator nodes, exchanges) of a frame's physical plan. Forcing the
    * plan here is extra planning work, so only traced iterations call it. */
  def planShape(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val nodes = plan.collect {
      case p if !p.isInstanceOf[WholeStageCodegenExec] && !p.isInstanceOf[InputAdapter] => p
    }
    (nodes.size, nodes.count(_.isInstanceOf[Exchange]))
  }

  def shape(it: Iter, dfs: Iterable[DataFrame]): Unit =
    if (it.tracer.on) it.span("engine.optimize") {
      dfs.foreach { df =>
        val (nodes, exchanges) = planShape(df)
        it.add("engine.plan_nodes", nodes)
        it.add("engine.exchanges", exchanges)
      }
    }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** IOT device events generated into the `noop` sink: expression work only,
  * no shuffle and no write. Set-up builds the frame once, which resolves
  * the plan. */
final class GenIot(spark: SparkSession, seed: Long, recorded: Option[BigDecimal])
    extends Workload {
  val rows: Long = GenIot.Rows
  private val plan = GenIot.plan(seed, spark.sparkContext.defaultParallelism)
  Generator.generate(spark, plan)
  private var written: Option[Observation] = None
  private var firstSum: Option[BigDecimal] = None
  private var bytes = 0.0

  def iterate(it: Iter): Long = {
    if (it.tracer.on) it.span("plan.resolve")(Planner.resolveOrThrow(plan))
    val df = it.span("engine.build")(Generator.generate(spark, plan)("iot"))
    Workload.shape(it, Seq(df))
    // The rows that reach the sink, counted on the way in.
    val seen = Observation("written")
    written = Some(seen)
    it.span("engine.execute")(df.observe(seen, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save())
    rows
  }

  def check(it: Iter): Seq[String] = {
    val sunk = written.get.get("rows").asInstanceOf[Long]
    val (n, sum, payload) = GenIot.checksum(spark, plan)
    bytes = payload.toDouble / n
    if (firstSum.isEmpty) firstSum = Some(sum)
    Seq(
      Option.when(sunk != rows)(s"$sunk rows reached the sink, want $rows"),
      Option.when(n != rows)(s"checksum query counted $n rows, want $rows"),
      Option.when(!firstSum.contains(sum))(s"checksum $sum != first iteration's ${firstSum.get}"),
      recorded.filter(_ != sum).map(r => s"checksum $sum != recorded $r for seed $seed")
    ).flatten
  }

  def bytesPerRow: Double = bytes
}

object GenIot {
  val Rows = 1000000L

  /** The generated rows do not depend on the partition count. */
  def plan(seed: Long, cores: Int): DataGenPlan =
    DataGenPlan(Seq(Inputs.iot(Rows, 4 * cores)), seed)

  /** (rows, sum of xxhash64 over every output row, UTF-8 payload bytes).
    * The payload counts string bytes plus the fixed widths of the other
    * columns. */
  def checksum(spark: SparkSession, plan: DataGenPlan): (Long, BigDecimal, Long) = {
    val df = Generator.generate(spark, plan)("iot")
    val widths = df.schema.fields.toSeq.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType) octet_length(col(f.name)).cast("long")
      else lit(f.dataType.defaultSize.toLong)
    }
    val r = df.agg(count(lit(1)),
      sum(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).cast("decimal(38,0)")),
      sum(widths.reduce(_ + _))).collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)), r.getLong(2))
  }
}

/** The star schema planned, generated with FK reconstruction and written
  * to parquet table by table through `Writer.writeBatch` with the
  * generator's encoding hints. Set-up builds the frames once, which
  * resolves the plan. */
final class GenStarWrite(spark: SparkSession, seed: Long, dir: File) extends Workload {
  private val tables = Inputs.star(GenStarWrite.Scale)
  private val plan = DataGenPlan(tables, seed)
  Generator.generate(spark, plan)
  val rows: Long = tables.map(_.rows).sum
  private def out(it: Iter) = new File(dir, s"out-${it.index}")
  private var bytes = 0.0

  def iterate(it: Iter): Long = {
    if (it.tracer.on) it.span("plan.resolve")(Planner.resolveOrThrow(plan))
    val dfs = it.span("engine.build")(Generator.generate(spark, plan))
    Workload.shape(it, dfs.values)
    val tiny = tables.flatMap { t =>
      val t0 = System.nanoTime()
      it.span("io.write")(Writer.writeBatch(dfs(t.name),
        OutputDataset(new File(out(it), t.name).getPath,
          options = Writer.parquetEncodingHints(t))))
      Option.when(t.rows < GenStarWrite.TinyRows)((System.nanoTime() - t0) / 1e9)
    }
    it.layers("io.small_write_s") = Stats.median(tiny)
    rows
  }

  def check(it: Iter): Seq[String] = {
    val files = tables.flatMap { t =>
      Option(new File(out(it), t.name).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-"))
    }
    val size = files.map(_.length).sum
    bytes = size.toDouble / rows
    it.add("io.files", files.size)
    it.add("io.mb", size / 1e6)
    val read = tables.map(t => t.name -> spark.read.parquet(new File(out(it), t.name).getPath)).toMap
    // Rows and distinct keys of every table, then the orphans of every FK.
    val got = tables.map(t => read(t.name).select(lit(t.name).as("t"),
        col(t.primaryKey.get.column).cast("string").as("k"))).reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)), countDistinct(col("k"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val orphans = GenStarWrite.ForeignKeys.map { case (child, fk, parent, pk) =>
      read(child).join(broadcast(read(parent).select(col(pk).as("__pk"))),
        col(fk) === col("__pk"), "left_anti").select(lit(s"$child.$fk -> $parent.$pk").as("fk"))
    }.reduce(_ union _).groupBy("fk").count().collect()
      .map(r => s"${r.getString(0)}: ${r.getLong(1)} orphans").toSeq
    val counts = tables.flatMap { t =>
      val (n, distinct) = got.getOrElse(t.name, (0L, 0L))
      Seq(Option.when(n != t.rows)(s"${t.name}: $n rows read back, want ${t.rows}"),
        Option.when(distinct != t.rows)(s"${t.name}: $distinct distinct keys, want ${t.rows}"))
    }.flatten
    counts ++ orphans
  }

  override def cleanup(it: Iter): Unit = Workload.deleteTree(out(it))

  def bytesPerRow: Double = bytes
}

object GenStarWrite {
  /** Multiplies the fixture's customers, orders and order_items rows;
    * products are fixed at 1000 (the fixture's 100 times ten). */
  val Scale = 50
  /** Tables below this many rows count as tiny writes. */
  val TinyRows = 10000L
  val ForeignKeys = Seq(
    ("customers", "region_id", "regions", "region_id"),
    ("orders", "customer_id", "customers", "customer_id"),
    ("orders", "product_id", "products", "product_id"),
    ("order_items", "order_id", "orders", "order_id"),
    ("order_items", "product_id", "products", "product_id"))
}

/** `Pipeline.curate` with its default `Config` over the planted corpus, read
  * from the parquet files set-up wrote, with 64 eval docs for
  * decontamination. */
final class Curate(spark: SparkSession, seed: Long, dir: File) extends Workload {
  val rows: Long = Curate.Docs
  private val corpusDir = new File(dir, "corpus").getPath
  private val evalDir = new File(dir, "eval").getPath
  Inputs.corpus(spark, rows, seed).write.parquet(corpusDir)
  Inputs.evalDocs(spark, rows, seed).write.parquet(evalDir)

  private var result: Option[Pipeline.Result] = None
  private var stats: Seq[(String, Long, Double, Long)] = Nil
  private var bytes = 0.0

  def iterate(it: Iter): Long = {
    val (corpus, eval) = it.span("io.read")(
      (spark.read.parquet(corpusDir), spark.read.parquet(evalDir)))
    val r = it.span("llm.curate")(Pipeline.curate(corpus, "doc_id", "text", Some(eval)))
    result = Some(r)
    stats = it.span("llm.stats")(r.stats.orderBy("ord").collect().toSeq)
      .map(x => (x.getString(1), x.getLong(2), x.getDouble(4), x.getLong(5)))
    stats.filter(_._1 != "input").foreach { case (stage, out, wall, capped) =>
      it.add(s"llm.${stage}_s", wall)
      it.add(s"llm.${stage}_rows", out.toDouble)
      it.add("llm.capped_rows", capped.toDouble)
    }
    rows
  }

  def check(it: Iter): Seq[String] = {
    val got = stats.map(s => s._1 -> s._2).toMap
    val survival = Inputs.expectedSurvivors(rows).flatMap { case (stage, want) =>
      Option.when(!got.get(stage).contains(want))(s"$stage kept ${got.get(stage)}, planted $want")
    }
    val capped = stats.filter(_._4 != 0).map(s => s"${s._1} capped ${s._4} rows")
    val docs = result.get.docs
    val r = docs.agg(count(lit(1)), coalesce(sum(octet_length(col("text")).cast("long")), lit(0L)))
      .collect()(0)
    bytes = r.getLong(1).toDouble / rows
    val want = Inputs.expectedSurvivors(rows).last._2
    survival ++ capped ++
      Option.when(r.getLong(0) != want)(s"curated ${r.getLong(0)} docs, planted $want")
  }

  override def cleanup(it: Iter): Unit = {
    result.foreach(r => org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(r.docs)
      .foreach(_.unpersist(blocking = true)))
    result = None
  }

  def bytesPerRow: Double = bytes

  /** Rows/s of each text kernel the curation stages call, over the cached
    * corpus (the scan of the cached frame is included in each timing). */
  override def afterLoop(): Map[String, Double] = {
    val sample = spark.read.parquet(corpusDir).select("text").cache()
    val n = sample.count()
    def rate(k: Column): Double = {
      val times = (1 to Curate.KernelReps).map { _ =>
        val t0 = System.nanoTime()
        sample.select(k.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      n / Stats.median(times)
    }
    val out = Curate.Kernels.map { case (name, k) => s"kernel.$name.rows_per_s" -> rate(k(col("text"))) }
    sample.unpersist(blocking = true)
    out.toMap
  }
}

object Curate {
  val Docs = 40000L
  val KernelReps = 5

  /** The text kernels of the curation stages, by name. */
  val Kernels: Seq[(String, Column => Column)] = Seq(
    "fix_encoding" -> (t => graft.functions.NormalizeKernel.nfkc(
      graft.functions.MojibakeKernel.fixMojibake(t))),
    "html_to_text" -> (t => graft.functions.HtmlKernel.htmlToText(t)),
    "language_id" -> (t => TextAnalysis.languageId(t)),
    "quality_score" -> (t => TextAnalysis.qualityScore(t)),
    "fingerprint" -> (t => TextAnalysis.fingerprint(t)),
    "shingle_sketch" -> (t => graft.functions.ShingleSketch.sketch(
      split(trim(lower(t)), "\\s+"), 3, 128)))
}
