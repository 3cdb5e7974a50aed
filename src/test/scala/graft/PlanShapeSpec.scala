package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Generator
import graft.llm.Dedup
import graft.spec._

/** The plan invariants behind the engine's scaling claims, checked on
  * physical-plan trees through [[PlanShape]], each on the smallest input
  * that shows it. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** The executed plan of every query `body` runs, in order, including
    * the ones a lazy `localCheckpoint` plans when it is called. Listener
    * events arrive asynchronously but in order, so a marker query run
    * after `body` bounds the wait. */
  private def plansRun(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("graft_plan_marker").collect()
      val plans = Vector.newBuilder[SparkPlan]
      def next() = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      var p = next()
      while (p != null && !p.output.exists(_.name == "graft_plan_marker")) { plans += p; p = next() }
      assert(p != null, "the marker query never reached the listener")
      plans.result()
    } finally spark.listenerManager.unregister(listener)
  }

  private def docs: DataFrame = spark.range(40).select(col("id").as("doc_id"),
    concat(lit("the quick brown fox jumps over the lazy dog number "),
      (col("id") % 20).cast("string")).as("text"))

  test("generation with FK reconstruction and a random column: Range -> Project, no exchange, no join") {
    val plan = DataGenPlan(Seq(
      TableSpec("t", 1000, Seq(
        ColumnSpec("pk", "bigint", ColumnStrategy.Sequence()),
        ColumnSpec("v", "double", ColumnStrategy.Range(0, 1, continuous = true)),
        ColumnSpec("w", "string", ColumnStrategy.Values(Seq("a", "b", "c"), Seq(0.5, 0.3, 0.2))),
        ColumnSpec("p", "string", ColumnStrategy.Pattern("X-{digit:4}")),
        ColumnSpec("r", "bigint", ColumnStrategy.Range(1, 100, Some(BigDecimal(1))))
          .copy(random = true),
        ColumnSpec("fk", "bigint", ColumnStrategy.ForeignKey("parent", "id"))),
        partitions = Some(2)),
      TableSpec("parent", 100, Seq(ColumnSpec("id", "bigint", ColumnStrategy.Sequence())),
        primaryKey = Some(PrimaryKey("id")))), 42L)
    val shape = PlanShape(Generator.generate(spark, plan)("t"))
    assert(shape.exchanges.isEmpty, shape.plan.toString)
    assert(shape.joins.isEmpty, shape.plan.toString)
    assert(shape.nodes.exists(_.isInstanceOf[RangeExec]) &&
      shape.nodes.filter(_.children.isEmpty).forall(_.isInstanceOf[RangeExec]), shape.plan.toString)
  }

  test("an IOT-shaped table renders its format, pattern and template columns in the string kernel, inside codegen") {
    val shape = PlanShape(Generator.generate(spark, DataGenPlan(Seq(Bench.iotSpec(1000, 2)), 7L))("iot"))
    val kernels = shape.nodes.flatMap(_.expressions.flatMap(_.collect {
      case g: graft.functions.GenString => g }))
    assert(kernels.size == 3, shape.plan.toString)
    assert(shape.kernelInCodegen("graft_gen_string"), shape.plan.toString)
    assert(!shape.hasKernel("format_string"), shape.plan.toString)
  }

  test("near-dup operators shuffle only on their bucket key or on document ids") {
    val idCols = Set("id", "id_a", "id_b", "doc_id")
    def check(bucket: String)(run: DataFrame => DataFrame): Unit = {
      val plans = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        plansRun(run(docs).collect())
      }
      val shapes = plans.map(new PlanShape(_))
      val all = s"$bucket:\n${plans.mkString("\n")}"
      assert(shapes.forall(s => s.nodesOf[WindowExec].isEmpty &&
        s.nodesOf[BroadcastNestedLoopJoinExec].isEmpty &&
        s.nodesOf[CartesianProductExec].isEmpty), all)
      val keys = shapes.flatMap(_.hashKeys).map(_.flatMap(_.references.map(_.name)).toSet)
      assert(keys.contains(Set(bucket)), all)
      assert(keys.forall(k => k == Set(bucket) || k.exists(idCols)), s"${keys.mkString("; ")}\n$all")
      assert(shapes.flatMap(_.joins).exists(_.leftKeys.flatMap(_.references.map(_.name)) == Seq(bucket)), all)
    }
    check("bandkey")(Dedup.nearDupMinHash(_, "doc_id", "text", threshold = 0.5))
    check("piece")(Dedup.nearDupSimHash(_, "doc_id", "text"))
    check("shingle")(Dedup.ngramJaccardPairs(_, "doc_id", "text", threshold = 0.5))
  }

  test("q_join_broadcast broadcasts the customer dimension") {
    val shape = PlanShape(graft.queries.TableQueries.queries("q_join_broadcast")(spark, sf))
    val joins = shape.nodesOf[BroadcastHashJoinExec]
    assert(joins.exists { j =>
      val (build, streamed) =
        if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) (j.right, j.left)
        else (j.left, j.right)
      build.output.exists(_.name == "c_custkey") && streamed.output.exists(_.name == "o_custkey")
    }, shape.plan.toString)
  }

  test("q_filter_pushdown pushes its filters into the scan and reads only the columns it uses") {
    val shape = PlanShape(graft.queries.TableQueries.queries("q_filter_pushdown")(spark, sf))
    val scans = shape.scans
    assert(scans.size == 1, shape.plan.toString)
    assert(shape.pushedFilters.nonEmpty, shape.plan.toString)
    assert(scans.head.requiredSchema.fieldNames.toSet ==
      Set("l_shipdate", "l_quantity", "l_extendedprice"), shape.plan.toString)
  }

  test("the shingle-sketch and quality-keep kernels run inside whole-stage codegen") {
    // Executed first: adaptive plans form their codegen stages as they run.
    val sketched = Dedup.minHashSignatures(docs, "doc_id", "text")
    val kept = docs.where(graft.functions.TextStatsKernel.qualityKeep(col("text"), 0.5, 3))
    for ((df, kernel) <- Seq(sketched -> "graft_shingle_sketch", kept -> "graft_quality_keep")) {
      df.collect()
      val shape = PlanShape(df)
      assert(shape.kernelInCodegen(kernel), shape.plan.toString)
    }
  }
}
