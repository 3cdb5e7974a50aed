package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BasePredicate, BindReferences, Expression, Nondeterministic, Predicate => CatalystPredicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.PlanJson
import graft.spec.DataGenPlan

/** DataSource V2 `TableProvider` exposing the generator to SQL-first users:
  *
  * {{{
  *   spark.read.format("graft").option("plan", planJsonOrYaml).load()
  *   CREATE TABLE t USING graft OPTIONS (plan '...', table 'orders');
  * }}}
  *
  * Options: `plan` (inline JSON/YAML plan text) or `planPath` (file path);
  * `table` selects a table when the plan declares several (optional when it
  * declares exactly one).
  *
  * Read path: the provider compiles the plan with the ordinary engine
  * ([[graft.engine.Generator]]) and then EXTRACTS the compiled pipeline —
  * generation plans are always `Range -> Project/Filter*` (PlanShapeSpec:
  * zero-Exchange, zero-join, FK reconstruction included) — into bound
  * Catalyst expression layers that each partition reader evaluates over its
  * own id slice. No shuffle, no driver materialization; parallelism is the
  * plan's partition count, and required-column pruning drops unused
  * generator expressions before they are ever evaluated.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftDataSource.compile(options.asCaseSensitiveMap().asScala.toMap).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftTable(properties.asScala.toMap)
}

object GraftDataSource {

  /** One bound evaluation layer of the extracted pipeline. */
  sealed trait Step extends Serializable
  final case class ProjectStep(exprs: Seq[Expression]) extends Step
  final case class FilterStep(cond: Expression) extends Step

  /** Serializable program: evaluate `steps` bottom-up over ids
    * [rangeStart, rangeEnd) sliced into `numSlices` partitions. */
  final case class Program(rangeStart: Long, rangeEnd: Long, numSlices: Int,
      steps: Seq[Step], schema: StructType) extends Serializable

  private def opt(options: Map[String, String], key: String): Option[String] =
    options.collectFirst {
      // Case-insensitive, and tolerant of catalogs that prefix options.
      case (k, v) if k.equalsIgnoreCase(key) || k.equalsIgnoreCase(s"option.$key") => v
    }

  private[sources] def loadPlan(options: Map[String, String]): (DataGenPlan, String) = {
    val plan = (opt(options, "plan"), opt(options, "planPath")) match {
      case (Some(text), _) =>
        if (text.trim.startsWith("{")) PlanJson.loadJson(text) else PlanJson.loadYaml(text)
      case (None, Some(path)) => PlanJson.loadFile(path)
      case (None, None) => throw new IllegalArgumentException(
        "graft source requires a 'plan' (inline JSON/YAML) or 'planPath' option")
    }
    val tableName = opt(options, "table").getOrElse {
      plan.tables match {
        case Seq(only) => only.name
        case ts => throw new IllegalArgumentException(
          s"plan declares tables ${ts.map(_.name).mkString(", ")}; pick one with the 'table' option")
      }
    }
    require(plan.tables.exists(_.name == tableName),
      s"plan has no table named '$tableName'")
    (plan, tableName)
  }

  /** Compile the plan through the ordinary engine and extract the
    * Range -> Project/Filter* pipeline as bound expression layers. */
  private[sources] def compile(options: Map[String, String]): Program = {
    val spark = SparkSession.active
    val (plan, tableName) = loadPlan(options)
    val df = graft.engine.Generator.generate(spark, plan)(tableName)
    val optimized = df.queryExecution.optimizedPlan

    def walk(p: logical.LogicalPlan): (logical.Range, List[logical.LogicalPlan]) = p match {
      case prj: logical.Project => val (r, ls) = walk(prj.child); (r, ls :+ prj)
      case f: logical.Filter => val (r, ls) = walk(f.child); (r, ls :+ f)
      case r: logical.Range => (r, Nil)
      case other => throw new UnsupportedOperationException(
        s"graft source expects a Range -> Project/Filter generation plan; found ${other.nodeName}")
    }
    val (range, nodes) = walk(optimized)
    require(range.step == 1, s"generation range must have step 1, got ${range.step}")

    var attrs: Seq[Attribute] = range.output
    val steps = nodes.map {
      case prj: logical.Project =>
        val bound = BindReferences.bindReferences(prj.projectList, attrs)
        attrs = prj.projectList.map(_.toAttribute)
        ProjectStep(bound)
      case f: logical.Filter =>
        FilterStep(BindReferences.bindReference(f.condition, attrs))
      case other => throw new IllegalStateException(s"unexpected node $other")
    }
    val slices = range.numSlices.getOrElse(spark.sparkContext.defaultParallelism)
    Program(range.start, range.end, math.max(1, slices), steps, df.schema)
  }
}

class GraftTable(options: Map[String, String]) extends Table with SupportsRead {
  import GraftDataSource._

  private lazy val program: Program = compile(options)

  override def name(): String =
    "graft:" + loadPlan(options)._2

  override def schema(): StructType = program.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(program)
}

class GraftScanBuilder(program: GraftDataSource.Program)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  import GraftDataSource._

  private var required: StructType = program.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // Generation plans usually collapse to a single Project over Range
    // (optimizer's CollapseProject), so pruning the FINAL project list
    // prunes the whole per-column expression tree — unused generator
    // columns cost nothing.
    val keep = required.fieldNames.toSet
    val names = program.schema.fieldNames
    val schema = StructType(program.schema.fields.filter(f => keep.contains(f.name)))
    program.steps.lastOption match {
      case Some(ProjectStep(exprs)) =>
        val pruned = program.steps.init :+ ProjectStep(
          exprs.zip(names).collect { case (e, n) if keep.contains(n) => e })
        new GraftScan(program.copy(steps = pruned, schema = schema))
      case _ =>
        // The outermost step is a Filter — happens whenever a spec combines
        // a filter constraint with nondeterministic columns, because
        // PushPredicateThroughNonJoin refuses to push past them. The filter
        // needs the full-width row, so narrowing the inner Project would
        // silently misalign ordinals against readSchema. Prune by APPENDING
        // a BoundReference projection above the filter instead: generator
        // expressions still evaluate (the filter demands them), but the
        // reader emits only the required columns.
        val fields = program.schema.fields
        val prune = ProjectStep(names.zipWithIndex.collect {
          case (n, i) if keep.contains(n) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, fields(i).dataType, fields(i).nullable)
        })
        new GraftScan(program.copy(steps = program.steps :+ prune, schema = schema))
    }
  }
}

class GraftScan(program: GraftDataSource.Program) extends Scan with Batch {
  import GraftDataSource._

  override def readSchema(): StructType = program.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft range [${program.rangeStart}, ${program.rangeEnd}) x ${program.steps.length} layers"

  override def planInputPartitions(): Array[InputPartition] = {
    val n = program.numSlices
    val total = program.rangeEnd - program.rangeStart
    (0 until n).map { i =>
      // Same proportional slicing as Spark's own Range.
      val lo = program.rangeStart + i * total / n
      val hi = program.rangeStart + (i + 1) * total / n
      GraftInputPartition(i, lo, hi): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(program.steps)
}

final case class GraftInputPartition(index: Int, startId: Long, endId: Long)
    extends InputPartition

class GraftReaderFactory(steps: Seq[GraftDataSource.Step])
    extends PartitionReaderFactory {
  import GraftDataSource._

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new PartitionReader[InternalRow] {
      // Compile each layer once per partition; initialize any
      // nondeterministic expressions with the partition index (the engine's
      // own expressions are hash-deterministic, but plugin UDF columns may
      // not be).
      private val compiled: Seq[Either[UnsafeProjection, BasePredicate]] =
        steps.map {
          case ProjectStep(exprs) =>
            exprs.foreach(_.foreach {
              case nd: Nondeterministic => nd.initialize(p.index)
              case _ =>
            })
            val prj = UnsafeProjection.create(exprs)
            prj.initialize(p.index)
            Left(prj)
          case FilterStep(cond) =>
            val pred = CatalystPredicate.create(cond)
            pred.initialize(p.index)
            Right(pred)
        }
      private var id = p.startId
      private var current: InternalRow = _
      private val input = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)

      override def next(): Boolean = {
        while (id < p.endId) {
          input.update(0, id)
          id += 1
          var row: InternalRow = input
          var pass = true
          compiled.foreach {
            case Left(prj) => if (pass) row = prj(row)
            case Right(pred) => if (pass) pass = pred.eval(row)
          }
          if (pass) { current = row; return true }
        }
        false
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
