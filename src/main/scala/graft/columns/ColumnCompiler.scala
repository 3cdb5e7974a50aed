package graft.columns

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.seed.Seeds
import graft.dist.Distributions
import graft.functions.{GenString, StringProgram}
import graft.spec._

/** Metadata needed to *reconstruct* a parent primary key inside a child
  * table — referential integrity by construction, no join, no shuffle.
  * Ref: dbldatagen/core/engine/fk.py:21-136, planner.py:143-172. */
final case class PkInfo(table: String, column: String, strategy: ColumnStrategy,
    columnSeed: Long, rows: Long)

final case class BuildContext(
    globalSeed: Long,
    tableName: String,
    rows: Long,
    /** parent table name -> PK reconstruction metadata */
    pkInfo: Map[String, PkInfo] = Map.empty)

/** Compiles a [[ColumnSpec]] to a pure `Column` expression of the row-id
  * column. Everything here is built from `org.apache.spark.sql.functions`
  * and the native [[GenString]] kernel — codegen'd, partition-independent,
  * zero UDFs on the default path.
  * (Strategy semantics per SURVEY.md §2.2-2.5; reference files cited per
  * builder.) */
object ColumnCompiler {

  /** Compile the full output expression for a column (strategy + unique
    * clamp + scatter + prefix/suffix/format + nulls + cast). */
  def compile(spec: ColumnSpec, ctx: BuildContext, id: Column): Column = {
    val seed = Seeds.deriveColumnSeed(ctx.globalSeed, ctx.tableName, spec.name)
    val raw = strategyColumn(spec, spec.strategy, seed, ctx, id)
    val decorated = decorate(spec, raw)
    val casted = spec.strategy match {
      case _: ColumnStrategy.Struct | _: ColumnStrategy.ArrayOf => decorated
      // NullType is the "inferred" sentinel: keep the strategy's natural type
      // (used by SQL-expression columns and the JSON plan loader's
      // dtype-less columns). Ref: INFER_DATATYPE, column_generation_spec.py:155-163.
      case _ if spec.dataType == NullType => decorated
      case _ => decorated.cast(spec.dataType)
    }
    Seeds.withNullMask(casted, spec.percentNulls, seed, id).as(spec.name)
  }

  private def decorate(spec: ColumnSpec, value: Column): Column = {
    val formatted = spec.format match {
      case Some(f) => GenString.format(f, value)
      case None => value
    }
    (spec.prefix, spec.suffix) match {
      case (None, None) => formatted
      case (p, s) =>
        val sep = spec.textSeparator
        val mid = formatted.cast(StringType)
        val withP = p.map(pp => concat(lit(pp), lit(sep), mid)).getOrElse(mid)
        s.map(ss => concat(withP, lit(sep), lit(ss))).getOrElse(withP)
    }
  }

  private[graft] def strategyColumn(spec: ColumnSpec, strategy: ColumnStrategy,
      seed: Long, ctx: BuildContext, id: Column): Column = strategy match {

    case ColumnStrategy.Sequence(start, step) =>
      // Ref: core/engine/columns/pk.py:12-28
      id * lit(step) + lit(start)

    case r: ColumnStrategy.Range =>
      rangeColumn(spec, r, seed, id)

    case ColumnStrategy.Values(values, weights, dist) =>
      // Ref: core/engine/columns/string.py:24-61
      val arr = array(values.map(lit): _*)
      val idx =
        if (weights.nonEmpty) Distributions.weightedIndex(weights, seed, id)
        else applyUnique(spec, Distributions.index(dist, seed, id, values.length.toLong), seed,
          values.length.toLong)
      element_at(arr, idx.cast(IntegerType) + lit(1))

    case ColumnStrategy.Pattern(p) =>
      val isPk = ctx.pkInfo.get(ctx.tableName).exists(_.column == spec.name)
      PatternCompiler.compile(p, seed, id, injective = isPk)

    case ColumnStrategy.Template(t, escapeMode, words, baseCol) =>
      // Under raw-values seeding the base value is the stringified seed
      // columns, so \v0..\v9 index the individual base values (reference
      // VALUES_COMPUTE_METHOD — column_generation_spec.py:1285-1289). The
      // columns are passed as a list for direct indexing; the array form is
      // only materialized for whole-value \v tokens.
      val baseElems = spec.seedMode match {
        case SeedMode.FromColumnValues(cols) if baseCol.isEmpty =>
          Some(cols.map(cn => col(cn).cast(StringType)))
        case _ => None
      }
      val baseValue = baseCol.map(col).orElse(
        baseElems.map(es => array(es: _*)))
      TemplateCompiler.compile(t, escapeMode, words, seed, id, baseValue = baseValue,
        baseElements = baseElems)

    case ColumnStrategy.Uuid =>
      uuidColumn(seed, id)

    case ColumnStrategy.Timestamp(begin, end, interval, dist) =>
      // Ref: core/engine/columns/temporal.py:19-140. Normal mean/stddev are
      // value-space (epoch seconds / seconds), converted to lattice indexes.
      val beginEpoch = begin.getEpochSecond
      val endEpoch = end.getEpochSecond
      require(endEpoch >= beginEpoch, s"timestamp range inverted for ${spec.name}")
      val ivl = math.max(1L, interval)
      val count = (endEpoch - beginEpoch) / ivl + 1
      val d = Distributions.toIndexSpace(dist, beginEpoch.toDouble, ivl.toDouble)
      val idx = applyUnique(spec, Distributions.index(d, seed, id, count), seed, count)
      timestamp_seconds(idx * lit(ivl) + lit(beginEpoch))

    case ColumnStrategy.DateRange(begin, end, ivlDays, dist) =>
      val days = java.time.temporal.ChronoUnit.DAYS.between(begin, end)
      require(days >= 0, s"date range inverted for ${spec.name}")
      val step = math.max(1, ivlDays)
      val count = days / step + 1
      // Normal mean/stddev value-space = epoch days.
      val d = Distributions.toIndexSpace(dist, begin.toEpochDay.toDouble, step.toDouble)
      val idx = applyUnique(spec, Distributions.index(d, seed, id, count), seed, count)
      date_add(lit(java.sql.Date.valueOf(begin.toString)), (idx * lit(step)).cast(IntegerType))

    case ColumnStrategy.Constant(v) => lit(v)

    case ColumnStrategy.Expression(sql) => expr(sql)

    case ColumnStrategy.ForeignKey(table, column, dist) =>
      // Sample a parent row index, then rebuild the parent PK value from its
      // strategy — zero-join referential integrity. Ref: core/engine/fk.py.
      val pk = ctx.pkInfo.getOrElse(table,
        throw SpecError(s"FK in ${ctx.tableName}.${spec.name}: unknown parent table '$table'"))
      require(pk.column == column,
        s"FK ${ctx.tableName}.${spec.name} must target the primary key $table.${pk.column}")
      val parentIdx = Distributions.index(dist, seed, id, pk.rows)
      reconstructPk(pk, parentIdx)

    case ColumnStrategy.Struct(fields, asJson) =>
      // Per-field seeds derive from the qualified name so sibling fields are
      // decorrelated. Ref: core/engine/generator.py:399-433.
      val st = struct(fields.map { case (fname, fspec) =>
        val qualified = fspec.copy(name = s"${spec.name}.$fname")
        compile(qualified, ctx, id).as(fname)
      }: _*)
      if (asJson) to_json(st) else st

    case ColumnStrategy.ArrayOf(element, minLen, maxLen) =>
      // Ref: core/engine/generator.py:436-486 (golden-ratio element seeds).
      require(maxLen >= minLen && minLen >= 0 && maxLen <= 1000,
        s"array length bounds invalid for ${spec.name}")
      // Total-plan-size guard: maxLen copies of a complex element strategy
      // would otherwise blow past the JVM 64KB codegen method limit (the
      // per-element guard alone doesn't bound the product).
      val elemNodes = estimateNodes(element.strategy)
      if (elemNodes.toLong * maxLen > 20000)
        throw SpecError(s"array column ${spec.name}: ~${elemNodes.toLong * maxLen} expression " +
          s"nodes ($elemNodes/element x $maxLen) exceeds the 20k plan-size budget; " +
          "reduce maxLength or simplify the element strategy")
      val elems = (0 until maxLen).map { k =>
        val eSpec = element.copy(name = s"${spec.name}[$k]")
        compile(eSpec, ctx, id)
      }
      val arr = array(elems: _*)
      val lenSeed = seed ^ Seeds.GoldenGamma
      val len =
        if (maxLen == minLen) lit(maxLen)
        else (pmod(Seeds.cellSeed(lenSeed, id), lit((maxLen - minLen + 1).toLong)) + lit(minLen.toLong))
          .cast(IntegerType)
      slice(arr, lit(1), len)

    case ColumnStrategy.Faker(provider, poolSize, locale) =>
      // Array-literal pool + element_at: no UDF, unlike the reference's
      // pandas-UDF pool (core/engine/columns/faker_pool.py:18-131).
      val pool = FakerPools.pool(provider, poolSize, ctx.globalSeed, locale)
      val idx = pmod(Seeds.cellSeed(seed, id), lit(pool.length.toLong)).cast(IntegerType)
      element_at(typedLit(pool), idx + lit(1))

    case ColumnStrategy.ILText(p, s, w) =>
      ILTextCompiler.compile(p, s, w, seed, id)

    case ColumnStrategy.Plugin(fn) =>
      // Explicit UDF escape hatch (analog of PyfuncText plugins).
      val u = udf(fn)
      u(Seeds.cellSeed(seed, id))
  }

  /** Deterministic UUID-shaped string from two xxhash64 draws (not
    * RFC-4122). Ref: core/engine/columns/uuid.py:15-58. */
  def uuidColumn(seed: Long, id: Column): Column =
    GenString.column(id, StringProgram(Seq(StringProgram.Uuid(seed))))

  /** Rebuild a parent PK value for a sampled parent row index. */
  def reconstructPk(pk: PkInfo, parentIdx: Column): Column = pk.strategy match {
    case ColumnStrategy.Sequence(start, step) => parentIdx * lit(step) + lit(start)
    case ColumnStrategy.Pattern(p) => PatternCompiler.compile(p, pk.columnSeed, parentIdx, injective = true)
    case ColumnStrategy.Uuid => uuidColumn(pk.columnSeed, parentIdx)
    case other =>
      throw SpecError(s"primary key ${pk.table}.${pk.column} uses ${other.getClass.getSimpleName}; " +
        "FK-targetable PKs must be Sequence, Pattern or Uuid")
  }

  /** Numeric range: lattice index for integral/stepped types, continuous
    * fraction for floating/decimal. Ref: core/engine/columns/numeric.py. */
  private def rangeColumn(spec: ColumnSpec, r: ColumnStrategy.Range, seed: Long, id: Column): Column = {
    val isFractional = spec.dataType match {
      case DoubleType | FloatType | _: DecimalType => true
      case _ => false
    }
    if (isFractional && (r.continuous || r.step.isEmpty)) {
      val span = (r.max - r.min).toDouble
      // Normal mean/stddev are value-space; fraction space is (v-min)/span.
      val d =
        if (span > 0) Distributions.toIndexSpace(r.distribution, r.min.toDouble, span)
        else r.distribution
      val frac = Distributions.continuousFraction(d, seed, id)
      val value = frac * lit(span) + lit(r.min.toDouble)
      spec.dataType match {
        case dt: DecimalType => round(value, dt.scale)
        case _ => value
      }
    } else {
      val step = r.step.getOrElse(BigDecimal(1))
      require(step > 0, s"range step must be > 0 for ${spec.name}")
      val count0 = ((r.max - r.min) / step).toLong + 1
      val count = spec.uniqueValues.map(u => math.min(u, count0)).getOrElse(count0)
      // Normal mean/stddev are value-space; lattice index = (v-min)/step.
      val dIdx = Distributions.toIndexSpace(r.distribution, r.min.toDouble, step.toDouble)
      val idx0 = Distributions.index(dIdx, seed, id, count)
      val idx = scatterIndex(spec, idx0, seed, count)
      if (step.isWhole && r.min.isWhole)
        idx * lit(step.toLong) + lit(r.min.toLong)
      else
        idx.cast(DoubleType) * lit(step.toDouble) + lit(r.min.toDouble)
    }
  }

  /** Rough per-strategy expression-node count (for the array plan-size
    * budget). Intentionally conservative, not exact. */
  private[graft] def estimateNodes(s: ColumnStrategy): Int = s match {
    case _: ColumnStrategy.Sequence | _: ColumnStrategy.Constant => 3
    case _: ColumnStrategy.Range => 15
    case v: ColumnStrategy.Values => 5 + v.values.length + 3 * v.weights.length
    // one string kernel node each
    case ColumnStrategy.Uuid | _: ColumnStrategy.Pattern => 1
    case t: ColumnStrategy.Template => TemplateCompiler.nodeCount(t.template, t.escapeSpecialChars)
    case i: ColumnStrategy.ILText =>
      10 * i.paragraphs._2 * i.sentences._2 * i.words._2
    case st: ColumnStrategy.Struct => 2 + st.fields.map(f => estimateNodes(f._2.strategy)).sum
    case a: ColumnStrategy.ArrayOf => 5 + a.maxLength * estimateNodes(a.element.strategy)
    case _ => 10
  }

  private def applyUnique(spec: ColumnSpec, idx: Column, seed: Long, count: Long): Column = {
    val clamped = spec.uniqueValues match {
      case Some(u) if u < count => pmod(idx, lit(u))
      case _ => idx
    }
    scatterIndex(spec, clamped, seed, count)
  }

  /** Affine bijection `g(k) = (a*k + b) mod grid` with gcd(a, grid) = 1 and
    * a near golden-ratio*grid: O(1) random-*looking* permutation of the
    * value grid, so "random unique" costs nothing at any scale.
    * Intermediate math in decimal(38,0) to dodge Long overflow under ANSI.
    * Ref: column_generation_spec.py:627-761,1365-1387. */
  private def scatterIndex(spec: ColumnSpec, idx: Column, seed: Long, grid: Long): Column = {
    if (!spec.scatter || grid <= 1) idx
    else {
      val a = coprimeNearGoldenRatio(grid)
      val b = java.lang.Long.remainderUnsigned(seed ^ Seeds.GoldenGamma, grid)
      val dec = DecimalType(38, 0)
      pmod(idx.cast(dec) * lit(a).cast(dec) + lit(b).cast(dec), lit(grid).cast(dec))
        .cast(LongType)
    }
  }

  private[graft] def coprimeNearGoldenRatio(grid: Long): Long = {
    val target = math.max(1L, (grid * 0.6180339887498949).toLong) | 1L
    var a = target
    while (gcd(a, grid) != 1L) a += 2L
    a % grid match { case 0 => 1L; case m => m }
  }

  @annotation.tailrec
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
}
