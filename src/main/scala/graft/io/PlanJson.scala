package graft.io

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.types.{DataType, NullType}
import graft.spec._

/** Declarative plan (de)serialization — JSON and YAML.
  *
  * The wire shape is compatible with the reference's fixture format
  * (tests/core/fixtures/star_schema.json, plan.yml): tables with
  * `gen`-discriminated column strategies, `foreign_key` sub-objects with a
  * `table.column` ref, `distribution` objects (`type`-discriminated,
  * weighted values keyed by value) and `primary_key.columns`. Plans in
  * this shape ship under `src/main/resources/graft/fixtures/`
  * (`star_schema.json`, `plan.json`, `plan.yml`; see FIXTURES.md §1-2)
  * and load with [[loadResource]]. Our superset strategies (template,
  * faker, iltext, struct, array, constant, expression) serialize under the
  * same `gen.strategy` discriminator, so save→load→save is the identity on
  * every plan this engine can express.
  * Ref: dbldatagen/serialization.py:1-50, data_generator.py:1978-1995.
  */
object PlanJson {

  private val json = new ObjectMapper()
  private val yaml = new ObjectMapper(new YAMLFactory())

  // ---------------------------------------------------------------- load

  def loadJson(text: String): DataGenPlan = fromTree(json.readTree(text))
  def loadYaml(text: String): DataGenPlan = fromTree(yaml.readTree(text))

  def loadFile(path: String): DataGenPlan =
    load(path, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** Loads one of the plan fixtures shipped on the classpath under
    * `graft/fixtures/` (`star_schema.json`, `plan.json`, `plan.yml`).
    * A build that copies no resources gets a [[SpecError]] naming the
    * missing resource. */
  def loadResource(name: String): DataGenPlan = {
    val resource = s"graft/fixtures/$name"
    val in = Option(getClass.getClassLoader.getResourceAsStream(resource))
      .getOrElse(throw SpecError(s"plan fixture resource '$resource' is not on the classpath"))
    try load(name, in.readAllBytes()) finally in.close()
  }

  private def load(name: String, bytes: Array[Byte]): DataGenPlan = {
    val text = new String(bytes, "UTF-8")
    if (isYaml(name)) loadYaml(text) else loadJson(text)
  }

  private def isYaml(name: String): Boolean = name.endsWith(".yml") || name.endsWith(".yaml")

  private def fromTree(root: JsonNode): DataGenPlan = {
    val seed = if (root.has("seed")) root.get("seed").asLong else 42L
    val tables = root.get("tables") match {
      case null => throw SpecError("plan document has no 'tables' array")
      case ts => ts.elements.asScala.map(tableFrom).toSeq
    }
    val seedMethod = Option(root.get("random_seed_method")).map(_.asText) match {
      case None | Some("hash_fieldname") => RandomSeedMethod.HashFieldName
      case Some("fixed") => RandomSeedMethod.Fixed
      case Some("arbitrary") => RandomSeedMethod.Arbitrary
      case Some(other) => throw SpecError(
        s"unknown random_seed_method '$other' (expected fixed | hash_fieldname | arbitrary)")
    }
    DataGenPlan(tables, seed, seedMethod)
  }

  private def tableFrom(t: JsonNode): TableSpec = {
    val name = req(t, "name").asText
    val pk = Option(t.get("primary_key")).map { p =>
      val cols = Option(p.get("columns")).map(_.elements.asScala.map(_.asText).toSeq)
        .getOrElse(Seq(p.asText))
      if (cols.length != 1)
        throw SpecError(s"table $name: composite primary keys are not supported (got $cols)")
      PrimaryKey(cols.head)
    }
    val cols = req(t, "columns").elements.asScala.map(c => columnFrom(name, c)).toSeq
    val constraints = Option(t.get("constraints"))
      .map(_.elements.asScala.map(constraintFrom).toSeq).getOrElse(Nil)
    TableSpec(name, req(t, "rows").asLong, cols, pk,
      Option(t.get("partitions")).map(_.asInt), constraints)
  }

  private def columnFrom(table: String, c: JsonNode): ColumnSpec = {
    val name = req(c, "name").asText
    val gen = req(c, "gen")
    val strategy = strategyFrom(table, name, c, gen)
    val dtype = Option(c.get("dtype")).map(d => DataType.fromDDL(d.asText)).getOrElse(NullType)
    val nullFraction = Option(c.get("foreign_key")).flatMap(fk => Option(fk.get("null_fraction")))
      .orElse(Option(c.get("percent_nulls"))).map(_.asDouble).getOrElse(0.0)
    ColumnSpec(name, dtype, strategy,
      percentNulls = nullFraction,
      omit = Option(c.get("omit")).exists(_.asBoolean),
      seedMode = Option(c.get("seed_from")).map(s => SeedMode.FromValue(s.asText): SeedMode)
        .orElse(Option(c.get("seed_from_columns"))
          .map(a => SeedMode.FromColumns(a.elements.asScala.map(_.asText).toSeq): SeedMode))
        .orElse(Option(c.get("seed_from_values"))
          .map(a => SeedMode.FromColumnValues(a.elements.asScala.map(_.asText).toSeq): SeedMode))
        .getOrElse(SeedMode.RowId),
      numColumns = Option(c.get("num_columns")).map(_.asInt).getOrElse(1),
      asArray = Option(c.get("as_array")).exists(_.asBoolean),
      format = Option(c.get("format")).map(_.asText),
      prefix = Option(c.get("prefix")).map(_.asText),
      suffix = Option(c.get("suffix")).map(_.asText),
      uniqueValues = Option(c.get("unique_values")).map(_.asLong),
      scatter = Option(c.get("scatter")).exists(_.asBoolean),
      textSeparator = Option(c.get("text_separator")).map(_.asText).getOrElse("_"),
      random = Option(c.get("random")).exists(_.asBoolean))
  }

  private def strategyFrom(table: String, name: String, c: JsonNode, gen: JsonNode): ColumnStrategy = {
    def where = s"table $table, column $name"
    req(gen, "strategy").asText match {
      case "sequence" =>
        ColumnStrategy.Sequence(longOr(gen, "start", 1L), longOr(gen, "step", 1L))
      case "range" =>
        ColumnStrategy.Range(
          BigDecimal(req(gen, "min").asText), BigDecimal(req(gen, "max").asText),
          Option(gen.get("step")).map(s => BigDecimal(s.asText)),
          distFrom(Option(gen.get("distribution"))),
          Option(gen.get("continuous")).exists(_.asBoolean))
      case "values" =>
        val values = req(gen, "values").elements.asScala.map(valueFrom).toSeq
        Option(gen.get("distribution")) match {
          case Some(d) if d.has("type") && d.get("type").asText == "weighted" =>
            val wmap = d.get("weights")
            val weights = values.map(v => Option(wmap.get(String.valueOf(v)))
              .map(_.asDouble)
              .getOrElse(throw SpecError(s"$where: weighted values missing weight for '$v'")))
            ColumnStrategy.Values(values, weights)
          case d => ColumnStrategy.Values(values, Nil, distFrom(d))
        }
      case "pattern" => ColumnStrategy.Pattern(req(gen, "template").asText)
      case "template" =>
        ColumnStrategy.Template(req(gen, "template").asText,
          Option(gen.get("escape_special_chars")).exists(_.asBoolean),
          Option(gen.get("words")).map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil),
          Option(gen.get("base_column")).map(_.asText))
      case "uuid" => ColumnStrategy.Uuid
      case "timestamp" =>
        ColumnStrategy.Timestamp(parseInstant(req(gen, "start").asText),
          parseInstant(req(gen, "end").asText),
          longOr(gen, "interval_seconds", 1L), distFrom(Option(gen.get("distribution"))))
      case "date" =>
        ColumnStrategy.DateRange(java.time.LocalDate.parse(req(gen, "start").asText),
          java.time.LocalDate.parse(req(gen, "end").asText),
          Option(gen.get("interval_days")).map(_.asInt).getOrElse(1),
          distFrom(Option(gen.get("distribution"))))
      case "constant" => ColumnStrategy.Constant(valueFrom(req(gen, "value")))
      case "expression" => ColumnStrategy.Expression(req(gen, "sql").asText)
      case "foreign_key" =>
        val fk = Option(c.get("foreign_key"))
          .getOrElse(throw SpecError(s"$where: foreign_key strategy needs a foreign_key object"))
        val ref = req(fk, "ref").asText.split("\\.", 2) match {
          case Array(tbl, col) => (tbl, col)
          case _ => throw SpecError(s"$where: foreign_key ref must be 'table.column'")
        }
        ColumnStrategy.ForeignKey(ref._1, ref._2, distFrom(Option(fk.get("distribution"))))
      case "faker" =>
        ColumnStrategy.Faker(req(gen, "provider").asText,
          Option(gen.get("pool_size")).map(_.asInt).getOrElse(10000),
          Option(gen.get("locale")).map(_.asText).getOrElse("en"))
      case "iltext" =>
        def pair(k: String, dflt: (Int, Int)) = Option(gen.get(k)).map { n =>
          (n.get(0).asInt, n.get(1).asInt)
        }.getOrElse(dflt)
        ColumnStrategy.ILText(pair("paragraphs", (1, 1)), pair("sentences", (2, 4)),
          pair("words", (3, 8)))
      case "struct" =>
        ColumnStrategy.Struct(
          req(gen, "fields").elements.asScala.map(f => req(f, "name").asText -> columnFrom(table, f)).toSeq,
          Option(gen.get("as_json")).exists(_.asBoolean))
      case "array" =>
        ColumnStrategy.ArrayOf(columnFrom(table, req(gen, "element")),
          Option(gen.get("min_length")).map(_.asInt).getOrElse(0),
          req(gen, "max_length").asInt)
      case other => throw SpecError(s"$where: unknown strategy '$other'")
    }
  }

  private def distFrom(d: Option[JsonNode]): Distribution = d match {
    case None => Distribution.Uniform
    case Some(n) => req(n, "type").asText match {
      case "uniform" => Distribution.Uniform
      case "zipf" => Distribution.Zipf(req(n, "exponent").asDouble)
      case "normal" => Distribution.Normal(
        Option(n.get("mean")).map(_.asDouble), Option(n.get("stddev")).map(_.asDouble))
      case "exponential" => Distribution.Exponential(doubleOr(n, "rate", 1.0))
      case "lognormal" => Distribution.LogNormal(doubleOr(n, "mu", 0.0), doubleOr(n, "sigma", 1.0))
      case "gamma" => Distribution.Gamma(req(n, "shape").asDouble, doubleOr(n, "scale", 1.0))
      case "beta" => Distribution.Beta(req(n, "alpha").asDouble, req(n, "beta").asDouble)
      case "pareto" => Distribution.Pareto(req(n, "alpha").asDouble)
      case "weighted" => throw SpecError("'weighted' distribution is only valid inside a values strategy")
      case other => throw SpecError(s"unknown distribution type '$other'")
    }
  }

  private def constraintFrom(n: JsonNode): Constraint = req(n, "kind").asText match {
    case "sql_expr" => Constraint.SqlExpr(req(n, "sql").asText)
    case "chained_relation" => Constraint.ChainedRelation(strSeq(n, "columns"), strOr(n, "relation", "<"))
    case "literal_range" => Constraint.LiteralRange(strSeq(n, "columns"),
      valueFrom(req(n, "low")), valueFrom(req(n, "high")), boolOr(n, "strict"))
    case "literal_relation" => Constraint.LiteralRelation(strSeq(n, "columns"),
      req(n, "relation").asText, valueFrom(req(n, "value")))
    case "ranged_values" => Constraint.RangedValues(strSeq(n, "columns"),
      req(n, "low_column").asText, req(n, "high_column").asText, boolOr(n, "strict"))
    case "positive_values" => Constraint.PositiveValues(strSeq(n, "columns"), boolOr(n, "strict"))
    case "negative_values" => Constraint.NegativeValues(strSeq(n, "columns"), boolOr(n, "strict"))
    case "unique_combinations" => Constraint.UniqueCombinations(
      Option(n.get("columns")).map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil))
    case other => throw SpecError(s"unknown constraint kind '$other'")
  }

  // ---------------------------------------------------------------- save

  def saveJson(plan: DataGenPlan): String =
    json.writerWithDefaultPrettyPrinter().writeValueAsString(toTree(plan))
  def saveYaml(plan: DataGenPlan): String = yaml.writeValueAsString(toTree(plan))

  def saveFile(plan: DataGenPlan, path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (if (isYaml(path)) saveYaml(plan) else saveJson(plan))
        .getBytes("UTF-8"))

  private def toTree(plan: DataGenPlan): ObjectNode = {
    val root = json.createObjectNode()
    root.put("seed", plan.seed)
    plan.randomSeedMethod match {
      case RandomSeedMethod.HashFieldName => () // default — omit for fixture parity
      case RandomSeedMethod.Fixed => root.put("random_seed_method", "fixed")
      case RandomSeedMethod.Arbitrary => root.put("random_seed_method", "arbitrary")
    }
    val ts = root.putArray("tables")
    plan.tables.foreach(t => ts.add(tableTo(t)))
    root
  }

  private def tableTo(t: TableSpec): ObjectNode = {
    val n = json.createObjectNode()
    n.put("name", t.name)
    n.put("rows", t.rows)
    t.primaryKey.foreach { pk =>
      n.putObject("primary_key").putArray("columns").add(pk.column)
    }
    t.partitions.foreach(p => n.put("partitions", p))
    val cols = n.putArray("columns")
    t.columns.foreach(c => cols.add(columnTo(c)))
    if (t.constraints.nonEmpty) {
      val cs = n.putArray("constraints")
      t.constraints.foreach(c => cs.add(constraintTo(c)))
    }
    n
  }

  private def columnTo(c: ColumnSpec): ObjectNode = {
    val n = json.createObjectNode()
    n.put("name", c.name)
    if (c.dataType != NullType) n.put("dtype", c.dataType.sql.toLowerCase)
    val gen = n.putObject("gen")
    strategyTo(c.strategy, n, gen)
    // FK null fraction lives on the foreign_key sub-object (fixture shape).
    if (c.percentNulls > 0 && c.strategy.isInstanceOf[ColumnStrategy.ForeignKey])
      n.get("foreign_key").asInstanceOf[ObjectNode].put("null_fraction", c.percentNulls)
    if (c.percentNulls > 0 && !c.strategy.isInstanceOf[ColumnStrategy.ForeignKey])
      n.put("percent_nulls", c.percentNulls)
    if (c.omit) n.put("omit", true)
    c.seedMode match {
      case SeedMode.FromValue(col) => n.put("seed_from", col)
      case SeedMode.FromColumns(cols) =>
        val a = n.putArray("seed_from_columns"); cols.foreach(a.add)
      case SeedMode.FromColumnValues(cols) =>
        val a = n.putArray("seed_from_values"); cols.foreach(a.add)
      case SeedMode.RowId => ()
    }
    if (c.numColumns != 1) n.put("num_columns", c.numColumns)
    if (c.asArray) n.put("as_array", true)
    c.format.foreach(n.put("format", _))
    c.prefix.foreach(n.put("prefix", _))
    c.suffix.foreach(n.put("suffix", _))
    c.uniqueValues.foreach(n.put("unique_values", _))
    if (c.scatter) n.put("scatter", true)
    if (c.textSeparator != "_") n.put("text_separator", c.textSeparator)
    if (c.random) n.put("random", true)
    n
  }

  private def strategyTo(s: ColumnStrategy, col: ObjectNode, gen: ObjectNode): Unit = s match {
    case ColumnStrategy.Sequence(start, step) =>
      gen.put("strategy", "sequence").put("start", start).put("step", step)
    case r: ColumnStrategy.Range =>
      gen.put("strategy", "range")
      putNum(gen, "min", r.min); putNum(gen, "max", r.max)
      r.step.foreach(st => putNum(gen, "step", st))
      if (r.continuous) gen.put("continuous", true)
      distTo(r.distribution, Nil).foreach(gen.set[JsonNode]("distribution", _))
    case ColumnStrategy.Values(values, weights, dist) =>
      gen.put("strategy", "values")
      val va = gen.putArray("values"); values.foreach(v => addValue(va, v))
      if (weights.nonEmpty) {
        val d = gen.putObject("distribution"); d.put("type", "weighted")
        val wm = d.putObject("weights")
        values.zip(weights).foreach { case (v, w) => wm.put(String.valueOf(v), w) }
      } else distTo(dist, Nil).foreach(gen.set[JsonNode]("distribution", _))
    case ColumnStrategy.Pattern(p) => gen.put("strategy", "pattern").put("template", p)
    case t: ColumnStrategy.Template =>
      gen.put("strategy", "template").put("template", t.template)
      if (t.escapeSpecialChars) gen.put("escape_special_chars", true)
      if (t.wordList.nonEmpty) { val a = gen.putArray("words"); t.wordList.foreach(a.add) }
      t.baseColumn.foreach(gen.put("base_column", _))
    case ColumnStrategy.Uuid => gen.put("strategy", "uuid")
    case ts: ColumnStrategy.Timestamp =>
      gen.put("strategy", "timestamp").put("start", ts.begin.toString).put("end", ts.end.toString)
      if (ts.intervalSeconds != 1) gen.put("interval_seconds", ts.intervalSeconds)
      distTo(ts.distribution, Nil).foreach(gen.set[JsonNode]("distribution", _))
    case d: ColumnStrategy.DateRange =>
      gen.put("strategy", "date").put("start", d.begin.toString).put("end", d.end.toString)
      if (d.intervalDays != 1) gen.put("interval_days", d.intervalDays)
      distTo(d.distribution, Nil).foreach(gen.set[JsonNode]("distribution", _))
    case ColumnStrategy.Constant(v) =>
      gen.put("strategy", "constant"); addValueTo(gen, "value", v)
    case ColumnStrategy.Expression(sql) => gen.put("strategy", "expression").put("sql", sql)
    case fk: ColumnStrategy.ForeignKey =>
      gen.put("strategy", "foreign_key")
      val f = col.putObject("foreign_key")
      f.put("ref", s"${fk.table}.${fk.column}")
      distTo(fk.distribution, Nil).foreach(f.set[JsonNode]("distribution", _))
    case ColumnStrategy.Faker(provider, poolSize, locale) =>
      gen.put("strategy", "faker").put("provider", provider)
      if (poolSize != 10000) gen.put("pool_size", poolSize)
      if (locale != "en") gen.put("locale", locale)
    case il: ColumnStrategy.ILText =>
      gen.put("strategy", "iltext")
      def put(k: String, p: (Int, Int)): Unit = { val a = gen.putArray(k); a.add(p._1); a.add(p._2) }
      put("paragraphs", il.paragraphs); put("sentences", il.sentences); put("words", il.words)
    case ColumnStrategy.Struct(fields, asJson) =>
      gen.put("strategy", "struct")
      if (asJson) gen.put("as_json", true)
      val fa = gen.putArray("fields")
      fields.foreach { case (fname, fspec) => fa.add(columnTo(fspec.copy(name = fname))) }
    case ColumnStrategy.ArrayOf(element, minLen, maxLen) =>
      gen.put("strategy", "array").put("min_length", minLen).put("max_length", maxLen)
      gen.set[JsonNode]("element", columnTo(element))
    case _: ColumnStrategy.Plugin =>
      throw SpecError("Plugin columns hold arbitrary functions and cannot be serialized")
  }

  private def distTo(d: Distribution, @annotation.unused values: Seq[Any]): Option[ObjectNode] = d match {
    case Distribution.Uniform => None
    case other =>
      val n = json.createObjectNode()
      other match {
        case Distribution.Zipf(a) => n.put("type", "zipf").put("exponent", a)
        case Distribution.Normal(m, s) =>
          n.put("type", "normal"); m.foreach(n.put("mean", _)); s.foreach(n.put("stddev", _))
        case Distribution.Exponential(r) => n.put("type", "exponential").put("rate", r)
        case Distribution.LogNormal(mu, sg) => n.put("type", "lognormal").put("mu", mu).put("sigma", sg)
        case Distribution.Gamma(k, th) => n.put("type", "gamma").put("shape", k).put("scale", th)
        case Distribution.Beta(a, b) => n.put("type", "beta").put("alpha", a).put("beta", b)
        case Distribution.Pareto(a) => n.put("type", "pareto").put("alpha", a)
        case Distribution.Uniform => ()
      }
      Some(n)
  }

  private def constraintTo(c: Constraint): ObjectNode = {
    val n = json.createObjectNode()
    def cols(cs: Seq[String]): Unit = { val a = n.putArray("columns"); cs.foreach(a.add) }
    c match {
      case Constraint.SqlExpr(sql) => n.put("kind", "sql_expr").put("sql", sql)
      case Constraint.ChainedRelation(cs, rel) =>
        n.put("kind", "chained_relation"); cols(cs); n.put("relation", rel)
      case Constraint.LiteralRange(cs, lo, hi, strict) =>
        n.put("kind", "literal_range"); cols(cs)
        addValueTo(n, "low", lo); addValueTo(n, "high", hi)
        if (strict) n.put("strict", true)
      case Constraint.LiteralRelation(cs, rel, v) =>
        n.put("kind", "literal_relation"); cols(cs); n.put("relation", rel); addValueTo(n, "value", v)
      case Constraint.RangedValues(cs, lo, hi, strict) =>
        n.put("kind", "ranged_values"); cols(cs)
        n.put("low_column", lo); n.put("high_column", hi)
        if (strict) n.put("strict", true)
      case Constraint.PositiveValues(cs, strict) =>
        n.put("kind", "positive_values"); cols(cs); if (strict) n.put("strict", true)
      case Constraint.NegativeValues(cs, strict) =>
        n.put("kind", "negative_values"); cols(cs); if (strict) n.put("strict", true)
      case Constraint.UniqueCombinations(cs) =>
        n.put("kind", "unique_combinations"); if (cs.nonEmpty) cols(cs)
    }
    n
  }

  // ---------------------------------------------------------------- util

  private def req(n: JsonNode, field: String): JsonNode =
    Option(n.get(field)).getOrElse(throw SpecError(s"missing required field '$field' in $n"))

  private def longOr(n: JsonNode, k: String, d: Long): Long =
    Option(n.get(k)).map(_.asLong).getOrElse(d)
  private def doubleOr(n: JsonNode, k: String, d: Double): Double =
    Option(n.get(k)).map(_.asDouble).getOrElse(d)
  private def strOr(n: JsonNode, k: String, d: String): String =
    Option(n.get(k)).map(_.asText).getOrElse(d)
  private def boolOr(n: JsonNode, k: String): Boolean = Option(n.get(k)).exists(_.asBoolean)
  private def strSeq(n: JsonNode, k: String): Seq[String] =
    req(n, k).elements.asScala.map(_.asText).toSeq

  /** JSON scalar -> Scala value, preserving int/long vs double vs bool. */
  private def valueFrom(n: JsonNode): Any =
    if (n.isBoolean) n.asBoolean
    else if (n.isIntegralNumber) { val l = n.asLong; if (l.isValidInt) l.toInt else l }
    else if (n.isNumber) n.asDouble
    else n.asText

  private def addValue(a: ArrayNode, v: Any): Unit = v match {
    case i: Int => a.add(i)
    case l: Long => a.add(l)
    case d: Double => a.add(d)
    case b: Boolean => a.add(b)
    case other => a.add(String.valueOf(other))
  }

  private def addValueTo(o: ObjectNode, k: String, v: Any): Unit = v match {
    case i: Int => o.put(k, i)
    case l: Long => o.put(k, l)
    case d: Double => o.put(k, d)
    case b: Boolean => o.put(k, b)
    case other => o.put(k, String.valueOf(other))
  }

  private def putNum(o: ObjectNode, k: String, v: BigDecimal): Unit =
    if (v.isWhole && v.isValidLong) o.put(k, v.toLong) else o.put(k, v.toDouble)

  /** "2023-01-01" or full ISO instant -> Instant (UTC midnight for dates). */
  private def parseInstant(s: String): java.time.Instant =
    try java.time.Instant.parse(s)
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC)
        catch {
          case _: java.time.format.DateTimeParseException =>
            java.time.LocalDate.parse(s).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
        }
    }
}
