package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.FormatString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.columns.{ColumnCompiler, PatternCompiler, TemplateCompiler}
import graft.engine.Generator
import graft.functions.{GenString, StringProgram}
import graft.plan.Planner
import graft.seed.Seeds
import graft.spec._

/** The string kernel must render exactly what the Column spelling it
  * replaced renders — that spelling is kept below as the reference — under
  * whole-stage codegen and interpreted evaluation alike. */
class GenStringSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // ------------------------------------------------ the reference spelling

  private object Ref {
    /** `n` chars of `cs`, three per `element_at` over a table of every
      * combination (char j of entry v is `cs(v / L^j % L)`). */
    def charRun(cs: String, n: Int, runSeed: Long, id: Column): Column = {
      val groups = (0 until n).grouped(3).zipWithIndex.map { case (grp, gi) =>
        val g = grp.size
        val L = cs.length
        val combos = (0 until math.pow(L, g).toInt).map { v =>
          (0 until g).map(j => cs.charAt(v / math.pow(L, j).toInt % L)).mkString
        }
        element_at(typedLit(combos),
          pmod(Seeds.cellSeed(Seeds.subSeed(runSeed, gi), id), lit(combos.length.toLong))
            .cast("int") + 1)
      }.toSeq
      if (groups.length == 1) groups.head else concat(groups: _*)
    }

    def uuid(seed: Long, id: Column): Column = {
      val h1 = Seeds.cellSeed(seed, id)
      val h2 = xxhash64(lit(seed), id, lit(1))
      format_string("%08x-%04x-%04x-%04x-%012x",
        shiftrightunsigned(h1, 32).bitwiseAND(lit(0xFFFFFFFFL)),
        shiftrightunsigned(h1, 16).bitwiseAND(lit(0xFFFFL)),
        h1.bitwiseAND(lit(0xFFFFL)),
        shiftrightunsigned(h2, 48).bitwiseAND(lit(0xFFFFL)),
        h2.bitwiseAND(lit(0xFFFFFFFFFFFFL)))
    }

    def pattern(pattern: String, columnSeed: Long, id: Column): Column = {
      import PatternCompiler._
      val parts = tokenize(pattern).zipWithIndex.map { case (tok, k) =>
        val tokSeed = Seeds.subSeed(columnSeed, k)
        tok match {
          case Literal(s) => lit(s)
          case Seq_(None) => (id + lit(1L)).cast("string")
          case Seq_(Some(w)) => lpad((id + lit(1L)).cast("string"), w, "0")
          case UuidTok => uuid(tokSeed, id)
          case Digit(w) =>
            lpad(pmod(Seeds.cellSeed(tokSeed, id), lit(math.pow(10, w).toLong)).cast("string"), w, "0")
          case Hex(w) =>
            lower(lpad(hex(pmod(Seeds.cellSeed(tokSeed, id), lit(1L << (4 * w)))), w, "0"))
          case Alpha(w) => charRun("ABCDEFGHIJKLMNOPQRSTUVWXYZ", w, tokSeed, id)
        }
      }
      if (parts.length == 1) parts.head else concat(parts: _*)
    }

    private def run(cs: String, n: Int, runSeed: Long, id: Column): Column = {
      def grouped(groupMax: Int)(one: (Long, Int) => Column): Column = {
        val groups = (0 until n).grouped(groupMax).zipWithIndex.map { case (g, gi) =>
          one(Seeds.subSeed(runSeed, gi), g.size)
        }.toSeq
        if (groups.length == 1) groups.head else concat(groups: _*)
      }
      cs match {
        case "0123456789" => grouped(18) { (s, g) =>
          lpad(pmod(Seeds.cellSeed(s, id), lit(math.pow(10, g).toLong)).cast("string"), g, "0")
        }
        case "0123456789abcdef" => grouped(15) { (s, g) =>
          lower(lpad(hex(pmod(Seeds.cellSeed(s, id), lit(1L << (4 * g)))), g, "0"))
        }
        case "0123456789ABCDEF" => grouped(15) { (s, g) =>
          lpad(hex(pmod(Seeds.cellSeed(s, id), lit(1L << (4 * g)))), g, "0")
        }
        case _ => charRun(cs, n, runSeed, id)
      }
    }

    def template(template: String, escape: Boolean, wordList: Seq[String], columnSeed: Long,
        id: Column): Column = {
      import TemplateCompiler._
      val words = if (wordList.nonEmpty) wordList else DefaultWords
      def merge(toks: List[Tok]): List[Either[(String, Int), Tok]] =
        toks.foldRight(List.empty[Either[(String, Int), Tok]]) {
          case (Charset(cs), Left((cs2, n)) :: rest) if cs == cs2 => Left((cs, n + 1)) :: rest
          case (Charset(cs), rest) => Left((cs, 1)) :: rest
          case (t, rest) => Right(t) :: rest
        }
      val compiled = parse(template, escape).zipWithIndex.map { case (toks, altIdx) =>
        val altSeed = Seeds.subSeed(columnSeed, 1000 + altIdx)
        val parts = merge(toks).zipWithIndex.map { case (tok, k) =>
          val tokSeed = Seeds.subSeed(altSeed, k)
          tok match {
            case Left((cs, n)) => run(cs, n, tokSeed, id)
            case Right(Lit(s)) => lit(s)
            case Right(IntTok(max)) => pmod(Seeds.cellSeed(tokSeed, id), lit(max + 1)).cast("string")
            case Right(Word(up)) =>
              val idx = pmod(Seeds.cellSeed(tokSeed, id), lit(words.length.toLong)).cast(IntegerType)
              val w = element_at(typedLit(words), idx + lit(1))
              if (up) upper(w) else w
            case Right(BaseVal(None)) => id.cast("string").cast("string")
            case Right(other) => fail(s"no reference for $other")
          }
        }
        parts match {
          case Nil => lit("")
          case one :: Nil => one.cast("string")
          case many => concat(many: _*)
        }
      }
      if (compiled.length == 1) compiled.head
      else {
        val pick = pmod(Seeds.cellSeed(columnSeed ^ 0x51AB5EEDL, id), lit(compiled.length.toLong))
        compiled.init.zipWithIndex.foldRight(compiled.last) { case ((c, i), rest) =>
          when(pick === lit(i.toLong), c).otherwise(rest)
        }
      }
    }
  }

  // ------------------------------------------------------------ harness

  private val edges = Seq(0L, 1L, -1L, 2L, -2L, 9L, 10L, 255L, 65535L, 1L << 31, -(1L << 31),
    Int.MaxValue.toLong, Int.MinValue.toLong, 1L << 53, Long.MinValue, Long.MinValue + 1,
    Long.MaxValue - 1, Long.MaxValue)
  private val seeds = Seq(0L, 1L, -1L, 42L, 0x9E3779B97F4A7C15L, Long.MinValue, 7919L)

  /** `n` ids: the edge ids, then hashed longs, with every 11th row null
    * when `withNulls`. Built from `range`, so nothing folds on the driver. */
  private def ids(n: Long, withNulls: Boolean, dropMax: Boolean = false): DataFrame = {
    val es = if (dropMax) edges.filter(_ != Long.MaxValue) else edges
    val i = col("id")
    val v = when(i < es.size, element_at(typedLit(es), (i + 1).cast("int")))
      .otherwise(when(i % 3 === 0, i - 5000).otherwise(xxhash64(i)))
    spark.range(n).select((if (withNulls) when(i % 11 === 5, lit(null).cast(LongType)).otherwise(v)
      else v).as("id"))
  }

  private def modes[T](body: => T): Unit =
    for ((wholeStage, factory) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try body
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  /** Rows where the kernel and the reference differ (null-safe), under both
    * evaluation modes. */
  private def assertSame(what: String, df: DataFrame, kernel: Column, ref: Column): Unit = modes {
    val bad = df.select(col("id"), kernel.as("k"), ref.as("r"))
      .where(!(col("k") <=> col("r"))).limit(5).collect()
    assert(bad.isEmpty, s"$what (wholeStage=${spark.conf.get("spark.sql.codegen.wholeStage")}): " +
      bad.mkString(", "))
  }

  // -------------------------------------------------------------- tests

  test("patterns match the Column spelling for every seed, edge id and null id") {
    val df = ids(3000, withNulls = true, dropMax = true)
    val id = col("id")
    for (p <- Seq("ln-{alpha:8}", "ORD-{seq:6}-{digit:4}-{alpha:3}-{hex:2}", "{uuid}", "{seq}",
        "k{seq:3}", "X{digit:18}{hex:15}{alpha:64}", "{alpha:1}-{alpha:2}-plain-{digit:1}");
        s <- seeds)
      assertSame(s"pattern $p seed $s", df, PatternCompiler.compile(p, s, id), Ref.pattern(p, s, id))
  }

  test("a {seq} at Long.MaxValue overflows under ANSI, as id + 1 does") {
    val df = spark.range(1).select(lit(Long.MaxValue).as("id"))
    for (c <- Seq(PatternCompiler.compile("{seq}", 1L, col("id")), Ref.pattern("{seq}", 1L, col("id"))))
      modes(intercept[Exception](df.select(c).collect()))
  }

  test("uuids match the format_string spelling") {
    val df = ids(3000, withNulls = true)
    for (s <- seeds)
      assertSame(s"uuid seed $s", df, ColumnCompiler.uuidColumn(s, col("id")), Ref.uuid(s, col("id")))
  }

  test("templates, alternatives and word lists match the Column spelling") {
    val df = ids(3000, withNulls = true)
    val words = Seq("alpha", "straße", "émile", "Zeta", "x")
    val cases = Seq(
      ("(ddd)-ddd-dddd", false, Nil),
      ("\\n.\\n.\\n.\\N", false, Nil),
      ("\\w \\W|Dkk-KK|xxXX|aaAA", false, words),
      ("\\w-\\W-\\w", false, Nil),
      ("dddddddddddddddddddddddddddddd-xxxxxxxxxxxxxxxxxxxxxxxx", false, Nil),
      ("\\d\\d-\\a\\A d|\\K\\k|", true, words),
      ("|lit|", false, Nil),
      ("id\\V-dd|\\n", false, Nil))
    for ((t, esc, ws) <- cases; s <- seeds) {
      val kernel = TemplateCompiler.compile(t, esc, ws, s, col("id"), baseValue = None)
      assertSame(s"template $t seed $s", df, kernel, Ref.template(t, esc, ws, s, col("id")))
    }
  }

  test("supported formats match format_string on byte, short, int and long values, and null") {
    val specs = Seq("%d", "%x", "%s", "%05d", "%013x", "0x%013x", "id=%d!", "%025d", "[%03x]")
    val values: Seq[(DataType, Seq[Any])] = Seq(
      ByteType -> Seq[Byte](0, 1, -1, 9, -10, Byte.MaxValue, Byte.MinValue),
      ShortType -> Seq[Short](0, 1, -1, 999, -1000, Short.MaxValue, Short.MinValue),
      IntegerType -> Seq[Int](0, 1, -1, 12345, -12345, Int.MaxValue, Int.MinValue),
      LongType -> Seq[Long](0L, 1L, -1L, 0x100000000L, -42L, Long.MaxValue, Long.MinValue))
    val i = col("id")
    for ((dt, vs) <- values) {
      val picked = element_at(array(vs.map(lit): _*), (pmod(i, lit(vs.size.toLong)) + 1).cast("int"))
      val df = spark.range(200).select(when(i % 9 === 4, lit(null).cast(dt)).otherwise(picked).as("v"))
        .withColumnRenamed("v", "id")
      for (f <- specs)
        assertSame(s"format $f on ${dt.simpleString}", df, GenString.format(f, col("id")),
          format_string(f, col("id")))
    }
  }

  test("other specs and non-integral values still reach FormatString") {
    def formats(c: Column, input: Column): (Boolean, Boolean) = {
      val plan = spark.range(5).select(input.as("v")).select(c).queryExecution.optimizedPlan
      (plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[FormatString]))),
        plan.exists(_.expressions.exists(_.exists(_.prettyName == "graft_gen_string"))))
    }
    for (f <- Seq("%.2f", "%,d", "%-8s", "%5d", "%x%x", "%%d", "%X", "%05s"))
      assert(formats(GenString.format(f, col("v")), col("id").cast("double")) == (true -> false), f)
    for (input <- Seq(col("id").cast("string"), col("id").cast("double"), col("id").cast("decimal(10,0)")))
      assert(formats(GenString.format("%s", col("v")), input) == (true -> false), input.toString)
    assert(formats(GenString.format("0x%013x", col("v")), col("id")) == (false -> true))
    // the fallback renders what format_string renders
    val df = spark.range(20).select((col("id") * 1.5).as("id"))
    for (f <- Seq("%.2f", "%s"))
      assertSame(s"fallback $f", df, GenString.format(f, col("id")), format_string(f, col("id")))
  }

  test("a template's node count covers its base values and alternatives") {
    def nodes(t: String) = ColumnCompiler.estimateNodes(ColumnStrategy.Template(t))
    assert(nodes("(ddd)-ddd-dddd") == 1)
    assert(nodes("id\\V-dd") == 5) // two kernel stretches, one base value, the concat
    assert(nodes("id\\V-dd|\\n") == 16) // plus the pick and two `when`s
    val wide = DataGenPlan(Seq(TableSpec("t", 4, Seq(ColumnSpec("a", "array<string>",
      ColumnStrategy.ArrayOf(ColumnSpec("e", "string", ColumnStrategy.Template("\\V|\\V|\\V|\\V")), 1000, 1000))))))
    intercept[SpecError](Generator.generate(spark, wide))
  }

  test("arrays of 1000 pattern, uuid and template elements compile in whole-stage codegen") {
    // one array per table: a table's columns share one whole-stage method
    val shapes = Seq(
      ColumnStrategy.Pattern("ln-{alpha:8}-{digit:4}") -> "ln-[A-Z]{8}-\\d{4}",
      ColumnStrategy.Uuid -> "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}",
      ColumnStrategy.Template("(ddd)-ddd-dddd") -> "\\(\\d{3}\\)-\\d{3}-\\d{4}")
    val plan = DataGenPlan(shapes.zipWithIndex.map { case ((s, _), i) =>
      TableSpec(s"t$i", 6, Seq(ColumnSpec("a", "array<string>",
        ColumnStrategy.ArrayOf(ColumnSpec("e", "string", s), 1000, 1000))))
    })
    // no fallback: a method over 64 KB fails the query instead of running
    // outside whole-stage codegen
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val dfs = Generator.generate(spark, plan)
      for (((_, shape), i) <- shapes.zipWithIndex) {
        val xs = dfs(s"t$i").collect().toSeq.map(_.getSeq[String](0))
        assert(xs.length == 6 && xs.forall(_.size == 1000), s"t$i")
        assert(xs.flatten.forall(x => x != null && x.matches(shape)), s"t$i: ${xs.head.take(3)}")
        assert(xs.flatten.distinct.length > 1000, s"t$i")
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("a lattice permutes its whole value space") {
    for (p <- Seq("{digit:3}", "A{alpha:2}-{hex:1}", "{digit:1}")) {
      val lat = PatternCompiler.program(p, 99L, injective = true).toks.head
        .asInstanceOf[StringProgram.Lattice]
      val card = Planner.patternCardinality(p).get.toLong
      val image = (0L until card).map(lat.permute)
      assert(image.distinct.size == card && image.forall(x => x >= 0 && x < card), p)
      assert(image != (0L until card), s"$p is not permuted")
    }
  }

  test("hashed-pattern primary keys are unique at x200 of the star fixture, and FKs replay them") {
    val star = graft.io.PlanJson.loadResource("star_schema.json")
    val plan = star.copy(tables = star.tables.map(t => t.copy(rows = t.rows * 200)))
    val dfs = Generator.generate(spark, plan)
    for (t <- plan.tables; pk <- t.primaryKey) {
      val r = dfs(t.name).agg(count(lit(1)), countDistinct(col(pk.column))).collect()(0)
      assert(r.getLong(0) == t.rows && r.getLong(1) == t.rows, s"${t.name}.${pk.column}: $r")
    }
    val orphans = dfs("orders").join(broadcast(dfs("customers").select(col("customer_id").as("pk"))),
      col("customer_id") === col("pk"), "left_anti").count()
    assert(orphans == 0)
  }
}
