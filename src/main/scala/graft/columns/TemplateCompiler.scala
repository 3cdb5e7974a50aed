package graft.columns

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, Upper}
import org.apache.spark.sql.functions._
import graft.functions.{GenString, StringProgram}
import graft.seed.Seeds

/** Legacy char-class template engine, compiled to one [[GenString]] kernel
  * per alternative (the reference implements this as a 550-line numpy masked-array pandas
  * UDF — dbldatagen/text_generators.py:413-960; token semantics :431-501).
  *
  * Tokens (default mode, `escapeSpecialChars = false`):
  *   a/A  lower/upper letter        x/X  lower/upper hex digit
  *   d    digit 0-9                 D    non-zero digit 1-9
  *   k    lower alphanumeric        K    upper alphanumeric
  *   \n   integer 0..255 (variable width)   \N  integer 0..65535
  *   \w   lower word from word list         \W  upper word
  *   \v   entire base value                 \v0..\v9  array element i
  *   \V   entire base value
  *   |    alternation (one alternative picked per row); \| literal pipe
  *   \c   for any other c: literal c
  * With `escapeSpecialChars = true` the eight class letters are literal
  * unless escaped (`\d` etc.); always-escaped tokens are unchanged.
  */
object TemplateCompiler {

  sealed trait Tok
  final case class Lit(s: String) extends Tok
  final case class Charset(chars: String) extends Tok
  final case class IntTok(max: Long) extends Tok
  final case class Word(upper: Boolean) extends Tok
  final case class BaseVal(index: Option[Int]) extends Tok

  val DefaultWords: Seq[String] = ILTextCompiler.LoremWords

  private val classes = Map(
    'a' -> "abcdefghijklmnopqrstuvwxyz",
    'A' -> "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
    'x' -> "0123456789abcdef",
    'X' -> "0123456789ABCDEF",
    'd' -> "0123456789",
    'D' -> "123456789",
    'k' -> "abcdefghijklmnopqrstuvwxyz0123456789",
    'K' -> "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")

  /** Split template into alternatives on unescaped `|`, then tokenize each. */
  def parse(template: String, escapeSpecialChars: Boolean): Seq[List[Tok]] = {
    val alts = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < template.length) {
      val c = template.charAt(i)
      if (c == '\\' && i + 1 < template.length) { cur.append(c).append(template.charAt(i + 1)); i += 2 }
      else if (c == '|') { alts += cur.toString(); cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    alts += cur.toString()
    alts.toList.map(tokenize(_, escapeSpecialChars))
  }

  private def tokenize(alt: String, escapeMode: Boolean): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    def literal(s: String): Unit = out.lastOption match {
      case Some(Lit(p)) => out.update(out.length - 1, Lit(p + s))
      case _ => out += Lit(s)
    }
    var i = 0
    while (i < alt.length) {
      val c = alt.charAt(i)
      if (c == '\\' && i + 1 < alt.length) {
        val e = alt.charAt(i + 1)
        i += 2
        e match {
          case 'n' => out += IntTok(255L)
          case 'N' => out += IntTok(65535L)
          case 'w' => out += Word(upper = false)
          case 'W' => out += Word(upper = true)
          case 'V' => out += BaseVal(None)
          case 'v' =>
            if (i < alt.length && alt.charAt(i).isDigit) { out += BaseVal(Some(alt.charAt(i) - '0')); i += 1 }
            else out += BaseVal(None)
          case other =>
            // In escape mode, escaping a class letter activates it; in
            // default mode, escaping makes it literal.
            if (escapeMode && classes.contains(other)) out += Charset(classes(other))
            else literal(other.toString)
        }
      } else {
        if (!escapeMode && classes.contains(c)) out += Charset(classes(c))
        else literal(c.toString)
        i += 1
      }
    }
    out.toList
  }

  /** @param baseElements when the base is a known column list (raw-values
    *   seeding), `\v0..\v9` index these columns DIRECTLY — skipping the
    *   CreateArray + element_at construction, which both generates less
    *   code and dodges a janino compile failure ("not an rvalue") that the
    *   array form triggers inside wide projections. */
  def compile(template: String, escapeSpecialChars: Boolean, wordList: Seq[String],
      columnSeed: Long, id: Column, baseValue: Option[Column],
      baseElements: Option[Seq[Column]] = None): Column = {
    val words = if (wordList.nonEmpty) wordList else DefaultWords
    val alts = parse(template, escapeSpecialChars)
    // `\v0`..`\v9` index into an ARRAY base value (text_generators.py:431-501);
    // without an explicit baseColumn the base degrades to the row id, which
    // is not indexable — reject early with a spec error instead of letting
    // element_at(string, i) throw an AnalysisException at build time.
    if (baseValue.isEmpty && baseElements.isEmpty && alts.exists(_.exists {
        case BaseVal(Some(_)) => true; case _ => false }))
      throw graft.spec.SpecError(
        s"template '$template' uses indexed base-value tokens (\\v0..\\v9) but no " +
        "baseColumn is set; set ColumnStrategy.Template(baseColumn = Some(<array column>))")
    val altSeeds = alts.indices.map(i => Seeds.subSeed(columnSeed, 1000 + i))
    val compiled = alts.zip(altSeeds).map { case (toks, s) =>
      compileAlt(toks, words, s, id, baseValue, baseElements)
    }
    if (compiled.length == 1) compiled.head
    else {
      val pick = pmod(Seeds.cellSeed(columnSeed ^ 0x51AB5EEDL, id), lit(compiled.length.toLong))
      compiled.init.zipWithIndex.foldRight(compiled.last) { case ((c, i), rest) =>
        when(pick === lit(i.toLong), c).otherwise(rest)
      }
    }
  }

  /** Expression nodes [[compile]] builds: per alternative one kernel per
    * stretch of non-base tokens, two per base value and one `concat`; with
    * several alternatives, the pick's hash plus one `when` per alternative. */
  private[columns] def nodeCount(template: String, escapeSpecialChars: Boolean): Int = {
    val alts = parse(template, escapeSpecialChars)
    val perAlt = alts.map { toks =>
      val bases = toks.count(_.isInstanceOf[BaseVal])
      val stretches = toks.indices.count(k => !toks(k).isInstanceOf[BaseVal] &&
        (k == 0 || toks(k - 1).isInstanceOf[BaseVal]))
      stretches + 2 * bases + (if (stretches + bases > 1) 1 else 0)
    }
    perAlt.sum + (if (alts.length > 1) 4 + 3 * alts.length else 0)
  }

  /** Adjacent same-charset tokens merged into one run (one hash can drive a
    * whole group of digits/hex chars). */
  private final case class Run(chars: String, n: Int) extends Tok

  private def mergeRuns(toks: List[Tok]): List[Tok] = toks.foldRight(List.empty[Tok]) {
    case (Charset(cs), Run(cs2, n) :: rest) if cs == cs2 => Run(cs, n + 1) :: rest
    case (Charset(cs), rest) => Run(cs, 1) :: rest
    case (t, rest) => t :: rest
  }

  /** Each token of one alternative, in order: its kernel tokens, or the
    * base-value token itself. Token k draws from `subSeed(altSeed, k)`. */
  private def altTokens(toks: List[Tok], words: Seq[String], altSeed: Long)
      : List[Either[Seq[StringProgram.Tok], BaseVal]] =
    mergeRuns(toks).zipWithIndex.map { case (tok, k) =>
      val tokSeed = Seeds.subSeed(altSeed, k)
      tok match {
        case Lit(s) => Left(Seq(StringProgram.Text(s)))
        case Run(cs, n) => Left(runTokens(cs, n, tokSeed))
        // defensive: mergeRuns folds every Charset into a Run; this arm only
        // keeps the match exhaustive over the public Tok hierarchy
        case Charset(cs) => Left(runTokens(cs, 1, tokSeed))
        case IntTok(max) => Left(Seq(StringProgram.IntNum(tokSeed, max + 1)))
        case Word(upper) => Left(Seq(StringProgram.WordPick(tokSeed,
          if (upper) words.map(w => Option(Upper(Literal(w)).eval()).map(_.toString).orNull)
          else words)))
        case b: BaseVal => Right(b)
      }
    }

  /** One alternative: a single kernel, or with base-value tokens a `concat`
    * of the base values and one kernel per stretch of the other tokens. */
  private def compileAlt(toks: List[Tok], words: Seq[String], altSeed: Long, id: Column,
      baseValue: Option[Column], baseElements: Option[Seq[Column]]): Column = {
    lazy val base = baseValue.getOrElse(id.cast("string"))
    val parts = altTokens(toks, words, altSeed).foldRight(List.empty[Either[Seq[StringProgram.Tok], BaseVal]]) {
      case (Left(a), Left(b) :: rest) => Left(a ++ b) :: rest
      case (t, rest) => t :: rest
    }.map {
      case Left(ts) => GenString.column(id, StringProgram(ts))
      case Right(BaseVal(None)) => base.cast("string")
      case Right(BaseVal(Some(i))) => baseElements match {
        // direct column indexing (out-of-range -> null, matching
        // element_at's null semantics on short arrays)
        case Some(es) => if (i < es.length) es(i).cast("string") else lit(null).cast("string")
        case None => element_at(base, i + 1).cast("string")
      }
    }
    parts match {
      case Nil => lit("")
      case one :: Nil => one.cast("string")
      case many => concat(many: _*)
    }
  }

  /** A run of `n` chars from one charset. Decimal and hex runs take up to
    * 18 / 15 chars from one hash (`lpad(pmod(h, L^g))`); any other charset
    * takes three chars per hash. Group `gi` draws from `subSeed(runSeed, gi)`. */
  private[columns] def runTokens(cs: String, n: Int, runSeed: Long): Seq[StringProgram.Tok] = {
    val (group, tok): (Int, (Long, Int) => StringProgram.Tok) = cs match {
      case "0123456789" => (18, StringProgram.Digits(_, _))
      case "0123456789abcdef" => (15, StringProgram.HexDigits(_, _, false))
      case "0123456789ABCDEF" => (15, StringProgram.HexDigits(_, _, true))
      case _ => (3, StringProgram.Chars(_, cs, _))
    }
    (0 until n).grouped(group).zipWithIndex.map { case (g, gi) =>
      tok(Seeds.subSeed(runSeed, gi), g.size)
    }.toSeq
  }
}
