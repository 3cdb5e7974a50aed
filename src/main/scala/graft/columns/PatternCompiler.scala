package graft.columns

import org.apache.spark.sql.Column
import org.apache.spark.sql.internal.SQLConf
import graft.functions.{GenString, StringProgram}
import graft.seed.Seeds
import graft.spec.SpecError

/** Compiles `"ORD-{digit:4}-{alpha:3}"`-style placeholder patterns into one
  * [[GenString]] kernel — every placeholder is a deterministic function of
  * (columnSeed, rowId, position).
  *
  * Placeholders (semantics per dbldatagen/core/engine/columns/string.py:70-246):
  *   {seq}      — row id + 1 as text; {seq:N} zero-pads to width N (N<=24)
  *   {uuid}     — deterministic uuid-shaped string
  *   {digit:N}  — N decimal digits, zero-padded (N<=18)
  *   {alpha:N}  — N uppercase letters, one hash pick per three (N<=64)
  *   {hex:N}    — N lowercase hex digits (N<=15)
  * Width caps keep pmod moduli within exact Long range.
  */
object PatternCompiler {

  sealed trait Token
  final case class Literal(s: String) extends Token
  final case class Digit(n: Int) extends Token
  final case class Alpha(n: Int) extends Token
  final case class Hex(n: Int) extends Token
  final case class Seq_(pad: Option[Int]) extends Token
  case object UuidTok extends Token

  private val Placeholder = raw"\{(seq|uuid|digit|alpha|hex)(?::(\d+))?\}".r

  def tokenize(pattern: String): List[Token] = {
    val out = List.newBuilder[Token]
    var last = 0
    for (m <- Placeholder.findAllMatchIn(pattern)) {
      if (m.start > last) out += Literal(pattern.substring(last, m.start))
      val width = Option(m.group(2)).map(_.toInt)
      m.group(1) match {
        case "seq" =>
          width.foreach(w => require(w >= 1 && w <= 24, s"{seq:$w} width must be 1..24"))
          out += Seq_(width)
        case "uuid" => out += UuidTok
        case "digit" =>
          val w = width.getOrElse(throw SpecError(s"{digit} needs a width in '$pattern'"))
          require(w >= 1 && w <= 18, s"{digit:$w} width must be 1..18"); out += Digit(w)
        case "alpha" =>
          val w = width.getOrElse(throw SpecError(s"{alpha} needs a width in '$pattern'"))
          require(w >= 1 && w <= 64, s"{alpha:$w} width must be 1..64"); out += Alpha(w)
        case "hex" =>
          val w = width.getOrElse(throw SpecError(s"{hex} needs a width in '$pattern'"))
          require(w >= 1 && w <= 15, s"{hex:$w} width must be 1..15"); out += Hex(w)
      }
      last = m.end
    }
    if (last < pattern.length) out += Literal(pattern.substring(last))
    out.result()
  }

  /** The pattern as one [[GenString]] kernel of the row id. With
    * `injective` (a primary-key column and its FK replays) a pattern without
    * `{seq}`/`{uuid}` whose value space fits a [[StringProgram.Lattice]]
    * renders a seed-keyed permutation of the id instead of independent
    * draws, so distinct rows below the pattern's cardinality never share a
    * key. */
  def compile(pattern: String, columnSeed: Long, id: Column, injective: Boolean = false): Column =
    GenString.column(id, program(pattern, columnSeed, injective))

  private[graft] def program(pattern: String, columnSeed: Long, injective: Boolean): StringProgram = {
    val toks = tokenize(pattern)
    lattice(toks).filter(_ => injective) match {
      case Some(parts) => StringProgram(Seq(StringProgram.Lattice(columnSeed, parts)))
      case None => StringProgram(toks.zipWithIndex.flatMap { case (tok, k) =>
        val tokSeed = Seeds.subSeed(columnSeed, k)
        tok match {
          case Literal(s) => Seq(StringProgram.Text(s))
          case Seq_(pad) => Seq(StringProgram.SeqNum(pad.getOrElse(0), SQLConf.get.ansiEnabled))
          case UuidTok => Seq(StringProgram.Uuid(tokSeed))
          case Digit(w) => Seq(StringProgram.Digits(tokSeed, w))
          case Hex(w) => Seq(StringProgram.HexDigits(tokSeed, w, upper = false))
          case Alpha(w) => TemplateCompiler.runTokens(Upper, w, tokSeed)
        }
      })
    }
  }

  private val Upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** The mixed-radix fields of a pattern made only of literals and
    * `{digit}`/`{alpha}`/`{hex}` fields whose value space fits a
    * [[StringProgram.Lattice]]; None otherwise. */
  private def lattice(toks: List[Token]): Option[Seq[Either[String, StringProgram.Field]]] = {
    val parts = toks.map {
      case Literal(s) => Some(Left(s))
      case Digit(w) => Some(Right(StringProgram.Field("0123456789", w)))
      case Alpha(w) => Some(Right(StringProgram.Field(Upper, w)))
      case Hex(w) => Some(Right(StringProgram.Field("0123456789abcdef", w)))
      case _: Seq_ | UuidTok => None
    }
    val fields = parts.flatten.collect { case Right(f) => BigInt(f.charset.length).pow(f.width) }
    if (parts.contains(None) || fields.isEmpty || fields.product > StringProgram.MaxLattice) None
    else Some(parts.flatten)
  }
}
