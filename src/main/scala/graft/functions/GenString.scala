package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, FormatString, Literal, RuntimeReplaceable, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.functions.format_string
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The string kernel of generated text columns: renders a [[StringProgram]]
  * from one integral child — the row id, or the value a `format` decorates —
  * straight into one UTF-8 byte array. One expression per column replaces a
  * `concat` of one `lpad(pmod(xxhash64(...)))` (or one table `element_at`)
  * per token and the per-row `java.util.Formatter` of `format_string`, and
  * its generated code is a single call, so wide tables stay far below the
  * codegen method limits. */
case class GenString(child: Expression, program: StringProgram) extends UnaryExpression {
  override def prettyName: String = "graft_gen_string"
  override def dataType: DataType = StringType
  override def nullable: Boolean = program.nullable(child.nullable)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case ByteType | ShortType | IntegerType if program.isFormat => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a bigint row id (or an integral value to format), got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => program.render(0L, idNull = true)
    case v => program.render(v.asInstanceOf[Number].longValue, idNull = false)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val prog = ctx.addReferenceObj("program", program, classOf[StringProgram].getName)
    val render = s"$prog.render((long) ${c.value}, ${c.isNull})"
    if (nullable) ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = $render;
      boolean ${ev.isNull} = ${ev.value} == null;""")
    else ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = $render;""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GenString {

  /** The column rendering `program` from the bigint row id `id`. */
  def column(id: Column, program: StringProgram): Column =
    GraftSql.column(GenString(GraftSql.expression(id), program))

  /** `format_string(spec, value)`. A spec in the kernel's subset (see
    * [[StringProgram.formatTokens]]) renders an integral `value` natively;
    * every other spec, and any non-integral value, stays on Spark's
    * `FormatString`. */
  def format(spec: String, value: Column): Column =
    if (StringProgram.formatTokens(spec, 64).isEmpty) format_string(spec, value)
    else GraftSql.column(IntegralFormat(GraftSql.expression(value), spec))
}

/** `format_string(spec, child)` for a spec in the kernel's subset. Whether
  * the kernel applies depends on the child's resolved type, so the choice
  * is made when the optimizer replaces this node: an integral child gets a
  * [[GenString]], any other child Spark's `FormatString`. */
case class IntegralFormat(child: Expression, spec: String)
    extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      val bits = 8 * child.dataType.defaultSize
      GenString(child, StringProgram(StringProgram.formatTokens(spec, bits).get))
    case _ => FormatString(Literal(spec), child)
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = replacement.nullable
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** A compiled token program: tokens written left to right into one byte
  * array sized by their upper bounds.
  *
  * Every hashed token keeps the Column spelling's draw bit for bit:
  * `xxhash64(lit(s), id)` is `hashLong(id, hashLong(s, 42))`, and the seed
  * half is folded once when the token is built. A null child is skipped by
  * `xxhash64`, so its draw is the folded seed alone. */
final case class StringProgram(toks: Seq[StringProgram.Tok]) {
  import StringProgram._

  private[this] val ts: Array[Tok] = toks.toArray
  private[this] val bound: Int = ts.map(_.maxBytes).sum

  /** Only literal text and one integral conversion: the child is a value,
    * not a row id, and may be any integral type. */
  def isFormat: Boolean = toks.forall {
    case _: Text | _: FormatInt => true
    case _ => false
  }

  def nullable(childNullable: Boolean): Boolean = toks.exists(_.nullable(childNullable))

  def render(id: Long, idNull: Boolean): UTF8String = {
    val buf = new Array[Byte](bound)
    var pos = 0
    var i = 0
    while (i < ts.length) {
      pos = ts(i).write(id, idNull, buf, pos)
      if (pos < 0) return null
      i += 1
    }
    if (pos == buf.length) UTF8String.fromBytes(buf) else UTF8String.fromBytes(buf, 0, pos)
  }

  override def toString: String = toks.mkString(" ")
}

object StringProgram {

  /** `hashLong(seed, 42)`: the constant half of `xxhash64(lit(seed), id)`. */
  def fold(seed: Long): Long = XXH64.hashLong(seed, 42L)

  @inline private def cell(folded: Long, id: Long, idNull: Boolean): Long =
    if (idNull) folded else XXH64.hashLong(id, folded)

  sealed trait Tok extends Serializable {
    /** Upper bound on the bytes [[write]] adds. */
    def maxBytes: Int
    /** Whether the token can make the whole value null. */
    def nullable(childNullable: Boolean): Boolean = false
    /** Writes the token at `pos` and returns the new end, or -1 when the
      * whole value is null (the Column spelling's `concat` of a null). */
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int
  }

  /** Literal text. */
  final case class Text(s: String) extends Tok {
    private[this] val bytes = s.getBytes(UTF_8)
    def maxBytes: Int = bytes.length
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int = {
      System.arraycopy(bytes, 0, buf, pos, bytes.length)
      pos + bytes.length
    }
    override def toString: String = s"'$s'"
  }

  /** `lpad(pmod(xxhash64(lit(seed), id), 10^width), width, "0")`. */
  final case class Digits(seed: Long, width: Int) extends Tok {
    require(width >= 1 && width <= 18, s"decimal group width $width must be 1..18")
    private[this] val folded = fold(seed)
    private[this] val mod = Pow10(width)
    def maxBytes: Int = width
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int = {
      writeRadix(Math.floorMod(cell(folded, id, idNull), mod), 10, DecimalChars, width, buf, pos)
      pos + width
    }
  }

  /** `lpad(hex(pmod(xxhash64(lit(seed), id), 16^width)), width, "0")`, in
    * lower or upper case. */
  final case class HexDigits(seed: Long, width: Int, upper: Boolean) extends Tok {
    require(width >= 1 && width <= 15, s"hex group width $width must be 1..15")
    private[this] val folded = fold(seed)
    private[this] val chars = if (upper) UpperHexChars else LowerHexChars
    def maxBytes: Int = width
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int = {
      writeRadix(cell(folded, id, idNull) & ((1L << (4 * width)) - 1), 16, chars, width, buf, pos)
      pos + width
    }
  }

  /** `width` (1..3) chars of an ASCII `charset` from one draw
    * `v = pmod(xxhash64(lit(seed), id), L^width)`: char j is
    * `charset(v / L^j % L)`, least significant first. */
  final case class Chars(seed: Long, charset: String, width: Int) extends Tok {
    require(width >= 1 && width <= 3, s"char group width $width must be 1..3")
    require(charset.nonEmpty && charset.forall(_ < 128), s"charset '$charset' must be non-empty ASCII")
    private[this] val folded = fold(seed)
    private[this] val cs = charset.getBytes(UTF_8)
    private[this] val combos = Math.pow(cs.length, width).toLong
    def maxBytes: Int = width
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int = {
      var v = Math.floorMod(cell(folded, id, idNull), combos)
      var j = 0
      while (j < width) { buf(pos + j) = cs((v % cs.length).toInt); v /= cs.length; j += 1 }
      pos + width
    }
  }

  /** `(id + 1)` in decimal; with `pad > 0`, `lpad(that, pad, "0")`, which
    * also truncates to `pad` chars. Null for a null id. Under ANSI the
    * increment fails on overflow, as `id + 1` does. */
  final case class SeqNum(pad: Int, ansi: Boolean) extends Tok {
    def maxBytes: Int = if (pad > 0) pad else 20
    override def nullable(childNullable: Boolean): Boolean = childNullable
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int =
      if (idNull) -1
      else {
        val n = if (ansi) MathUtils.addExact(id, 1L) else id + 1
        val len = decimalLength(n)
        if (pad == 0) writeDecimal(n, buf, pos)
        else if (len >= pad) {
          val tmp = new Array[Byte](len)
          writeDecimal(n, tmp, 0)
          System.arraycopy(tmp, 0, buf, pos, pad)
          pos + pad
        } else {
          java.util.Arrays.fill(buf, pos, pos + pad - len, '0'.toByte)
          writeDecimal(n, buf, pos + pad - len)
        }
      }
  }

  /** `pmod(xxhash64(lit(seed), id), bound)` in decimal, unpadded. */
  final case class IntNum(seed: Long, bound: Long) extends Tok {
    require(bound >= 1, s"int bound $bound must be >= 1")
    private[this] val folded = fold(seed)
    def maxBytes: Int = decimalLength(bound - 1)
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int =
      writeDecimal(Math.floorMod(cell(folded, id, idNull), bound), buf, pos)
  }

  /** `words(pmod(xxhash64(lit(seed), id), words.size))`; a null word makes
    * the value null. */
  final case class WordPick(seed: Long, words: Seq[String]) extends Tok {
    require(words.nonEmpty, "word list is empty")
    private[this] val folded = fold(seed)
    private[this] val bytes = words.map(w => if (w == null) null else w.getBytes(UTF_8)).toArray
    def maxBytes: Int = bytes.map(b => if (b == null) 0 else b.length).max
    override def nullable(childNullable: Boolean): Boolean = bytes.contains(null)
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int = {
      val w = bytes(Math.floorMod(cell(folded, id, idNull), bytes.length.toLong).toInt)
      if (w == null) -1
      else { System.arraycopy(w, 0, buf, pos, w.length); pos + w.length }
    }
    override def toString: String = s"WordPick($seed, ${words.size} words)"
  }

  /** A UUID-shaped string (not RFC 4122) from `h1 = xxhash64(lit(seed), id)`
    * and `h2 = xxhash64(lit(seed), id, lit(1))`, which chains to
    * `hashInt(1, h1)`: the hex fields `h1[63:32]-h1[31:16]-h1[15:0]-
    * h2[63:48]-h2[47:0]`. */
  final case class Uuid(seed: Long) extends Tok {
    private[this] val folded = fold(seed)
    def maxBytes: Int = 36
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int = {
      val h1 = cell(folded, id, idNull)
      val h2 = XXH64.hashInt(1, h1)
      writeRadix(h1 >>> 32, 16, LowerHexChars, 8, buf, pos)
      buf(pos + 8) = '-'.toByte
      writeRadix(h1 >>> 16, 16, LowerHexChars, 4, buf, pos + 9)
      buf(pos + 13) = '-'.toByte
      writeRadix(h1, 16, LowerHexChars, 4, buf, pos + 14)
      buf(pos + 18) = '-'.toByte
      writeRadix(h2 >>> 48, 16, LowerHexChars, 4, buf, pos + 19)
      buf(pos + 23) = '-'.toByte
      writeRadix(h2, 16, LowerHexChars, 12, buf, pos + 24)
      pos + 36
    }
  }

  /** `java.util.Formatter`'s `%d`/`%s` (`conv = 'd'`/`'s'`) or `%x`
    * (`'x'`) of the child value, zero-padded to `width` when `width > 0`.
    * `%x` prints the two's complement of the child's `bits`-wide type, so
    * a negative int is 8 hex digits. A null child prints `null`, padded
    * with spaces. */
  final case class FormatInt(conv: Char, width: Int, bits: Int) extends Tok {
    require("dsx".contains(conv) && width >= 0 && (width == 0 || conv != 's'),
      s"unsupported conversion %${if (width > 0) "0" + width else ""}$conv")
    private[this] val mask = if (bits >= 64) -1L else (1L << bits) - 1
    def maxBytes: Int = math.max(width, 20)
    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int =
      if (idNull) {
        val pad = math.max(0, width - 4)
        java.util.Arrays.fill(buf, pos, pos + pad, ' '.toByte)
        System.arraycopy(NullBytes, 0, buf, pos + pad, 4)
        pos + pad + 4
      } else if (conv == 'x') {
        val u = id & mask
        val len = math.max(1, (67 - java.lang.Long.numberOfLeadingZeros(u)) / 4)
        val w = math.max(len, width)
        writeRadix(u, 16, LowerHexChars, w, buf, pos)
        pos + w
      } else {
        val len = decimalLength(id)
        if (width <= len) writeDecimal(id, buf, pos)
        else {
          // Zeros go after the sign: "%05d" of -42 is "-0042".
          val end = writeDecimal(id, buf, pos + width - len)
          java.util.Arrays.fill(buf, pos, pos + width - len + (if (id < 0) 1 else 0), '0'.toByte)
          if (id < 0) buf(pos) = '-'.toByte
          end
        }
      }
  }

  /** One field of a [[Lattice]]: `width` chars of an ASCII `charset`. */
  final case class Field(charset: String, width: Int)

  /** An injective rendering of the row id: `id` (taken mod the lattice
    * size `card`, the product of `charset.length ^ width` over the fields)
    * goes through a seed-keyed permutation of `[0, card)` — a 4-round
    * balanced Feistel network on the smallest even bit width holding
    * `card`, cycle-walked back into range — and the result is written as
    * a mixed-radix number, the last field least significant, with the
    * literal text in between. Distinct ids below `card` give distinct
    * strings, so a key with `card >= rows` cannot collide, and a parent
    * row index replays to the same key. */
  final case class Lattice(key: Long, parts: Seq[Either[String, Field]]) extends Tok {
    private[this] val layout: Array[(Array[Byte], Int)] = parts.map {
      case Left(s) => (s.getBytes(UTF_8), 0)
      case Right(f) =>
        require(f.width >= 1 && f.charset.nonEmpty && f.charset.forall(_ < 128), s"bad lattice field $f")
        (f.charset.getBytes(UTF_8), f.width)
    }.toArray
    private[this] val card: Long = {
      val c = parts.collect { case Right(f) => BigInt(f.charset.length).pow(f.width) }.product
      require(c <= MaxLattice, s"lattice of $c values exceeds 2^62")
      c.toLong
    }
    private[this] val half = (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, card - 1)) + 1) / 2
    private[this] val halfMask = (1L << half) - 1
    private[this] val roundKeys = Array.tabulate(FeistelRounds)(r => XXH64.hashInt(r, fold(key)))
    val maxBytes: Int = layout.map { case (b, w) => if (w == 0) b.length else w }.sum

    private def feistel(x: Long): Long = {
      var l = x >>> half
      var r = x & halfMask
      var i = 0
      while (i < FeistelRounds) {
        val t = l ^ (XXH64.hashLong(r, roundKeys(i)) & halfMask)
        l = r
        r = t
        i += 1
      }
      (l << half) | r
    }

    /** The permuted lattice index of `id`. */
    def permute(id: Long): Long = {
      var x = feistel(Math.floorMod(id, card))
      while (x >= card) x = feistel(x)
      x
    }

    def write(id: Long, idNull: Boolean, buf: Array[Byte], pos: Int): Int = {
      var x = permute(if (idNull) 0L else id)
      var end = pos + maxBytes
      var p = layout.length - 1
      while (p >= 0) {
        val (bytes, width) = layout(p)
        if (width == 0) {
          end -= bytes.length
          System.arraycopy(bytes, 0, buf, end, bytes.length)
        } else {
          var j = 0
          while (j < width) {
            end -= 1
            buf(end) = bytes((x % bytes.length).toInt)
            x /= bytes.length
            j += 1
          }
        }
        p -= 1
      }
      pos + maxBytes
    }
  }

  /** Largest lattice [[Lattice]] permutes (its Feistel halves fit in 31 bits). */
  val MaxLattice: BigInt = BigInt(1) << 62

  private val FeistelRounds = 4

  /** The tokens of `format_string(spec, v)` for a `bits`-wide integral `v`
    * when `spec` is literal text (no `%`) around exactly one `%d`, `%x`,
    * `%s`, `%0Nd` or `%0Nx` (N up to 999); None for any other spec. */
  def formatTokens(spec: String, bits: Int): Option[Seq[Tok]] = spec match {
    case FormatSpec(pre, width, conv, post) if width == null || conv != "s" =>
      Some(Seq(Text(pre), FormatInt(conv.head, Option(width).fold(0)(_.toInt), bits), Text(post))
        .filter { case Text(s) => s.nonEmpty; case _ => true })
    case _ => None
  }

  private val FormatSpec = """(?s)([^%]*)%(?:0([1-9]\d{0,2}))?([dxs])([^%]*)""".r

  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  private val DecimalChars = "0123456789".getBytes(UTF_8)
  private val LowerHexChars = "0123456789abcdef".getBytes(UTF_8)
  private val UpperHexChars = "0123456789ABCDEF".getBytes(UTF_8)
  private val NullBytes = "null".getBytes(UTF_8)
  private val MinLongDigits = java.lang.Long.toString(Long.MinValue).getBytes(UTF_8)

  /** The low `width` digits of `v` (read as unsigned) in base `radix`
    * (10 or 16), zero-padded, ending at `pos + width`. */
  private def writeRadix(v: Long, radix: Int, chars: Array[Byte], width: Int,
      buf: Array[Byte], pos: Int): Unit = {
    var x = v
    var i = pos + width - 1
    if (radix == 16) while (i >= pos) { buf(i) = chars((x & 15).toInt); x >>>= 4; i -= 1 }
    else while (i >= pos) { buf(i) = chars((x % 10).toInt); x /= 10; i -= 1 }
  }

  /** Length of `Long.toString(v)`. */
  private[functions] def decimalLength(v: Long): Int =
    if (v == Long.MinValue) MinLongDigits.length
    else {
      var x = math.abs(v)
      var n = if (v < 0) 2 else 1
      while (x >= 10) { n += 1; x /= 10 }
      n
    }

  /** Writes `v` in decimal (`Long.toString` form) at `pos`; returns the end. */
  private[functions] def writeDecimal(v: Long, buf: Array[Byte], pos: Int): Int =
    if (v == Long.MinValue) {
      System.arraycopy(MinLongDigits, 0, buf, pos, MinLongDigits.length)
      pos + MinLongDigits.length
    } else {
      val end = pos + decimalLength(v)
      var x = math.abs(v)
      var i = end - 1
      while (x >= 10) { buf(i) = ('0' + (x % 10)).toByte; x /= 10; i -= 1 }
      buf(i) = ('0' + x).toByte
      if (v < 0) buf(pos) = '-'.toByte
      end
    }
}
