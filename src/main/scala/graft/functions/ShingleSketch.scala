package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle sketch: from a token array, ONE native expression builds
  * `struct(sh: array<long>, sig: array<long>)` — the sorted distinct
  * shingle hashes and the `numHashes`-entry minhash signature — in a
  * single pass over the shingles.
  *
  * Replaces a two-explode pipeline: shingle rows -> 128 `min(xxhash64)`
  * aggregates for the signature PLUS shingle rows -> `collect_set` for the
  * verification set, joined back by id. The fused kernel touches each
  * shingle once, hoists the per-shingle chain seed (`hashLong(h, 42)`)
  * that the aggregate form recomputed per hash family, and emits both
  * arrays with zero shuffles — the whole sketch becomes a narrow
  * projection, and the FIRST exchange of the dedup pipelines is the
  * band-key shuffle itself.
  *
  * Bit-compatibility contract (the pinned dedup oracles depend on it):
  *  - shingle strings: tokens `i until min(i+width, n)` joined with one
  *    space; `max(1, n - width + 1)` shingles (short docs yield the single
  *    whole-text shingle) — exactly `array_join(slice(toks, i+1, width))`.
  *  - shingle hash: `xxhash64(shingle)` = `XXH64.hashUTF8String(s, 42)`.
  *  - signature entry k: `min(xxhash64(h, k))` where the two-child hash
  *    chains `hashInt(k, hashLong(h, 42))`.
  *  - `sh`: distinct hashes sorted ascending = `sort_array(collect_set(h))`.
  *
  * Null tokens array -> null. Null token elements cannot occur from
  * `split` output (the only producer).
  */
object ShingleSketch {

  val Seed = 42L

  /** Static kernel: called from generated code — the codegen body stays a
    * one-line call, so the expression rides inside whole-stage codegen
    * without inflating the method. */
  def compute(tokens: ArrayData, width: Int, numHashes: Int): InternalRow = {
    val n = tokens.numElements()
    val nShingles = if (n <= width) 1 else n - width + 1
    val seen = new java.util.TreeSet[java.lang.Long]()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < nShingles) {
      val end = math.min(i + width, n)
      val parts = new Array[UTF8String](end - i)
      var j = i
      while (j < end) { parts(j - i) = tokens.getUTF8String(j); j += 1 }
      val h = XXH64.hashUTF8String(UTF8String.concatWs(sep, parts: _*), Seed)
      seen.add(h)
      if (numHashes > 0) {
        val chained = XXH64.hashLong(h, Seed)
        var k = 0
        while (k < numHashes) {
          val cand = XXH64.hashInt(k, chained)
          if (cand < mins(k)) mins(k) = cand
          k += 1
        }
      }
      i += 1
    }
    val sh = new Array[Long](seen.size)
    val it = seen.iterator()
    var s = 0
    while (it.hasNext) { sh(s) = it.next(); s += 1 }
    InternalRow(new GenericArrayData(sh), new GenericArrayData(mins))
  }

  case class Sketch(child: Expression, width: Int, numHashes: Int)
      extends UnaryExpression {
    override def prettyName: String = "graft_shingle_sketch"
    override def dataType: DataType = StructType(Seq(
      StructField("sh", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string> tokens, got ${other.simpleString}")
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData], width, numHashes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr =>
        s"${ev.value} = graft.functions.ShingleSketch.compute($arr, $width, $numHashes);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: `struct(sh, sig)` from a token-array column. */
  def sketch(tokens: Column, width: Int, numHashes: Int): Column =
    GraftSql.column(Sketch(GraftSql.expression(tokens), width, numHashes))

  // ------------------------------------------------------ LSH band keys

  /** Banded-LSH keys of a signature: element b is
    * `xxhash64(b, array_join(slice(sig, b·r+1, r), ","))` — the decimal
    * renderings of the band's longs joined with commas, hashed with the
    * int band index as the first child. The digits go straight into one
    * byte buffer, so no per-element string is built (the lambda spelling
    * interprets `transform` and renders every long as a UTF8String).
    *
    * Bit-compatibility contract: `array_join` skips null elements (and
    * their separators); a band past the end of the array is the empty
    * string; the hash chains `hashUnsafeBytes(utf8, hashInt(b, 42))`. A
    * null signature is not a null result: the lambda maps the band
    * sequence, its joined slice is null, and `xxhash64` skips a null
    * child, so every key is `hashInt(b, 42)`. */
  def computeBandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    if (sig == null) {
      var b = 0
      while (b < bands) { out(b) = XXH64.hashInt(b, Seed); b += 1 }
      return new GenericArrayData(out)
    }
    val n = sig.numElements()
    // 20 bytes hold any long's decimal form ("-9223372036854775808"),
    // plus one separator per element.
    val buf = new Array[Byte](rowsPerBand * 21)
    var b = 0
    while (b < bands) {
      val from = b.toLong * rowsPerBand
      val until = math.min(from + rowsPerBand, n.toLong).toInt
      var len = 0
      var first = true
      var i = from.toInt
      while (i < until) {
        if (!sig.isNullAt(i)) {
          if (!first) { buf(len) = ','.toByte; len += 1 }
          len = writeDecimal(sig.getLong(i), buf, len)
          first = false
        }
        i += 1
      }
      out(b) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, XXH64.hashInt(b, Seed))
      b += 1
    }
    new GenericArrayData(out)
  }

  private val MinLongDigits = java.lang.Long.toString(Long.MinValue).getBytes("US-ASCII")

  /** Writes `v` in decimal (`Long.toString` form) at `pos`; returns the end. */
  private def writeDecimal(v: Long, buf: Array[Byte], pos: Int): Int =
    if (v == Long.MinValue) {
      System.arraycopy(MinLongDigits, 0, buf, pos, MinLongDigits.length)
      pos + MinLongDigits.length
    } else {
      var p = pos
      var x = v
      if (x < 0) { buf(p) = '-'.toByte; p += 1; x = -x }
      var digits = 1
      var t = x / 10
      while (t != 0) { digits += 1; t /= 10 }
      var end = p + digits
      while (end > p) { end -= 1; buf(end) = ('0' + (x % 10)).toByte; x /= 10 }
      p + digits
    }

  case class BandKeys(child: Expression, bands: Int, rowsPerBand: Int)
      extends UnaryExpression {
    require(bands > 0 && rowsPerBand > 0, s"bad banding $bands x $rowsPerBand")
    override def prettyName: String = "graft_lsh_band_keys"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<bigint> signature, got ${other.simpleString}")
    }

    // A null signature still has keys (see computeBandKeys): no null
    // propagation.
    override def eval(input: InternalRow): Any =
      computeBandKeys(child.eval(input).asInstanceOf[ArrayData], bands, rowsPerBand)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.ShingleSketch.computeBandKeys(
          ${c.isNull} ? null : ${c.value}, $bands, $rowsPerBand);""", isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: `bands` LSH keys from an `array<bigint>` signature. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    GraftSql.column(BandKeys(GraftSql.expression(sig), bands, rowsPerBand))

  // ------------------------------------------------ sorted-set jaccard

  /** Jaccard similarity of two ascending, distinct, null-free long arrays
    * (the sketch's `sh`) by one merge walk: |A∩B| / (|A| + |B| - |A∩B|),
    * 1.0 when both are empty. On such arrays it equals
    * `size(array_intersect) / size(array_union)` bit for bit — the same
    * two integers divided as doubles — without the hash sets those
    * build per pair. Unsorted or repeated input gives a wrong answer, not
    * an error. */
  def computeSortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val uni = na + nb - inter
    if (uni == 0) 1.0 else inter.toDouble / uni.toDouble
  }

  case class SortedJaccard(left: Expression, right: Expression) extends BinaryExpression {
    override def prettyName: String = "graft_sorted_jaccard"
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<bigint>, array<bigint>), got (${l.simpleString}, ${r.simpleString})")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      computeSortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.ShingleSketch.computeSortedJaccard($a, $b);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Column API: jaccard of two sorted distinct `array<bigint>` sets. */
  def sortedJaccard(a: Column, b: Column): Column =
    GraftSql.column(SortedJaccard(GraftSql.expression(a), GraftSql.expression(b)))

  // ------------------------------------------------- positional variant

  /** Per-POSITION window hashes: element i is the hash of the window
    * starting at token i (same strings and seed-42 hash as [[compute]],
    * but ordered and NOT distinct — for consumers that need positions,
    * like substring-span removal). `max(1, n - width + 1)` elements. */
  def computeWindowHashes(tokens: ArrayData, width: Int): ArrayData = {
    val n = tokens.numElements()
    val nShingles = if (n <= width) 1 else n - width + 1
    val out = new Array[Long](nShingles)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < nShingles) {
      val end = math.min(i + width, n)
      val parts = new Array[UTF8String](end - i)
      var j = i
      while (j < end) { parts(j - i) = tokens.getUTF8String(j); j += 1 }
      out(i) = XXH64.hashUTF8String(UTF8String.concatWs(sep, parts: _*), Seed)
      i += 1
    }
    new GenericArrayData(out)
  }

  case class WindowHashes(child: Expression, width: Int) extends UnaryExpression {
    override def prettyName: String = "graft_window_hashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string> tokens, got ${other.simpleString}")
    }

    override def nullSafeEval(input: Any): Any =
      computeWindowHashes(input.asInstanceOf[ArrayData], width)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr =>
        s"${ev.value} = graft.functions.ShingleSketch.computeWindowHashes($arr, $width);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: ordered per-position window hashes from a token array. */
  def windowHashes(tokens: Column, width: Int): Column =
    GraftSql.column(WindowHashes(GraftSql.expression(tokens), width))

  // ------------------------------------------------------------- simhash

  /** Fused 64-bit SimHash of a token array — per-bit majority vote over
    * the multiset of token hashes, one compiled pass. Bit-identical to
    * the 64-vote-aggregate pipeline (`xxhash64(tok)` = seed-42 UTF8
    * hash; vote > 0 sets the bit, integer arithmetic throughout). */
  def computeSimHash(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = XXH64.hashUTF8String(tokens.getUTF8String(i), Seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sk = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sk |= (1L << b); b += 1 }
    sk
  }

  case class SimHash64(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_simhash"
    override def dataType: DataType = LongType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string> tokens, got ${other.simpleString}")
    }

    override def nullSafeEval(input: Any): Any =
      computeSimHash(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr =>
        s"${ev.value} = graft.functions.ShingleSketch.computeSimHash($arr);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: 64-bit simhash from a token-array column. */
  def simHash64(tokens: Column): Column =
    GraftSql.column(SimHash64(GraftSql.expression(tokens)))
}
