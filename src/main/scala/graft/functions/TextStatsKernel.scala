package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused Gopher-style repetition statistics: all six per-document signals
  * in ONE compiled pass — replaces the exploded frame pipeline (two
  * full-corpus explode+hash-aggregate passes joined by id: the operator's
  * only shuffles, and at 100 TB the whole cost).
  *
  * Parity contract with the exploded spelling (whose DuckDB oracle
  * recomputes everything from strings — the gate checks this end to end):
  *  - lines: `split(text, "\n")` with Java limit -1 (trailing empties
  *    kept; "" yields [""]). The kernel calls the same regex split.
  *  - dup_line_count = lines - distinct lines (string distinctness).
  *  - bullet lines: space-only ltrim, then first char in {-, *, •}
  *    (exactly `ltrim(line) rlike "^[-*•]"`).
  *  - ellipsis lines: space-only rtrim, then endsWith "...".
  *  - n-grams: tokens = `split(trim(lower(text)), "\s+")` (space-only
  *    trim, UTF8String lowercase, Java ASCII \s, limit -1 — a leading
  *    tab yields an empty first token, same as the Column spelling);
  *    windows i in [0, max(n-width, 0)] of `min(i+width, n) - i` tokens
  *    joined with one space; total = max(n-width, 0) + 1;
  *    dup = total - distinct windows.
  */
object TextStatsKernel {

  private val NewlinePattern = java.util.regex.Pattern.compile("\n")
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  def compute(text: UTF8String, width: Int): InternalRow = {
    val s = text.toString

    // Lines pass.
    val lines = NewlinePattern.split(s, -1)
    val lineSet = new java.util.HashSet[String](lines.length * 2)
    var bullets = 0L
    var ellipsis = 0L
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      lineSet.add(line)
      var b = 0
      while (b < line.length && line.charAt(b) == ' ') b += 1
      if (b < line.length) {
        val c = line.charAt(b)
        if (c == '-' || c == '*' || c == '•') bullets += 1
      }
      var e = line.length
      while (e > 0 && line.charAt(e - 1) == ' ') e -= 1
      if (e >= 3 && line.charAt(e - 1) == '.' && line.charAt(e - 2) == '.' &&
        line.charAt(e - 3) == '.') ellipsis += 1
      i += 1
    }

    // N-gram pass (space-only trim + same lowercase as Spark's lower()).
    val lowerTrimmed = text.trim().toLowerCase.toString
    val toks = WsPattern.split(lowerTrimmed, -1)
    val n = toks.length
    val total = math.max(n - width, 0) + 1
    val winSet = new java.util.HashSet[String](total * 2)
    val sb = new java.lang.StringBuilder
    var w = 0
    while (w < total) {
      sb.setLength(0)
      val end = math.min(w + width, n)
      var j = w
      while (j < end) {
        if (j > w) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      winSet.add(sb.toString)
      w += 1
    }

    InternalRow(lines.length.toLong, (lines.length - lineSet.size).toLong,
      bullets, ellipsis, total.toLong, (total - winSet.size).toLong)
  }

  case class TextStats(child: Expression, width: Int) extends UnaryExpression {
    override def prettyName: String = "graft_text_stats"
    override def dataType: DataType = StructType(Seq(
      StructField("n_lines", LongType, nullable = false),
      StructField("dup_line_count", LongType, nullable = false),
      StructField("bullet_line_count", LongType, nullable = false),
      StructField("ellipsis_line_count", LongType, nullable = false),
      StructField("ngram_total", LongType, nullable = false),
      StructField("ngram_dup_count", LongType, nullable = false)))
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.simpleString}")
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String], width)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, str =>
        s"${ev.value} = graft.functions.TextStatsKernel.compute($str, $width);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: struct of the six repetition signals. */
  def stats(text: Column, width: Int): Column =
    GraftSql.column(TextStats(GraftSql.expression(text), width))

  // ------------------------------------------------------- quality stats

  private val EnStopwords: java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    graft.llm.TextAnalysis.Stopwords("en").foreach(set.add)
    set
  }

  private def isAsciiWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  /** POSIX punct (Java `\p{Punct}`): ASCII 33-47, 58-64, 91-96, 123-126. */
  private def isPosixPunct(c: Int): Boolean =
    (c >= 33 && c <= 47) || (c >= 58 && c <= 64) || (c >= 91 && c <= 96) ||
      (c >= 123 && c <= 126)

  /** All quality features in one char scan + one tokenize pass — the
    * fused form of [[graft.llm.TextAnalysis.qualityFeatures]]'s Column
    * spelling (5 char-class regexp_replace traversals + a 20-word
    * stopword alternation scan + tokenize + distinct per document).
    *
    * Parity contract: counts are over the space-only-trimmed text;
    * character classes are the Java ASCII classes ([A-Za-z], [0-9],
    * [A-Z], POSIX punct, ASCII \s); tokens come from the same Java
    * `\s+` split (limit -1) the Column form compiles to, with the
    * `tokens("") -> []` special case; stopword hits compare lowercase
    * tokens for equality with the "en" list; every ratio is the same
    * int-over-int double division.
    */
  def computeQuality(text: UTF8String): InternalRow = {
    val trimmed = text.trim()
    val s = trimmed.toString
    var chars = 0; var alpha = 0; var punct = 0; var digit = 0; var upper = 0; var ws = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      chars += 1
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) {
        alpha += 1
        if (cp <= 'Z') upper += 1
      } else if (cp >= '0' && cp <= '9') digit += 1
      else if (isPosixPunct(cp)) punct += 1
      else if (isAsciiWs(cp)) ws += 1
    }
    val toks: Array[String] = if (s.isEmpty) Array.empty else WsPattern.split(s, -1)
    val n = toks.length
    val tokSet = new java.util.HashSet[String](n * 2)
    var t = 0
    while (t < n) { tokSet.add(toks(t)); t += 1 }
    var hits = 0
    if (n > 0) {
      val lowerToks = WsPattern.split(trimmed.toLowerCase.toString, -1)
      var l = 0
      while (l < lowerToks.length) {
        if (EnStopwords.contains(lowerToks(l))) hits += 1
        l += 1
      }
    }
    val charsD = chars.toDouble
    def ratio(count: Int): Double = if (chars == 0) 0.0 else count / charsD
    val meanLen = if (n == 0) 0.0 else (chars - ws).toDouble / n
    val stopRatio = if (n == 0) 0.0 else hits.toDouble / n
    val repetition = if (n == 0) 0.0 else 1.0 - tokSet.size.toDouble / n
    InternalRow(chars, n, meanLen, ratio(alpha), ratio(punct), ratio(digit),
      ratio(upper), stopRatio, repetition)
  }

  private val QualityStatsType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("mean_token_len", DoubleType, nullable = false),
    StructField("alpha_ratio", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("digit_ratio", DoubleType, nullable = false),
    StructField("upper_ratio", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("repetition", DoubleType, nullable = false)))

  case class QualityStats(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_quality_stats"
    override def dataType: DataType = QualityStatsType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.simpleString}")
    }

    override def nullSafeEval(input: Any): Any =
      computeQuality(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, str =>
        s"${ev.value} = graft.functions.TextStatsKernel.computeQuality($str);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: struct of the nine quality features. */
  def quality(text: Column): Column =
    GraftSql.column(QualityStats(GraftSql.expression(text)))

  /** Quality score in [0,1] of a [[QualityStats]] row: the fraction of
    * seven Gopher/C4-style checks the document passes. Row form of
    * [[graft.llm.TextAnalysis.qualityScore]], pinned against it (same
    * comparisons, same left-to-right double sum, same division by 7). */
  def score(f: InternalRow): Double = {
    def pass(ok: Boolean): Double = if (ok) 1.0 else 0.0
    val nTokens = f.getInt(1)
    val meanLen = f.getDouble(2)
    (pass(nTokens >= 5) + pass(nTokens <= 100000) +
      pass(meanLen >= 2 && meanLen <= 12) + pass(f.getDouble(3) >= 0.6) +
      pass(f.getDouble(4) <= 0.25) + pass(f.getDouble(7) >= 0.05) +
      pass(f.getDouble(8) <= 0.5)) / 7
  }

  /** The curation keep rule in one call: `score >= minQuality` and at least
    * `minTokens` whitespace tokens (`n_tokens` is the same count as
    * [[graft.llm.TextAnalysis.tokenCount]]). */
  def keep(f: InternalRow, minQuality: Double, minTokens: Int): Boolean =
    score(f) >= minQuality && f.getInt(1) >= minTokens

  /** The keep rule over a [[QualityStats]] child, as ONE boolean node: a
    * filter condition that reads several fields of the features struct
    * would evaluate the kernel once per reference, because `FilterExec`
    * does no common-subexpression elimination. */
  case class QualityKeep(child: Expression, minQuality: Double, minTokens: Int)
      extends UnaryExpression {
    override def prettyName: String = "graft_quality_keep"
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == QualityStatsType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects the graft_quality_stats struct, got ${child.dataType.simpleString}")
    override def nullSafeEval(input: Any): Any =
      keep(input.asInstanceOf[InternalRow], minQuality, minTokens)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, f =>
        s"${ev.value} = graft.functions.TextStatsKernel.keep($f, " +
          s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(minQuality)}L), " +
          s"$minTokens);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: the keep rule (`score >= minQuality`, `>= minTokens`
    * tokens) evaluating the quality kernel once per row. */
  def qualityKeep(text: Column, minQuality: Double, minTokens: Int): Column =
    GraftSql.column(QualityKeep(QualityStats(GraftSql.expression(text)), minQuality, minTokens))

  // ------------------------------------------------------ subword count

  /** Count of BPE-ish pieces — fused spelling of
    * `size(regexp_extract_all(text, "[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))`.
    * Exact parity with the regex's code-POINT semantics (Java regex
    * classes consume whole code points): a letter run counts once, a
    * digit counts once, and any other non-ASCII-whitespace code point —
    * including an astral character — counts once. */
  def computeSubwordCount(text: UTF8String): Int = {
    val s = text.toString
    var count = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) {
        count += 1
        i += 1
        while (i < s.length && {
          val d = s.charAt(i); (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z')
        }) i += 1
      } else {
        if (!isAsciiWs(cp)) count += 1
        i += Character.charCount(cp)
      }
    }
    count
  }

  case class SubwordCount(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_subword_count"
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.simpleString}")
    }

    override def nullSafeEval(input: Any): Any =
      computeSubwordCount(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, str =>
        s"${ev.value} = graft.functions.TextStatsKernel.computeSubwordCount($str);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: fused subword-piece count. */
  def subwords(text: Column): Column =
    GraftSql.column(SubwordCount(GraftSql.expression(text)))

  // ------------------------------------------------------- span removal

  /** Rebuild a document with the token spans starting at `starts` (0-based
    * token indices, each `width` tokens long, clamped at the end) removed —
    * the execution half of substring-level dedup. Tokens come from the
    * same space-trimmed Java `\s+` split as the window construction, so
    * positions line up exactly; output is the surviving tokens joined with
    * single spaces (whitespace-normalized, like the window pipeline
    * itself). Null `starts` (no repeated spans) keeps every token. */
  def computeRemoveSpans(text: UTF8String, starts: ArrayData, width: Int): UTF8String = {
    val s = text.trim().toString
    val toks = WsPattern.split(s, -1)
    val n = toks.length
    val covered = new Array[Boolean](n)
    if (starts != null) {
      var k = 0
      while (k < starts.numElements()) {
        if (!starts.isNullAt(k)) {
          var j = math.max(starts.getInt(k), 0)
          val end = math.min(j.toLong + width, n.toLong).toInt
          while (j < end) { covered(j) = true; j += 1 }
        }
        k += 1
      }
    }
    val sb = new java.lang.StringBuilder(s.length)
    var j = 0
    var first = true
    while (j < n) {
      if (!covered(j)) {
        if (!first) sb.append(' ')
        sb.append(toks(j))
        first = false
      }
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  case class RemoveSpans(left: Expression, right: Expression, width: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def prettyName: String = "graft_remove_spans"
    override def dataType: DataType = StringType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (StringType, ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, array<int>), got (${l.simpleString}, ${r.simpleString})")
    }

    // The starts side must NOT null-propagate (null = "no spans to drop"),
    // so eval handles nulls explicitly instead of nullSafeEval.
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val t = left.eval(input)
      if (t == null) null
      else computeRemoveSpans(t.asInstanceOf[UTF8String],
        right.eval(input).asInstanceOf[ArrayData], width)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val leftGen = left.genCode(ctx)
      val rightGen = right.genCode(ctx)
      val code = code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        UTF8String ${ev.value} = null;
        if (!${ev.isNull}) {
          ${rightGen.code}
          ${ev.value} = graft.functions.TextStatsKernel.computeRemoveSpans(
            ${leftGen.value}, ${rightGen.isNull} ? null : ${rightGen.value}, $width);
        }"""
      ev.copy(code = code)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Column API: text with the `width`-token spans at `starts` removed. */
  def removeSpans(text: Column, starts: Column, width: Int): Column =
    GraftSql.column(RemoveSpans(GraftSql.expression(text), GraftSql.expression(starts), width))
}
