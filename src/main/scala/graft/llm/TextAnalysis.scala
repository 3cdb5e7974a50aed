package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * language identification, quality scoring, document fingerprinting.
  * All pure Column expressions over built-ins — per-row, shuffle-free,
  * whole-stage-codegen'd; the only shuffles are whatever aggregation the
  * caller adds on top.
  */
object TextAnalysis {

  /** Whitespace token array ('' rows give an empty array, not [""]). */
  def tokens(text: Column): Column = {
    val t = trim(text)
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-ish runs, digit singles, and punctuation
    * singles counted separately (a cheap stand-in for a real tokenizer's
    * piece count — deterministic and vectorized). Fused kernel; the regex
    * spelling stays as [[subwordCountColumns]] for parity testing. */
  def subwordCount(text: Column): Column =
    graft.functions.TextStatsKernel.subwords(text)

  /** The historical regex spelling of [[subwordCount]] — parity reference. */
  def subwordCountColumns(text: Column): Column =
    size(regexp_extract_all(text, lit("""[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"""), lit(0)))

  /** Characters per token — crude fertility proxy. */
  def meanTokenLength(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast("double") / n)
  }

  // ------------------------------------------------------------ language id

  /** Tiny per-language stopword lists (top function words). Public
    * knowledge; any overlap across languages just dilutes both scores. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
      "with", "as", "his", "on", "be", "at", "by", "this", "had", "not"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
      "auf", "für", "von", "sich", "dem", "den", "des", "im", "zu", "als", "auch"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "un", "une", "des", "du",
      "pour", "dans", "que", "qui", "sur", "avec", "au", "il", "elle", "ne"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "no", "un", "una", "de",
      "en", "que", "por", "para", "con", "se", "su", "al", "lo", "como"),
    "it" -> Seq("il", "la", "le", "e", "è", "non", "un", "una", "di", "che",
      "per", "con", "del", "della", "si", "in", "da", "sono", "come", "più"))

  /** Stopword-hit count for one language over a lowercase token array.
    * NOTE: `filter` is a higher-order lambda (CodegenFallback, interpreted
    * per row) — hot paths use [[stopwordHitsText]], which computes the same
    * count with a codegen'd regex scan. */
  def stopwordHits(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(Stopwords(lang): _*)))

  /** Same count as `stopwordHits(tokens(lower(text)), lang)` but fully
    * codegen'd: whitespace-normalize + pad the lowercase text, then count
    * non-consuming boundary-anchored matches of the stopword alternation.
    * A token is exactly a maximal run between spaces of the normalized
    * string, and the lookaround anchors don't consume the separating
    * space, so adjacent hits ("the the the") all count. */
  def stopwordHitsText(text: Column, lang: String): Column = {
    val padded = concat(lit(" "), regexp_replace(lower(trim(text)), "\\s+", " "), lit(" "))
    val pat = Stopwords(lang).map(java.util.regex.Pattern.quote).mkString("(?<= )(?:", "|", ")(?= )")
    size(regexp_extract_all(padded, lit(pat), lit(0)))
  }

  /** Predicted language code: script detection first (Han/Kana/Hangul/
    * Cyrillic/Arabic character ratios are near-certain signals), then
    * argmax stopword-hit rate for Latin-script text; "und" (undetermined)
    * when no signal scores at least `minHits` hits.
    *
    * Delegates to the fused [[graft.functions.LangIdKernel]]: one compiled
    * pass per document (code-point scan for scripts + one tokenize pass
    * with a stopword->language-bitmask hash probe per token). The built-in
    * relational spelling needed >=10 full-text regex traversals per
    * document — 5 script-class regexp_replace passes plus a 20-word
    * lookaround-alternation scan per language — and measured 2-3x slower
    * at corpus scale. [[languageIdColumns]] keeps that spelling as the
    * bit-parity reference (Round6Spec asserts zero disagreements). */
  def languageId(text: Column, minHits: Int = 1): Column =
    graft.functions.LangIdKernel.languageId(text, minHits)

  /** The historical pure-Column spelling of [[languageId]] — parity
    * reference for the fused kernel, not a hot path. */
  def languageIdColumns(text: Column, minHits: Int = 1): Column = {
    val t = trim(text)
    val chars = greatest(length(t), lit(1)).cast("double")
    def scriptRatio(rangePattern: String): Column =
      (chars - length(regexp_replace(t, rangePattern, ""))) / chars
    val langs = Stopwords.keys.toSeq.sorted
    // Fold to (bestLang, bestScore); ties resolve to the alphabetically
    // first language for determinism.
    val scored = langs.map(l => l -> stopwordHitsText(text, l))
    val best = scored.foldLeft((lit("und"), lit(minHits - 1))) {
      case ((bl, bs), (l, s)) => (when(s > bs, lit(l)).otherwise(bl), greatest(s, bs))
    }
    when(scriptRatio("[\\x{4E00}-\\x{9FFF}]") > 0.25, "zh")
      .when(scriptRatio("[\\x{3040}-\\x{30FF}]") > 0.1, "ja")
      .when(scriptRatio("[\\x{AC00}-\\x{D7AF}]") > 0.25, "ko")
      .when(scriptRatio("[\\x{0400}-\\x{04FF}]") > 0.25, "ru")
      .when(scriptRatio("[\\x{0600}-\\x{06FF}]") > 0.25, "ar")
      .otherwise(best._1)
  }

  // ------------------------------------------------------------ quality

  /** Struct of quality features: n_chars, n_tokens, mean_token_len,
    * alpha_ratio, punct_ratio, digit_ratio, upper_ratio, stopword_ratio,
    * repetition (1 - distinct/total tokens).
    *
    * Delegates to the fused [[graft.functions.TextStatsKernel.quality]]
    * kernel: one char scan + one tokenize pass per document instead of
    * 5 char-class regexp traversals + a stopword alternation scan.
    * [[qualityFeaturesColumns]] keeps the relational spelling as the
    * parity reference (Round6Spec + the string-level DuckDB oracle). */
  def qualityFeatures(text: Column): Column =
    graft.functions.TextStatsKernel.quality(text)

  /** The historical pure-Column spelling of [[qualityFeatures]] — parity
    * reference for the fused kernel, not a hot path. */
  def qualityFeaturesColumns(text: Column): Column = {
    val t = trim(text)
    val chars = length(t).cast("double")
    val toks = tokens(t)
    val nToks = size(toks).cast("double")
    def ratioOf(pattern: String): Column =
      when(chars === 0, lit(0.0))
        .otherwise((chars - length(regexp_replace(t, pattern, ""))) / chars)
    val stopRatio = when(nToks === 0, lit(0.0))
      .otherwise(stopwordHitsText(text, "en").cast("double") / nToks)
    val repetition = when(nToks === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(toks)).cast("double") / nToks)
    struct(
      length(t).as("n_chars"),
      size(toks).as("n_tokens"),
      meanTokenLength(t).as("mean_token_len"),
      ratioOf("[A-Za-z]").as("alpha_ratio"),
      ratioOf("""[\p{Punct}]""").as("punct_ratio"),
      ratioOf("[0-9]").as("digit_ratio"),
      ratioOf("[A-Z]").as("upper_ratio"),
      stopRatio.as("stopword_ratio"),
      repetition.as("repetition"))
  }

  /** Scalar quality score in [0,1]: documents score high when they look
    * like prose (many tokens, mostly alphabetic, some stopwords, low
    * repetition, moderate punctuation). Thresholds follow common web-corpus
    * filtering heuristics (Gopher/C4-style rules, public knowledge).
    * [[qualityKeep]] applies the same score inside one filter node. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val checks = Seq[Column](
      (f("n_tokens") >= 5).cast("double"),
      (f("n_tokens") <= 100000).cast("double"),
      (f("mean_token_len") >= 2 && f("mean_token_len") <= 12).cast("double"),
      (f("alpha_ratio") >= 0.6).cast("double"),
      (f("punct_ratio") <= 0.25).cast("double"),
      (f("stopword_ratio") >= 0.05).cast("double"),
      (f("repetition") <= 0.5).cast("double"))
    checks.reduce(_ + _) / checks.length
  }

  /** Keep rule of the curation quality filter: `qualityScore >= minQuality`
    * and `tokenCount >= minTokens`, as one expression that evaluates the
    * quality kernel once per row. Spelled with the two Columns, a filter
    * runs the kernel once per feature it reads: `FilterExec` does no
    * common-subexpression elimination. */
  def qualityKeep(text: Column, minQuality: Double, minTokens: Int): Column =
    graft.functions.TextStatsKernel.qualityKeep(text, minQuality, minTokens)

  // ------------------------------------------------- repetition (Gopher-style)

  /** Newline-split lines (trailing empties kept — split limit -1). */
  def lines(text: Column): Column = split(text, "\n")

  /** Number of repeated lines: total minus distinct. The Gopher web-filter
    * family uses the fraction of duplicate lines as a boilerplate signal
    * (headers/footers/nav repeated inside one page). Integer count so
    * aggregations stay exact; divide by `size(lines)` for the fraction. */
  def duplicateLineCount(text: Column): Column = {
    val l = lines(text)
    size(l) - size(array_distinct(l))
  }

  /** Fraction of lines that are repeats (0 for empty/one-line docs). */
  def duplicateLineFraction(text: Column): Column = {
    val n = size(lines(text)).cast("double")
    when(n <= 1, lit(0.0)).otherwise(duplicateLineCount(text).cast("double") / n)
  }

  /** Number of repeated word n-grams (total minus distinct over the shingle
    * multiset; 0 when the document has <= width tokens and so a single
    * full-text shingle). High values mark the looping/spammy text the
    * Gopher rules drop via duplicate-n-gram fractions. */
  def duplicateNgramCount(text: Column, width: Int = 3): Column = {
    val sh = Dedup.shingles(text, width)
    size(sh) - size(array_distinct(sh))
  }

  /** Fraction of n-grams that are repeats. */
  def duplicateNgramFraction(text: Column, width: Int = 3): Column = {
    val n = size(Dedup.shingles(text, width)).cast("double")
    when(n === 0, lit(0.0)).otherwise(duplicateNgramCount(text, width).cast("double") / n)
  }

  /** Lines that start with a bullet marker (-, *, •) after leading spaces —
    * list-heavy pages score high and read poorly as prose. */
  def bulletLineCount(text: Column): Column =
    size(filter(lines(text), l => ltrim(l).rlike("^[-*•]")))

  /** Lines that trail off with "..." (after trailing spaces) — truncated
    * scrapes and clickbait summaries. */
  def ellipsisLineCount(text: Column): Column =
    size(filter(lines(text), l => rtrim(l).endsWith("...")))

  /** All Gopher-style repetition signals as ONE frame transform — the
    * pipeline path, now a single fused kernel pass per document
    * ([[graft.functions.TextStatsKernel]]): no explode, no aggregation,
    * no join — the operator is a narrow projection with zero shuffles.
    * (History: the per-row Column forms evaluate `filter`/`transform`
    * higher-order lambdas — CodegenFallback, ~10x the rest of the query;
    * the round-5 exploded+hash-aggregated spelling fixed that but still
    * paid two full-corpus exploded aggregations joined by id — the
    * operator's only shuffles, and at 100 TB the whole cost. The kernel
    * computes identical values; [[repetitionSignalsExploded]] keeps the
    * exploded spelling as the parity reference, and the DuckDB oracle
    * recomputes everything from strings.)
    *
    * @return one row per input row: idCol plus n_lines, dup_line_count,
    *         bullet_line_count, ellipsis_line_count, ngram_total,
    *         ngram_dup_count. Empty text: split("") yields [""], so such
    *         docs count 1 line / 1 shingle, exactly like the Column forms.
    *         NULL text is coalesced to "" first — explode(split(null))
    *         would emit zero rows and the inner join would silently drop
    *         the document, breaking the one-row-per-input contract (the
    *         per-row Column forms return null for such docs; the frame
    *         path counts them as empty instead, which keeps corpus-level
    *         sums null-safe).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      width: Int = 3): DataFrame = {
    val st = graft.functions.TextStatsKernel.stats(coalesce(col(textCol), lit("")), width)
    df.select(col(idCol), st.as("__st"))
      .select(col(idCol),
        col("__st.n_lines").as("n_lines"),
        col("__st.dup_line_count").as("dup_line_count"),
        col("__st.bullet_line_count").as("bullet_line_count"),
        col("__st.ellipsis_line_count").as("ellipsis_line_count"),
        col("__st.ngram_total").as("ngram_total"),
        col("__st.ngram_dup_count").as("ngram_dup_count"))
  }

  /** The round-5 exploded+aggregated spelling of [[repetitionSignals]] —
    * parity reference for the fused kernel, not a hot path. */
  def repetitionSignalsExploded(df: DataFrame, idCol: String, textCol: String,
      width: Int = 3): DataFrame = {
    val id = col(idCol)
    val text = coalesce(col(textCol), lit(""))
    // Lines: one exploded pass, aggregated per doc. countDistinct compiles
    // to a two-phase (doc, line)-then-(doc) aggregate — no HOF anywhere.
    val lineStats = df
      .select(id, explode(lines(text)).as("__line"))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("__line")).as("__n_distinct_lines"),
        sum(when(ltrim(col("__line")).rlike("^[-*•]"), 1L).otherwise(0L))
          .as("bullet_line_count"),
        sum(when(rtrim(col("__line")).endsWith("..."), 1L).otherwise(0L))
          .as("ellipsis_line_count"))
      .select(id, col("n_lines"),
        (col("n_lines") - col("__n_distinct_lines")).as("dup_line_count"),
        col("bullet_line_count"), col("ellipsis_line_count"))
    // Shingles: explode the index range and build each shingle with
    // slice/array_join (all codegen'd) — the same generator trick as
    // Dedup.shingleHashRows, but keeping the string for exact distinctness.
    val toks = split(trim(lower(text)), "\\s+")
    val nToks = size(toks)
    val ngramStats = df
      .select(id,
        explode(sequence(lit(0), greatest(nToks - width, lit(0)))).as("__i"),
        toks.as("__toks"))
      .select(id, array_join(slice(col("__toks"), col("__i") + 1, lit(width)), " ").as("__sh"))
      .groupBy(idCol).agg(
        count(lit(1)).as("ngram_total"),
        countDistinct(col("__sh")).as("__n_distinct_sh"))
      .select(id, col("ngram_total"),
        (col("ngram_total") - col("__n_distinct_sh")).as("ngram_dup_count"))
    lineStats.join(ngramStats, Seq(idCol))
  }

  // ------------------------------------------------------- sentence split

  /** The shared sentence rule: maximal runs of non-terminator characters
    * followed by a terminator run (`[.!?]+`), plus an unterminated tail.
    * Deliberately RE2-safe (no lookbehind) AND leftmost-first-identical
    * between java.util.regex and RE2, so the DuckDB oracle replays the
    * segmentation verbatim. Terminator-only runs ("...") and
    * whitespace-only segments yield no sentence. */
  val SentencePattern = "[^.!?]+[.!?]+|[^.!?]+\\z"

  /** Explode a text column into `(id, sent_idx, sentence)` rows —
    * sentence-level filtering/dedup/stats compose on top (one narrow
    * explode, zero shuffle). `sent_idx` is the 0-based position among
    * RAW pattern matches: whitespace-only matches are dropped AFTER
    * indexing, so indices are stable under the drop (gaps allowed). */
  def sentences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        regexp_extract_all(col(textCol), lit(SentencePattern), lit(0))))
      .withColumnRenamed("pos", "sent_idx")
      .select(col(idCol), col("sent_idx"), trim(col("col")).as("sentence"))
      .where(col("sentence") =!= "")

  // ------------------------------------------------------------ cleaning

  /** PII masking: URLs, emails, IPv4 addresses and phone-like digit runs
    * replaced by typed placeholders, in that order (URLs first so their
    * path digits don't half-match as phones; IPs before phones because the
    * phone class would otherwise nibble at dotted quads). Patterns are
    * RE2-compatible (no lookaround/backrefs) so the exact same regexes run
    * in other engines — the DuckDB oracle replays them verbatim. Pure
    * codegen'd regexp_replace chain, shuffle-free. */
  private val UrlRe = """https?://[^\s]+"""
  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val IpRe = """\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"""
  private val PhoneRe = """\+?[0-9][0-9()\-\s]{6,}[0-9]"""

  def redactPii(text: Column): Column = {
    val url = regexp_replace(text, UrlRe, "<URL>")
    val email = regexp_replace(url, EmailRe, "<EMAIL>")
    val ip = regexp_replace(email, IpRe, "<IP>")
    regexp_replace(ip, PhoneRe, "<PHONE>")
  }

  /** Per-document PII statistics (r18): a struct of per-type match counts
    * `(n_url, n_email, n_ip, n_phone)` plus `density` = total matches per
    * whitespace token (0 for empty text). The counts run the SAME ordered
    * chain as [[redactPii]] — each class is counted on the text with the
    * earlier classes already masked, so a URL's path digits never
    * double-count as a phone and a dotted quad never half-counts under
    * the phone class (the redaction-order rationale, applied to
    * counting). Patterns are RE2-compatible; a DuckDB oracle replays the
    * chain verbatim with `regexp_extract_all`. Pure codegen'd
    * regexp/struct projection, shuffle-free — the scoring side of the
    * redaction kernel, for threshold policies that DROP documents
    * (pipeline `pii_filter` stage) rather than mask them. */
  def piiStats(text: Column): Column = {
    val nUrl = size(regexp_extract_all(text, lit(UrlRe), lit(0)))
    val afterUrl = regexp_replace(text, UrlRe, "<URL>")
    val nEmail = size(regexp_extract_all(afterUrl, lit(EmailRe), lit(0)))
    val afterEmail = regexp_replace(afterUrl, EmailRe, "<EMAIL>")
    val nIp = size(regexp_extract_all(afterEmail, lit(IpRe), lit(0)))
    val afterIp = regexp_replace(afterEmail, IpRe, "<IP>")
    val nPhone = size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0)))
    val total = (nUrl + nEmail + nIp + nPhone).cast("double")
    struct(nUrl.as("n_url"), nEmail.as("n_email"), nIp.as("n_ip"),
      nPhone.as("n_phone"),
      (total / greatest(tokenCount(text), lit(1)).cast("double")).as("density"))
  }

  /** Whitespace/control normalization: control characters to spaces,
    * whitespace runs collapsed, ends trimmed. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, """\p{Cntrl}""", " "), """\s+""", " "))

  /** Drop repeated lines, keeping the first occurrence in order — the
    * remove-side twin of [[duplicateLineCount]] (boilerplate strip:
    * headers/footers/nav repeated inside one page). */
  def removeRepeatedLines(text: Column): Column =
    array_join(array_distinct(lines(text)), "\n")

  // ------------------------------------------------------------ fingerprint

  /** 64-bit content fingerprint of normalized text (lowercase, punctuation
    * stripped, whitespace collapsed) — stable under cosmetic edits. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(trim(lower(text)), """[\p{Punct}\s]+""", " "))

  /** Rolling-window fingerprints: xxhash64 of each `width`-token window —
    * the building block for substring-level duplicate detection. */
  def windowFingerprints(text: Column, width: Int = 8): Column =
    transform(Dedup.shingles(text, width), s => xxhash64(s))

  // ------------------------------------------------------------ tf-idf

  /** Per-document top-k salient terms by smoothed TF-IDF
    * (`score = tf * (ln((N+1)/(df+1)) + 1)`, the sklearn-style smooth
    * idf): keyword extraction / topic tagging over a corpus. Terms are
    * whitespace tokens of `trim(lower(text))` — the same normalization as
    * the shingle family. Ties rank deterministically (score desc, term
    * asc).
    *
    * Scale shape: explode → two map-side-combined aggregations (term
    * frequency per (doc, term); document frequency per term — the second
    * reuses the first's output, never rescanning the corpus) → one
    * equi-join on term → per-doc top-k via `row_number` ≤ k, which Spark
    * executes as WindowGroupLimit (per-partition running top-k, no
    * per-doc buffering). `maxDfRatio` drops stopword-grade terms (df >
    * ratio·N) BEFORE the join fans tf rows back out — at corpus scale the
    * head of the vocabulary is most of the join volume and carries the
    * least signal.
    *
    * @param totalDocs corpus size for the idf; pass it when known (e.g.
    *   from an earlier aggregate) to avoid the extra count job. */
  def salientTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      maxDfRatio: Double = 1.0, totalDocs: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfRatio > 0 && maxDfRatio <= 1.0,
      s"maxDfRatio must be in (0,1], got $maxDfRatio")
    val n = totalDocs.getOrElse(df.count())
    val tf = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
      .where(col("df_docs") <= (lit(maxDfRatio) * n).cast("long"))
    val scored = tf.join(dfx, Seq("term"))
      .withColumn("tfidf", col("tf").cast("double") *
        (log(lit((n + 1).toDouble) / (col("df_docs") + 1L).cast("double")) + 1.0))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id").as(idCol), col("rank"), col("term"), col("tf"),
        col("df_docs"), col("tfidf"))
  }

  // ----------------------------------------------------------- lm quality

  /** Bigram language-model quality proxy (the CCNet-style perplexity
    * filter): trains add-alpha bigram counts on the corpus itself and
    * scores each document's average negative log-likelihood
    * `-mean ln((c(w1,w2) + α) / (c(w1) + α·V))` — low = fluent/common
    * constructions, high = rare sequences or noise. Tokenization matches
    * the shingle family (trim + lower + `\s+`).
    *
    * Scale shape: two map-side-combined count aggregations (bigrams,
    * unigrams) over one explode pass each; scoring joins each document
    * bigram to its two counts (equi-joins on the bigram / first-word
    * keys) and aggregates per doc. The vocabulary size rides in as a
    * broadcast 1-row frame, so the whole operator stays lazy — no driver
    * action. At corpus scale the count frames ARE big (the model is the
    * vocabulary); a production variant prunes to top-K n-grams and
    * broadcasts — here the join path keeps the semantics exact and the
    * shuffles are on count keys, never all-pairs.
    *
    * @return (id, n_bigrams, avg_nll) for documents with >= 2 tokens
    *   (shorter docs carry no bigram evidence and are omitted). */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val docs = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), toks.as("t"))
    val pairFrame = docs.where(size(col("t")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(0, size(t)-2), " +
          "i -> struct(element_at(t, i+1) as w1, element_at(t, i+2) as w2))")).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = docs.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val bi = pairFrame.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val vFrame = uni.agg(count(lit(1)).as("v"))
    pairFrame.join(bi, Seq("w1", "w2"))
      .join(uni, pairFrame("w1") === uni("w"))
      .crossJoin(broadcast(vFrame))
      .withColumn("nll", -log((col("cb") + alpha) /
        (col("cu") + lit(alpha) * col("v"))))
      .groupBy("id").agg(count(lit(1)).as("n_bigrams"), avg("nll").as("avg_nll"))
      .select(col("id").as(idCol), col("n_bigrams"), col("avg_nll"))
  }

  /** Trigram stupid-backoff LM scoring (Brants et al., "Large Language
    * Models in Machine Translation", EMNLP 2007 — the n-gram smoothing
    * built FOR distributed trillion-token corpora: no continuation
    * counts, no discount normalization, just count ratios with a fixed
    * backoff penalty):
    *
    *   S(w3|w1,w2) = c3/c2(w1,w2)        if c3(w1,w2,w3) > 0
    *               = λ · S(w3|w2)         otherwise
    *   S(w3|w2)    = c2(w2,w3)/c1(w2)    if c2(w2,w3) > 0
    *               = λ · S(w3)            otherwise
    *   S(w3)       = (c1(w3)+1)/(N+V+1)   (add-one at the unigram level
    *                                       so OOV words score finite —
    *                                       pure SB drops unseen words)
    *
    * Counts come from `train`; scoring runs over `score` — the reference
    * deployment (fit on the trusted corpus, score candidates), and the
    * split is what makes the backoff branches live. Scores are relative
    * frequencies, not a normalized distribution (the published SB
    * tradeoff) — ranking quality, not true perplexity.
    *
    * Scale shape (the [[bigramNll]] contract): three map-side-combined
    * count aggregations over the train corpus; scoring LEFT-joins each
    * document trigram to its five counts (equi-joins on gram keys, never
    * all-pairs) and aggregates per doc; the (N, V) totals ride as a
    * broadcast 1-row frame. Fully lazy — no driver action.
    *
    * @return (id, n_trigrams, avg_nll) for scored documents with >= 3
    *   tokens (shorter docs carry no trigram evidence and are omitted). */
  def trigramSbNll(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, backoff: Double = 0.4): DataFrame = {
    require(backoff > 0 && backoff <= 1, s"backoff must be in (0,1], got $backoff")
    def toks(df: DataFrame) = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), split(trim(lower(col(textCol))), "\\s+").as("t"))
    def grams(df: DataFrame, n: Int): DataFrame = {
      val fields = (1 to n).map(k => s"element_at(t, i+$k) as w$k").mkString(", ")
      toks(df).where(size(col("t")) >= n)
        .select(col("id"), explode(expr(
          s"transform(sequence(0, size(t)-$n), i -> struct($fields))")).as("g"))
        .select(col("id") +: (1 to n).map(k => col(s"g.w$k").as(s"w$k")): _*)
    }
    val uni = grams(train, 1).groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = grams(train, 2).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val tri = grams(train, 3).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val nv = uni.agg(sum("c1").as("n_total"), count(lit(1)).as("v"))

    val sc = grams(score, 3)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("c2").as("c2_ctx")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2_pair")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w1").as("w2"), col("c1").as("c1_w2")),
        Seq("w2"), "left")
      .join(uni.select(col("w1").as("w3"), col("c1").as("c1_w3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nv))
    val sUni = (coalesce(col("c1_w3"), lit(0L)) + 1.0) /
      (col("n_total") + col("v") + 1.0)
    val s = when(col("c3").isNotNull, col("c3") / col("c2_ctx"))
      .otherwise(lit(backoff) * when(col("c2_pair").isNotNull,
        col("c2_pair") / col("c1_w2")).otherwise(lit(backoff) * sUni))
    sc.withColumn("nll", -log(s))
      .groupBy("id").agg(count(lit(1)).as("n_trigrams"), avg("nll").as("avg_nll"))
      .select(col("id").as(idCol), col("n_trigrams"), col("avg_nll"))
  }

  // ------------------------------------------------------------ frame API

  /** Annotate a document frame with the standard analysis columns. */
  def annotate(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("n_subwords", subwordCount(col(textCol)))
      .withColumn("lang_pred", languageId(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("fingerprint", fingerprint(col(textCol)))
}
