package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.WordPieceKernels

/** Distributed WordPiece tokenizer — the third major subword family next
  * to [[Bpe]] and [[UnigramLm]] (Wu et al. 2016 / BERT, Devlin et al.
  * 2019). Training is merge-based like BPE but selects the pair that
  * maximizes the corpus-likelihood gain proxy
  * `score(l, r) = count(l r) / (count(l) * count(r))` — frequent pairs of
  * RARE symbols win over frequent pairs of frequent symbols. Continuation
  * symbols carry the `##` marker from initialization on, so learned
  * pieces are position-aware; encoding is greedy longest-match-first per
  * word with the all-or-nothing `[UNK]` rule.
  *
  * Scale design (the [[Bpe]] contract): training never iterates the
  * corpus. One corpus-wide shuffle folds text into the DISTINCT-WORD
  * table with counts; every sweep then runs over vocabulary-sized data —
  * a symbol-count aggregate, a pair-count aggregate scored by two
  * broadcast joins against the (tiny) symbol-count table, and one fused
  * merge-apply pass ([[WordPieceKernels.WpApply]]) with checkpoint
  * rotation keeping the lineage flat. `sweepSize > 1` accepts several
  * symbol-DISJOINT merges per sweep — sound for WordPiece exactly as for
  * BPE because disjoint candidates share no symbol, so neither their pair
  * counts nor their score denominators are affected by each other's
  * application; recorded scores are sweep-start scores. On a real corpus
  * one trains on a deterministic sample ([[Sampling.sampleN]] composes)
  * and encodes the full 100 TB with the zero-shuffle fused
  * [[WordPieceKernels.WordPieceEncode]] pass. Measured
  * (`bench_ops_scale.json`, local[32], r12): encode 1.2M docs/s marginal
  * over 10M 32-token docs with a 50-merge model.
  *
  * Determinism: winners break ties on (score desc, left asc, right asc);
  * the merge sequence is a pure function of the corpus. The final
  * vocabulary is the single-symbol alphabet (sorted) plus fused pieces in
  * merge order, deduplicated — every training-corpus word stays
  * segmentable (the alphabet is never dropped), so `[UNK]` never fires on
  * the training corpus, an oracle-pinned invariant.
  *
  * Reference scope: tokenizer training is beyond-reference surface
  * (SURVEY §2 extension list), like [[Bpe]] and [[UnigramLm]].
  */
object WordPiece {

  /** One learned merge: `left`+`right` fuse (the fused symbol drops
    * `right`'s `##` marker) at `rank`, with the sweep-start pair count
    * and likelihood score. */
  case class Merge(rank: Int, left: String, right: String, count: Long,
      score: Double, sweep: Int = 0) {
    def fused: String =
      if (right.startsWith("##")) left + right.substring(2) else left + right
  }

  /** Trained model: the encoding vocabulary (alphabet + fused pieces,
    * first-occurrence deduplicated) plus the merge history. */
  case class Model(vocab: Seq[String], merges: Seq[Merge],
      maxWordChars: Int = 200)

  /** The word rule shared with [[Bpe]] / [[UnigramLm]]. */
  private def wordsOf(textCol: Column): Column =
    split(lower(trim(textCol)), "\\s+")

  /** Initial symbol array of a word column `w`: first code point bare,
    * the rest `##`-marked. Pure SQL (code-point substring), no kernel. */
  private val initSyms: Column = expr(
    """transform(sequence(1, length(w)),
      |  i -> if(i = 1, substring(w, 1, 1), concat('##', substring(w, i, 1))))"""
      .stripMargin)

  /** The initial distinct-word symbol table (the one corpus-wide
    * shuffle), pre-checkpoint. */
  private[graft] def wordSymbolTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(wordsOf(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(initSyms.as("syms"), col("cnt"))

  /** The per-sweep symbol-count table (`sym`, `sc`) — tiny (≤ alphabet +
    * accepted merges). Exposed so [[train]] can materialize it ONCE per
    * sweep: the two broadcast denominators below are canonically different
    * subtrees (different renames), so without that the aggregate executed
    * twice per sweep (r18 optimization). */
  private[graft] def symCountFrame(words: DataFrame): DataFrame =
    words.select(explode(col("syms")).as("sym"), col("cnt"))
      .groupBy("sym").agg(sum("cnt").as("sc"))

  /** One sweep's scored, ranked candidate frame over the symbol table —
    * `(l, r, c, score)` ordered (score desc, l asc, r asc). Symbol counts
    * (`symCounts`, from [[symCountFrame]]) are tiny (≤ alphabet +
    * accepted merges) and broadcast-join into the pair table for the
    * score denominators; counts are cast to double BEFORE the
    * denominator multiply — two long symbol counts at web-corpus
    * frequencies (~5e9 each) would overflow Long and raise under ANSI
    * mode. */
  private[graft] def sweepCandidateFrame(words: DataFrame,
      minPairCount: Long, symCounts: DataFrame): DataFrame = {
    val n = size(col("syms"))
    words.where(n >= 2)
      .select(col("cnt"), explode(zip_with(
        slice(col("syms"), lit(1), n - 1), slice(col("syms"), lit(2), n - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r")).agg(sum("cnt").as("c"))
      .where(col("c") >= minPairCount)
      .join(broadcast(symCounts.withColumnRenamed("sym", "l")
        .withColumnRenamed("sc", "sl")), Seq("l"))
      .join(broadcast(symCounts.withColumnRenamed("sym", "r")
        .withColumnRenamed("sc", "sr")), Seq("r"))
      .select(col("l"), col("r"), col("c"),
        (col("c").cast("double") /
          (col("sl").cast("double") * col("sr").cast("double"))).as("score"))
      .orderBy(col("score").desc, col("l").asc, col("r").asc)
  }

  /** Learn `numMerges` WordPiece merges over a text column. Stops early
    * when the best remaining pair occurs fewer than `minPairCount` times.
    * `sweepSize > 1` batches symbol-disjoint merge selection (see object
    * doc); the default is exact sequential selection. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, sweepSize: Int = 1): Model = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    require(sweepSize >= 1, s"sweepSize must be >= 1, got $sweepSize")

    // Checkpoint rotation (the Bpe contract): each iteration's blocks are
    // released once its successor materializes, tracked via the
    // checkpointed Dataset's own LogicalRDD leaf.
    var prevCkpt: DataFrame = null
    def ckpt(d: DataFrame): DataFrame = {
      val c = d.localCheckpoint(true)
      if (prevCkpt != null)
        org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(prevCkpt)
          .foreach(_.unpersist(blocking = false))
      prevCkpt = c
      c
    }

    var words = ckpt(wordSymbolTable(df, textCol))

    // The single-symbol alphabet (bare first chars + ##-marked rest),
    // fixed at init — these are never dropped, keeping encode total on
    // the training corpus.
    val alphabet = words.select(explode(col("syms")).as("sym"))
      .distinct().orderBy(col("sym").asc)
      .collect().map(_.getString(0))

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var sweep = 0
    var done = alphabet.isEmpty
    while (merges.length < numMerges && !done) {
      val want = math.min(sweepSize, numMerges - merges.length)
      val fetch = if (sweepSize == 1) 1 else math.max(sweepSize * 2, sweepSize + 8)
      // Materialize the (tiny) symbol-count table once per sweep: both
      // broadcast denominators read the pinned blocks instead of each
      // re-running the aggregate (r18 — one vocab scan per sweep fewer).
      val sc = symCountFrame(words).localCheckpoint(true)
      val top =
        try sweepCandidateFrame(words, minPairCount, sc)
          .limit(fetch).collect()
        finally org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(sc)
          .foreach(_.unpersist(blocking = false))
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[Merge]
        var i = 0
        while (i < top.length && accepted.length < want) {
          val (l, r) = (top(i).getString(0), top(i).getString(1))
          val m = Merge(merges.length + accepted.length, l, r,
            top(i).getLong(2), top(i).getDouble(3), sweep)
          if (!used(l) && !used(r) && !used(m.fused)) {
            accepted += m
            used += l; used += r; used += m.fused
          }
          i += 1
        }
        if (accepted.isEmpty) done = true
        else {
          merges ++= accepted
          sweep += 1
          words = ckpt(words.select(
            WordPieceKernels.applyMerges(col("syms"),
              accepted.map(m => (m.left, m.right)).toSeq).as("syms"),
            col("cnt")))
        }
      }
    }
    if (prevCkpt != null)
      org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(prevCkpt)
        .foreach(_.unpersist(blocking = false))
    val vocab = (alphabet.toSeq ++ merges.map(_.fused)).distinct
    Model(vocab, merges.toSeq)
  }

  /** Attach the WordPiece token array (`array<string>`) for a text
    * column — one fused greedy pass per row, zero shuffle. */
  def encode(df: DataFrame, textCol: String, model: Model,
      outCol: String = "wp_tokens"): DataFrame =
    df.withColumn(outCol,
      WordPieceKernels.encode(col(textCol), model.vocab, model.maxWordChars))

  /** Piece-count column for a text column. */
  def tokenCount(text: Column, model: Model): Column =
    size(WordPieceKernels.encode(text, model.vocab, model.maxWordChars))

  /** Persist a trained model (vocab + merge history + the encode knob) as
    * one JSON document through the path's own Hadoop filesystem — the
    * [[Bpe.saveMerges]] lifecycle. */
  def save(spark: org.apache.spark.sql.SparkSession, model: Model,
      path: String): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("max_word_chars", model.maxWordChars)
    val varr = root.putArray("vocab")
    model.vocab.foreach(varr.add)
    val marr = root.putArray("merges")
    model.merges.foreach { mg =>
      val n = marr.addObject()
      n.put("rank", mg.rank); n.put("left", mg.left); n.put("right", mg.right)
      n.put("count", mg.count); n.put("score", mg.score); n.put("sweep", mg.sweep)
    }
    graft.io.FsText.write(spark, path, m.writeValueAsString(root))
  }

  /** Reload a persisted model. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    import scala.jdk.CollectionConverters._
    val text = graft.io.FsText.read(spark, path).getOrElse(throw new
      java.io.FileNotFoundException(s"no WordPiece tokenizer model at $path"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    Model(
      root.get("vocab").elements().asScala.map(_.asText).toSeq,
      root.get("merges").elements().asScala.map(n =>
        Merge(n.get("rank").asInt, n.get("left").asText, n.get("right").asText,
          n.get("count").asLong, n.get("score").asDouble,
          n.get("sweep").asInt)).toSeq,
      root.get("max_word_chars").asInt)
  }
}
