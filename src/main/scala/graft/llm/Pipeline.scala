package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end C4/RefinedWeb-style curation: the pipeline a real
  * training-data job runs, composed from the library's own stages in
  * their canonical order —
  *
  *   fix encoding (mojibake repair + NFKC) → HTML→text extraction →
  *   language-ID filter → heuristic quality filter → within-doc repeated-
  *   line removal → exact dedup (content hash, keep-lowest-id) → minhash
  *   near-dup removal → n-gram decontamination (optional) → token-budget
  *   sampling (optional)
  *
  * — and emits, next to the curated corpus, a per-stage survival stats
  * frame `(ord, stage, rows_out, tokens_out, wall_sec, capped_rows)`:
  * the artifact a data team actually reviews (where did the corpus
  * shrink, by how much, and whether the near-dup bucket cap silently
  * discarded candidate rows — `capped_rows` is nonzero exactly when
  * recall was traded, r14).
  *
  * Scale shape: the three column stages (encoding, HTML, lines) are fused
  * zero-shuffle kernels; the filters are stateless projections; the only
  * wide operations are the ones dedup inherently needs (content-hash
  * shuffle, banded-minhash candidate join, gram-key join). Each stage
  * output is localCheckpoint-ed once and read once, by the next stage.
  * One stage runner serves all three pipelines: a stage's count and
  * token (or byte, or slot) sums ride its checkpoint's own materialize
  * job as `observe` metrics, so stats add no job and no second read; once
  * that checkpoint is materialized the previous one and every checkpoint
  * the stage's operators created ([[StageCheckpoints]]) are unpersisted.
  *
  * Near-dup banding (r14): `bands = 0` (the default) derives
  * `(bands, rowsPerBand)` from [[Dedup.lshParamsSelective]] — the most
  * selective banding whose S-curve transition stays at or below
  * `nearDupThreshold` (at the 0.8/128 defaults: 16 bands × 8 rows,
  * transition 0.707). The old fixed 64-band default had its transition
  * at 0.125 — at 10M+ documents its candidate explosion made the
  * near-dup stage the whole pipeline's wall (VERDICT r13: 91.6→419.8s
  * for 3.33× rows) and its banded-explode checkpoint the dominant disk
  * artifact. Selective banding catches s ≥ threshold pairs with ~95%+
  * probability (≈100% a few points above — the documented LSH S-curve)
  * while collapsing both the exploded frame (4×) and the accidental
  * bucket-collision mass; candidates stay exact-verified. Pass an
  * explicit `bands` to pin any other operating point.
  */
object Pipeline extends org.apache.spark.internal.Logging {

  // Stage checkpoints are corpus-sized and read by the next stage;
  // serialized block storage keeps them as byte chunks instead of hundreds
  // of millions of row objects (the 100M-doc GC ceiling — BENCH_NOTES
  // r14), at the cost of a cheap streaming deserialize per read.
  private val CkptSer = StorageLevel.MEMORY_AND_DISK_SER

  /** Bounded wait for an observation attached to an ALREADY-MATERIALIZED
    * frame (the eager checkpoint returned, so the execution-end event is
    * posted; the listener normally fires within milliseconds). None after
    * the bound — callers fall back to an exact aggregate, trading the
    * saved job back for correctness. */
  private[graft] def awaitObs(obs: Observation): Option[Row] = {
    val r = scala.util.Try(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(10L, "s"))).toOption
    if (r.isEmpty)
      logWarning(s"observation ${obs.name} did not arrive within 10000ms; " +
        "counting the stage with an exact aggregate instead")
    r
  }

  /** `df` checkpointed eagerly at `level`, with `aggs` (named aggregates)
    * observed on the job that materialized it. */
  private[graft] def observedCheckpoint(df: DataFrame, aggs: Seq[Column],
      level: StorageLevel): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint(true, level), obs)
  }

  /** The fallback for a missing observation: `aggs` over the checkpoint. */
  private[graft] def aggregate(ckpt: DataFrame, aggs: Seq[Column]): Row =
    ckpt.agg(aggs.head, aggs.tail: _*).collect()(0)

  // The stats aggregates each pipeline observes on its checkpoints.
  private[graft] def textAggs(textCol: String): Seq[Column] = Seq(count(lit(1)).as("n"),
    coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L)).as("tok"))
  private[graft] def byteAggs(binCol: String): Seq[Column] = Seq(count(lit(1)).as("n"),
    coalesce(sum(length(col(binCol)).cast("long")), lit(0L)).as("bytes"))
  /** Documents and the sum of each `slotCols` column (media slots). */
  private[graft] def slotAggs(slotCols: Seq[String]): Seq[Column] =
    count(lit(1)).as("n") +: slotCols.map(c =>
      coalesce(sum(col(c).cast("long")), lit(0L)).as(s"s_$c"))
  /** Exploded media slots and the largest slot index. */
  private[graft] val explodeAggs: Seq[Column] =
    Seq(count(lit(1)).as("n"), coalesce(max(col("__idx")), lit(0)).as("mx"))

  /** A frame a pipeline advances stage by stage: its current eager
    * checkpoint and the row of `aggs` observed when it materialized. */
  private final class Track(first: DataFrame, var aggs: Seq[Column],
      level: StorageLevel) {
    var df: DataFrame = _
    private var obs: Observation = _
    private var row: Row = _
    advance(first)
    def advance(next: DataFrame): Unit = {
      val (c, o) = observedCheckpoint(next, aggs, level)
      df = c
      obs = o
      row = null
    }
    /** Read once, after the stage's wall is taken: the observed row, or the
      * aggregate over the checkpoint when the observation does not arrive. */
    def agg: Row = {
      if (row == null) row = awaitObs(obs).getOrElse(aggregate(df, aggs))
      row
    }
  }

  private def retire(ckpt: DataFrame): Unit =
    org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(ckpt)
      .foreach(_.unpersist(blocking = false))

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The stage runner of all three pipelines and their stats rows
    * `(ord, stage, <count>, <sum>, wall_sec, capped_rows)`. */
  private final class Runner {
    private val rows = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Double, Long)]()
    /** Rows the near-dup bucket cap dropped in the running stage. */
    var capped = 0L

    def record(stage: String, wallSec: Double, counts: (Long, Long)): Unit = {
      rows += ((rows.size, stage, counts._1, counts._2, wallSec, capped))
      capped = 0L
    }

    /** Runs `body` over `t`'s checkpoint, advances `t` to its output and
      * records `counts`. Then `t`'s previous checkpoint and the checkpoints
      * the body's operators created free their blocks — holding them to
      * the end would stack every stage's corpus in executor storage at
      * once (~9x the working set at the benched sizes). */
    def step(stage: String, t: Track, counts: => (Long, Long))(
        body: DataFrame => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val prev = t.df
      val (next, owned) = StageCheckpoints.owned(body(prev))
      t.advance(next)
      record(stage, seconds(t0), counts)
      (prev +: owned).foreach(retire)
    }

    def stats(spark: SparkSession, countCol: String, sumCol: String): DataFrame = {
      import spark.implicits._
      rows.toSeq.toDF("ord", "stage", countCol, sumCol, "wall_sec", "capped_rows")
    }
  }

  final case class Config(
      keepLangs: Set[String] = Set("en"),
      minQuality: Double = 0.7,
      minTokens: Int = 5,
      nearDupThreshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 0, // 0 = auto: lshParamsSelective(nearDupThreshold)
      shingleWidth: Int = 3,
      // The near-dup LINEARITY backstop: each of a document's band rows
      // meets at most maxBucket-1 others, so total candidate pairs are
      // ≤ rows · bands · maxBucket — linear in the corpus for a fixed
      // cap. Buckets above the cap are skew (boilerplate-dominated band
      // keys) and are dropped WITH accounting (the stats frame's
      // capped_rows). On template-heavy corpora at 10⁸ docs, tighten it
      // (near-dup pairs share document-specific band keys in tiny
      // buckets; the mega-buckets they also share carry no information).
      maxBucket: Int = 1000,
      decontaminateNgram: Int = 13,
      budgetTokens: Long = 0L,
      seed: Long = 42L,
      // Optional MODEL-based stages (r15), both between quality_filter and
      // line_dedup — score cheap-to-drop rows before paying dedup's wide
      // stages. `qualityModel`: a pretrained [[QualityClassifier.Model]];
      // keep rule is `score >= qualityModelMin`, or the Pareto soft
      // threshold (score > 1 - Pareto(alpha) exceedance — keeps a
      // heavy-tailed trickle of low scorers for distributional coverage)
      // when qualityModelPareto is set. `dsirTarget`: a target-domain
      // corpus; the stage keeps `dsirN` documents Gumbel-top-k-selected
      // with probability ∝ their DSIR importance weight against that
      // target (the slim form — documents never ride the driver).
      qualityModel: Option[QualityClassifier.Model] = None,
      qualityModelMin: Double = 0.5,
      qualityModelPareto: Boolean = false,
      qualityParetoAlpha: Double = 9.0,
      dsirTarget: Option[DataFrame] = None,
      dsirN: Int = 0,
      dsirNgrams: Int = 2,
      // Optional PII-density gate (r18): when set, a `pii_filter` stage
      // (after quality_filter, before the model stages) drops documents
      // whose [[TextAnalysis.piiStats]] density — PII matches per
      // whitespace token — exceeds the threshold. The DROP-side policy
      // twin of [[TextAnalysis.redactPii]] (masking keeps the doc;
      // density-heavy docs — dumps, directories, logs — are usually
      // better dropped than turned into placeholder soup).
      piiMaxDensity: Option[Double] = None)

  /** The quality_filter stage: one keep-rule node, so the quality kernel
    * runs once per document (see [[TextAnalysis.qualityKeep]]). */
  private[graft] def qualityFilter(df: DataFrame, textCol: String, cfg: Config): DataFrame =
    df.where(TextAnalysis.qualityKeep(col(textCol), cfg.minQuality, cfg.minTokens))

  /** Curated corpus + the per-stage stats frame. */
  final case class Result(docs: DataFrame, stats: DataFrame)

  def curate(docs: DataFrame, idCol: String, textCol: String,
      evalDocs: Option[DataFrame] = None,
      cfg: Config = Config()): Result = {
    val run = new Runner
    val chain = textStages(cfg, idCol, textCol, evalDocs, run)
    val cur = new Track(docs.where(col(textCol).isNotNull), textAggs(textCol), CkptSer)
    def counts = (cur.agg.getLong(0), cur.agg.getLong(1))
    run.record("input", 0.0, counts)
    chain.foreach { case (stage, body) => run.step(stage, cur, counts)(body) }
    Result(cur.df, run.stats(docs.sparkSession, "rows_out", "tokens_out"))
  }

  /** The text chain [[curate]] and [[curateInterleavedMm]] both run, in
    * order, optional stages only when configured; the near-dup stage
    * reports its capped rows to `run`. */
  private def textStages(cfg: Config, idCol: String, textCol: String,
      evalDocs: Option[DataFrame], run: Runner): Seq[(String, DataFrame => DataFrame)] = {
    require(cfg.minTokens >= 0 && cfg.budgetTokens >= 0L, s"bad config $cfg")
    require(cfg.bands >= 0, s"bad bands ${cfg.bands} (0 = auto)")
    require(cfg.dsirTarget.isEmpty || cfg.dsirN > 0,
      s"dsirTarget is set but dsirN=${cfg.dsirN} — the DSIR stage needs a " +
        "positive selection size")
    val bands =
      if (cfg.bands > 0) cfg.bands
      else Dedup.lshParamsSelective(cfg.nearDupThreshold, cfg.numHashes)._1
    val text = col(textCol)
    Seq[(String, DataFrame => DataFrame)](
      "fix_encoding" -> (_.withColumn(textCol,
        graft.functions.NormalizeKernel.nfkc(
          graft.functions.MojibakeKernel.fixMojibake(text)))),
      "html_extract" -> (_
        .withColumn(textCol, graft.functions.HtmlKernel.htmlToText(text))
        .where(trim(text) =!= "")),
      "langid_filter" -> (_.where(
        TextAnalysis.languageId(text).isin(cfg.keepLangs.toSeq: _*))),
      "quality_filter" -> (qualityFilter(_, textCol, cfg))) ++
    cfg.piiMaxDensity.map(maxD => "pii_filter" -> ((df: DataFrame) => df.where(
      TextAnalysis.piiStats(text).getField("density") <= maxD))) ++
    // Model-based stages (r15) — optional, before the wide dedup stages so
    // model-rejected rows never pay a shuffle. Both are zero-shuffle row
    // scorers (hashed features / log-ratio table ride the closure once);
    // DSIR's top-k is the slim id-projected form.
    cfg.qualityModel.map(m => "model_quality_filter" -> { (df: DataFrame) =>
      val s = QualityClassifier.score(text, m)
      if (cfg.qualityModelPareto)
        df.where(QualityClassifier.paretoKeep(s, col(idCol),
          cfg.qualityParetoAlpha, cfg.seed))
      else df.where(s >= cfg.qualityModelMin)
    }) ++
    cfg.dsirTarget.map(target => "dsir_resample" -> ((df: DataFrame) =>
      Dsir.resampleNSlim(df, target, textCol, Seq(idCol), cfg.dsirN,
        ngrams = cfg.dsirNgrams, seed = cfg.seed).drop("dsir_logw"))) ++
    Seq[(String, DataFrame => DataFrame)](
      "line_dedup" -> (_
        .withColumn(textCol, TextAnalysis.removeRepeatedLines(text))
        .where(trim(text) =!= "")),
      // Content-hash exact dedup with the deterministic keep-lowest-id rule
      // (plain dropDuplicates keeps an arbitrary row; pipelines must be
      // replayable).
      "exact_dedup" -> (df => Dedup.exactKeepFirst(
        df.withColumn("__fp", TextAnalysis.fingerprint(text)),
        Seq("__fp"), idCol).drop("__fp")),
      "near_dedup" -> (Dedup.dropNearDupsMinHash(_, idCol, textCol,
        cfg.nearDupThreshold, cfg.numHashes, bands, cfg.shingleWidth,
        cfg.maxBucket, onCapDrops = (_, rows) => run.capped = rows))) ++
    // Auto plan: benchmark-sized eval gram sets fuse to a single
    // projection+filter pass (r14 — one corpus pass instead of the join
    // plan's gram explode + anti-join); oversized ones fall back to the
    // join path. Same minHits=1 keep set either way.
    evalDocs.map(ev => "decontaminate" -> ((df: DataFrame) =>
      Decontamination.decontaminateAuto(df, ev, idCol, textCol,
        cfg.decontaminateNgram))) ++
    Option.when(cfg.budgetTokens > 0L)("token_budget" -> ((df: DataFrame) =>
      Sampling.sampleTokenBudget(
        df.withColumn("__tok", TextAnalysis.tokenCount(text).cast("long")),
        Seq(idCol), "__tok", cfg.budgetTokens, cfg.seed).drop("__tok")))
  }

  // ------------------------------------------------------ image pipeline

  final case class ImageConfig(
      maxDistance: Int = 10,
      pieces: Int = 4,
      maxCorpusImages: Long = 50000000L,
      targetW: Int = 64,
      targetH: Int = 64,
      resizeFormat: String = "png")

  /** The multimodal sibling of [[curate]]: image-corpus curation as one
    * entry point —
    *
    *   decode + pHash (undecodable payloads dropped) → byte-exact dedup
    *   (content hash, keep-lowest-id) → perceptual near-dup removal
    *   (pHash Hamming pigeonhole — re-encodes/resizes of the same image
    *   collapse to the lowest id) → bilinear resize to the training shape
    *
    * with a per-stage `(ord, stage, rows_out, bytes_out, wall_sec)`
    * survival stats frame (bytes: payload volume surviving — the number
    * a storage budget watches; the resize row reports the RESIZED
    * volume). The decode/hash/resize stages are one codec column each
    * ([[Multimodal.MediaCodec]], zero shuffle); near-dup removal is the
    * fused multi-probe MIH expression ([[Dedup.dropNearDupsPHash]] —
    * zero shuffle, exact, complete for any radius) up to
    * `maxCorpusImages` distinct hashes, and AUTO-SWITCHES to the
    * unbounded banded pigeonhole join past it (r14 — same keep-lowest-id
    * survivors, shuffle-bound instead of driver-bound, so a
    * billion-image corpus runs the same pipeline), so the only
    * always-wide operation is the content-hash dedup shuffle. Output
    * docs carry `phash` and the resized payload column. */
  def curateImages(docs: DataFrame, idCol: String, binCol: String,
      cfg: ImageConfig = ImageConfig()): Result = {
    // bytes_out sums the stage's OWN payload column: the resize stage
    // reports the RESIZED volume (the number a storage budget watches),
    // not the source payload it still carries alongside (r14 — ADVICE).
    val cur = new Track(docs.where(col(binCol).isNotNull), byteAggs(binCol), CkptSer)
    def counts = (cur.agg.getLong(0), cur.agg.getLong(1))
    val run = new Runner
    run.record("input", 0.0, counts)
    mediaStages("image", idCol, binCol,
      MediaConfig(cfg.maxDistance, cfg.pieces, cfg.maxCorpusImages), cfg).foreach {
      case ("decode", body) => run.step("decode_phash", cur, counts)(body)
      case ("resize", body) =>
        cur.aggs = byteAggs("resized")
        run.step("resize", cur, counts)(body)
      case (stage, body) => run.step(stage, cur, counts)(body)
    }
    Result(cur.df,
      run.stats(docs.sparkSession, "rows_out", "bytes_out").drop("capped_rows"))
  }

  /** The sketch stage body of both media pipelines: the `kind` sketch
    * ([[Multimodal.mediaSketch64]]) of `binCol` as `outCol`, undecodable
    * payloads dropped. */
  private[graft] def decodeStage(df: DataFrame, binCol: String, kind: String,
      outCol: String): DataFrame =
    df.withColumn(outCol, Multimodal.mediaSketch64(col(binCol), kind))
      .where(col(outCol).isNotNull)

  /** The resize stage body of both image pipelines: `resized` payloads at
    * the config's shape, unresizable ones dropped. */
  private[graft] def resizeStage(df: DataFrame, binCol: String,
      cfg: ImageConfig): DataFrame =
    Multimodal.resizeImages(df, binCol, cfg.targetW, cfg.targetH, cfg.resizeFormat)
      .where(col("resized").isNotNull)

  /** Each modality's sketch kind ([[Multimodal.mediaSketch64]]) and sketch
    * column: image = real decode + pHash, audio = spectral-band hash,
    * video = payload fingerprint. */
  private val Sketches = Map("image" -> ("phash", "phash"),
    "audio" -> ("audio_spectral", "ahash"), "video" -> ("video_payload", "vhash"))

  /** The media leg [[curateImages]] and [[curateInterleavedMm]] both run
    * for a modality, in order: decode (the sketch; undecodable payloads
    * dropped) → exact_dedup (payload hash, keep-lowest `idCol`) →
    * near_dedup (sketch Hamming radius, [[Dedup.dropNearDupsPHash]]) →
    * resize (images) or profile_dedup (video, when `mc.profilePairs`). */
  private def mediaStages(mod: String, idCol: String, binCol: String,
      mc: MediaConfig, ic: ImageConfig): Seq[(String, DataFrame => DataFrame)] = {
    val (kind, sketch) = Sketches(mod)
    Seq[(String, DataFrame => DataFrame)](
      "decode" -> (decodeStage(_, binCol, kind, sketch)),
      "exact_dedup" -> (df => Dedup.exactKeepFirst(
        df.withColumn("__fp", xxhash64(col(binCol))), Seq("__fp"), idCol)
        .drop("__fp")),
      "near_dedup" -> (Dedup.dropNearDupsPHash(_, idCol, sketch,
        mc.maxDistance, mc.pieces, mc.maxCorpus))) ++
    Option.when(mod == "image")("resize" -> ((df: DataFrame) => resizeStage(df, binCol, ic))) ++
    // Re-encode-tolerant leg (r17): the payload sketch above is re-mux-exact
    // only; this stage kills re-ENCODED copies via the size-profile
    // signature + exact Spearman verify, keep-lowest-id per pair-graph
    // component (so slot survival replays from id arithmetic exactly like
    // every other dedup stage).
    Option.when(mod == "video" && mc.profilePairs)("profile_dedup" -> { (df: DataFrame) =>
      val pairs = Multimodal.videoProfilePairs(df, idCol, binCol,
        maxDistance = mc.profileMaxDistance,
        minSpearman = mc.profileMinSpearman,
        flatIndex = mc.profileFlatIndex)
      val losers = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .where(col("id") =!= col("component"))
        .select(col("id").as(idCol))
      df.join(losers, Seq(idCol), "left_anti")
    })
  }

  // ------------------------------------------------ interleaved pipeline

  final case class InterleavedConfig(
      text: Config = Config(),
      image: ImageConfig = ImageConfig(),
      maxImagesPerDoc: Int = 1000,
      // Storage level for the PAYLOAD-bearing side frames (r18 — VERDICT
      // r17 #2): the media side-checkpoint and the per-modality exploded
      // frames, each written once and read once or twice. The default
      // keeps r17's MEMORY_AND_DISK_SER; at corpus sizes where payload
      // bytes crowd executor storage (the 3M proof's 13 GB of video
      // pushing vid_decode superlinear), DISK_ONLY moves them off the
      // memory budget entirely — payload blocks are streamed through
      // once, so the memory tier buys little.
      payloadLevel: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Interleaved multimodal curation (r14, text-dedup parity r15) — the
    * LAION/OBELICS-style document shape: each row carries text AND an
    * image array, and the curation composes [[curate]]'s FULL text chain
    * with [[curateImages]]'s image stages over ONE corpus:
    *
    *   text: [[curate]]'s stage list, run as it is (fix encoding →
    *   HTML→text → langid filter → quality filter → the configured
    *   optional PII/model/DSIR stages → within-doc repeated-line removal
    *   → exact dedup → minhash near-dup removal → n-gram decontamination
    *   when `evalDocs` is given → token budget when `budgetTokens > 0`)
    *   — a document dropped by ANY text stage takes its image slots with
    *   it — then images:
    *   explode to (doc, idx, payload) → decode+pHash (undecodable
    *   dropped) → byte-exact dedup → perceptual near-dup removal →
    *   bilinear resize → reassemble per-doc arrays in original slot
    *   order.
    *
    * (r14 shipped only the filter prefix, so two byte-identical
    * interleaved documents both survived with their duplicate text —
    * VERDICT r14 What's-wrong #2; the text chain is the one list
    * [[curate]] runs, same Config knobs, same near-dup banding/cap
    * accounting.)
    *
    * Image ids are `doc_id · maxImagesPerDoc + idx`, so keep-lowest-id
    * dedup keeps the EARLIEST slot of the EARLIEST document — duplicate
    * suppression is corpus-wide (a re-encoded copy in a later document
    * dies against an earlier one), and documents whose images are all
    * dropped keep their curated text with an empty array (the
    * interleaved contract: text survival is decided by text stages
    * only). Doc ids must be numeric (castable to long, no nulls) — the
    * slot arithmetic and reassembly join run on the cast, so this is
    * REQUIRED up front (one narrow early-out scan) rather than silently
    * nulling `__img_id` and dropping every image (VERDICT r14 #3);
    * dense-rank non-numeric ids into longs before calling. Stats frame:
    * `(ord, stage, docs_out, images_out, wall_sec, capped_rows)` —
    * capped_rows is nonzero exactly when the near-dup bucket cap traded
    * recall, as in [[curate]]. The image stages ride the exploded frame
    * (one localCheckpoint per stage, same unpersist discipline);
    * reassembly is one groupBy(doc) + sort_array — the only wide ops are
    * that, the dedup shuffles, and the final left join. */
  def curateInterleaved(docs: DataFrame, idCol: String, textCol: String,
      imagesCol: String, cfg: InterleavedConfig = InterleavedConfig(),
      evalDocs: Option[DataFrame] = None): Result =
    curateInterleavedMm(docs, idCol, textCol, Seq("image" -> imagesCol),
      cfg, evalDocs)

  /** Per-modality near-dup knobs for the generic interleaved curator:
    * the Hamming radius + MIH pieces of the modality's 64-bit sketch
    * (audio: spectral-band hash, radius 3 pairs offset/padded/rescaled
    * copies; video: payload fingerprint, radius 4 pairs re-muxes and
    * single-frame splices — both the q_dedup_* certified operating
    * points) and the driver-index corpus bound.
    *
    * `profilePairs` (video only, r17 — VERDICT r16 #1): the payload
    * sketch is re-mux-EXACT, so a re-ENCODED video copy (every coded
    * byte rewritten) survived the pipeline's vid_near stage even though
    * the engine owns the re-encode-tolerant signature. When set, an
    * additional `vid_profile_dedup` stage runs
    * [[Multimodal.videoProfilePairs]] (signature candidates + exact
    * Spearman verify at `profileMaxDistance`/`profileMinSpearman` — the
    * certified 14/0.85 operating point) over the surviving slots and
    * drops every non-minimum member of each pair-graph component
    * (connected components, keep-lowest-id — the same corpus-wide
    * earliest-slot rule every other dedup stage applies). */
  final case class MediaConfig(maxDistance: Int, pieces: Int,
      maxCorpus: Long = 50000000L,
      profilePairs: Boolean = false,
      profileMaxDistance: Int = 14,
      profileMinSpearman: Double = 0.85,
      // Pass-through to videoProfilePairs(flatIndex = …): restores the
      // corpus-wide recall class on the at-scale index path for callers
      // whose video pairs can shift fps >2× or duration >~1.5× (outside
      // the certified 3×3 cell neighborhood), at the flat index's
      // per-probe cost.
      profileFlatIndex: Boolean = false)

  /** GENERIC multi-modality interleaved curation (r16 — the audio/video
    * generalization of [[curateInterleaved]], which now delegates here):
    * each document row carries text plus any subset of
    * `image`/`audio`/`video` payload ARRAYS (`mediaCols`: ordered
    * (modality, column) pairs), and every modality rides the SAME
    * exploded-slot machinery — slot ids `doc·maxImagesPerDoc + idx`, the
    * shared keep-lowest-id rule (earliest slot of the earliest document
    * wins corpus-wide), one localCheckpoint per stage, per-stage stats.
    *
    * Text chain first ([[curate]]'s stage list — a document dropped by
    * any text stage takes ALL its media slots along), then per modality
    * explode and the media leg [[curateImages]] runs for images too:
    * sketch (undecodable payloads dropped: image = real decode + pHash;
    * audio = spectral-band hash; video = payload fingerprint — each one
    * [[Multimodal.mediaSketch64]] column) → byte-exact dedup → sketch
    * near-dup removal ([[Dedup.dropNearDupsPHash]] — sketch-agnostic,
    * zero-shuffle MIH up to the corpus bound, banded join past it) →
    * images additionally resize → reassemble per-doc arrays in original
    * slot order. Stats
    * frame keeps [[curateInterleaved]]'s exact schema — `images_out`
    * counts LIVE MEDIA SLOTS across all modalities (settled modalities
    * by exploded-frame count, pending ones by array sizes); stage
    * prefixes are `img_`/`aud_`/`vid_`. Doc ids must be numeric — same
    * up-front contract as the image form.
    *
    * Scale shape (r17): payload arrays are SPLIT OFF the text frame into
    * a side checkpoint written once — the text chain's per-stage
    * checkpoints and its dedup shuffles carry only text plus
    * per-modality slot-count columns (at the 3M proof the r16 shape
    * pushed ~11 GB of arrays through each of 8 text checkpoints; the
    * split moves the bytes exactly twice: side-checkpoint write and the
    * per-modality explode's left-semi join against the curated ids).
    * Row-identical results — same slots, same slot ids, same stats. */
  def curateInterleavedMm(docs: DataFrame, idCol: String, textCol: String,
      mediaCols: Seq[(String, String)],
      cfg: InterleavedConfig = InterleavedConfig(),
      evalDocs: Option[DataFrame] = None,
      audioCfg: MediaConfig = MediaConfig(maxDistance = 3, pieces = 4),
      videoCfg: MediaConfig = MediaConfig(maxDistance = 4, pieces = 8)): Result = {
    val ic = cfg.image
    require(mediaCols.nonEmpty, "mediaCols must name at least one modality")
    require(mediaCols.forall { case (m, _) => Sketches.contains(m) },
      s"modalities must be image/audio/video, got ${mediaCols.map(_._1).mkString(", ")}")
    require(mediaCols.map(_._1).distinct.size == mediaCols.size,
      s"duplicate modality in ${mediaCols.map(_._1).mkString(", ")}")
    val run = new Runner
    val chain = textStages(cfg.text, idCol, textCol, evalDocs, run)

    // PAYLOAD/TEXT SPLIT (r17, tightened r18): the text chain checkpoints
    // its frame after EVERY stage, so media payload arrays riding it were
    // serialized 8+ times — and shuffled by the text dedup stages —
    // before any media stage ran (the 3M proof moved ~11 GB of arrays
    // through each text checkpoint vs ~600 MB of text). The text frame
    // carries only per-modality slot COUNTS (the stats contract needs
    // sums of sizes, never bytes), and each modality's explode recovers
    // its surviving docs' payloads with one left-semi join against the
    // curated ids. r18: the join probes the INPUT checkpoint directly —
    // r17 serialized the payloads a second time into a dedicated
    // `mediaSide` checkpoint, which the back-to-back 3M A/B measured as
    // ~10% of total wall for zero benefit (the input checkpoint already
    // holds the bytes once, and a projection over it prunes to (id,
    // payload) at deserialize time). Results are row-identical. The ONE
    // input materialization also means a nondeterministic source
    // (monotonically_increasing_id ids, an upstream sample()) cannot
    // desynchronize the text and payload views; payload-bearing, so it
    // sits at cfg.payloadLevel and retires after the LAST modality's
    // explode.
    val input = docs.where(col(textCol).isNotNull)
      .localCheckpoint(true, cfg.payloadLevel)
    // Id contract, checked on the CHECKPOINTED, text-filtered frame (r17
    // ADVICE: aggregating over raw `docs` could pass/fail on different
    // data than what gets checkpointed under a nondeterministic source,
    // and duplicate ids confined to dropped null-text rows spuriously
    // failed) — one merged agg job. try_cast, not cast: under ANSI a
    // malformed id would throw a generic CAST_INVALID_INPUT from deep
    // inside the plan; this check owns the failure with the contract
    // named (and still catches nulls, which cast passes through
    // silently). Ids must also be UNIQUE (r17 review): the payload split
    // recovers a doc's media by id, so a duplicate id would let a
    // text-dropped row's payloads ride its surviving same-id sibling (and
    // fan out the reassembly join) — fail loudly instead of silently
    // resurrecting.
    locally {
      val r = input.agg(
        coalesce(sum(when(col(idCol).isNull ||
          expr(s"try_cast(`$idCol` AS BIGINT)").isNull, 1L).otherwise(0L)), lit(0L)),
        count(lit(1)), countDistinct(col(idCol))).collect()(0)
      require(r.getLong(0) == 0L,
        s"curateInterleaved requires numeric doc ids: column '$idCol' has " +
          s"${r.getLong(0)} null or non-numeric values (a silent cast would " +
          "null the slot ids and the reassembly join would drop every media " +
          "payload) — dense-rank ids into longs first")
      require(r.getLong(1) == r.getLong(2),
        s"curateInterleaved requires UNIQUE doc ids: column '$idCol' has " +
          s"${r.getLong(1) - r.getLong(2)} duplicated rows — media recovery " +
          "and reassembly key on the id")
    }
    val mediaNames = mediaCols.map(_._2).toSet
    // Payload view over the input checkpoint — a projection, NOT a second
    // checkpoint (r18; see the split note above).
    val mediaSide = input
      .select(col(idCol).cast("long").as("__doc") +:
        mediaCols.map { case (_, mcol) => col(mcol) }: _*)
    // The text frame: text plus one slot-count column per modality.
    val slotCols = mediaCols.map { case (mod, _) => s"__n_$mod" }
    val text = new Track(input
      .select(docs.columns.filterNot(mediaNames).map(col).toSeq ++
        mediaCols.map { case (mod, mcol) =>
          coalesce(size(col(mcol)), lit(0)).as(s"__n_$mod") }: _*),
      slotAggs(slotCols), CkptSer)
    // input stays persisted: the per-modality explodes read their payload
    // bytes from it (retired after the last explode).
    // modality -> exploded (doc, idx, payload) frame, once text settles
    val frames = scala.collection.mutable.LinkedHashMap.empty[String, Track]
    // (docs, live media slots): a settled modality counts its exploded
    // frame's rows, a pending one the slot sums of the text frame.
    def counts = (text.agg.getLong(0), mediaCols.indices.map { i =>
      frames.get(mediaCols(i)._1).fold(text.agg.getLong(1 + i))(_.agg.getLong(0))
    }.sum)
    run.record("input", 0.0, counts)

    // Text stages — [[curate]]'s chain; a document that dies here takes
    // its media slots with it (slot survival shows in images_out, the
    // replay contract).
    chain.foreach { case (stage, body) => run.step(stage, text, counts)(body) }

    // Media stages per modality, over that modality's exploded frame;
    // `__mid` linearizes (doc, slot) so the shared keep-lowest-id rule
    // prefers earlier documents, then earlier slots. Modalities dedup
    // INDEPENDENTLY (an audio clip never pairs with a video payload).
    mediaCols.foreach { case (mod, mcol) =>
      val p = Map("image" -> "img", "audio" -> "aud", "video" -> "vid")(mod)
      val t0 = System.nanoTime()
      // Surviving docs' payloads from the side frame: one left-semi join
      // on the curated ids (the only place this modality's bytes move),
      // then explode to slots. AQE picks the join strategy; the payload
      // side never re-shuffles after this. Frame checkpoints are
      // payload-bearing and sit at cfg.payloadLevel; the explode's also
      // observes the max slot index (the maxImagesPerDoc contract check).
      val frame = new Track(mediaSide
        .join(text.df.select(col(idCol).cast("long").as("__doc")),
          Seq("__doc"), "left_semi")
        .select(col("__doc"),
          posexplode(coalesce(col(mcol),
            array().cast(docs.schema(mcol).dataType))).as(Seq("__idx", "__media")))
        .withColumn("__mid", col("__doc") * cfg.maxImagesPerDoc + col("__idx")),
        explodeAggs, cfg.payloadLevel)
      frames(mod) = frame
      // The LAST modality's explode was the input checkpoint's final
      // reader — its payload blocks retire here (r18: explodes read input
      // directly; holding it longer would stack it against the frames).
      if (mod == mediaCols.last._1) retire(input)
      run.record(s"${p}_explode", seconds(t0), counts)
      val over = frame.agg.getInt(1)
      require(over < cfg.maxImagesPerDoc,
        s"a document carries ${over + 1} $mod slots >= maxImagesPerDoc=${cfg.maxImagesPerDoc} — raise the knob")
      val mc = mod match {
        case "image" => MediaConfig(ic.maxDistance, ic.pieces, ic.maxCorpusImages)
        case "audio" => audioCfg
        case _ => videoCfg
      }
      mediaStages(mod, "__mid", "__media", mc, ic).foreach { case (stage, body) =>
        run.step(s"${p}_$stage", frame, counts)(body)
      }
    }

    // Reassembly: surviving payloads back into per-doc arrays in original
    // slot order (images reassemble the RESIZED payload; audio/video the
    // curated original bytes); media-less documents keep their curated
    // text with empty arrays.
    val t0r = System.nanoTime()
    var assembled = text.df
      .drop(slotCols: _*)
      .withColumn("__dockey", col(idCol).cast("long"))
    mediaCols.foreach { case (mod, mcol) =>
      val elem = if (mod == "image") "resized" else "__media"
      val arrays = frames(mod).df.groupBy("__doc")
        .agg(transform(sort_array(collect_list(struct(col("__idx"), col(elem)))),
          e => e.getField(elem)).as("__arr"))
      assembled = assembled
        .join(arrays, col("__dockey") === arrays("__doc"), "left")
        .drop("__doc")
        .withColumn(mcol, coalesce(col("__arr"), array().cast("array<binary>")))
        .drop("__arr")
        .withColumn(s"n_${mod}s", size(col(mcol)))
    }
    // Restore the r16 output schema ORDER (r17 review): the split dropped
    // the media columns and withColumn re-appended them at the end;
    // positional consumers saw a reordered schema. Select back to the
    // input's column order with the n_<mod>s counters appended — the
    // exact r16 contract.
    val nCols = mediaCols.map { case (mod, _) => s"n_${mod}s" }
    val out = new Track(assembled.select((docs.columns ++ nCols).toSeq.map(col): _*),
      slotAggs(nCols), CkptSer)
    // out is materialized (eager checkpoint): the final text- and
    // media-stage blocks retire like every earlier stage's — without this
    // each interleaved run would pin corpus-sized block sets for the
    // session's lifetime (only `out` is handed to the caller).
    (text +: frames.values.toSeq).foreach(t => retire(t.df))
    run.record("reassemble", seconds(t0r),
      (out.agg.getLong(0), nCols.indices.map(i => out.agg.getLong(1 + i)).sum))
    Result(out.df, run.stats(docs.sparkSession, "docs_out", "images_out"))
  }
}
