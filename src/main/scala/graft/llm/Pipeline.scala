package graft.llm

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

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
  * output is localCheckpoint-ed once and read once, by the next stage;
  * intermediate checkpoints are unpersisted as soon as the next stage
  * materializes. Under the default `statsMode = "cheap"` a stage's
  * count+token-sum rides its checkpoint's own materialize job as
  * `observe` metrics, so stats add no job and no second read; `exact`
  * adds one aggregate job per stage over the checkpoint.
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

  // Stage checkpoints are corpus-sized and read by the next stage (and,
  // under `exact` stats, by one aggregate); serialized block storage keeps
  // them as byte chunks instead of hundreds of millions of row objects
  // (the 100M-doc GC ceiling — BENCH_NOTES r14), at the cost of a cheap
  // streaming deserialize per read.
  private val CkptSer = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** Stats modes (r18 — VERDICT r17 #1: the per-stage count jobs were the
    * flagship pipelines' largest overhead, ~24% of wall at 3M docs):
    *  - `exact`: dedicated aggregate jobs over each stage's checkpoint
    *    (the r17 behavior);
    *  - `cheap`: the SAME values collected as `observe` metrics riding the
    *    checkpoint's own materialize job — zero extra jobs, values
    *    identical by construction (the metrics aggregate over exactly the
    *    rows the checkpoint materializes);
    *  - `off`: no counting at all — stats rows carry -1 for the count
    *    columns (wall_sec and capped_rows stay real).
    * [[Config]] defaults to `cheap`: Round18Spec pins its rows equal to
    * `exact`'s, and it saves the aggregate job (and the second read of
    * the checkpoint) of every stage. `exact` stays for callers that want
    * the counts from a plain aggregate; the image and interleaved configs
    * still default to it. */
  private val StatsModes = Set("exact", "cheap", "off")

  /** Bounded wait for an observation attached to an ALREADY-MATERIALIZED
    * frame (the eager checkpoint returned, so the execution-end event is
    * posted; the listener normally fires within milliseconds). None after
    * the bound — callers fall back to an exact aggregate, trading the
    * saved job back for correctness. */
  private def awaitObs(obs: Observation): Option[Row] = {
    var r = org.apache.spark.sql.graftshim.GraftSql.observedRow(obs)
    var waitedMs = 0L
    while (r.isEmpty && waitedMs < 10000L) {
      Thread.sleep(20L)
      waitedMs += 20L
      r = org.apache.spark.sql.graftshim.GraftSql.observedRow(obs)
    }
    if (r.isEmpty)
      logWarning(s"observation ${obs.name} did not arrive within ${waitedMs}ms; " +
        "counting the stage with an exact aggregate instead")
    else if (waitedMs > 100L)
      logInfo(s"observation ${obs.name} took ${waitedMs}ms to arrive")
    r
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
      piiMaxDensity: Option[Double] = None,
      // Stats collection mode (r18): "exact" | "cheap" | "off" — see the
      // [[Pipeline.StatsModes]] note. `cheap` (the default) emits
      // IDENTICAL values with zero extra jobs (observe metrics on the
      // checkpoint's own materialize); `off` emits -1 counts.
      statsMode: String = "cheap")

  /** The quality_filter stage: one keep-rule node, so the quality kernel
    * runs once per document (see [[TextAnalysis.qualityKeep]]). */
  private[graft] def qualityFilter(df: DataFrame, textCol: String, cfg: Config): DataFrame =
    df.where(TextAnalysis.qualityKeep(col(textCol), cfg.minQuality, cfg.minTokens))

  /** Curated corpus + the per-stage stats frame. */
  final case class Result(docs: DataFrame, stats: DataFrame)

  def curate(docs: DataFrame, idCol: String, textCol: String,
      evalDocs: Option[DataFrame] = None,
      cfg: Config = Config()): Result = {
    val spark = docs.sparkSession
    require(cfg.minTokens >= 0 && cfg.budgetTokens >= 0L, s"bad config $cfg")
    require(cfg.bands >= 0, s"bad bands ${cfg.bands} (0 = auto)")
    require(StatsModes(cfg.statsMode),
      s"statsMode must be one of ${StatsModes.mkString("/")}, got '${cfg.statsMode}'")
    val bands =
      if (cfg.bands > 0) cfg.bands
      else Dedup.lshParamsSelective(cfg.nearDupThreshold, cfg.numHashes)._1
    val stats = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Double, Long)]()
    var pendingCapped = 0L // set by the near-dup stage's cap reporter

    // cheap mode: the (count, token-sum) pair rides each checkpoint's own
    // materialize job as observe metrics — same rows, same values, zero
    // extra jobs. `curObs` is the observation attached to the CURRENT
    // checkpoint.
    var curObs: Observation = null
    def ckpt(df: DataFrame): DataFrame =
      if (cfg.statsMode == "cheap") {
        curObs = Observation()
        df.observe(curObs, count(lit(1)).as("n"),
          coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L))
            .as("tok"))
          .localCheckpoint(true, CkptSer)
      } else df.localCheckpoint(true, CkptSer)
    var cur = ckpt(docs.where(col(textCol).isNotNull))
    def exactCounts(): (Long, Long) = {
      val r = cur.agg(count(lit(1)),
        coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    def measure(stage: String, wallSec: Double): Unit = {
      val (rows, toks) = cfg.statsMode match {
        case "off" => (-1L, -1L)
        case "cheap" => awaitObs(curObs)
          .map(r => (r.getLong(0), r.getLong(1)))
          .getOrElse(exactCounts())
        case _ => exactCounts()
      }
      stats += ((stats.size, stage, rows, toks, wallSec, pendingCapped))
      pendingCapped = 0L
    }
    def step(stage: String)(f: DataFrame => DataFrame): Unit = {
      val prev = cur
      val t0 = System.nanoTime()
      cur = ckpt(f(prev)) // eager: the stage materializes here
      measure(stage, (System.nanoTime() - t0) / 1e9)
      // prev's blocks free IMMEDIATELY once cur is materialized — holding
      // them to the end would stack every stage's full corpus in executor
      // storage at once (~9x the working set at the benched sizes).
      org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(prev)
        .foreach(_.unpersist(blocking = false))
    }
    measure("input", 0.0)

    step("fix_encoding")(df => df.withColumn(textCol,
      graft.functions.NormalizeKernel.nfkc(
        graft.functions.MojibakeKernel.fixMojibake(col(textCol)))))
    step("html_extract")(df => df
      .withColumn(textCol, graft.functions.HtmlKernel.htmlToText(col(textCol)))
      .where(trim(col(textCol)) =!= ""))
    step("langid_filter")(df => df.where(
      TextAnalysis.languageId(col(textCol)).isin(cfg.keepLangs.toSeq: _*)))
    step("quality_filter")(qualityFilter(_, textCol, cfg))
    cfg.piiMaxDensity.foreach { maxD =>
      step("pii_filter")(df => df.where(
        TextAnalysis.piiStats(col(textCol)).getField("density") <= maxD))
    }
    // Model-based stages (r15) — optional, before the wide dedup stages so
    // model-rejected rows never pay a shuffle. Both are zero-shuffle row
    // scorers (hashed features / log-ratio table ride the closure once);
    // DSIR's top-k is the slim id-projected form.
    cfg.qualityModel.foreach { m =>
      step("model_quality_filter") { df =>
        val s = QualityClassifier.score(col(textCol), m)
        if (cfg.qualityModelPareto)
          df.where(QualityClassifier.paretoKeep(s, col(idCol),
            cfg.qualityParetoAlpha, cfg.seed))
        else df.where(s >= cfg.qualityModelMin)
      }
    }
    cfg.dsirTarget.foreach { target =>
      require(cfg.dsirN > 0,
        s"dsirTarget is set but dsirN=${cfg.dsirN} — the DSIR stage needs a " +
          "positive selection size")
      step("dsir_resample")(df => Dsir.resampleNSlim(df, target, textCol,
        Seq(idCol), cfg.dsirN, ngrams = cfg.dsirNgrams, seed = cfg.seed)
        .drop("dsir_logw"))
    }
    step("line_dedup")(df => df
      .withColumn(textCol, TextAnalysis.removeRepeatedLines(col(textCol)))
      .where(trim(col(textCol)) =!= ""))
    // Content-hash exact dedup with the deterministic keep-lowest-id rule
    // (plain dropDuplicates keeps an arbitrary row; pipelines must be
    // replayable).
    step("exact_dedup")(df => Dedup.exactKeepFirst(
      df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      Seq("__fp"), idCol).drop("__fp"))
    step("near_dedup")(df => Dedup.dropNearDupsMinHash(df, idCol, textCol,
      cfg.nearDupThreshold, cfg.numHashes, bands, cfg.shingleWidth,
      cfg.maxBucket, onCapDrops = (_, rows) => pendingCapped = rows))
    evalDocs.foreach { ev =>
      // Auto plan: benchmark-sized eval gram sets fuse to a single
      // projection+filter pass (r14 — one corpus pass instead of the
      // join plan's gram explode + anti-join); oversized ones fall back
      // to the join path. Same minHits=1 keep set either way.
      step("decontaminate")(df => Decontamination.decontaminateAuto(df, ev,
        idCol, textCol, cfg.decontaminateNgram))
    }
    if (cfg.budgetTokens > 0L)
      step("token_budget")(df => Sampling.sampleTokenBudget(
        df.withColumn("__tok", TextAnalysis.tokenCount(col(textCol)).cast("long")),
        Seq(idCol), "__tok", cfg.budgetTokens, cfg.seed).drop("__tok"))

    import spark.implicits._
    Result(cur,
      stats.toSeq.toDF("ord", "stage", "rows_out", "tokens_out", "wall_sec",
        "capped_rows"))
  }

  // ------------------------------------------------------ image pipeline

  final case class ImageConfig(
      maxDistance: Int = 10,
      pieces: Int = 4,
      maxCorpusImages: Long = 50000000L,
      targetW: Int = 64,
      targetH: Int = 64,
      resizeFormat: String = "png",
      // "exact" | "cheap" | "off" (r18) — the [[Config.statsMode]] knob
      // for the image pipeline's (rows, bytes) stats.
      statsMode: String = "exact")

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
    val spark = docs.sparkSession
    require(StatsModes(cfg.statsMode),
      s"statsMode must be one of ${StatsModes.mkString("/")}, got '${cfg.statsMode}'")
    val stats = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Double)]()
    // bytes_out sums the stage's OWN payload column: the resize stage
    // reports the RESIZED volume (the number a storage budget watches),
    // not the source payload it still carries alongside (r14 — ADVICE).
    // cheap mode (r18): the pair rides the checkpoint's materialize job.
    var curObs: Observation = null
    def ckpt(df: DataFrame, bytesCol: String): DataFrame =
      if (cfg.statsMode == "cheap") {
        curObs = Observation()
        df.observe(curObs, count(lit(1)).as("n"),
          coalesce(sum(length(col(bytesCol)).cast("long")), lit(0L)).as("bytes"))
          .localCheckpoint(true, CkptSer)
      } else df.localCheckpoint(true, CkptSer)
    var cur = ckpt(docs.where(col(binCol).isNotNull), binCol)
    def measure(stage: String, wallSec: Double, bytesCol: String): Unit = {
      def exactCounts(): (Long, Long) = {
        val r = cur.agg(count(lit(1)),
          coalesce(sum(length(col(bytesCol)).cast("long")), lit(0L))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val (rows, bytes) = cfg.statsMode match {
        case "off" => (-1L, -1L)
        case "cheap" => awaitObs(curObs)
          .map(r => (r.getLong(0), r.getLong(1)))
          .getOrElse(exactCounts())
        case _ => exactCounts()
      }
      stats += ((stats.size, stage, rows, bytes, wallSec))
    }
    def step(stage: String, bytesCol: String = binCol)(f: DataFrame => DataFrame): Unit = {
      val prev = cur
      val t0 = System.nanoTime()
      cur = ckpt(f(prev), bytesCol)
      measure(stage, (System.nanoTime() - t0) / 1e9, bytesCol)
      org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(prev)
        .foreach(_.unpersist(blocking = false))
    }
    measure("input", 0.0, binCol)
    step("decode_phash")(df => decodeStage(df, binCol, "phash", "phash"))
    step("exact_dedup")(df => Dedup.exactKeepFirst(
      df.withColumn("__fp", xxhash64(col(binCol))), Seq("__fp"), idCol)
      .drop("__fp"))
    step("near_dedup")(df => Dedup.dropNearDupsPHash(df, idCol, "phash",
      cfg.maxDistance, cfg.pieces, cfg.maxCorpusImages))
    step("resize", bytesCol = "resized")(df => resizeStage(df, binCol, cfg))
    import spark.implicits._
    Result(cur,
      stats.toSeq.toDF("ord", "stage", "rows_out", "bytes_out", "wall_sec"))
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

  // ------------------------------------------------ interleaved pipeline

  final case class InterleavedConfig(
      text: Config = Config(),
      image: ImageConfig = ImageConfig(),
      maxImagesPerDoc: Int = 1000,
      // "exact" | "cheap" | "off" (r18 — VERDICT r17 #1): the interleaved
      // curator's own stats knob (the nested text/image configs' statsMode
      // fields are NOT consulted here — this pipeline runs its own stage
      // chain). `cheap` folds every per-stage (docs, media-slots) count
      // into the stage checkpoints' materialize jobs as observe metrics —
      // identical values, zero extra jobs.
      statsMode: String = "exact",
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
    *   text: fix encoding → HTML→text → langid filter → quality filter →
    *   within-doc repeated-line removal → exact dedup (content hash,
    *   keep-lowest-id) → minhash near-dup removal → n-gram
    *   decontamination (when `evalDocs` is given) — a document dropped
    *   by ANY text stage takes its image slots with it — then images:
    *   explode to (doc, idx, payload) → decode+pHash (undecodable
    *   dropped) → byte-exact dedup → perceptual near-dup removal →
    *   bilinear resize → reassemble per-doc arrays in original slot
    *   order.
    *
    * (r14 shipped only the filter prefix, so two byte-identical
    * interleaved documents both survived with their duplicate text —
    * VERDICT r14 What's-wrong #2; the chain above is stage-for-stage the
    * [[curate]] order, same Config knobs, same near-dup banding/cap
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
    * Text chain first ([[curate]]'s stages — a document dropped by any
    * text stage takes ALL its media slots along), then per modality:
    * explode → sketch (undecodable payloads dropped: image = real
    * decode + pHash; audio = spectral-band hash; video = payload
    * fingerprint — each one [[Multimodal.mediaSketch64]] column) →
    * byte-exact dedup → sketch near-dup removal
    * ([[Dedup.dropNearDupsPHash]] — sketch-agnostic, zero-shuffle MIH up
    * to the corpus bound, banded join past it) → images additionally
    * resize → reassemble per-doc arrays in original slot order. Stats
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
    val spark = docs.sparkSession
    val stats = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Double, Long)]()
    val tc = cfg.text
    val ic = cfg.image
    require(mediaCols.nonEmpty, "mediaCols must name at least one modality")
    require(mediaCols.forall { case (m, _) => Set("image", "audio", "video")(m) },
      s"modalities must be image/audio/video, got ${mediaCols.map(_._1).mkString(", ")}")
    require(mediaCols.map(_._1).distinct.size == mediaCols.size,
      s"duplicate modality in ${mediaCols.map(_._1).mkString(", ")}")
    require(tc.bands >= 0, s"bad bands ${tc.bands} (0 = auto)")
    require(StatsModes(cfg.statsMode),
      s"statsMode must be one of ${StatsModes.mkString("/")}, got '${cfg.statsMode}'")
    val statsOn = cfg.statsMode != "off"
    val cheap = cfg.statsMode == "cheap"
    val bands =
      if (tc.bands > 0) tc.bands
      else Dedup.lshParamsSelective(tc.nearDupThreshold, tc.numHashes)._1
    var pendingCapped = 0L

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
    // cheap mode: each curDocs checkpoint carries an observation with
    // (docs count, per-modality slot sums) — the exact values nDocs() /
    // pendingCounts() would otherwise run dedicated jobs for. Row layout:
    // index 0 = docs, 1 + i = slot sum of mediaCols(i).
    var docsObs: Observation = null
    def ckptDocs(df: DataFrame): DataFrame =
      if (cheap) {
        docsObs = Observation()
        df.observe(docsObs, count(lit(1)).as("n"),
          mediaCols.map { case (mod, _) =>
            coalesce(sum(col(s"__n_$mod").cast("long")), lit(0L)).as(s"s_$mod")
          }: _*)
          .localCheckpoint(true, CkptSer)
      } else df.localCheckpoint(true, CkptSer)
    var curDocs = ckptDocs(input
      .select(docs.columns.filterNot(mediaNames).map(col).toSeq ++
        mediaCols.map { case (mod, mcol) =>
          coalesce(size(col(mcol)), lit(0)).as(s"__n_$mod") }: _*))
    // input stays persisted: the per-modality explodes read their payload
    // bytes from it (retired after the last explode).
    // modality -> exploded (doc, idx, payload) frame, once text settles
    val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    // Count memoization (r17): the stats contract reports (docs, media)
    // after EVERY stage, but a frame only changes at its own stages —
    // curDocs is frozen through all media stages, and a settled
    // modality's frame is frozen through every other modality's. The
    // caches hold those counts; the step functions invalidate exactly
    // what they changed (same values, ~2 count jobs per stage fewer).
    var docsCount: Long = -1L
    val frameCount = scala.collection.mutable.HashMap.empty[String, Long]
    // cheap mode: per-modality frame observations (count; the explode
    // checkpoint's also carries max slot index for the maxImagesPerDoc
    // contract check).
    val frameObs = scala.collection.mutable.HashMap.empty[String, Observation]
    def nDocs(): Long = {
      if (docsCount < 0L)
        docsCount =
          if (cheap) awaitObs(docsObs).map(_.getLong(0)).getOrElse(curDocs.count())
          else curDocs.count()
      docsCount
    }
    // Pending-modality slot counts are cached and refreshed in ONE agg
    // over curDocs, invalidated only when curDocs changes (r16 review:
    // recomputing them per MEDIA stage re-scanned the full corpus blocks
    // — payload bytes included — for values that cannot have changed;
    // r17: the slim frame's count columns make the agg payload-free).
    var pendingCache: Map[String, Long] = null
    def pendingCounts(): Map[String, Long] = {
      if (pendingCache == null) {
        val pending = mediaCols.filter { case (mod, _) => !frames.contains(mod) }
        def exactPending(): Map[String, Long] =
          if (pending.isEmpty) Map.empty
          else {
            val aggs = pending.map { case (mod, _) =>
              coalesce(sum(col(s"__n_$mod").cast("long")), lit(0L))
            }
            val r = curDocs.agg(aggs.head, aggs.tail: _*).collect()(0)
            pending.zipWithIndex.map { case ((mod, _), i) => mod -> r.getLong(i) }.toMap
          }
        pendingCache =
          if (pending.isEmpty) Map.empty
          else if (cheap)
            // Row layout pinned by ckptDocs: 1 + position in mediaCols.
            awaitObs(docsObs).map { r =>
              val at = mediaCols.map(_._1).zipWithIndex.toMap
              pending.map { case (mod, _) => mod -> r.getLong(1 + at(mod)) }.toMap
            }.getOrElse(exactPending())
          else exactPending()
      }
      pendingCache
    }
    def nMedia(): Long = mediaCols.map { case (mod, _) =>
      frames.get(mod) match {
        case Some(f) => frameCount.getOrElseUpdate(mod,
          (if (cheap) frameObs.get(mod).flatMap(o => awaitObs(o)).map(_.getLong(0))
           else None).getOrElse(f.count()))
        case None => pendingCounts()(mod)
      }
    }.sum
    def measure(stage: String, wallSec: Double): Unit = {
      if (statsOn)
        stats += ((stats.size, stage, nDocs(), nMedia(), wallSec, pendingCapped))
      else
        stats += ((stats.size, stage, -1L, -1L, wallSec, pendingCapped))
      pendingCapped = 0L
    }
    def retire(prev: DataFrame): Unit =
      org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(prev)
        .foreach(_.unpersist(blocking = false))
    def stepDocs(stage: String)(f: DataFrame => DataFrame): Unit = {
      val prev = curDocs
      val t0 = System.nanoTime()
      curDocs = ckptDocs(f(prev))
      pendingCache = null // docs changed: pending slot sums are stale
      docsCount = -1L
      measure(stage, (System.nanoTime() - t0) / 1e9)
      retire(prev)
    }
    measure("input", 0.0)

    // Text stages — the [[curate]] chain's filter prefix; a document that
    // dies here takes its media slots with it (visible in images_out).
    stepDocs("fix_encoding")(df => df.withColumn(textCol,
      graft.functions.NormalizeKernel.nfkc(
        graft.functions.MojibakeKernel.fixMojibake(col(textCol)))))
    stepDocs("html_extract")(df => df
      .withColumn(textCol, graft.functions.HtmlKernel.htmlToText(col(textCol)))
      .where(trim(col(textCol)) =!= ""))
    stepDocs("langid_filter")(df => df.where(
      TextAnalysis.languageId(col(textCol)).isin(tc.keepLangs.toSeq: _*)))
    stepDocs("quality_filter")(qualityFilter(_, textCol, tc))
    tc.piiMaxDensity.foreach { maxD =>
      stepDocs("pii_filter")(df => df.where(
        TextAnalysis.piiStats(col(textCol)).getField("density") <= maxD))
    }
    // Text dedup chain (r15) — [[curate]]'s stages verbatim; a duplicated
    // interleaved document dies HERE and its media slots die with it
    // (slot survival shows in images_out, the replay contract).
    stepDocs("line_dedup")(df => df
      .withColumn(textCol, TextAnalysis.removeRepeatedLines(col(textCol)))
      .where(trim(col(textCol)) =!= ""))
    stepDocs("exact_dedup")(df => Dedup.exactKeepFirst(
      df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      Seq("__fp"), idCol).drop("__fp"))
    stepDocs("near_dedup")(df => Dedup.dropNearDupsMinHash(df, idCol, textCol,
      tc.nearDupThreshold, tc.numHashes, bands, tc.shingleWidth,
      tc.maxBucket, onCapDrops = (_, rows) => pendingCapped = rows))
    evalDocs.foreach { ev =>
      stepDocs("decontaminate")(df => Decontamination.decontaminateAuto(df, ev,
        idCol, textCol, tc.decontaminateNgram))
    }

    // Media stages per modality, over that modality's exploded frame;
    // `__mid` linearizes (doc, slot) so the shared keep-lowest-id rule
    // prefers earlier documents, then earlier slots. Modalities dedup
    // INDEPENDENTLY (an audio clip never pairs with a video payload).
    mediaCols.foreach { case (mod, mcol) =>
      val p = mod match {
        case "image" => "img"
        case "audio" => "aud"
        case _ => "vid"
      }
      val t0x = System.nanoTime()
      // Frame checkpoints (payload-bearing) sit at cfg.payloadLevel; in
      // cheap mode each carries a count observation, and the EXPLODE
      // checkpoint additionally the max slot index (the maxImagesPerDoc
      // contract check — observed in off mode too, so the contract holds
      // without a dedicated job in every mode).
      var explodeObs: Observation = null
      def ckptFrame(df: DataFrame, isExplode: Boolean): DataFrame =
        if (cheap || (isExplode && !statsOn)) {
          val o = Observation()
          frameObs(mod) = o
          if (isExplode) explodeObs = o
          val base = df.observe(o, count(lit(1)).as("n"),
            (if (isExplode) Seq(coalesce(max(col("__idx")), lit(0)).as("mx"))
             else Nil): _*)
          base.localCheckpoint(true, cfg.payloadLevel)
        } else df.localCheckpoint(true, cfg.payloadLevel)
      // Surviving docs' payloads from the side frame: one left-semi join
      // on the curated ids (the only place this modality's bytes move),
      // then explode to slots. AQE picks the join strategy; the payload
      // side never re-shuffles after this.
      frames(mod) = ckptFrame(mediaSide
        .join(curDocs.select(col(idCol).cast("long").as("__doc")),
          Seq("__doc"), "left_semi")
        .select(col("__doc"),
          posexplode(coalesce(col(mcol),
            array().cast(docs.schema(mcol).dataType))).as(Seq("__idx", "__media"))),
        isExplode = true)
      // The LAST modality's explode was the input checkpoint's final
      // reader — its payload blocks retire here (r18: explodes read input
      // directly; holding it longer would stack it against the frames).
      if (mod == mediaCols.last._1) retire(input)
      measure(s"${p}_explode", (System.nanoTime() - t0x) / 1e9)
      def exactOver(): Int = frames(mod).agg(coalesce(max("__idx"), lit(0)))
        .collect()(0).getInt(0)
      val over =
        if (explodeObs != null)
          awaitObs(explodeObs).map(_.getInt(1)).getOrElse(exactOver())
        else exactOver()
      require(over < cfg.maxImagesPerDoc,
        s"a document carries ${over + 1} $mod slots >= maxImagesPerDoc=${cfg.maxImagesPerDoc} — raise the knob")
      def stepMedia(stage: String)(f: DataFrame => DataFrame): Unit = {
        val prev = frames(mod)
        val t0 = System.nanoTime()
        frames(mod) = ckptFrame(f(prev), isExplode = false)
        frameCount.remove(mod) // only THIS modality's count went stale
        measure(stage, (System.nanoTime() - t0) / 1e9)
        retire(prev)
      }
      def withMid(df: DataFrame): DataFrame = df.withColumn("__mid",
        col("__doc") * cfg.maxImagesPerDoc + col("__idx"))
      mod match {
        case "image" =>
          stepMedia("img_decode")(df =>
            decodeStage(withMid(df), "__media", "phash", "phash"))
          stepMedia("img_exact_dedup")(df => Dedup.exactKeepFirst(
            df.withColumn("__fp", xxhash64(col("__media"))), Seq("__fp"), "__mid")
            .drop("__fp"))
          stepMedia("img_near_dedup")(df => Dedup.dropNearDupsPHash(df, "__mid",
            "phash", ic.maxDistance, ic.pieces, ic.maxCorpusImages))
          stepMedia("img_resize")(df => resizeStage(df, "__media", ic))
        case "audio" =>
          stepMedia("aud_decode")(df =>
            decodeStage(withMid(df), "__media", "audio_spectral", "ahash"))
          stepMedia("aud_exact_dedup")(df => Dedup.exactKeepFirst(
            df.withColumn("__fp", xxhash64(col("__media"))), Seq("__fp"), "__mid")
            .drop("__fp"))
          stepMedia("aud_near_dedup")(df => Dedup.dropNearDupsPHash(df, "__mid",
            "ahash", audioCfg.maxDistance, audioCfg.pieces, audioCfg.maxCorpus))
        case _ =>
          stepMedia("vid_decode")(df =>
            decodeStage(withMid(df), "__media", "video_payload", "vhash"))
          stepMedia("vid_exact_dedup")(df => Dedup.exactKeepFirst(
            df.withColumn("__fp", xxhash64(col("__media"))), Seq("__fp"), "__mid")
            .drop("__fp"))
          stepMedia("vid_near_dedup")(df => Dedup.dropNearDupsPHash(df, "__mid",
            "vhash", videoCfg.maxDistance, videoCfg.pieces, videoCfg.maxCorpus))
          // Re-encode-tolerant leg (r17): the payload sketch above is
          // re-mux-exact only; this stage kills re-ENCODED copies via the
          // size-profile signature + exact Spearman verify, keep-lowest-id
          // per pair-graph component (so slot survival replays from id
          // arithmetic exactly like every other dedup stage).
          if (videoCfg.profilePairs)
            stepMedia("vid_profile_dedup") { df =>
              val pairs = Multimodal.videoProfilePairs(df, "__mid", "__media",
                maxDistance = videoCfg.profileMaxDistance,
                minSpearman = videoCfg.profileMinSpearman,
                flatIndex = videoCfg.profileFlatIndex)
              val losers = Dedup.connectedComponents(pairs, "id_a", "id_b")
                .where(col("id") =!= col("component"))
                .select(col("id").as("__mid"))
              df.join(losers, Seq("__mid"), "left_anti")
            }
      }
    }

    // Reassembly: surviving payloads back into per-doc arrays in original
    // slot order (images reassemble the RESIZED payload; audio/video the
    // curated original bytes); media-less documents keep their curated
    // text with empty arrays.
    val t0r = System.nanoTime()
    var assembled = curDocs
      .drop(mediaCols.map { case (mod, _) => s"__n_$mod" }: _*)
      .withColumn("__dockey", col(idCol).cast("long"))
    mediaCols.foreach { case (mod, mcol) =>
      val elem = if (mod == "image") "resized" else "__media"
      val arrays = frames(mod).groupBy("__doc")
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
    val outObs = if (cheap) Observation() else null
    val outPre = assembled
      .select((docs.columns.map(col) ++
        mediaCols.map { case (mod, _) => col(s"n_${mod}s") }).toSeq: _*)
    val slotSum = coalesce(sum(
      mediaCols.map { case (mod, _) => col(s"n_${mod}s").cast("long") }
        .reduce(_ + _)), lit(0L))
    val out = (if (cheap)
        outPre.observe(outObs, count(lit(1)).as("n"), slotSum.as("slots"))
      else outPre)
      .localCheckpoint(true, CkptSer)
    // out is materialized (eager checkpoint): the final text- and
    // media-stage blocks retire like every earlier stage's — without this
    // each interleaved run would pin corpus-sized block sets for the
    // session's lifetime (only `out` is handed to the caller).
    retire(curDocs)
    mediaCols.foreach { case (mod, _) => retire(frames(mod)) }
    def exactOut(): (Long, Long) = (out.count(),
      out.agg(slotSum).collect()(0).getLong(0))
    val (outDocs, outSlots) = cfg.statsMode match {
      case "off" => (-1L, -1L)
      case "cheap" => awaitObs(outObs)
        .map(r => (r.getLong(0), r.getLong(1))).getOrElse(exactOut())
      case _ => exactOut()
    }
    stats += ((stats.size, "reassemble", outDocs, outSlots,
      (System.nanoTime() - t0r) / 1e9, 0L))

    import spark.implicits._
    Result(out,
      stats.toSeq.toDF("ord", "stage", "docs_out", "images_out", "wall_sec",
        "capped_rows"))
  }
}
