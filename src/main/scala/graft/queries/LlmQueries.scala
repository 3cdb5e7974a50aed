package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Packing, QualityClassifier, Sampling, Similarity, TextAnalysis}

/** Driver-facing queries for the training-data pipeline operators, over the
  * `documents` and `embeddings` test tables. Every oracle is genuine SQL:
  * either a direct recomputation (exact dedup, brute-force cosine, token
  * counts, quality ratios, the inverted-index jaccard replay that also
  * certifies the minhash family), or a replay of a planted construction
  * whose true answer is derivable from id arithmetic (simhash families,
  * duplicated vectors, known-language wordlists). Sketch QUALITY on
  * natural data is separately measured by the recall-harness queries.
  */
object LlmQueries {
  import Q._

  type Fn = (SparkSession, String) => DataFrame

  /** TRUE iff `ok` holds on every row (null counts as a violation; an empty
    * input vacuously passes — coalesce keeps the gate from going null). */
  private def all(ok: Column): Column =
    coalesce(sum(when(ok, 0L).otherwise(1L)), lit(0L)) === 0L

  val queries: Map[String, Fn] = Map(
    // ------------------------------------------------------ exact dedup
    "q_dedup_exact" -> ((s, d) => {
      val nDedup = Dedup.exact(table(s, d, "documents"), Seq("text")).count()
      val nHash = Dedup.byContentHash(table(s, d, "documents"), "text").count()
      one(table(s, d, "documents"),
        "n" -> count(lit(1)),
        "n_after_dedup" -> L(nDedup),
        "n_after_hash_dedup" -> L(nHash))
    }),

    "q_dedup_keepfirst" -> ((s, d) =>
      Dedup.exactKeepFirst(table(s, d, "documents"), Seq("source"), "doc_id")
        .select("source", "doc_id").orderBy("source", "doc_id")),

    // --------------------------------------------- near-dup (bucketed)
    "q_dedup_minhash" -> ((s, d) => {
      val pairs = Dedup.nearDupMinHash(table(s, d, "documents"), "doc_id", "text",
        threshold = 0.5, numHashes = 128, bands = 64)
      one(pairs, "n_pairs" -> count(lit(1)),
        "sum_a" -> coalesce(sum(col("id_a")), L(0)),
        "sum_b" -> coalesce(sum(col("id_b")), L(0)))
    }),

    "q_dedup_ngram_jaccard" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(table(s, d, "documents"), "doc_id", "text",
        threshold = 0.5)
      one(pairs, "n_pairs" -> count(lit(1)),
        "sum_a" -> coalesce(sum(col("id_a")), L(0)),
        "sum_b" -> coalesce(sum(col("id_b")), L(0)))
    }),

    "q_dedup_minhash_drop" -> ((s, d) =>
      one(Dedup.dropNearDupsMinHash(table(s, d, "documents"), "doc_id", "text",
        threshold = 0.5, numHashes = 128, bands = 64),
        "n_survivors" -> count(lit(1)))),

    // Planted construction with a SQL-derivable answer: each even/odd
    // doc_id pair shares one 24-token vocabulary disjoint from every other
    // family's, so identical texts (hamming 0) are the ONLY pairs within
    // distance 3 — cross-family 64-bit sketches differ in ~32 bits
    // (P(<=3) ~ 2e-15 per pair, and deterministic for a fixed corpus).
    // Pigeonhole candidate generation is exact (distance<pieces guarantees
    // a shared piece), so the output is exactly the planted pair list,
    // which the oracle re-derives from the doc_id arithmetic. Sketch
    // QUALITY on natural text is covered by the minhash/cosine recall
    // harnesses; this gate pins end-to-end correctness scale-invariantly.
    "q_dedup_simhash" -> ((s, d) => {
      val fam = (col("doc_id") - pmod(col("doc_id"), lit(2))).cast("long")
      val toks = transform(sequence(lit(0), lit(23)),
        i => concat(lit("w"), fam, lit("x"), i.cast("string")))
      val aug = table(s, d, "documents")
        .select(col("doc_id"), array_join(toks, " ").as("text"))
      Dedup.nearDupSimHash(aug, "doc_id", "text", maxDistance = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a")
    }),

    // ------------------------------------- image near-dup (pHash)
    // Planted duplicate-transform construction with a SQL-derivable
    // answer: 40 families of 3 images each — a 64×64 block-texture PNG
    // (texture a deterministic splitmix64 function of the family id), a
    // bilinear 48×48 RESIZE of it, and a same-size JPEG RE-ENCODE (the
    // two transforms image dedup must be invariant to). Real ImageIO
    // decode + 32×32 DCT pHash + pigeonhole Hamming blocking must pair
    // every within-family combination and nothing else: cross-family
    // textures are independent 8×8 block noise, so their pHashes differ
    // in ~32 bits (P(<= 10) ~ 1e-8 per pair, deterministic for the fixed
    // corpus — the q_dedup_simhash plant contract). The oracle re-derives
    // the exact pair list from the id arithmetic.
    "q_dedup_image_phash" -> ((s, d) => {
      import s.implicits._
      val media = s.range(0, 120).select(col("id")).as[Long]
        .map { id =>
          val orig = Multimodal.encodeBlockImage(id / 3)
          val bytes = (id % 3) match {
            case 0L => orig
            case 1L => Multimodal.resizeOne(orig, 48, 48, "png")
            case _ => Multimodal.resizeOne(orig, 64, 64, "jpg")
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      val hashed = Multimodal.pHashImages(media, "payload")
      Dedup.nearDupHamming64(hashed, "doc_id", "phash",
          maxDistance = 10, pieces = 16)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // Stateless streaming image-dup guard: a multi-index Hamming probe of
    // each in-flight sketch against the driver-known corpus index —
    // pigeonhole-complete for d < pieces AND exact-verified (flags iff a
    // corpus hash truly lies within the radius, so unlike the minhash
    // band guard there are NO false positives). Planted construction with
    // a SQL-derivable answer: the corpus is 40 real block-texture pHashes;
    // the stream carries, per family, the exact hash (d=0, must flag), a
    // 2-bit XOR perturbation confined to one 16-bit piece (d=2 ≤ 3, must
    // flag — the other 3 pieces still bucket-match), and a 20-bit
    // perturbation spread 5 bits into EACH piece (d=20, must not flag —
    // no piece matches, and cross-family hashes sit ~32 bits apart,
    // deterministic for the fixed corpus). The oracle re-derives the flag
    // from the id arithmetic.
    "q_dedup_image_stream" -> ((s, d) => {
      import s.implicits._
      val corpus = s.range(0, 40).select(col("id")).as[Long]
        .map(f => (f, Multimodal.encodeBlockImage(f)))
        .toDF("family", "payload")
      val hashed = Multimodal.pHashImages(corpus, "payload")
        .select(col("family"), col("phash"))
        .localCheckpoint()
      val index = Dedup.pHashIndex(hashed, "phash", pieces = 4)
      val stream = hashed.select(col("family"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("v"), col("phash"))
        .select((col("family") * 3 + col("v")).as("id"),
          when(col("v") === 0L, col("phash"))
            .when(col("v") === 1L, col("phash")
              .bitwiseXOR(lit(0x0000000000000081L)))
            .otherwise(col("phash")
              .bitwiseXOR(lit(0x001F001F001F001FL))).as("phash"))
      Dedup.streamPHashGuard(stream, index, "phash", maxDistance = 3)
        .select(col("id"), col("img_near_dup"))
        .orderBy("id")
    }),

    // Audio near-dup dedup: 64-bucket energy-profile hash over REAL
    // javax.sound PCM decode, paired by the shared Hamming pigeonhole.
    // Planted construction with a SQL-derivable answer: 40 pattern
    // families × {original clip, amplitude-halved copy (even amplitudes
    // halve exactly, so the profile hash is bit-identical — the
    // scale-invariance the energy signature certifies), a novel pattern,
    // and every 3rd family's slot replaced by garbage bytes that must
    // hash to null and pair with nothing}. Cross-pattern profiles are
    // independent 14-bit section energies, so their hashes differ in
    // ~32 bits (deterministic for the fixed corpus — the image-pHash
    // plant contract). The oracle re-derives the pair list from the id
    // arithmetic.
    // (r14) Extended with the spectral-fingerprint leg: the energy hash
    // keys on WHEN energy occurs, so the most common real near-dup
    // transforms — a time OFFSET (leading silence) and PADDING (trailing
    // silence) — break it; the Welch spectral-band hash keys on WHERE IN
    // FREQUENCY the energy lives and pairs them. Spectral plant: 20 tone
    // families × {original, +300-frame offset copy, +4000-frame padded
    // copy, amplitude-halved copy, novel tone pattern} at ids 200+5f+slot
    // — slots 0-3 must pair completely (6 pairs/family), slot 4 and
    // cross-family must not (tone band sets disagree on ~16 of 32 pairs
    // ⇒ ~32 bits, deterministic for the fixed corpus).
    "q_dedup_audio_hash" -> ((s, d) => {
      import s.implicits._
      val media = s.range(0, 120).select(col("id")).as[Long]
        .map { id =>
          val fam = id / 3
          val bytes = (id % 3) match {
            case 0L => Multimodal.encodePatternWav(fam)
            case 1L =>
              if (fam % 3 == 2) s"not-a-wav-$id".getBytes("UTF-8")
              else Multimodal.encodePatternWav(fam, scaleShift = 1)
            case _ => Multimodal.encodePatternWav(fam + 5000L)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      val energyPairs = Dedup.nearDupHamming64(
        Multimodal.audioHashes(media, "payload"),
        "doc_id", "ahash", maxDistance = 3, pieces = 4)
      val tones = s.range(0, 100).select(col("id")).as[Long]
        .map { v =>
          val fam = v / 5
          val bytes = (v % 5) match {
            case 0L => Multimodal.encodeToneWav(fam)
            case 1L => Multimodal.encodeToneWav(fam, prefixSilenceFrames = 300)
            case 2L => Multimodal.encodeToneWav(fam, suffixSilenceFrames = 4000)
            case 3L => Multimodal.encodeToneWav(fam, scaleShift = 1)
            case _ => Multimodal.encodeToneWav(fam + 7000L)
          }
          (200L + v, bytes)
        }.toDF("doc_id", "payload")
      val spectralPairs = Dedup.nearDupHamming64(
        Multimodal.audioSpectralHashes(tones, "payload"),
        "doc_id", "shash", maxDistance = 3, pieces = 4)
      energyPairs.select(col("id_a"), col("id_b"))
        .unionByName(spectralPairs.select(col("id_a"), col("id_b")))
        .orderBy("id_a", "id_b")
    }),

    // Video near-dup dedup (r14): the third modality leg. The certified
    // invariance class is RE-MUXING — the fingerprint hashes the coded
    // frame payloads located through the sample tables, so container
    // rewrites (re-chunking, timescale changes, metadata edits) preserve
    // it exactly, and a splice copy (one replaced frame) moves at most
    // its sampled nibble (≤ 4 bits). Planted construction with a
    // SQL-derivable answer: 40 content families × 4 slots at ids 4f+s —
    // s0 original (24 frames, varying sizes, 4-sample chunks), s1 a
    // re-muxed copy (3-sample chunks, different timescale; every 3rd
    // family carries garbage bytes instead — null hash, pairs nothing),
    // s2 a splice copy (frame 7 replaced — sampled exactly once at 24
    // frames, Hamming ≤ 4), s3 novel content (~32 bits from everything,
    // deterministic for the fixed corpus — the image-pHash plant
    // contract). maxDistance 4 < pieces 8 keeps the pigeonhole exact.
    "q_dedup_video_hash" -> ((s, d) => {
      import s.implicits._
      val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
      val media = s.range(0, 160).select(col("id")).as[Long]
        .map { id =>
          val fam = id / 4
          val bytes = (id % 4) match {
            case 0L => Multimodal.encodeMp4Media(fam, sizes, Seq.fill(6)(4))
            case 1L =>
              if (fam % 3 == 2) s"not-an-mp4-$id".getBytes("UTF-8")
              else Multimodal.encodeMp4Media(fam, sizes, Seq.fill(8)(3),
                timescale = 90000)
            case 2L => Multimodal.encodeMp4Media(fam, sizes, Seq.fill(6)(4),
              alteredFrames = Set(7))
            case _ => Multimodal.encodeMp4Media(fam + 9000L, sizes, Seq.fill(6)(4))
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      Dedup.nearDupHamming64(
        Multimodal.videoHashes(media, "payload"),
        "doc_id", "vhash", maxDistance = 4, pieces = 8)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // Video RE-ENCODE near-dup (r15 stretch): the payload hash above is
    // exact for re-muxes but a re-encode rewrites every coded byte; the
    // size-profile signature reads ONLY the stsz table (the
    // bitrate-motion curve), so independent encodes of the same content
    // pair. Planted construction with a SQL-derivable answer: 40 content
    // families × 5 slots at ids 5f+s — s0 original encode (640 frames,
    // gop 12), s1 a two-pass re-encode at 0.6× bitrate / gop 8 /
    // different rate-control noise (every 3rd family carries garbage
    // bytes instead — null hash, pairs nothing), s2 a re-encode at 1.8×
    // bitrate AND a frame-rate change (480 frames, gop 15), s3 a pure
    // re-mux of s0 (identical stsz ⇒ identical signature), s4 novel
    // content. Every slot's mdat payload family differs (slots share NO
    // payload bytes — the signature must key on sizes alone). The
    // operator is the full candidates-then-verify composition:
    // paired-bucket Hamming candidates (recall stage — re-encodes sit
    // ≤ 13 bits, maxDistance 14), then Spearman rank correlation of the
    // 64-bucket profiles (precision — same-content ≥ 0.939, independent
    // ≤ 0.751 over 59,700 measured pairs, DriveVideoProfile; 0.85 splits
    // the gap). Slots {0,1,2,3} pair completely within each family;
    // s4/cross-family never pair.
    "q_dedup_video_profile" -> ((s, d) => {
      import s.implicits._
      def chunksFor(n: Int): Seq[Int] =
        Seq.fill(n / 64)(64) ++ (if (n % 64 > 0) Seq(n % 64) else Nil)
      val media = s.range(0, 200).select(col("id")).as[Long]
        .map { id =>
          val fam = id / 5
          val bytes = (id % 5) match {
            case 0L => Multimodal.encodeMp4Media(fam * 10L,
              Multimodal.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L),
              chunksFor(640))
            case 1L =>
              if (fam % 3 == 2) s"not-an-mp4-$id".getBytes("UTF-8")
              else Multimodal.encodeMp4Media(fam * 10L + 1,
                Multimodal.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L),
                chunksFor(640))
            // Realistic clocking (r16): a frame-rate change (s2) and a
            // re-mux (s3) both PRESERVE the presentation duration — the
            // explicit durationUnits keeps mdhd duration at s0's 21.33s
            // across the fps change (480 frames → 22.5 fps) and the
            // timescale change (90000 units/s), exactly what real
            // encoders emit and what the index path's content cell keys
            // on.
            case 2L => Multimodal.encodeMp4Media(fam * 10L + 2,
              Multimodal.bitrateProfileFrameSizes(fam, 480, 1.8, gop = 15, noiseSeed = 3L),
              chunksFor(480), durationUnits = 640L * 20L)
            case 3L => Multimodal.encodeMp4Media(fam * 10L,
              Multimodal.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L),
              Seq.fill(20)(32), timescale = 90000,
              durationUnits = 640L * 20L * 150L)
            case _ => Multimodal.encodeMp4Media(fam * 10L + 4,
              Multimodal.bitrateProfileFrameSizes(fam + 9000L, 640, 1.0, gop = 12, noiseSeed = 4L),
              chunksFor(640))
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      Multimodal.videoProfilePairs(media, "doc_id", "payload")
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // Candidate-PATH identity on the correctness gate (r17): the query
    // above certifies the banded path (201 rows sit under 16·maxBucket);
    // this one runs the SAME plant through the other three operating
    // points — the cell-partitioned index (maxBucket = 1 forces the
    // at-scale path), the byte-budgeted CELL-GROUPED MULTI-PASS (a
    // ~30-row shard budget splits the corpus into several whole-cell
    // groups), and the corpus-wide FLAT escape hatch — and pins that all
    // four emit the identical pair set (every planted pair preserves
    // duration and shifts fps ≤ 2×, so the cell neighborhood loses
    // nothing here). DuckDB replays the pair list; the booleans pin the
    // in-engine path identities.
    "q_dedup_video_profile_paths" -> ((s, d) => {
      import s.implicits._
      def chunksFor(n: Int): Seq[Int] =
        Seq.fill(n / 64)(64) ++ (if (n % 64 > 0) Seq(n % 64) else Nil)
      val media = s.range(0, 200).select(col("id")).as[Long]
        .map { id =>
          val fam = id / 5
          val bytes = (id % 5) match {
            case 0L => Multimodal.encodeMp4Media(fam * 10L,
              Multimodal.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L),
              chunksFor(640))
            case 1L =>
              if (fam % 3 == 2) s"not-an-mp4-$id".getBytes("UTF-8")
              else Multimodal.encodeMp4Media(fam * 10L + 1,
                Multimodal.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L),
                chunksFor(640))
            case 2L => Multimodal.encodeMp4Media(fam * 10L + 2,
              Multimodal.bitrateProfileFrameSizes(fam, 480, 1.8, gop = 15, noiseSeed = 3L),
              chunksFor(480), durationUnits = 640L * 20L)
            case 3L => Multimodal.encodeMp4Media(fam * 10L,
              Multimodal.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L),
              Seq.fill(20)(32), timescale = 90000,
              durationUnits = 640L * 20L * 150L)
            case _ => Multimodal.encodeMp4Media(fam * 10L + 4,
              Multimodal.bitrateProfileFrameSizes(fam + 9000L, 640, 1.0, gop = 12, noiseSeed = 4L),
              chunksFor(640))
          }
          (id, bytes)
        }.toDF("doc_id", "payload").localCheckpoint(true)
      val K = graft.functions.HammingIndexKernel
      def pairsOf(df: org.apache.spark.sql.DataFrame, maxBucket: Int,
          budget: Long, flat: Boolean) =
        Multimodal.videoProfilePairs(df, "doc_id", "payload",
          maxBucket = maxBucket, maxIndexBytes = budget, flatIndex = flat)
          .select(col("id_a"), col("id_b"))
      val effRow = K.indexBytesPerRow(4, hasIds = true, rankLen = 64) +
        (K.bucketTableBytes(4) + K.MihCellIndex.MicroCellMaxRows - 1) /
          K.MihCellIndex.MicroCellMaxRows
      val banded = pairsOf(media, 10000, K.DefaultIndexBudgetBytes, flat = false)
        .localCheckpoint(true)
      val celled = pairsOf(media, 1, K.DefaultIndexBudgetBytes, flat = false)
        .localCheckpoint(true)
      val multi = pairsOf(media, 1, 30L * effRow, flat = false)
      val flatP = pairsOf(media, 1, K.DefaultIndexBudgetBytes, flat = true)
      def eq(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val cellEq = eq(celled, banded)
      val multiEq = eq(multi, banded)
      val flatEq = eq(flatP, banded)
      celled
        .withColumn("celled_eq_banded", lit(cellEq))
        .withColumn("multipass_eq_banded", lit(multiEq))
        .withColumn("flat_eq_banded", lit(flatEq))
        .orderBy("id_a", "id_b")
    }),

    // Stateless streaming audio+video near-dup guards (r16): the image
    // guard's two missing modality twins. Each in-flight row's 64-bit
    // sketch is computed by the mediaSketch64 expression (the same
    // column the batch sketch transforms add) and probed against the
    // driver-known corpus MIH index in one fused expression — complete
    // for the radius, exact-verified, zero shuffle, no state store.
    // Planted construction with a SQL-derivable answer. Audio (ids 4f+s
    // over 20 tone families in the corpus): s0 amplitude-halved copy
    // (bit-identical spectral sketch — must flag), s1 a +300-frame
    // offset copy (≤ 3 bits — must flag), s2 novel tone content (tone
    // band sets disagree on ~16 of 32 pairs ⇒ ~32 bits — must not), s3
    // garbage bytes (null sketch — must not). Video (ids 1000+4f+s over
    // 30 payload families): s0 a re-muxed copy (payload fingerprint
    // identical — must flag), s1 a splice copy (frame 7 replaced,
    // sampled once at 24 frames ⇒ ≤ 4 bits — must flag), s2 novel
    // content (~32 bits), s3 garbage. Both radii keep the guards
    // exact-verified; the oracle replays the flags from id arithmetic.
    "q_dedup_av_stream" -> ((s, d) => {
      import s.implicits._
      val audioCorpus = s.range(0, 20).select(col("id")).as[Long]
        .map(f => (f, Multimodal.encodeToneWav(f)))
        .toDF("family", "payload")
      val audioIdx = Dedup.pHashIndex(
        Multimodal.audioSpectralHashes(audioCorpus, "payload"),
        "shash", pieces = 4)
      val audioStream = s.range(0, 80).select(col("id")).as[Long]
        .map { id =>
          val fam = id / 4
          val bytes = (id % 4) match {
            case 0L => Multimodal.encodeToneWav(fam, scaleShift = 1)
            case 1L => Multimodal.encodeToneWav(fam, prefixSilenceFrames = 300)
            case 2L => Multimodal.encodeToneWav(fam + 7000L)
            case _ => s"not-a-wav-$id".getBytes("UTF-8")
          }
          (id, bytes)
        }.toDF("id", "payload")
      val audioOut = Dedup.streamAudioGuard(audioStream, audioIdx, "payload",
          maxDistance = 3)
        .select(col("id"), col("audio_near_dup").as("flag"),
          lit("audio").as("modality"))
      val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
      val videoCorpus = s.range(0, 30).select(col("id")).as[Long]
        .map(f => (f, Multimodal.encodeMp4Media(f, sizes, Seq.fill(6)(4))))
        .toDF("family", "payload")
      val videoIdx = Dedup.pHashIndex(
        Multimodal.videoHashes(videoCorpus, "payload"), "vhash", pieces = 4)
      val videoStream = s.range(0, 120).select(col("id")).as[Long]
        .map { v =>
          val fam = v / 4
          val bytes = (v % 4) match {
            case 0L => Multimodal.encodeMp4Media(fam, sizes, Seq.fill(8)(3),
              timescale = 90000)
            case 1L => Multimodal.encodeMp4Media(fam, sizes, Seq.fill(6)(4),
              alteredFrames = Set(7))
            case 2L => Multimodal.encodeMp4Media(fam + 9000L, sizes, Seq.fill(6)(4))
            case _ => s"not-an-mp4-$v".getBytes("UTF-8")
          }
          (1000L + v, bytes)
        }.toDF("id", "payload")
      val videoOut = Dedup.streamVideoGuard(videoStream, videoIdx, "payload",
          maxDistance = 4)
        .select(col("id"), col("video_near_dup").as("flag"),
          lit("video").as("modality"))
      // VERIFIED re-encode profile leg (r17 — VERDICT r16 #3): the r16
      // profile guard flagged CANDIDATES at the wide radius; this one
      // fuses the exact Spearman verify into the probe, so flags are
      // exact. Corpus: 25 content families (640-frame two-pass encodes).
      // Stream ids 2000+4f+s: s0 a RE-ENCODE of family f (0.6× bitrate,
      // different GOP/noise, different payload bytes — in-radius and
      // Spearman ≥ 0.939, must flag), s1 a MONOTONE-SCALED copy (each
      // frame size mapped 2s+7 — rank-invariant, Hamming 0, Spearman
      // 1.0, must flag), s2 independent content (curve family f+7000 —
      // candidate tails die at the fused verify, must not flag), s3
      // garbage bytes (null profile, must not flag).
      def chunksFor(nf: Int): Seq[Int] =
        Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)
      val profCorpus = s.range(0, 25).select(col("id")).as[Long]
        .map(f => (f, Multimodal.encodeMp4Media(f * 100L,
          Multimodal.bitrateProfileFrameSizes(f, 640, 1.0, gop = 12, noiseSeed = 1L),
          chunksFor(640))))
        .toDF("family", "payload")
      val profIdx = Multimodal.videoProfileIndex(profCorpus, "family", "payload")
      val profStream = s.range(0, 100).select(col("id")).as[Long]
        .map { v =>
          val fam = v / 4
          val bytes = (v % 4) match {
            case 0L => Multimodal.encodeMp4Media(fam * 100L + 1,
              Multimodal.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L),
              chunksFor(640))
            case 1L => Multimodal.encodeMp4Media(fam * 100L + 2,
              Multimodal.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L)
                .map(sz => math.min(65536, 2 * sz + 7)),
              chunksFor(640))
            case 2L => Multimodal.encodeMp4Media(fam * 100L + 3,
              Multimodal.bitrateProfileFrameSizes(fam + 7000L, 640, 1.0, gop = 12, noiseSeed = 4L),
              chunksFor(640))
            case _ => s"not-an-mp4-$v".getBytes("UTF-8")
          }
          (2000L + v, bytes)
        }.toDF("id", "payload")
      val profOut = Dedup.streamVideoProfileGuard(profStream, profIdx, "payload")
        .select(col("id"), col("video_near_dup").as("flag"),
          lit("video_profile").as("modality"))
      audioOut.unionByName(videoOut).unionByName(profOut).orderBy("id")
    }),

    // ------------------------------------- substring-level dedup
    // RefinedWeb/exact-substring granularity: every 50th doc gets the same
    // 11-token boilerplate tail, so each planted doc carries >= 4 repeated
    // 8-token windows (11 - 8 + 1 fully inside the tail). The oracle is a
    // GENUINE DuckDB recomputation of the whole inverted index from the
    // window STRINGS; the Spark side works on xxhash64 fingerprints
    // (collisions over ~1e5 windows ~ 1e-9 — the minhash family's standing
    // assumption).
    "q_dedup_substring" -> ((s, d) => {
      val boiler = "subscribe to our newsletter for daily updates and exclusive offers today"
      val aug = table(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(50)) === 0, concat(col("text"), lit(" " + boiler)))
          .otherwise(col("text")).as("text"))
      val flagged = Dedup.flagRepeatedSubstrings(aug, "doc_id", "text", width = 8, minDocs = 2)
      val a = one(flagged,
        "n_docs" -> count(lit(1)),
        "n_flagged" -> sum(when(col("n_repeated_windows") >= 4, 1L).otherwise(0L)),
        "n_planted_flagged" -> sum(when(pmod(col("doc_id"), lit(50)) === 0 &&
          col("n_repeated_windows") >= 4, 1L).otherwise(0L)))
      val b = one(Dedup.repeatedSubstrings(aug, "doc_id", "text", width = 8, minDocs = 2),
        "n_repeated_fps" -> count(lit(1)))
      // Pair view: documents sharing >= 4 windows (the planted boilerplate
      // contributes exactly 4 per doc, so all planted pairs qualify).
      val c = one(Dedup.repeatedSubstringPairs(aug, "doc_id", "text",
          width = 8, minShared = 4),
        "n_pairs_ge4" -> count(lit(1)))
      a.crossJoin(b).crossJoin(c)
    }),

    // The removal half: same planted corpus, full-string comparison of
    // every deduplicated document (like q_text_redact) against DuckDB
    // replaying the whole pipeline — windows, doc frequencies, covered
    // positions, token filtering and the single-space rejoin.
    "q_dedup_substring_drop" -> ((s, d) => {
      val boiler = "subscribe to our newsletter for daily updates and exclusive offers today"
      val aug = table(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(50)) === 0, concat(col("text"), lit(" " + boiler)))
          .otherwise(col("text")).as("text"))
      Dedup.removeRepeatedSubstrings(aug, "doc_id", "text", width = 8, minDocs = 2)
        .select(col("doc_id"), col("text").as("deduped"))
        .orderBy("doc_id")
    }),

    // Corpus-wide line dedup (C4-style boilerplate strip), planted: every
    // 4th doc gets a shared header line and every 6th a shared footer —
    // both corpus-frequent (>= 3 distinct docs) and therefore stripped
    // everywhere, while genuine text lines survive unless the raw text
    // itself repeats in >= 3 docs (the oracle replays the same rule).
    // concat_ws skips the null when-arms, so unplanted docs stay
    // single-line. Full per-document hash compare.
    "q_dedup_corpus_lines" -> ((s, d) => {
      val aug = table(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          when(pmod(col("doc_id"), lit(4)) === 0, lit("SUBSCRIBE TO OUR NEWSLETTER")),
          col("text"),
          when(pmod(col("doc_id"), lit(6)) === 0,
            lit("(c) example.com - all rights reserved"))).as("text"))
      Dedup.removeCorpusFrequentLines(aug, "doc_id", "text", minDocs = 3)
        .select(col("doc_id"), col("text").as("cleaned"))
        .orderBy("doc_id")
    }),

    // The guard form of the same rule: frequency pass collected ONCE into
    // a driver-known line vocabulary, then a single fused per-row kernel
    // strip (graft_strip_lines_in_set) — the stateless shape a stream
    // composes with. Same planting, same oracle replay as
    // q_dedup_corpus_lines: on the training corpus the two forms are
    // line-for-line equal (also pinned directly in Round12Spec).
    "q_dedup_line_guard" -> ((s, d) => {
      val aug = table(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          when(pmod(col("doc_id"), lit(4)) === 0, lit("SUBSCRIBE TO OUR NEWSLETTER")),
          col("text"),
          when(pmod(col("doc_id"), lit(6)) === 0,
            lit("(c) example.com - all rights reserved"))).as("text"))
      val idx = Dedup.frequentLineIndex(aug, "doc_id", "text", minDocs = 3)
      Dedup.stripFrequentLinesWith(aug, "text", idx)
        .select(col("doc_id"), col("text").as("cleaned"))
        .orderBy("doc_id")
    }),

    // ------------------------------------- transitive-closure dedup (CC)
    // Planted duplicate CHAINS: for each of 3 base docs, 4 sliding-window
    // variants over a hash-derived 100-word sequence. Consecutive windows
    // overlap 52/60 words (shingle jaccard ~0.76, a certain LSH hit at 64
    // bands); chain ENDS overlap only 36/60 (~0.41 < threshold) so the
    // cluster is connected only transitively — exactly the case the greedy
    // pair-drop cannot guarantee and connectedComponents must solve. The
    // invariants pin: every chain member maps to the chain-min component,
    // one component per chain, exactly one survivor per chain, survivor =
    // min id.
    // Stage markers (StageLog -> bench "stages"): this query is several
    // sequential driver actions, and its wall time was unattributable for
    // two rounds. `query_build` covers plan construction + the eager CC
    // stages (cc_edge_checkpoint / cc_edge_count / cc_local_unionfind mark
    // the actions); the bench-total residual is the final agg materialize.
    "q_dedup_minhash_cc" -> ((s, d) => graft.tools.StageLog.timed("query_build") {
      val docs = table(s, d, "documents")
      val planted0 = lit(1000000000L)
      val filler = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), col("text"))
      val toks = transform(sequence(lit(0), lit(99)),
        i => concat(lit("w"), pmod(xxhash64(col("text"), i), lit(100000L)).cast("string")))
      val variants = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("b"), toks.as("toks"))
        .select(col("b"), explode(sequence(lit(0), lit(3))).as("j"), col("toks"))
        .select((planted0 + col("b") * 100 + col("j")).as("doc_id"),
          array_join(slice(col("toks"), col("j") * 8 + 1, lit(60)), " ").as("text"),
          col("b"))
      val corpus = filler.unionByName(variants.select("doc_id", "text"))

      // One signature pipeline feeds both the component map and the survivor
      // selection (dropNearDupsMinHashCC packages exactly this composition
      // and is unit-tested in Round4Spec; recomputing the pair pipeline
      // twice here would double the query's cost for no extra coverage).
      // 128/64 matches q_dedup_minhash (the query timed right before this
      // one): the wide signature-aggregate generated classes are shared, so
      // this query reuses hot codegen instead of Janino-compiling its own
      // 64/32 variant inside the timed region. Results are parameter-robust:
      // the gates only measure planted docs (certain LSH hits at 64 bands),
      // and exact jaccard verification is hash-count-independent.
      val pairs = Dedup.nearDupMinHash(corpus, "doc_id", "text",
        threshold = 0.5, numHashes = 128, bands = 64)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val ccAgg = variants.select(col("doc_id").as("id"), col("b"))
        .join(cc, Seq("id"), "left")
        .agg(count(lit(1)).as("n_planted"),
          (sum(when(col("component") === planted0 + col("b") * 100, 1L).otherwise(0L)) === 12)
            .as("chain_map_ok"),
          (countDistinct(col("component")) === 3).as("n_components_ok"))

      val losers = cc.where(col("id") =!= col("component")).select(col("id").as("doc_id"))
      val survivors = corpus.join(losers, Seq("doc_id"), "left_anti")
      val survAgg = survivors.where(col("doc_id") >= planted0)
        .select(col("doc_id"), floor((col("doc_id") - planted0) / 100).cast("long").as("b"))
        .groupBy("b").agg(count(lit(1)).as("n"), min("doc_id").as("mn"))
        .agg(count(lit(1)).as("n_clusters_with_survivor"),
          (max(col("n")) <= 1).as("one_survivor_per_cluster"),
          (sum(when(col("mn") === planted0 + col("b") * 100, 1L).otherwise(0L)) === 3)
            .as("survivor_is_min"))
      ccAgg.crossJoin(survAgg)
    }),

    // --------------------------------------- semantic dedup (SemDeDup)
    // Cluster-then-compare embedding dedup. Hard invariants: every emitted
    // pair is exact-cosine verified (precision 1 — asserted via the semi
    // join), and the drop is exactly corpus minus distinct losers. Recall
    // against the exhaustive harness is the recipe's by-construction miss
    // (cross-cell pairs are never compared); at auto-sqrt cells + 2 Lloyd
    // iterations the measured band is 0.19-0.39 across sf0.001/0.01/0.1 in
    // the hard 0.4-0.7 cosine band, so the pinned bound (>= 0.10) holds
    // with margin under the float jitter of distributed Lloyd means.
    "q_dedup_semantic" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val exact = Similarity.exactCosinePairs(emb, "vec_id", "embedding", threshold = 0.4)
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
        .localCheckpoint()
      // probeCells=3 multi-probe: every qualifying pair in this corpus
      // sits in the hard 0.4-0.7 cosine band (max natural cosine ~0.6),
      // where single-probe recall was 0.19-0.39 by construction (boundary
      // pairs split across cells). Top-3 cell assignment measures
      // 0.85/0.65 recall at sf0.01/0.1 (DriveSemRecall) at no wall-clock
      // cost — still linear, still cell-capped — so the pin holds at 0.5.
      val sem = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4, nCentroids = 0, refineIterations = 2, maxCell = 10000,
        probeCells = 3)
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
        .localCheckpoint()
      val nE = exact.count(); val nS = sem.count()
      val nHit = sem.join(exact, Seq("id_a", "id_b"), "left_semi").count()
      val nLosers = sem.select("id_b").distinct().count()
      // Drop from the SAME checkpointed pair frame (dropPairLosers) rather
      // than re-running the pipeline inside dropSemanticDups: halves the
      // query's work AND makes drop_consistent exact by construction —
      // two independent Lloyd runs may differ by a float-jitter assignment
      // flip, which would make an independently recomputed drop disagree
      // with the reported pairs.
      val kept = Dedup.dropPairLosers(emb, "vec_id", sem).count()
      one(exact, "n_exact" -> count(lit(1)),
        "precision_one" -> lit(nHit == nS),
        "recall_ok" -> lit(nS.toDouble >= 0.5 * nE),
        "drop_consistent" -> lit(kept == emb.count() - nLosers))
    }),

    // ------------------------------------------------ decontamination
    // Eval corpus = a 21-token slice (tokens 6..26) of every
    // doc_id % 100 == 1 document, plus 3 disjoint-vocabulary probes.
    // Sources long enough to carry a full 13-token window inside the slice
    // share it verbatim -> contaminated; shorter sources (their grams are
    // whole-document windows the slice cannot reproduce) and the probes
    // match nothing. The oracle REPLAYS the entire pipeline on window
    // STRINGS in DuckDB; the Spark side compares xxhash64 gram
    // fingerprints — the dedup family's collision-negligible assumption.
    "q_decontaminate" -> ((s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents")
      val toks = split(trim(lower(col("text"))), "\\s+")
      val evalSlices = docs.where(pmod(col("doc_id"), lit(100)) === 1)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          array_join(slice(toks, 6, 21), " ").as("text"))
      val probes = Seq(
        (9000001L, (0 until 20).map(i => s"qa$i").mkString(" ")),
        (9000002L, (0 until 20).map(i => s"qb$i").mkString(" ")),
        (9000003L, (0 until 20).map(i => s"qc$i").mkString(" ")))
        .toDF("doc_id", "text")
      val evalDf = evalSlices.unionByName(probes)
      val report = graft.llm.Decontamination.contaminationReport(
        docs, evalDf, "doc_id", "text", n = 13)
      val kept = graft.llm.Decontamination.decontaminate(
        docs, evalDf, "doc_id", "text", n = 13)
      val a = one(report,
        "n_docs" -> count(lit(1)),
        "n_contaminated" -> sum(when(col("contaminated"), 1L).otherwise(0L)),
        "sum_hits" -> sum(col("n_hits")),
        "sum_grams" -> sum(col("n_grams")))
      val b = one(kept, "n_kept" -> count(lit(1)))
      a.crossJoin(b)
    }),

    // Bloom-filter decontamination guard over the same planted eval
    // corpus as q_decontaminate: the bloom may only err in ONE direction.
    // Exactly checked: no contaminated doc survives the bloom (false
    // negatives are impossible by construction); banded: the extra clean
    // docs it drops stay under 5% (expected ~0.5% at 20 bits/key over
    // ~90-gram docs).
    "q_decontaminate_bloom" -> ((s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents")
      val toks = split(trim(lower(col("text"))), "\\s+")
      val evalSlices = docs.where(pmod(col("doc_id"), lit(100)) === 1)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          array_join(slice(toks, 6, 21), " ").as("text"))
      val probes = Seq(
        (9000001L, (0 until 20).map(i => s"qa$i").mkString(" ")),
        (9000002L, (0 until 20).map(i => s"qb$i").mkString(" ")),
        (9000003L, (0 until 20).map(i => s"qc$i").mkString(" ")))
        .toDF("doc_id", "text")
      val evalDf = evalSlices.unionByName(probes)
      val contaminatedIds = graft.llm.Decontamination.contaminationReport(
          docs, evalDf, "doc_id", "text", n = 13)
        .where(col("contaminated")).select(col("id").as("doc_id"))
      val keptBloom = graft.llm.Decontamination.bloomStreamDecontaminate(
        docs, evalDf, "doc_id", "text", n = 13, bitsPerKey = 20)
      val nDocs = docs.count()
      val nContaminated = contaminatedIds.count()
      val nKeptBloom = keptBloom.count()
      val nFalseNeg = keptBloom.select("doc_id")
        .join(contaminatedIds, Seq("doc_id"), "left_semi").count()
      val nKeptExact = nDocs - nContaminated
      one(docs.limit(1),
        "n_docs" -> L(nDocs),
        "n_contaminated" -> L(nContaminated),
        "no_false_neg_ok" -> lit(nFalseNeg == 0L),
        "fp_band_ok" -> lit(nKeptExact - nKeptBloom <= 0.05 * nKeptExact))
    }),

    // ---------------------------------------- incremental (batch-vs-corpus)
    // Planted construction, hand-derivable like q_dedup_minhash_cc: 5 base
    // docs of 100 hash-namespace tokens join the corpus; the batch holds 5
    // sliding-window variants (80/100 words of their base -> 78 of 98
    // shingles shared, jaccard 78/98 ~ 0.796 — a certain LSH hit at 64
    // bands: miss probability (1-0.796^2)^64 ~ 1e-28) and 5 fresh docs from
    // a disjoint token namespace (jaccard 0 against everything; any band-key
    // hash collision is killed by exact verification). So exactly 5 pairs,
    // each (2.1e9+k, 2e9+k), and exactly the 5 fresh docs survive.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = table(s, d, "documents")
      def toksOf(ns: String): org.apache.spark.sql.Column =
        transform(sequence(lit(0), lit(99)),
          i => concat(lit("w"), pmod(xxhash64(lit(ns), col("doc_id"), i), lit(100000L)).cast("string")))
      val seeds = docs.where(col("doc_id") < 5).select(col("doc_id"), toksOf("inc").as("toks"),
        toksOf("fresh").as("ftoks"))
      val bases = seeds.select((col("doc_id") + 2000000000L).as("doc_id"),
        array_join(col("toks"), " ").as("text"))
      val corpus = docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select("doc_id", "text").unionByName(bases)
      val variants = seeds.select((col("doc_id") + 2100000000L).as("doc_id"),
        array_join(slice(col("toks"), 21, 80), " ").as("text"))
      val fresh = seeds.select((col("doc_id") + 3000000000L).as("doc_id"),
        array_join(col("ftoks"), " ").as("text"))
      val batch = variants.unionByName(fresh)

      val pairs = Dedup.nearDupMinHashAgainst(batch, corpus, "doc_id", "text",
        threshold = 0.5, numHashes = 128, bands = 64)
      val pairAgg = pairs.agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("batch_id") - col("corpus_id")), L(0)).as("sum_delta"))
      val survivors = Dedup.dropNearDupsMinHashAgainst(batch, corpus, "doc_id", "text",
        threshold = 0.5, numHashes = 128, bands = 64)
      val survAgg = survivors.agg(count(lit(1)).as("n_survivors"),
        (min(col("doc_id")) >= 3000000000L).as("survivors_all_fresh"))
      pairAgg.crossJoin(survAgg)
    }),

    // ------------------------------------------------ streaming near-dup
    // Pure-streaming dedup (no foreachBatch): a three-batch file stream
    // with batch order pinned by file modification time + maxFilesPerTrigger
    // = 1. Batch 1 = 6 unique docs (claim all their bands -> kept); batch 2
    // = 3 sliding-window variants of batch-1 docs (shingle jaccard ~0.74 vs
    // base -> some of 64 bands already claimed; all-miss probability
    // (1-0.55^2... (1-0.55)^64 ~ 1e-22 -> flagged) plus 3 fresh
    // disjoint-namespace docs (kept); batch 3 = a far-future sentinel whose
    // only job is advancing the watermark so both result windows close
    // under AvailableNow. Every cross-doc band collision is cross-BATCH, so
    // claim ownership — and every verdict — is deterministic.
    "q_dedup_stream" -> ((s, _) => {
      import s.implicits._
      def at(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
      def doc(id: Long, words: Seq[String], ts: java.sql.Timestamp) =
        (id, words.mkString(" "), ts)
      def base(b: Int) = (0 until 80).map(i => s"b${b}w$i")
      val t0 = at("2024-01-01T00:00:00Z")
      val t1 = at("2024-01-01T00:10:00Z")
      val batch1 = (1 to 6).map(b => doc(b.toLong, base(b), t0))
      val batch2 = (1 to 3).map(b => doc(1000L + b, base(b).slice(10, 70), t1)) ++
        (1 to 3).map(k => doc(200L + k, (0 until 80).map(i => s"f${k}w$i"), t1))
      val batch3 = Seq(doc(9999L, (0 until 80).map(i => s"zzw$i"),
        at("2024-01-01T02:00:00Z")))

      val dir = java.nio.file.Files.createTempDirectory("graft_stream_dedup")
      val stage = java.nio.file.Files.createTempDirectory("graft_stream_stage")
      Seq(batch1, batch2, batch3).zipWithIndex.foreach { case (rows, i) =>
        val out = stage.resolve(s"b$i").toString
        rows.toDF("doc_id", "text", "ts").coalesce(1).write.mode("overwrite").parquet(out)
        val part = new java.io.File(out).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        val dst = dir.resolve(s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val sdf = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
      val verdicts = Dedup.streamNearDupVerdicts(sdf, "doc_id", "text", "ts",
        delayThreshold = "30 minutes", windowDuration = "5 minutes",
        numHashes = 128, bands = 64)
      val qname = "graft_q_dedup_stream"
      // Two stateful operators x 4 micro-batches over ~850 claim rows: at
      // 32 shuffle partitions that is 256 state-store commits of overhead;
      // 4 partitions cut the fixed cost ~8x with identical results.
      val finished = Q.withShufflePartitions(s, 4) {
        val q = verdicts.writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
      }
      require(finished, "dedup stream did not finish in 120s")
      s.table(qname)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
          col("id"), col("kept"))
        .orderBy("id")
    }),

    // Stateless streaming near-dup guard vs a STATIC corpus: band keys of
    // the corpus collected once into a driver-known index, each streamed
    // doc probed in one fused per-row expression (no state store, no
    // watermark, no shuffle). Planted construction with an id-derivable
    // answer (the q_dedup_simhash precedent): every doc's text is a
    // 24-token family vocabulary disjoint from every other family's; the
    // corpus holds the id%3==0 families (under offset ids), so a streamed
    // doc is a candidate iff id%3==0 (identical text -> every band
    // matches; cross-family sketches share no shingles, so a flag would
    // need a 64-bit band-hash coincidence — deterministic for the fixed
    // corpus, and absent). The batch_equal boolean pins that replaying
    // the guard as a batch projection gives bit-identical verdicts.
    "q_dedup_stream_minhash" -> ((s, d) => {
      import s.implicits._
      val toksOf = (idCol: Column) => array_join(
        transform(sequence(lit(0), lit(23)),
          i => concat(lit("w"), idCol, lit("x"), i.cast("string"))), " ")
      val base = table(s, d, "documents").where(col("doc_id") < 600)
        .select(col("doc_id").cast("long").as("doc_id"))
      val planted = base.select(col("doc_id"), toksOf(col("doc_id")).as("text"))
      val corpus = planted.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val index = Dedup.minHashBandIndex(corpus, "doc_id", "text",
        numHashes = 128, bands = 64)

      // Stream the planted docs from parquet under AvailableNow.
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_mh").toString
      planted.coalesce(1).write.mode("overwrite").parquet(dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val sdf = s.readStream.schema(schema).parquet(dir)
      val guarded = Dedup.streamMinHashGuard(sdf, index, "text",
        numHashes = 128, bands = 64)
      val qname = "graft_q_dedup_stream_minhash"
      // The guard itself is shuffle-free; 4 shuffle partitions right-size
      // the micro-batch bookkeeping (the q_dedup_stream precedent).
      val finished = Q.withShufflePartitions(s, 4) {
        val q = guarded.writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
      }
      require(finished, "minhash guard stream did not finish in 120s")
      val streamed = s.table(qname)

      // Batch replay of the same stateless expression: verdicts must be
      // bit-identical (the whole point of a stateless guard).
      val batch = Dedup.streamMinHashGuard(planted, index, "text",
        numHashes = 128, bands = 64)
      val mismatches = streamed.select(col("doc_id"), col("nd_candidate"))
        .join(batch.select(col("doc_id"), col("nd_candidate").as("b")), Seq("doc_id"))
        .where(col("nd_candidate") =!= col("b")).count()

      // Materialize the one-row verdict BEFORE tearing down the memory
      // table + temp parquet dir it reads from ([[Q.one]] is lazy).
      val result = one(streamed,
        "n_stream" -> count(lit(1)),
        "n_flagged" -> sum(when(col("nd_candidate"), 1L).otherwise(0L)),
        "sum_flagged" -> coalesce(
          sum(when(col("nd_candidate"), col("doc_id"))), lit(0L)),
        "all_full_band_hits" -> all(!col("nd_candidate") ||
          col("nd_bands_hit") === 64L),
        "batch_equal" -> lit(mismatches == 0L))
      val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      result.collect().foreach(jrows.add)
      s.catalog.dropTempView(qname)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      s.createDataFrame(jrows, result.schema)
    }),

    "q_dedup_cosine_lsh" -> ((s, d) => {
      // Planted exact-duplicate vectors with a SQL-derivable answer: every
      // embedding gets a copy at vec_id + 1e9. Identical vectors share
      // every hyperplane sign (certain candidates in the primary probe),
      // and the max NATURAL cosine in this corpus is ~0.6 (measured
      // 0.51/0.60 at sf0.01/0.1), so at threshold 0.9 the true pair set
      // is exactly the planted copies — which the oracle re-derives with
      // an exhaustive exact-cosine join in SQL over the same augmented
      // corpus (no pinned constants; a missed or spurious pair on EITHER
      // side fails the gate). Recall on the hard 0.4-0.7 band keeps its
      // own genuine harness in q_dedup_cosine_recall. 8 planes keep
      // buckets small; maxBucket bounds the worst case.
      val emb = table(s, d, "embeddings").select("vec_id", "embedding")
      val aug = emb.unionByName(emb.select(
        (col("vec_id") + 1000000000L).as("vec_id"), col("embedding")))
      Dedup.nearDupCosine(aug, "vec_id", "embedding",
        threshold = 0.9, planes = 8, probes = 16, maxBucket = 500)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // ------------------------------------------- similarity (genuine)
    // Explicit small-N verification harness: exactCosinePairs hard-fails
    // above its row guard, so no unguarded cartesian reaches the registry.
    // Its role is measuring q_dedup_cosine_lsh recall on bounded samples.
    "q_embed_cosine_pairs" -> ((s, d) => {
      val pairs = Similarity.exactCosinePairs(table(s, d, "embeddings"),
        "vec_id", "embedding", threshold = 0.4)
      one(pairs, "n_pairs" -> count(lit(1)),
        "sum_a" -> coalesce(sum(col("id_a")), L(0)),
        "sum_b" -> coalesce(sum(col("id_b")), L(0)))
    }),

    "q_dedup_minhash_recall" -> ((s, d) => {
      // Cross-validation of two INDEPENDENT near-dup implementations: the
      // banded minhash LSH (probabilistic candidates + hashed-shingle
      // verification) against the exhaustive inverted-index jaccard
      // (exact string shingles). At threshold 0.5 with 64 bands x 2 rows
      // the candidate probability for a qualifying pair is
      // 1-(1-0.5^2)^64 ~ 1-1e-8, and measured pair sets are IDENTICAL at
      // sf0.001/0.01/0.1 — each algorithm certifies the other.
      val docs = table(s, d, "documents")
      // The pair sets are tiny but feed 2-3 actions each; an eager
      // localCheckpoint runs each pipeline ONCE instead of per action
      // (Bench unpersists the blocks right after the query).
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
        .localCheckpoint()
      val lsh = Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = 0.5,
        numHashes = 128, bands = 64)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .localCheckpoint()
      val nExact = exact.count()
      val nLsh = lsh.count()
      val nHit = lsh.join(exact, Seq("id_a", "id_b"), "left_semi").count()
      one(exact, "n_exact" -> count(lit(1)),
        "sets_equal" -> lit(nExact == nLsh && nHit == nLsh))
    }),

    "q_dedup_cosine_recall" -> ((s, d) => {
      // Recall of the bucketed LSH near-dup path measured against the
      // exhaustive harness — the quality number that justifies running
      // LSH at 100 TB. nearDupCosine verifies exact cosine on every
      // candidate, so its pairs are a SUBSET of the exact set (precision
      // 1 by construction — asserted via the join count) and recall is
      // n_lsh / n_exact. n_exact is genuinely recomputed by DuckDB; the
      // hash-determined n_lsh enters only through the pinned-band boolean.
      // Every qualifying pair in this corpus sits in the hard 0.4-0.7
      // boundary band (agreement probability 1 - acos(c)/pi per plane), so
      // 6 planes x 32 probes is the measured >= 0.85-recall operating
      // point (0.90-0.91 across sf0.001/0.01/0.1); the 8x16 default used
      // by q_dedup_cosine_lsh trades that to ~0.4 for half the sketch work.
      val emb = table(s, d, "embeddings")
      // Eager localCheckpoint: the O(N^2/2) harness loop and the LSH
      // pipeline each run once, not once per downstream action.
      val exact = Similarity.exactCosinePairs(emb, "vec_id", "embedding", threshold = 0.4)
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
        .localCheckpoint()
      val lsh = graft.llm.Dedup.nearDupCosine(emb, "vec_id", "embedding",
        threshold = 0.4, planes = 6, probes = 32, maxBucket = 500)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .localCheckpoint()
      val nExact = exact.count()
      val nLsh = lsh.count()
      val nHit = lsh.join(exact, Seq("id_a", "id_b"), "left_semi").count()
      one(exact,
        "n_exact" -> count(lit(1)),
        "precision_one" -> lit(nHit == nLsh),
        "recall_ok" -> lit(nExact == 0 || nLsh.toDouble / nExact >= 0.85))
    }),

    "q_ann_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"), col("neighbor_id"))
        .orderBy("query_id", "rnk")
    }),

    "q_ann_ivf" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      // nProbe == nCentroids probes every partition -> exact; equals the
      // brute-force top-k and shares its genuine-style verification shape.
      Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, nCentroids = 8, nProbe = 8)
        .select(col("query_id"), col("rank").cast("long").as("rnk"), col("neighbor_id"))
        .orderBy("query_id", "rnk")
    }),

    // IVF index diagnostics: auto-sized centroid count (~sqrt(N)) with two
    // Lloyd iterations; the cell-size frame must cover every corpus row,
    // carry round(sqrt(N)) cells, and stay balanced (max <= 3x mean, no
    // more than 10% empty cells) — the operator-facing numbers that say
    // whether probes will be even BEFORE committing to an index layout.
    "q_ann_ivf_cells" -> ((s, d) => {
      val stats = Similarity.ivfCellStats(table(s, d, "embeddings"),
        "vec_id", "embedding", nCentroids = 0, refineIterations = 2)
      one(stats,
        "n_cells" -> count(lit(1)),
        "n_assigned" -> sum(col("n_rows")).cast("long"),
        "no_empty_cells" ->
          (sum(when(col("n_rows") === 0, 1L).otherwise(0L)) * 10L <= count(lit(1))),
        "balanced" -> (max(col("n_rows")).cast("double") <= lit(3.0) * avg(col("n_rows"))))
    }),

    // --------------------------------------------- sampling / mixing
    "q_sample_split" -> ((s, d) => {
      // Leakage-safe 80/10/10 split by doc_id hash. Counts are
      // hash-determined (DuckDB can't recompute xxhash64), so the oracle
      // pins the recomputable total plus 6-sigma binomial-band booleans
      // evaluated Spark-side against the dynamic row count.
      val split = Sampling.assignSplits(table(s, d, "documents"), Seq("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
      def band(cnt: Column, n: Column, p: Double): Column = {
        val mean = n.cast("double") * p
        val sigma = sqrt(n.cast("double") * p * (1 - p))
        abs(cnt.cast("double") - mean) <= sigma * 6 + 0.5
      }
      one(split,
        "n" -> count(lit(1)),
        "parts_sum_ok" -> (sum(when(col("split").isin("train", "val", "test"), 1L)
          .otherwise(0L)) === count(lit(1))),
        "train_band" -> band(sum(when(col("split") === "train", 1L).otherwise(0L)),
          count(lit(1)), 0.8),
        "val_band" -> band(sum(when(col("split") === "val", 1L).otherwise(0L)),
          count(lit(1)), 0.1),
        "test_band" -> band(sum(when(col("split") === "test", 1L).otherwise(0L)),
          count(lit(1)), 0.1))
    }),

    "q_sample_n" -> ((s, d) => {
      // Exact-size deterministic sample: n recomputable; monotonicity
      // (top-50 inside top-100) and rerun determinism are hash-frozen
      // booleans.
      val docs = table(s, d, "documents")
      val s100 = Sampling.sampleN(docs, Seq("doc_id"), 100, seed = 7)
        .select("doc_id")
      val s50 = Sampling.sampleN(docs, Seq("doc_id"), 50, seed = 7)
        .select("doc_id")
      val again = Sampling.sampleN(docs, Seq("doc_id"), 100, seed = 7)
        .select("doc_id")
      val n100 = s100.count()
      val n50inside = s50.join(s100, Seq("doc_id"), "left_semi").count()
      val nStable = s100.join(again, Seq("doc_id"), "left_semi").count()
      one(docs.limit(1),
        "n" -> L(n100),
        "monotone_ok" -> lit(n50inside == 50L),
        "deterministic_ok" -> lit(nStable == n100))
    }),

    "q_corpus_mix" -> ((s, d) => {
      // 2.0 / 0.5 / 1.3 mixture over three disjoint source slices: the
      // integer-weight copies are EXACT (oracle recomputes 2x|a| and |c|
      // from the table); the fractional epochs are hash-sampled, checked
      // as 6-sigma binomial bands.
      val docs = table(s, d, "documents")
      val a = docs.where(col("source").isin("src0", "src1"))
      val b = docs.where(col("source") === "src2")
      val c = docs.where(col("source") === "src3")
      val mixed = Sampling.mixCorpora(
        Seq(("a", a, 2.0), ("b", b, 0.5), ("c", c, 1.3)), Seq("doc_id"), seed = 42L)
      val base = one(docs,
        "nb" -> sum(when(col("source") === "src2", 1L).otherwise(0L)),
        "nc" -> sum(when(col("source") === "src3", 1L).otherwise(0L)))
      val m = one(mixed,
        "n_a" -> sum(when(col("mix_source") === "a", 1L).otherwise(0L)),
        "n_b" -> sum(when(col("mix_source") === "b", 1L).otherwise(0L)),
        "n_c_epoch0" -> sum(when(col("mix_source") === "c" && col("mix_epoch") === 0, 1L)
          .otherwise(0L)),
        "n_c_epoch1" -> sum(when(col("mix_source") === "c" && col("mix_epoch") === 1, 1L)
          .otherwise(0L)),
        "b_epoch_max" -> coalesce(max(when(col("mix_source") === "b", col("mix_epoch"))),
          lit(0L)))
      def band(cnt: Column, n: Column, p: Double): Column = {
        val mean = n.cast("double") * p
        val sigma = sqrt(n.cast("double") * p * (1 - p))
        abs(cnt.cast("double") - mean) <= sigma * 6 + 0.5
      }
      m.crossJoin(base).select(
        col("n_a"),
        col("n_c_epoch0"),
        band(col("n_b"), col("nb"), 0.5).as("b_band"),
        band(col("n_c_epoch1"), col("nc"), 0.3).as("c_frac_band"),
        (col("b_epoch_max") === 0L).as("b_epoch_ok"))
    }),

    "q_sample_group" -> ((s, d) => {
      // Per-group (stratified) exact-size sampling: 30 docs per source.
      // Group sizes are table facts, so n_total / n_groups / per_group_ok
      // are genuine DuckDB recomputations; determinism and monotonicity
      // are hash-frozen booleans evaluated Spark-side.
      val docs = table(s, d, "documents")
      val s30 = Sampling.sampleNPerGroup(docs, Seq("doc_id"), Seq("source"), 30, seed = 7)
      val s10 = Sampling.sampleNPerGroup(docs, Seq("doc_id"), Seq("source"), 10, seed = 7)
      val again = Sampling.sampleNPerGroup(docs, Seq("doc_id"), Seq("source"), 30, seed = 7)
      val sizes = docs.groupBy("source").agg(count(lit(1)).as("gsz"))
      val perGroup = s30.groupBy("source").agg(count(lit(1)).as("n"))
        .join(sizes, Seq("source"))
      val nTotal = s30.count()
      val nStable = s30.select("doc_id").join(again.select("doc_id"), Seq("doc_id"), "left_semi").count()
      val nMono = s10.select("doc_id").join(s30.select("doc_id"), Seq("doc_id"), "left_semi").count()
      val n10 = s10.count()
      one(perGroup,
        "n_total" -> sum(col("n")).cast("long"),
        "n_groups" -> count(lit(1)),
        "per_group_ok" -> all(col("n") === least(lit(30L), col("gsz"))),
        "deterministic_ok" -> lit(nStable == nTotal),
        "monotone_ok" -> lit(nMono == n10))
    }),

    "q_pack_bestfit" -> ((s, d) => {
      // Best-fit-decreasing vs next-fit at the same 512-token budget over
      // the same 8 shards: n_docs replays in DuckDB; the structural
      // guarantees (every doc assigned, no overflow except oversized
      // singletons) and the quality claim (BFD opens no more packs than
      // next-fit on this corpus — the reason to sort+tighten at all) are
      // frozen booleans measured per run.
      val budget = 512L
      val docs = table(s, d, "documents")
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      val bfd = Packing.binPackBestFit(docs, Seq("doc_id"), "n_tok", budget, shards = 8)
        .localCheckpoint() // feeds 3 actions; run the shard pass once
      val bfdAgg = bfd.groupBy("pack_shard", "pack_id")
        .agg(sum("n_tok").as("tok"), count(lit(1)).as("ndocs"))
      val nDocs = docs.count()
      val nAssigned = bfd.count()
      val nPacksBfd = bfdAgg.count()
      val nPacksNf = Packing.binPack(docs, Seq("doc_id"), "n_tok", budget, shards = 8)
        .select("pack_shard", "pack_id").distinct().count()
      one(bfdAgg,
        "n_docs" -> L(nDocs),
        "all_assigned" -> lit(nAssigned == nDocs),
        "no_overflow" -> all(col("tok") <= budget || col("ndocs") === 1),
        "packs_le_nextfit" -> lit(nPacksBfd <= nPacksNf))
    }),

    "q_pack_sequences" -> ((s, d) => {
      // Sequence packing at a 512-token budget over 8 shards. Totals are
      // genuine DuckDB recomputations (identical tokenization); the pack
      // structure is hash-order-dependent, so its guarantees fold into
      // booleans: every doc assigned, no pack overflows its budget except
      // single oversized docs, pack count within the next-fit 2x bound
      // (+1 partial pack per shard), chunk index range exactly covering
      // each shard's token total.
      val budget = 512L
      val docs = table(s, d, "documents")
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      val packed = Packing.binPack(docs, Seq("doc_id"), "n_tok", budget, shards = 8)
        .localCheckpoint() // feeds 3 actions; run the shard pass once
      val packAgg = packed.groupBy("pack_shard", "pack_id")
        .agg(sum("n_tok").as("tok"), count(lit(1)).as("ndocs"))
      val chunked = Packing.chunkPack(docs, Seq("doc_id"), "n_tok", budget, shards = 8)
      val chunkAgg = chunked.groupBy("pack_shard")
        .agg(max("chunk_last").as("mxc"), sum("n_tok").as("tok"))

      val totals = docs.agg(count(lit(1)).as("nd"), sum("n_tok").as("tt")).head()
      val nDocs = totals.getLong(0); val totTok = totals.getLong(1)
      val nPacks = packAgg.count()
      val nAssigned = packed.count()
      val chunksOk = chunkAgg.where(col("tok") > 0 &&
        col("mxc") =!= floor((col("tok") - 1) / budget)).count() == 0

      one(packAgg,
        "n_docs" -> lit(nDocs),
        "total_tokens" -> lit(totTok),
        "all_assigned" -> lit(nAssigned == nDocs),
        "no_overflow" -> all(col("tok") <= budget || col("ndocs") === 1),
        "packs_band_ok" -> lit(nPacks >= 1 &&
          nPacks.toDouble <= 2.0 * totTok / budget + 8),
        "chunks_exact" -> lit(chunksOk))
    }),

    // Temperature-weighted mixture (p_i ∝ n_i^0.5) at a budget equal to
    // the corpus size. One row per source; the DuckDB oracle re-derives
    // every number itself: per-source sizes from the table, the weight
    // arithmetic w_i = budget*p_i/n_i (fixed-point at 1e-6), the expected
    // realized-count mean and 6-sigma Binomial band, budget conservation
    // (sum of expected rows == budget) and the small-corpus boost
    // ordering. The only Spark-echoed bit is `in_band` — whether the
    // realized count of the xxhash64 draw landed inside the band DuckDB
    // computed — because the hash draw itself is not replayable in SQL.
    // Sizes are counted ONCE (single groupBy) and fed to
    // temperatureWeights + mixCorpora directly (no per-source count jobs).
    "q_sample_temperature" -> ((s, d) => {
      import s.implicits._
      // The testdata's own `source` column is 20 EQUAL-sized sources — w_i
      // would be exactly 1.0 for all (no fractional epoch, no boost). Carve
      // three deliberately unequal corpora out of doc_id modulo classes
      // (60/30/10) instead; DuckDB replays the same CASE, so the weight
      // arithmetic is exercised in its interesting regime (w ~ 0.79 / 1.11
      // / 1.93 — fractional epochs and a genuine small-corpus boost).
      val docs = table(s, d, "documents").withColumn("tier",
        when(col("doc_id") % 10 <= 5, "big")
          .when(col("doc_id") % 10 <= 8, "mid").otherwise("small"))
      val sizes = docs.groupBy("tier").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
      val total = sizes.map(_._2).sum
      val ws = Sampling.temperatureWeights(sizes, alpha = 0.5, budgetRows = total).toMap
      val mixed = Sampling.mixCorpora(
        sizes.map { case (n, _) => (n, docs.where(col("tier") === n), ws(n)) },
        Seq("doc_id"))
      val counts = mixed.groupBy("mix_source").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expectedTotal = sizes.map { case (n, sz) => ws(n) * sz }.sum
      val budgetOk = math.abs(expectedTotal - total) < 1e-6
      val smallBoosted = sizes.map(_._2).distinct.length == 1 ||
        ws(sizes.sortBy { case (n, sz) => (sz, n) }.head._1) >
          ws(sizes.sortBy { case (n, sz) => (-sz, n) }.head._1)
      val rows = sizes.map { case (n, sz) =>
        // Snap w to the 1e-6 fixed point FIRST and derive mean/band from
        // the snapped value: floor() on the raw w would amplify a 1-ulp
        // cross-engine difference (w exactly 1.0 when sources are equal)
        // into the band. Downstream of w_micro everything is
        // bit-deterministic double arithmetic on identical inputs.
        val wMicro = math.round(ws(n) * 1000000)
        val wq = wMicro.toDouble / 1000000.0
        val frac = wq - math.floor(wq)
        val mean = wq * sz
        val band = 6 * math.sqrt(sz * frac * (1 - frac)) + 0.5
        (n, sz, wMicro, math.round(mean * 1000000),
          math.round(band * 1000000), budgetOk, smallBoosted,
          math.abs(counts.getOrElse(n, 0L) - mean) <= band)
      }
      rows.toDF("source", "n_rows", "w_micro", "mean_micro", "band_micro",
        "budget_ok", "small_boosted", "in_band").orderBy("source")
    }),

    "q_ann_ivf_recall" -> ((s, d) => {
      // Recall@5 of half-probe IVF vs exact brute force. These synthetic
      // embeddings are near-uniform — no cluster structure — which is the
      // WORST case for IVF (a query's neighbors scatter across cells), so
      // the measured 0.69-0.77 at nProbe=8/16 hash-sampled centroids is
      // the honest floor; two Lloyd iterations tighten the cells without
      // changing the query shape (measured at sf0.1: 0.77 -> 0.80 recall@5,
      // plateauing after 2 iterations). Deterministic centroid sampling freezes
      // the draw (refinement means are deterministic up to FP summation
      // order — flips confined to near-equidistant points, far inside the
      // band); the 0.6 band guards regressions.
      val emb = table(s, d, "embeddings")
      val q = emb.where(col("vec_id") < 20)
      // Eager localCheckpoint: both scoring pipelines feed 2-3 actions.
      val exact = graft.tools.StageLog.timed("exact_baseline")(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
          .localCheckpoint())
      val ivf = graft.tools.StageLog.timed("probe")(
        Similarity.ivfTopK(emb, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 8,
          refineIterations = 2)
          .select("query_id", "neighbor_id")
          .localCheckpoint())
      val nExact = exact.count()
      val nHit = ivf.join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
      one(exact, "n_exact" -> count(lit(1)),
        "recall_ok" -> lit(nExact == 0 || nHit.toDouble / nExact >= 0.6))
    }),

    // Bounded-sample training (r12): the maxTrainRows knob. Three pins,
    // each chosen to be non-flaky (comparing FP centroid matrices across
    // independent trainings — exactly or at any fixed tolerance — can
    // flake whenever partial-aggregation order flips a near-equidistant
    // assignment, moving whole cell means):
    //  (a) noop_below_bound is STRUCTURAL: below the bound,
    //      boundedTrainFrame builds no sample at all — the trainers
    //      receive the full corpus frame, so the no-op is the mechanism,
    //      not an output comparison;
    //  (b) bounded_parity: with the bound FORCED (cap far below the
    //      corpus), recall through the full IVF pipeline holds within
    //      0.15 of full-corpus training (a tolerance band by design);
    //  (c) bounded_deterministic compares the SAMPLE MEMBERSHIP (discrete
    //      vec_ids, exact compare is safe) across two independent
    //      evaluations — the hash-keyed draw, not RNG.
    // n_exact replays in DuckDB; the rest are frozen.
    "q_ann_train_bounded" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb.where(col("vec_id") < 20)
      val c = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("cv"))
      val noopOk =
        Similarity.boundedTrainFrame(c, "cv", 1000000000L).isEmpty &&
          Similarity.boundedTrainFrame(c, "cv", 0L).isEmpty // disabled knob
      def sampleIds() = Similarity.boundedTrainFrame(c, "cv", 100L)
        .map(_.select("vec_id")).getOrElse(c.sparkSession.emptyDataFrame)
      val s1 = sampleIds().localCheckpoint()
      val s2 = sampleIds().localCheckpoint()
      val cappedStable = s1.count() > 0 &&
        s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty
      def ivf(maxTrain: Long) = Similarity.ivfTopK(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 8,
        refineIterations = 2, maxTrainRows = maxTrain)
        .select("query_id", "neighbor_id")
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
        .localCheckpoint()
      val nExact = exact.count()
      def recall(a: org.apache.spark.sql.DataFrame): Double =
        if (nExact == 0) 1.0
        else a.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .count().toDouble / nExact
      one(exact, "n_exact" -> count(lit(1)),
        "noop_below_bound" -> lit(noopOk),
        "bounded_parity" -> lit(recall(ivf(100L)) >= recall(ivf(0L)) - 0.15),
        "bounded_deterministic" -> lit(cappedStable))
    }),

    // ------------------------------------------------- text analysis
    "q_text_tokens" -> ((s, d) =>
      one(table(s, d, "documents"),
        "sum_tokens" -> sum(TextAnalysis.tokenCount(col("text"))).cast("long"),
        "max_tokens" -> max(TextAnalysis.tokenCount(col("text"))).cast("long"),
        "n_short" -> sum(when(TextAnalysis.tokenCount(col("text")) < 20, 1L).otherwise(0L)))),

    "q_text_quality" -> ((s, d) => {
      // Exercises the REAL qualityFeatures/qualityScore operators (not an
      // inline re-derivation): every feature threshold folds to an integer
      // count, and DuckDB recomputes each from strings. Ratio divisions
      // are int/int in both engines, so threshold comparisons are bit-safe.
      val f = TextAnalysis.qualityFeatures(col("text"))
      val score = TextAnalysis.qualityScore(col("text"))
      one(table(s, d, "documents"),
        "n_alpha_ok" -> sum(when(f.getField("alpha_ratio") >= lit(0.6), 1L).otherwise(0L)),
        "n_len_match" -> sum(when(length(col("text")).cast("long") === col("n_chars"), 1L).otherwise(0L)),
        "sum_chars" -> sum(length(col("text"))).cast("long"),
        "sum_tokens_f" -> sum(f.getField("n_tokens")).cast("long"),
        "n_meanlen_ok" -> sum(when(f.getField("mean_token_len") >= 2 &&
          f.getField("mean_token_len") <= 12, 1L).otherwise(0L)),
        "n_punct_ok" -> sum(when(f.getField("punct_ratio") <= 0.25, 1L).otherwise(0L)),
        "n_stop_ok" -> sum(when(f.getField("stopword_ratio") >= 0.05, 1L).otherwise(0L)),
        "n_rep_ok" -> sum(when(f.getField("repetition") <= 0.5, 1L).otherwise(0L)),
        "n_digit_any" -> sum(when(f.getField("digit_ratio") > 0, 1L).otherwise(0L)),
        "n_upper_any" -> sum(when(f.getField("upper_ratio") > 0, 1L).otherwise(0L)),
        "n_hi_quality" -> sum(when(score >= lit(6.0 / 7.0), 1L).otherwise(0L)))
    }),

    // HTML -> text extraction (the WET step of a crawl pipeline): wrap
    // every document in a deterministic HTML template exercising the
    // whole kernel grammar (head/style/script with embedded fake markup,
    // a comment, attribute-bearing tags, named + numeric entities), run
    // the single-pass extraction state machine, and pin exact
    // reconstruction: the corpus text is whitespace-clean, so the
    // extracted body must equal source + NL + text + NL + the decoded
    // entity line on EVERY row. The extracted character total replays in
    // DuckDB from raw column lengths (len(source) + len(text) + the
    // template's 16 fixed chars) — a genuine arithmetic recomputation of
    // the kernel's output size.
    "q_text_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title></title><style>p { color: red }</style>" +
          "<script type=\"text/js\">var x = '<p>not text</p>';</script>" +
          "</head><body><h1 class=\"a>b\">"),
        col("source"), lit("</h1><!-- boilerplate <p>comment</p> --><p>  "),
        col("text"),
        lit("  </p><p>a &amp; b &lt;tag&gt; &#65;&#x42;</p></body></html>"))
      val extracted = graft.functions.HtmlKernel.htmlToText(html)
      val expected = concat(col("source"), lit("\n"), col("text"),
        lit("\na & b <tag> AB"))
      one(table(s, d, "documents"),
        "n_docs" -> count(lit(1)),
        "n_exact" -> sum(when(extracted === expected, 1L).otherwise(0L)),
        "sum_extracted_chars" -> sum(length(extracted)).cast("long"))
    }),

    // Model-based quality filter (the GPT-3 / CCNet classifier lineage):
    // train the hashed-n-gram logistic regression on a planted separable
    // label (documents whose token list contains "spark" — the exact
    // TextAnalysis.tokens rule, so DuckDB replays n_docs/n_pos from
    // strings), score the corpus with the fused zero-shuffle kernel, and
    // pin the learnability contract with tolerance-band booleans: binned
    // AUC >= 0.95, class-mean separation, a descending loss trace,
    // unit-interval probabilities, and the Pareto acceptance rule keeping
    // positives at a higher rate than negatives. Tolerance bands (not
    // weight bits) because gradient sums commute only up to FP
    // association — the documented determinism story of the operator.
    "q_quality_classifier" -> ((s, d) => {
      val labeled = table(s, d, "documents").withColumn("label",
        array_contains(TextAnalysis.tokens(col("text")), "spark"))
      val model = QualityClassifier.train(labeled, "text", "label",
        dim = 1 << 15, ngrams = 2, iterations = 60, learningRate = 10.0,
        l2 = 1e-6, maxTrainRows = 100000L, sampleKeyCols = Seq("doc_id"))
      val scored = labeled.withColumn("score",
        QualityClassifier.score(col("text"), model)).localCheckpoint()
      val auc = QualityClassifier.binnedAuc(scored, "score", "label")
      val mPos = scored.where(col("label")).agg(avg("score")).head.getDouble(0)
      val mNeg = scored.where(!col("label")).agg(avg("score")).head.getDouble(0)
      val keep = QualityClassifier.paretoKeep(col("score"), col("doc_id"))
      val posKeep = scored.where(col("label") && keep).count().toDouble /
        math.max(scored.where(col("label")).count(), 1L)
      val negKeep = scored.where(!col("label") && keep).count().toDouble /
        math.max(scored.where(!col("label")).count(), 1L)
      one(scored,
        "n_docs" -> count(lit(1)),
        "n_pos" -> sum(when(col("label"), 1L).otherwise(0L)),
        "auc_ok" -> lit(auc >= 0.95),
        "separation_ok" -> lit(mPos > mNeg + 0.2),
        "loss_decreasing" -> lit(model.lossTrace.head > model.lossTrace.last),
        "scores_in_unit" -> all(col("score") >= 0 && col("score") <= 1),
        "pareto_monotone" -> lit(posKeep > negKeep))
    }),

    // Streaming corpus-intake monitor: file-stream the documents parquet,
    // score every row with the fused quality kernel (stateless, narrow —
    // composes at any stream position), and keep per-source intake
    // counters in complete mode under AvailableNow. The final table equals
    // the batch computation, so the oracle is a genuine DuckDB replay of
    // the same integer-threshold arithmetic GROUPed BY source.
    "q_stream_quality" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_docs_stream")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$d/documents.parquet"),
        dir.resolve("part-0.parquet"))
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val raw = s.readStream.schema(schema).parquet(dir.toString)
      val f = TextAnalysis.qualityFeatures(col("text"))
      val score = TextAnalysis.qualityScore(col("text"))
      val finished =
        try withShufflePartitions(s, 8) {
          val q = raw.groupBy(col("source"))
            .agg(count(lit(1)).as("n"),
              sum(when(score >= lit(6.0 / 7.0), 1L).otherwise(0L)).as("n_hi"),
              sum(f.getField("n_tokens")).cast("long").as("sum_tokens"))
            .writeStream.format("memory").queryName("graft_stream_quality")
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          // Stop a timed-out stream before failing: a live query would pin
          // the sink name (any retry dies on "already active") and keep
          // reading the about-to-be-deleted temp dir.
          try q.awaitTermination(60000)
          finally if (q.isActive) q.stop()
        } finally {
          try java.nio.file.Files.walk(dir)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          catch { case _: java.io.IOException => () }
        }
      require(finished,
        "documents AvailableNow stream did not finish in 60s — refusing a partial sink")
      s.table("graft_stream_quality").orderBy("source")
    }),

    // Gopher-style repetition signals. Integer counts throughout so the
    // DuckDB replay is bit-exact (no float-sum ordering hazards); the
    // high-repetition predicate is integer arithmetic too:
    // dup/total > 0.2  <=>  5*dup > total.
    "q_text_repetition" -> ((s, d) =>
      // Frame path (exploded + hash-aggregated), not the per-row Column
      // HOFs — same values, corpus-scale cost (see repetitionSignals doc).
      one(TextAnalysis.repetitionSignals(table(s, d, "documents"), "doc_id", "text", 3),
        "n_docs" -> count(lit(1)),
        "sum_dup_lines" -> sum(col("dup_line_count")).cast("long"),
        "sum_dup_3grams" -> sum(col("ngram_dup_count")).cast("long"),
        "n_bullet_lines" -> sum(col("bullet_line_count")).cast("long"),
        "n_ellipsis_lines" -> sum(col("ellipsis_line_count")).cast("long"),
        "n_high_rep" -> sum(when(col("ngram_dup_count") * 5 > col("ngram_total"), 1L)
          .otherwise(0L)))),

    "q_text_redact" -> ((s, d) => {
      // The synthetic corpus carries no PII, so plant deterministic PII
      // derived from doc_id and verify the full redacted string against
      // DuckDB replaying the identical RE2-safe regex chain.
      val id = col("doc_id").cast("string")
      val aug = concat(col("text"),
        lit(" contact user"), id, lit("@example.com visit https://ex.com/p/"), id,
        lit(" call +1 (555) 010-"), id,
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7\tend"))
      table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.cleanText(TextAnalysis.redactPii(aug)).as("clean"))
        .orderBy("doc_id")
    }),

    // PII DENSITY scoring (r18) — the drop-side twin of q_text_redact:
    // per-doc typed match counts through the SAME ordered masking chain,
    // density as floor(total/tokens * 1e6) (integer ppm — float-compare
    // safe), and the pii_filter keep verdict at the 8% threshold. The
    // plant varies PII volume by doc_id % 3 (none / one email / the full
    // four-type burst) so all three density regimes occur; DuckDB replays
    // the chain with regexp_extract_all over progressively masked text.
    "q_pii_density" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 1,
          concat(lit(" contact user"), id, lit("@example.com now")))
        .when(col("doc_id") % 3 === 2,
          concat(lit(" mail a"), id, lit("@b.io or c"), id,
            lit("@d.io via https://x.io/p/"), id,
            lit(" from 10.1."), (col("doc_id") % 256).cast("string"),
            lit(".9 call +1 (555) 010-"), id))
        .otherwise(lit("")))
      val ps = TextAnalysis.piiStats(aug)
      table(s, d, "documents")
        .select(col("doc_id"),
          ps.getField("n_url").cast("long").as("n_url"),
          ps.getField("n_email").cast("long").as("n_email"),
          ps.getField("n_ip").cast("long").as("n_ip"),
          ps.getField("n_phone").cast("long").as("n_phone"),
          floor(ps.getField("density") * 1000000.0).cast("long").as("density_ppm"),
          (ps.getField("density") <= 0.08).as("kept"))
        .orderBy("doc_id")
    }),

    // Within-document line dedup (C4-style boilerplate strip): each planted
    // doc is text/boiler/text/boiler — dedup must keep exactly the first
    // occurrence of each line, in order. Full-string DuckDB replay.
    "q_text_dedup_lines" -> ((s, d) => {
      val boiler = "the repeated boilerplate line"
      table(s, d, "documents").where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), TextAnalysis.removeRepeatedLines(
          concat_ws("\n", col("text"), lit(boiler), col("text"), lit(boiler)))
          .as("deduped"))
        .orderBy("doc_id")
    }),

    "q_text_fingerprint" -> ((s, d) =>
      one(table(s, d, "documents"),
        "n_fp" -> countDistinct(TextAnalysis.fingerprint(col("text"))),
        "n_subwords" -> sum(TextAnalysis.subwordCount(col("text"))).cast("long"))),

    // Planted known-language corpus with a SQL-derivable answer: each
    // doc_id class (mod 11) carries a fixed text built from that
    // language's own stopword list (words chosen UNIQUE to the language,
    // so the argmax has no ties) or its script range (Han/Kana/Hangul/
    // Cyrillic/Arabic ratios), or garbage for 'und'. The kernel must
    // classify every planted doc correctly or the gate fails; the oracle
    // derives the expected diagonal (lang_pred == lang) and the class
    // sizes purely from the doc_id arithmetic. The old natural-corpus
    // grouping was synthetic gibberish with a lang label — its
    // predictions certified only "hash output didn't change".
    "q_text_langid" -> ((s, d) => {
      val cases = Seq(
        "ar" -> "مرحبا بالعالم هذا نص عربي مرحبا بالعالم",
        "de" -> "der die das und nicht mit auf für der die das und",
        "en" -> "the and of to was with that this the and of to",
        "es" -> "los las y es por para su al lo como los las",
        "fr" -> "les et est pas dans qui sur avec elle ne du pour",
        "it" -> "è di che della si sono come più del da è di",
        "ja" -> "これはテストですこれはテストです",
        "ko" -> "한국어 텍스트 문서 한국어 텍스트 문서",
        "ru" -> "привет мир это русский текст привет мир",
        "und" -> "zzz qqq xxx www zzz qqq",
        "zh" -> "中文文档内容测试中文文档内容测试")
      val idx = pmod(col("doc_id"), lit(11))
      def pick(f: ((String, String)) => String): Column =
        cases.zipWithIndex.foldRight(lit(null).cast("string"): Column) {
          case ((c, i), rest) => when(idx === i, lit(f(c))).otherwise(rest)
        }
      table(s, d, "documents")
        .select(pick(_._1).as("lang"), pick(_._2).as("text"))
        .groupBy(col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),

    // ------------------------------------------------- multimodal
    "q_multimodal_meta" -> ((s, d) => {
      val media = table(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val withMeta = Multimodal.withMediaMeta(media, "payload")
      one(withMeta,
        "sum_bytes" -> sum(col("media_meta.byte_len")).cast("long"),
        "n_checksums" -> countDistinct(col("media_meta.checksum")),
        "n_octet" -> sum(when(col("media_meta.media_type") === "application/octet-stream", 1L)
          .otherwise(0L)))
    }),

    "q_multimodal_decode" -> ((s, d) => {
      import s.implicits._
      // Plant images with KNOWN pixels: solid PNG/BMP whose width/height/
      // gray level derive from doc_id; every 17th payload is corrupt bytes
      // that must decode to null. Real `javax.imageio` parsing has to
      // recover the exact dimensions, band count, and mean intensity.
      val media = table(s, d, "documents")
        .where(col("doc_id") < 2000).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val bytes =
            if (id % 17 == 0) s"not-an-image-$id".getBytes("UTF-8")
            else Multimodal.encodeSolidImage(
              (3 + id % 5).toInt, (2 + id % 7).toInt, (id % 251).toInt,
              if (id % 2 == 0) "bmp" else "png")
          (id, bytes)
        }.toDF("doc_id", "payload")
      val decoded = Multimodal.decodeImages(media, "payload")
        .withColumn("target", Multimodal.resizePlan(col("decoded")))
      one(decoded,
        "n" -> count(lit(1)),
        "n_null" -> sum(when(col("decoded").isNull, 1L).otherwise(0L)),
        "sum_width" -> sum(col("decoded.width")).cast("long"),
        "sum_height" -> sum(col("decoded.height")).cast("long"),
        "sum_channels" -> sum(col("decoded.channels")).cast("long"),
        "n_mean_exact" -> sum(when(
          col("decoded.mean_intensity") === (col("doc_id") % 251).cast("double") / lit(255.0),
          1L).otherwise(0L)),
        "n_frames" -> sum(size(Multimodal.sampleFrames(col("payload"), 4, 16))).cast("long"),
        "n_resized_id" -> sum(when(col("target.width") === col("decoded.width") &&
          col("target.height") === col("decoded.height"), 1L).otherwise(0L)))
    }),

    "q_multimodal_audio" -> ((s, d) => {
      import s.implicits._
      // Plant WAV clips with KNOWN headers and constant-amplitude 16-bit
      // PCM frames, all derived from doc_id; every 13th payload is garbage
      // bytes that must decode to null. Real `javax.sound` parsing has to
      // recover the exact rate/channels/frames, the duration, and the
      // normalized mean amplitude — and the magic-byte sniffer must call
      // the genuine clips audio/wav and the garbage octet-stream.
      val media = table(s, d, "documents")
        .where(col("doc_id") < 2000).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val bytes =
            if (id % 13 == 0) s"not-audio-$id".getBytes("UTF-8")
            else Multimodal.encodePcmWav(
              sampleRate = (8000 + (id % 3) * 4000).toInt,
              channels = (1 + id % 2).toInt,
              nFrames = (100 + (id % 50) * 10).toInt,
              amplitude = ((id % 1000) + 1).toShort)
          (id, bytes)
        }.toDF("doc_id", "payload")
      val decoded = Multimodal.decodeAudio(media, "payload")
      val a = col("decoded_audio")
      one(decoded.withColumn("media_meta", Multimodal.mediaMeta(col("payload"))),
        "n" -> count(lit(1)),
        "n_null" -> sum(when(a.isNull, 1L).otherwise(0L)),
        "sum_rate" -> sum(a("sample_rate")).cast("long"),
        "sum_channels" -> sum(a("channels")).cast("long"),
        "sum_bits" -> sum(a("bits_per_sample")).cast("long"),
        "sum_frames" -> sum(a("n_frames")).cast("long"),
        "n_duration_exact" -> sum(when(
          a("duration_sec") === (lit(100L) + (col("doc_id") % 50) * 10).cast("double")
            / (lit(8000L) + (col("doc_id") % 3) * 4000).cast("double"), 1L).otherwise(0L)),
        "n_mean_exact" -> sum(when(
          a("mean_amplitude") === ((col("doc_id") % 1000) + 1).cast("double") / lit(32768.0),
          1L).otherwise(0L)),
        "n_wav" -> sum(when(col("media_meta.media_type") === "audio/wav", 1L).otherwise(0L)))
    }),

    "q_multimodal_video" -> ((s, d) => {
      import s.implicits._
      // Plant minimal ISO BMFF containers with KNOWN mvhd/tkhd headers, all
      // derived from doc_id; every 13th payload is garbage that must parse
      // to null. The box walker has to recover the exact timescale,
      // duration, track count, and the first track's 16.16 fixed-point
      // dims — and the magic-byte sniffer must call the genuine
      // containers video/mp4. Track 1 carries the visual size; extra
      // tracks are audio-shaped (0x0) and must not override it.
      // Frame-level planting (r11): every genuine container except the
      // 17th carries an stbl in track 1 — 3+id%5 frames, sizes either
      // uniform (id%7==0: the compact stsz form) or base+j (the per-entry
      // form), keyframes either omitted-stss (id%5==0: all frames sync)
      // or every other frame.
      val media = table(s, d, "documents")
        .where(col("doc_id") < 2000).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val bytes =
            if (id % 13 == 0) s"not-a-video-$id".getBytes("UTF-8")
            else {
              val nt = (1 + id % 3).toInt
              val nFrames = (3 + id % 5).toInt
              val base = (500 + (id % 11) * 16).toInt
              val sizes =
                if (id % 17 == 0) Nil
                else if (id % 7 == 0) Seq.fill(nFrames)(base)
                else (0 until nFrames).map(base + _)
              val sync =
                if (sizes.isEmpty || id % 5 == 0) Nil
                else (1 to nFrames by 2).toSeq
              // Codec + timing planting (r12), gated with the stbl (every
              // genuine container except the 17th): stsd fourcc rotates
              // video/video/audio; stts deltas give a closed-form fps
              // (2400/delta), EXCEPT every 11th where the media clock is
              // chosen so the stts duration exactly equals the mvhd movie
              // duration (the consistency-planted subset).
              val ts1 = (1000 + (id % 4) * 500).toInt
              val units = 3000 + (id % 100) * 25
              val fourcc =
                if (id % 17 == 0) null
                else Seq("avc1", "hev1", "mp4a")((id % 3).toInt)
              val (deltas, mediaTs) =
                if (id % 17 == 0) (Nil, 0)
                else if (id % 11 == 0)
                  (Seq.fill(nFrames)(units.toInt), ts1 * nFrames)
                else (Seq.fill(nFrames)(((id % 3 + 1) * 100).toInt), 2400)
              // Chunk map planting (r12), gated with the stbl: frames
              // packed 2 per chunk (odd tail chunk of 1) -> chunk_count
              // is ceil(nFrames/2) and the stsc x stco expansion must
              // recover exactly nFrames (the frame_count cross-check).
              val chunks =
                if (sizes.isEmpty) Nil
                else Seq.fill(nFrames / 2)(2) ++
                  (if (nFrames % 2 == 1) Seq(1) else Nil)
              Multimodal.encodeMp4Stub(
                timescale = ts1,
                durationUnits = units,
                tracks = ((160 * (1 + id % 6)).toInt, (90 * (1 + id % 4)).toInt) +:
                  Seq.fill(nt - 1)((0, 0)),
                frameSizes = sizes, syncSamples = sync,
                codec = fourcc, sampleDeltas = deltas, mediaTimescale = mediaTs,
                chunkSamples = chunks)
            }
          (id, bytes)
        }.toDF("doc_id", "payload")
      val decoded = Multimodal.decodeVideoMeta(media, "payload")
      val v = col("decoded_video")
      val plantedFrames = lit(3L) + col("doc_id") % 5
      val plantedMean = (lit(500L) + (col("doc_id") % 11) * 16).cast("double") +
        when(col("doc_id") % 7 === 0, lit(0.0))
          .otherwise((plantedFrames - 1).cast("double") / 2.0)
      one(decoded.withColumn("media_meta", Multimodal.mediaMeta(col("payload"))),
        "n" -> count(lit(1)),
        "n_null" -> sum(when(v.isNull, 1L).otherwise(0L)),
        "sum_timescale" -> sum(v("timescale")).cast("long"),
        "sum_duration_units" -> sum(v("duration_units")).cast("long"),
        "sum_tracks" -> sum(v("n_tracks")).cast("long"),
        "sum_width" -> sum(v("width")).cast("long"),
        "sum_height" -> sum(v("height")).cast("long"),
        "n_duration_exact" -> sum(when(
          v("duration_sec") === (lit(3000L) + (col("doc_id") % 100) * 25).cast("double")
            / (lit(1000L) + (col("doc_id") % 4) * 500).cast("double"), 1L).otherwise(0L)),
        "sum_frames" -> sum(v("frame_count")).cast("long"),
        "sum_keyframes" -> sum(v("keyframe_count")).cast("long"),
        "n_mean_exact_frames" -> sum(when(
          v("mean_frame_size") === plantedMean, 1L).otherwise(0L)),
        "n_no_stbl" -> sum(when(
          v.isNotNull && v("frame_count").isNull, 1L).otherwise(0L)),
        "n_mp4" -> sum(when(col("media_meta.media_type") === "video/mp4", 1L).otherwise(0L)),
        // r12: codec classification counts, the 2400/delta fps closed form
        // (non-consistency-planted subset), and the stts-vs-mvhd duration
        // cross-check — STRICT double equality is safe because both sides
        // are correctly-rounded divisions of the same rational exactly when
        // the planted integers satisfy nF*delta*ts == units*mediaClock
        // (DuckDB replays that in integer arithmetic).
        "n_codec_video" -> sum(when(v("codec_class") === "video", 1L).otherwise(0L)),
        "n_codec_audio" -> sum(when(v("codec_class") === "audio", 1L).otherwise(0L)),
        "n_fps_exact" -> sum(when(col("doc_id") % 11 =!= 0 &&
          abs(v("fps") - lit(2400.0) /
            ((col("doc_id") % 3 + 1) * 100).cast("double")) < 1e-6, 1L).otherwise(0L)),
        "n_duration_consistent" -> sum(when(
          v("stts_duration_sec") === v("duration_sec"), 1L).otherwise(0L)),
        // r12: chunk map — stco counts and the stsc-expansion-vs-stsz
        // structural cross-check (well-formed files must agree exactly).
        "sum_chunks" -> sum(v("chunk_count")).cast("long"),
        "n_chunk_consistent" -> sum(when(
          v("chunk_sample_count") === v("frame_count"), 1L).otherwise(0L)))
    }),

    "q_multimodal_resize" -> ((s, d) => {
      import s.implicits._
      // Resize EXECUTION with a closed-form answer: solid-gray PNGs
      // (gray = doc_id % 256, varying source dims) bilinear-downsampled to
      // a fixed 6x4 — any convex combination of equal samples is the
      // sample, and PNG is lossless, so every resized pixel must still be
      // exactly gray. The re-decode then has to report 6x4x3 and
      // mean_intensity == gray/255; garbage payloads (every 13th) must
      // ride through as null, not crash the resample.
      val media = table(s, d, "documents")
        .where(col("doc_id") < 1000).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val bytes =
            if (id % 13 == 0) s"not-an-image-$id".getBytes("UTF-8")
            else Multimodal.encodeSolidImage(
              width = (8 + id % 16).toInt, height = (8 + id % 8).toInt,
              gray = (id % 256).toInt)
          (id, bytes)
        }.toDF("doc_id", "payload")
      val resized = Multimodal.resizeImages(media, "payload", targetW = 6, targetH = 4)
      val decoded = Multimodal.decodeImages(resized, "resized")
      val r = col("decoded")
      one(decoded.withColumn("out_meta", Multimodal.mediaMeta(col("resized"))),
        "n" -> count(lit(1)),
        "n_null" -> sum(when(col("resized").isNull, 1L).otherwise(0L)),
        "n_dims_exact" -> sum(when(r("width") === 6 && r("height") === 4 &&
          r("channels") === 3, 1L).otherwise(0L)),
        "n_mean_exact" -> sum(when(
          r("mean_intensity") === (col("doc_id") % 256).cast("double") / lit(255.0),
          1L).otherwise(0L)),
        "n_png" -> sum(when(col("out_meta.media_type") === "image/png", 1L).otherwise(0L)))
    }),

    // -------------------------------------- weighted sampling (A-ES)
    // Hash-frozen weighted sample without replacement: exact size and the
    // class-bias/determinism/monotonicity guarantees fold into booleans
    // (the xxhash64 draw is not SQL-replayable; the facts it must satisfy
    // are). Planted weights: every 10th doc weighs 9, the rest 1 — the
    // heavy class's inclusion RATE must beat the light class's by > 3x
    // (w=9 gives ~8x at sf0.01; cross-multiplied so an empty light draw
    // can't divide by zero).
    "q_sample_weighted" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .withColumn("w", when(pmod(col("doc_id"), lit(10)) === 0, 9.0).otherwise(1.0))
      val heavy = pmod(col("doc_id"), lit(10)) === 0
      val s100 = Sampling.sampleWeightedN(docs, Seq("doc_id"), "w", 100, seed = 7)
        .select("doc_id")
      val s50 = Sampling.sampleWeightedN(docs, Seq("doc_id"), "w", 50, seed = 7)
        .select("doc_id")
      val again = Sampling.sampleWeightedN(docs, Seq("doc_id"), "w", 100, seed = 7)
        .select("doc_id")
      val n100 = s100.count()
      val heavyHits = s100.where(heavy).count()
      val lightHits = n100 - heavyHits
      val nHeavy = docs.where(heavy).count()
      val nLight = docs.count() - nHeavy
      val nStable = s100.join(again, Seq("doc_id"), "left_semi").count()
      val nMono = s50.join(s100, Seq("doc_id"), "left_semi").count()
      one(docs.limit(1),
        "n" -> L(n100),
        "bias_ok" -> lit(heavyHits * nLight > 3L * lightHits * nHeavy),
        "deterministic_ok" -> lit(nStable == n100),
        "monotone_ok" -> lit(nMono == 50L))
    }),

    // Stratified weighted sampling: per-source group sizes are table
    // facts (least(5, group size) each, summed; 5 of ~25 per group keeps the selection sparse enough for the weight bias to show), determinism and the
    // within-group weight bias are hash-frozen booleans.
    "q_sample_weighted_group" -> ((s, d) => {
      // Heavy rows must vary WITHIN each source group (source is doc_id
      // mod 20 in the testdata, so any mod-10 flag would be constant per
      // group and stratification would erase the bias by construction):
      // every 5th row of each group weighs 9.
      val heavy = pmod(expr("doc_id div 20"), lit(5)) === 0
      val docs = table(s, d, "documents")
        .withColumn("w", when(heavy, 9.0).otherwise(1.0))
      val s20 = Sampling.sampleWeightedNPerGroup(docs, Seq("doc_id"),
        Seq("source"), "w", 5, seed = 3)
      val again = Sampling.sampleWeightedNPerGroup(docs, Seq("doc_id"),
        Seq("source"), "w", 5, seed = 3)
      val sizes = docs.groupBy("source").agg(count(lit(1)).as("gsz"))
      val perGroup = s20.groupBy("source").agg(count(lit(1)).as("n"))
        .join(sizes, Seq("source"))
      val nTotal = s20.count()
      val nStable = s20.select("doc_id")
        .join(again.select("doc_id"), Seq("doc_id"), "left_semi").count()
      val heavyHits = s20.where(heavy).count()
      val nHeavy = docs.where(heavy).count()
      val nDocs = docs.count()
      one(perGroup,
        "n_total" -> sum(col("n")).cast("long"),
        "n_groups" -> count(lit(1)),
        "per_group_ok" -> all(col("n") === least(lit(5L), col("gsz"))),
        "deterministic_ok" -> lit(nStable == nTotal),
        "bias_ok" -> lit(heavyHits * (nDocs - nHeavy) >
          3L * (nTotal - heavyHits) * nHeavy))
    }),

    // Semantic decontamination: every 50th embedding doubles as the eval
    // set, so those rows are their own cosine-1 matches and MUST drop;
    // the surviving count is a genuine exhaustive-cosine replay (DuckDB
    // recomputes every train-x-eval cosine — margins are wide: planted
    // matches sit at 1.0, random 64-dim pairs far below 0.9).
    "q_decontaminate_semantic" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val eval = emb.where(pmod(col("vec_id"), lit(50)) === 0)
      val kept = graft.llm.Decontamination.semanticDecontaminate(
        emb, eval, "embedding", threshold = 0.9)
      one(emb.limit(1),
        "n_train" -> L(emb.count()),
        "n_eval" -> L(eval.count()),
        "n_kept" -> L(kept.count()))
    }),

    // ------------------------------------- corpus overlap (KMV sketch)
    // Two overlapping document slices (doc_id%3 != 2 vs != 0): the exact
    // distinct-3-gram Jaccard facts replay in SQL on shingle STRINGS
    // (Spark computes them on xxhash64 fingerprints — the family's
    // collision-negligible regime); the bottom-1024 KMV estimate must
    // land within 0.1 of exact (~6 sigma at k=1024).
    "q_corpus_overlap" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val a = docs.where(pmod(col("doc_id"), lit(3)) =!= 2)
      val b = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val (na, nb, inter) = graft.llm.CorpusStats.exactJaccard(a, b, "text", width = 3)
      val exactJ = inter.toDouble / (na + nb - inter)
      val est = graft.llm.CorpusStats.overlapEstimate(a, b, "text", width = 3, k = 1024)
      one(docs.limit(1),
        "n_grams_a" -> L(na),
        "n_grams_b" -> L(nb),
        "n_inter" -> L(inter),
        "estimate_band_ok" -> lit(math.abs(est - exactJ) <= 0.1))
    }),

    // ----------------------------------------- int8 quantization (ANN)
    // Full per-vector replay: scale, quantized checksums and the
    // reconstruction-error bound (|q*scale - x| <= scale/2) are identical
    // double arithmetic on both sides — no summation-order hazard (max is
    // order-free, the q_sum is integer).
    "q_embed_quantize" -> ((s, d) => {
      val q = Similarity.quantizeInt8(table(s, d, "embeddings"), "embedding")
      val xs = transform(col("embedding"), x => x.cast("double"))
      q.select(col("vec_id"), col("q_scale"),
        aggregate(col("q_vec"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("q_vec")).as("q_min"),
        array_max(col("q_vec")).as("q_max"),
        forall(zip_with(col("q_vec"), xs,
          (qi, xi) => abs(qi.cast("double") * col("q_scale") - xi) <=
            col("q_scale") / 2.0), b => b).as("recon_ok"))
        .orderBy("vec_id")
    }),

    // Recall of brute-force top-10 on DEQUANTIZED int8 vectors vs the
    // exact top-10 (both arms Spark-computed through the same native
    // kernels, so overlap is deterministic). n_exact is the SQL-replayable
    // fact; the recall pin (>= 0.95 at 64-dim) is the hash-frozen
    // guarantee. Int8 keeps ~7 significant bits per component — at this
    // dimensionality the cosine ordering is essentially preserved.
    "q_ann_quantized_recall" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val quant = Similarity.quantizedTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val nExact = exact.count()
      val overlap = exact.join(quant, Seq("query_id", "neighbor_id"), "left_semi").count()
      one(emb.limit(1),
        "n_exact" -> L(nExact),
        "recall_ok" -> lit(overlap.toDouble >= 0.95 * nExact))
    }),

    // ------------------------------------------- product quantization
    // The codebook is k-means output (DuckDB can't replay the training),
    // so this is a spec oracle in the q_ann_quantized_recall mold: n is
    // the replayable fact; code bounds, reconstruction dimensionality and
    // Lloyd monotonicity (refined codebook never reconstructs worse than
    // its seed, the refineCentroids contract) are hash-frozen booleans.
    "q_embed_pq" -> ((s, d) => {
      import graft.functions.{PqKernels, VectorKernels}
      val emb = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      def meanErr(b: Array[Array[Array[Double]]]): Double = {
        val diff = zip_with(col("v"), PqKernels.decode(col("pq_codes"), b),
          (a, c) => a - c)
        Similarity.pqEncode(emb, "v", b)
          .agg(avg(VectorKernels.dot(diff, diff))).head.getDouble(0)
      }
      val seed = Similarity.pqTrain(emb, "vec_id", "v", m = 16, ksub = 32,
        refineIterations = 0)
      val refined = Similarity.pqTrain(emb, "vec_id", "v", m = 16, ksub = 32,
        refineIterations = 2)
      val refineImproves = meanErr(refined) <= meanErr(seed)
      val enc = Similarity.pqEncode(emb, "v", refined)
      one(enc,
        "n" -> count(lit(1)),
        "codes_len_ok" -> all(size(col("pq_codes")) === 16),
        "codes_in_range" -> all(array_min(col("pq_codes")) >= 0 &&
          array_max(col("pq_codes")) < 32),
        "dim_ok" -> all(size(PqKernels.decode(col("pq_codes"), refined)) === size(col("v"))),
        "refine_improves" -> lit(refineImproves))
    }),

    // Recall of two-stage PQ search (ADC candidates over the 16-byte codes,
    // exact re-rank of top-8k) vs the exact top-10 — both arms
    // Spark-computed, overlap deterministic. n_exact is the SQL-replayable
    // fact; the recall pin (>= 0.7 at the m=16/ksub=64/rerank=8 operating
    // point, measured 0.94 at sf0.1 — sweep in PqSpec) is the
    // hash-frozen guarantee.
    "q_ann_pq_recall" -> ((s, d) => {
      // Phase markers (StageLog -> bench_out "stages"): the harness trains
      // + exact-baselines inside one query, so without the split a slow
      // total is unattributable between the OPERATOR (train + probe) and
      // the ORACLE (brute-force baseline) — VERDICT r10 #6.
      import graft.tools.StageLog
      val emb = table(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      // pqTopK runs pq_train's jobs eagerly (its own marker) and returns
      // the lazy probe plan.
      val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, m = 16, ksub = 64,
        refineIterations = 2, rerank = 8)
        .select(col("query_id"), col("neighbor_id"))
      val nExact = StageLog.timed("exact_baseline")(exact.count())
      val overlap = StageLog.timed("probe_overlap")(
        exact.join(pq, Seq("query_id", "neighbor_id"), "left_semi").count())
      one(emb.limit(1),
        "n_exact" -> L(nExact),
        "recall_ok" -> lit(overlap.toDouble >= 0.7 * nExact))
    }),

    // IVF+PQ hybrid (the shipping index shape: probe nProbe of nCells,
    // ADC-score the probed cells' CODES only, exact re-rank of broadcast
    // candidates). Half the cells probed -> the recall pin is the
    // cell-miss + quantization budget TOGETHER (measured 0.72-0.9 at
    // nProbe=4/8 cells; full probe recalls 1.0 — PqSpec sweep).
    "q_ann_ivfpq_recall" -> ((s, d) => {
      // Same phase split as q_ann_pq_recall: ivfPqTopK's eager training
      // emits ivf_refine_centroids + pq_train markers; the exact
      // brute-force arm and the probe materialization get their own.
      import graft.tools.StageLog
      val emb = table(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val hybrid = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, nCentroids = 8, nProbe = 4,
        m = 16, ksub = 64, refineIterations = 2, rerank = 8)
        .select(col("query_id"), col("neighbor_id"))
      val nExact = StageLog.timed("exact_baseline")(exact.count())
      val overlap = StageLog.timed("probe_overlap")(
        exact.join(hybrid, Seq("query_id", "neighbor_id"), "left_semi").count())
      one(emb.limit(1),
        "n_exact" -> L(nExact),
        "recall_ok" -> lit(overlap.toDouble >= 0.5 * nExact))
    }),

    // Persisted-index lifecycle: build ONCE -> write partitioned by cell
    // (+ metadata JSON) -> reload in a fresh frame -> probe. The probe of
    // the reloaded index must return the IDENTICAL top-k to the in-memory
    // ivfPqTopK at the same operating point (training is deterministic,
    // so this pins the whole save/load path: codes, cells, codebook JSON
    // roundtrip). partition_pruned pins that the probe's isin filter
    // reaches the parquet scan as PartitionFilters — the scan reads
    // nProbe cell DIRECTORIES, not the index.
    "q_ann_index_persist" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      // Cheap operating point ON PURPOSE: the pinned booleans (save/load
      // identity, pruning, row count) are invariant to it, and index
      // QUALITY at the shipping point is q_ann_ivfpq_recall's job —
      // training twice at refine=2 was pure harness cost (9s -> ~3s).
      val (indexed, meta) = Similarity.buildIvfPqIndex(
        emb, "vec_id", "embedding", nCentroids = 8, m = 16, ksub = 64,
        refineIterations = 0)
      val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
      Similarity.writeIvfPqIndex(indexed, meta, dir)
      val (reloaded, meta2) = Similarity.readIvfPqIndex(s, dir)
      val raw = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      val probe = Similarity.probeIvfPqIndex(reloaded, meta2, raw,
        queries, "vec_id", "embedding", k = 10, nProbe = 4, rerank = 8)
        .select("query_id", "neighbor_id")
      val direct = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, nCentroids = 8, nProbe = 4,
        m = 16, ksub = 64, refineIterations = 0, rerank = 8)
        .select("query_id", "neighbor_id")
      // Two independent verification actions — overlap them (§2.6, r19).
      val (nProbeRows, nDiff) = graft.io.Par.both(
        probe.count(),
        probe.unionByName(direct)
          .groupBy("query_id", "neighbor_id").agg(count(lit(1)).as("c"))
          .where(col("c") =!= 2).count())
      // ANY scan with a planning-time partition filter (the probe plan
      // also scans the unpartitioned raw/query frames, which have none).
      val prunedScan = graft.PlanShape(probe).staticPartitionFilters.nonEmpty
      one(emb.limit(1),
        "n_queries" -> L(5L),
        "rows_ok" -> lit(nProbeRows == 50L),
        "identical_topk" -> lit(nDiff == 0L),
        "partition_pruned" -> lit(prunedScan))
    }),

    // Incremental index append: build+persist on the even half, APPEND the
    // odd half encoded with the EXISTING meta (sidecar untouched), then pin
    //  (a) probe(appended index) == probe(index rebuilt from the union at
    //      the SAME meta) — top-k identity;
    //  (b) the append only ADDED parquet files, all under cell directories
    //      the batch actually lands in — pre-existing files untouched
    //      (path+length snapshot), no file in any unaffected partition.
    "q_ann_index_append" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val half = emb.where(col("vec_id") % 2 === 0)
      val rest = emb.where(col("vec_id") % 2 === 1)
      val queries = emb.where(col("vec_id") < 5)
      val (indexed, meta) = Similarity.buildIvfPqIndex(
        half, "vec_id", "embedding", nCentroids = 8, m = 16, ksub = 64,
        refineIterations = 0)
      val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_append").toString
      Similarity.writeIvfPqIndex(indexed, meta, dir)

      def parquetFiles(): Map[String, Long] = {
        val base = java.nio.file.Paths.get(dir)
        val it = java.nio.file.Files.walk(base)
        try {
          import scala.jdk.CollectionConverters._
          it.iterator().asScala
            .filter(p => p.toString.endsWith(".parquet") &&
              p.toString.contains("centroid_idx="))
            .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p)))
            .toMap
        } finally it.close()
      }
      val before = parquetFiles()
      Similarity.appendToIvfPqIndex(rest, "vec_id", "embedding", meta, dir)
      val after = parquetFiles()
      val preserved = before.forall { case (f, sz) => after.get(f).contains(sz) }
      val batchCells = Similarity.encodeIndexRows(rest, "vec_id", "embedding", meta)
        .select("centroid_idx").distinct().collect().map(_.getInt(0)).toSet
      val newFiles = (after.keySet -- before.keySet).toSeq
      val onlyBatchCells = newFiles.nonEmpty && newFiles.forall { f =>
        "centroid_idx=(\\d+)".r.findFirstMatchIn(f)
          .exists(m => batchCells(m.group(1).toInt))
      }

      val (reloaded, meta2) = Similarity.readIvfPqIndex(s, dir)
      val raw = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      val probeAppended = Similarity.probeIvfPqIndex(reloaded, meta2, raw,
        queries, "vec_id", "embedding", k = 10, nProbe = 4, rerank = 8)
        .select("query_id", "neighbor_id")
      val rebuilt = Similarity.encodeIndexRows(emb, "vec_id", "embedding", meta)
      val probeRebuilt = Similarity.probeIvfPqIndex(rebuilt, meta, raw,
        queries, "vec_id", "embedding", k = 10, nProbe = 4, rerank = 8)
        .select("query_id", "neighbor_id")
      // Two independent verification actions — overlap them (§2.6, r19).
      val (nRows, nDiff) = graft.io.Par.both(
        probeAppended.count(),
        probeAppended.unionByName(probeRebuilt)
          .groupBy("query_id", "neighbor_id").agg(count(lit(1)).as("c"))
          .where(col("c") =!= 2).count())
      val result = one(emb.limit(1),
        "n_queries" -> L(5L),
        "rows_ok" -> lit(nRows == 50L),
        "identical_topk" -> lit(nDiff == 0L),
        "append_only_batch_cells" -> lit(onlyBatchCells),
        "preexisting_untouched" -> lit(preserved))
      val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      result.collect().foreach(jrows.add)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      s.createDataFrame(jrows, result.schema)
    }),

    // Index compaction closes the append lifecycle: three appends leave
    // ~4 files in the hot cells; compactIvfPqIndex rewrites every cell to
    // one file through a temp-dir + rename swap. Pins: (a) probe top-k is
    // IDENTICAL before and after (compaction moves bytes, never rows);
    // (b) the data-file count shrank to exactly one per occupied cell;
    // (c) the sidecar survived the swap byte-equal (meta mismatch None).
    "q_ann_index_compact" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val quarter = emb.where(col("vec_id") % 4 === 0)
      val queries = emb.where(col("vec_id") < 5)
      val (indexed, meta) = Similarity.buildIvfPqIndex(
        quarter, "vec_id", "embedding", nCentroids = 8, m = 16, ksub = 64,
        refineIterations = 0)
      val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_compact").toString
      Similarity.writeIvfPqIndex(indexed, meta, dir)
      (1 to 3).foreach(r => Similarity.appendToIvfPqIndex(
        emb.where(col("vec_id") % 4 === r), "vec_id", "embedding", meta, dir))
      val raw = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      def probe(): org.apache.spark.sql.DataFrame = {
        val (idx, m2) = Similarity.readIvfPqIndex(s, dir)
        Similarity.probeIvfPqIndex(idx, m2, raw, queries, "vec_id",
          "embedding", k = 10, nProbe = 4, rerank = 8)
          .select("query_id", "neighbor_id").localCheckpoint()
      }
      val beforeTopK = probe()
      val (filesBefore, filesAfter) = Similarity.compactIvfPqIndex(s, dir)
      val (idxAfter, metaAfter) = Similarity.readIvfPqIndex(s, dir)
      val nCells = idxAfter.select("centroid_idx").distinct().count()
      val afterTopK = probe()
      val nRows = afterTopK.count()
      val nDiff = beforeTopK.unionByName(afterTopK)
        .groupBy("query_id", "neighbor_id").agg(count(lit(1)).as("c"))
        .where(col("c") =!= 2).count()
      val result = one(emb.limit(1),
        "n_queries" -> L(5L),
        "rows_ok" -> lit(nRows == 50L),
        "identical_topk" -> lit(nDiff == 0L),
        "files_shrunk" -> lit(filesAfter < filesBefore),
        "one_file_per_cell" -> lit(filesAfter == nCells),
        "meta_survived_swap" ->
          lit(Similarity.IvfPqMeta.mismatch(meta, metaAfter).isEmpty))
      val jrows2 = new java.util.ArrayList[org.apache.spark.sql.Row]()
      result.collect().foreach(jrows2.add)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      s.createDataFrame(jrows2, result.schema)
    }),

    // ------------------------------------- bigram LM quality (perplexity)
    // Full replay: per-doc bigram counts and the 1e-6 fixed-point average
    // NLL under the corpus-trained add-1 bigram model — DuckDB re-derives
    // the whole pipeline (tokenization, both count tables, V, the
    // smoothed log arithmetic over the same doubles).
    "q_text_perplexity" -> ((s, d) =>
      TextAnalysis.bigramNll(table(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_nll") * 1e6).cast("long").as("nll_fp"))
        .orderBy("doc_id")),

    // Trigram stupid-backoff scoring (Brants et al. 2007): counts fit on
    // the even-doc_id half, scores on the odd half — the train/score
    // split is what makes the backoff and OOV branches live. Full DuckDB
    // replay (same tokenization, counts, branch arithmetic) at 1e-6
    // fixed point.
    "q_text_perplexity_sb" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextAnalysis.trigramSbNll(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          round(col("avg_nll") * 1e6).cast("long").as("nll_fp"))
        .orderBy("doc_id")
    }),

    // ------------------------------------------------- BPE tokenizer
    // The rank-0 merge is a genuine SQL replay (weighted adjacent-char
    // bigram argmax with the same (count desc, left asc, right asc)
    // tie-break); the merge-sequence invariants (contiguous ranks,
    // non-increasing winner counts — a pair created by a merge occurs at
    // most as often as the pair it replaced) are hash-frozen booleans.
    "q_bpe_train" -> ((s, d) => {
      // minPairCount = 1 mirrors the oracle's unconditional argmax (its
      // LIMIT 1 has no count floor); a corpus with no adjacent pair AT ALL
      // (every word single-char) yields zero merges — and the oracle's
      // empty pair set yields zero rows — so the frames match empty-for-
      // empty instead of crashing on merges.head.
      val merges = graft.llm.Bpe.train(table(s, d, "documents"), "text",
        numMerges = 20, minPairCount = 1)
      val out = one(table(s, d, "documents"),
        "first_left" -> lit(merges.headOption.map(_.left).orNull).cast("string"),
        "first_right" -> lit(merges.headOption.map(_.right).orNull).cast("string"),
        "first_count" -> L(merges.headOption.map(_.count).getOrElse(0L)),
        "ranks_contiguous" -> lit(merges.map(_.rank) == merges.indices),
        "counts_nonincreasing" -> lit(merges.sliding(2).forall {
          case Seq(a, b) => b.count <= a.count
          case _ => true
        }))
      if (merges.isEmpty) out.limit(0) else out
    }),

    // Corpus-wide encode through the fused kernel: n_docs is replayable;
    // the roundtrip identity (token concat reproduces the
    // whitespace-stripped text — merging never drops characters), the
    // per-doc token<=char bound, and actual compression are frozen.
    "q_bpe_encode" -> ((s, d) => {
      val docs = table(s, d, "documents").where(col("text").isNotNull)
      val merges = graft.llm.Bpe.train(docs, "text", numMerges = 20)
      val enc = graft.llm.Bpe.encode(docs, "text", merges)
        .withColumn("stripped",
          concat_ws("", split(lower(trim(col("text"))), "\\s+")))
      one(enc,
        "n_docs" -> count(lit(1)),
        "all_roundtrip" -> all(concat_ws("", col("bpe_tokens")) === col("stripped")),
        "tokens_le_chars" -> all(size(col("bpe_tokens")) <= length(col("stripped"))),
        "compressed" -> (sum(size(col("bpe_tokens"))) < sum(length(col("stripped")))))
    }),

    // Byte-level BPE (GPT-2-style 256-symbol base alphabet) + batched
    // sweep selection: trains on documents UNION a handful of literal
    // non-ASCII rows (umlauts, CJK, astral-plane emoji), encodes, and
    // pins the lossless roundtrip decode(concat(tokens)) == stripped text
    // — byte init makes encode TOTAL on characters absent from training.
    // n_docs is replayable (count + 5 literals); booleans frozen.
    "q_bpe_bytes" -> ((s, d) => {
      import s.implicits._
      val extra = Seq(
        "Süße Grüße aus München", "naïve café déjà-vu fiancée",
        "日本語のテスト 中文测试", "emoji 🙂🚀 works 🎉🧪",
        "mixed ASCII und ümlaut 🙂 zusammen").toDF("text")
      val docs = table(s, d, "documents").where(col("text").isNotNull)
        .select("text").unionByName(extra)
      val merges = graft.llm.Bpe.train(docs, "text", numMerges = 24,
        byteLevel = true, sweepSize = 8)
      val enc = graft.llm.Bpe.encode(docs, "text", merges, byteLevel = true)
        .withColumn("stripped",
          concat_ws("", split(lower(trim(col("text"))), "\\s+")))
      one(enc,
        "n_docs" -> count(lit(1)),
        "all_roundtrip" -> all(
          graft.functions.BpeKernels.byteDecode(concat_ws("", col("bpe_tokens")))
            === col("stripped")),
        "all_encodable" -> all(size(col("bpe_tokens")) > 0 ||
          length(col("stripped")) === 0),
        "merged_something" -> lit(merges.nonEmpty))
    }),

    // Tokenizer lifecycle: train byte-level merges, SAVE the model (the
    // ordered merge list + the byteLevel flag, one JSON doc through the
    // path's own filesystem), reload, and pin (a) structural merge-list
    // equality incl. ranks/counts/sweeps, (b) the flag's survival, (c)
    // bit-identical encode through the reloaded model. n_docs replays.
    "q_bpe_model_roundtrip" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .where(col("text").isNotNull && col("doc_id") < 300)
      val merges = graft.llm.Bpe.train(docs, "text", numMerges = 12,
        byteLevel = true)
      val dir = java.nio.file.Files.createTempDirectory("graft_bpe_model")
      val path = dir.resolve("tokenizer.json").toString
      graft.llm.Bpe.saveMerges(s, merges, byteLevel = true, path)
      val (loaded, flag) = graft.llm.Bpe.loadMerges(s, path)
      val a = graft.llm.Bpe.encode(docs, "text", merges, byteLevel = true)
        .select(col("doc_id"), col("bpe_tokens"))
      val b = graft.llm.Bpe.encode(docs, "text", loaded, byteLevel = flag)
        .select(col("doc_id"), col("bpe_tokens"))
      val identical = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      // Unlike the index queries, nothing in the result reads the temp
      // dir (the booleans are driver literals), so no materialization
      // dance is needed before deleting it.
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      one(docs, "n_docs" -> count(lit(1)),
        "merges_equal" -> lit(loaded == merges),
        "flag_survives" -> lit(flag),
        "encode_identical" -> lit(identical))
    }),

    // Unigram-LM tokenizer training (SentencePiece family, Kudo 2018):
    // one corpus shuffle to the distinct-word table, EM over a pruned
    // seed vocabulary, forward-backward in the fused lattice kernel.
    // n_words (distinct lowercased whitespace tokens) AND n_pieces both
    // replay in DuckDB — the final vocabulary size is a pure function of
    // the corpus: min(300, distinct substrings of length <= maxPieceLen),
    // since the trainer prunes exactly to the target when the seed is
    // ample and keeps every candidate when it is not. The remaining model
    // facts are pinned invariants: every corpus character is a piece
    // (encode total by construction), the distribution normalizes
    // (logsumexp = 0), EM is monotone within each fixed-vocab stage (a
    // mathematical EM guarantee, tolerance-banded for the M-step count
    // floor), and the most frequent word survives as a whole piece.
    "q_unigram_train" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val m = graft.llm.UnigramLm.train(docs, "text", vocabSize = 300,
        maxPieceLen = 8, seedMultiplier = 4)
      val vocab = m.pieces.map(_.piece).toSet
      val words = docs.select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .where(col("w") =!= "")
      val corpusChars = words.select(explode(split(col("w"), "")).as("ch"))
        .where(col("ch") =!= "").distinct().collect().map(_.getString(0)).toSet
      val topWord = words.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(1)
        .collect().headOption.map(_.getString(0))
      val logZ = {
        val mx = m.pieces.map(_.logp).max
        mx + math.log(m.pieces.map(p => math.exp(p.logp - mx)).sum)
      }
      val emMonotone = m.llTrace.grouped(2).forall {
        case Seq(a, b) => b >= a - 1e-9 * (1 + math.abs(a))
        case _ => true
      }
      one(words.select(col("w")).distinct(),
        "n_words" -> count(lit(1)),
        "n_pieces" -> L(m.pieces.size.toLong),
        "word_len_le_64" -> all(length(col("w")) <= 64),
        "alphabet_covered" -> lit(corpusChars.subsetOf(vocab)),
        "normalized" -> lit(math.abs(logZ) < 1e-9),
        "em_monotone" -> lit(emMonotone),
        "top_word_is_piece" -> lit(topWord.forall(vocab.contains)))
    }),

    // Corpus-wide unigram encode through the fused Viterbi kernel, plus
    // the save/load lifecycle: the reloaded model must encode
    // bit-identically. sum_piece_chars is a genuine DuckDB replay — the
    // Viterbi pieces of each word concatenate back to the word, so total
    // piece characters = total non-whitespace characters, recomputable
    // from raw strings. Compression (pieces strictly fewer than chars)
    // and the roundtrip identity are pinned per row.
    "q_unigram_encode" -> ((s, d) => {
      val docs = table(s, d, "documents").where(col("text").isNotNull)
      val m = graft.llm.UnigramLm.train(docs, "text", vocabSize = 300)
      val dir = java.nio.file.Files.createTempDirectory("graft_unigram_model")
      val path = dir.resolve("model.json").toString
      graft.llm.UnigramLm.save(s, m, path)
      val m2 = graft.llm.UnigramLm.load(s, path)
      val enc = graft.llm.UnigramLm.encode(docs, "text", m)
        .withColumn("stripped",
          concat_ws("", split(lower(trim(col("text"))), "\\s+")))
      val enc1 = graft.llm.UnigramLm.encode(docs, "text", m)
        .select(col("doc_id"), col("unigram_tokens")).localCheckpoint()
      val enc2 = graft.llm.UnigramLm.encode(docs, "text", m2)
        .select(col("doc_id"), col("unigram_tokens")).localCheckpoint()
      val identical = enc1.exceptAll(enc2).isEmpty && enc2.exceptAll(enc1).isEmpty
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      one(enc,
        "n_docs" -> count(lit(1)),
        "sum_piece_chars" -> sum(length(concat_ws("", col("unigram_tokens"))))
          .cast("long"),
        "all_roundtrip" -> all(
          concat_ws("", col("unigram_tokens")) === col("stripped")),
        "compressed" -> (sum(size(col("unigram_tokens"))) <
          sum(length(col("stripped")))),
        "reload_identical" -> lit(identical))
    }),

    // Reciprocal-rank fusion over two planted id-arithmetic rankings —
    // COMPLETE DuckDB replay including the fused rank and the score at
    // 1e-9 fixed point: with two rankings each (query, doc) sums at most
    // two doubles, and two-term IEEE addition is order-independent, so
    // both engines produce bit-identical scores (the tie-break is
    // doc_id, also replayed).
    "q_retrieval_rrf" -> ((s, d) => {
      val base = s.range(0, 150).toDF("i")
        .select(floor(col("i") / 50).cast("long").as("q_id"),
          pmod(col("i"), lit(50)).as("doc_id"))
      def planted(a: Int, b: Int) = base
        .withColumn("rank",
          (pmod(col("doc_id") * a + col("q_id") * b, lit(50)) + 1).cast("int"))
        .where(col("rank") <= 20)
      graft.llm.Retrieval.rrfFuse(Seq(planted(7, 1), planted(13, 3)), k = 10)
        .select(col("q_id"), col("doc_id"), col("rank"),
          floor(col("rrf_score") * 1e9).cast("long").as("score_fp"))
        .orderBy("q_id", "rank")
    }),

    // HYBRID retrieval end-to-end: the real thing, not constructed
    // rankings — BM25 top-k over the PERSISTED bucketed postings index
    // fused (RRF) with dense top-k over the PERSISTED IVF+PQ index, both
    // on the same multimodal corpus (documents that also carry an
    // embedding). The dense probe runs at nProbe = nCentroids and
    // k·rerank ≥ |corpus|, which makes it EXACTLY brute-force cosine
    // top-k by construction (every cell probed, every candidate
    // exact-reranked) — so DuckDB replays BOTH rankings genuinely (full
    // BM25 recomputation + exhaustive double-precision cosine) plus the
    // two-term RRF fusion bit-exactly. The pruning booleans pin that
    // each index path scanned with non-empty PartitionFilters (term
    // buckets / probed cells), i.e. the fused query never full-scanned
    // either index.
    "q_retrieval_hybrid" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val corpus = table(s, d, "documents").where(col("text").isNotNull)
        .join(emb.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
        .localCheckpoint()
      val queries = corpus.where(col("doc_id").isin(1, 3, 5))
        .select(col("doc_id").as("q_id"),
          array_join(slice(split(lower(trim(col("text"))), "\\s+"), 1, 8), " ")
            .as("q_text"),
          col("embedding"))
        .localCheckpoint()
      val bmDir = java.nio.file.Files.createTempDirectory("graft_hybrid_bm25")
      val annDir = java.nio.file.Files.createTempDirectory("graft_hybrid_ann")
      // The lexical (BM25 build+write) and dense (IVF-PQ train+write+reload)
      // sides are independent until the RRF fusion — overlap the two index
      // builds (guide §2.6, r19; both read the same pinned corpus
      // checkpoint). Same indexes, same rankings, same output.
      val (idx, (reloaded, meta2)) = graft.io.Par.both(
        graft.llm.Retrieval.buildAndWriteIndex(corpus, "doc_id",
          "text", bmDir.toString, nBuckets = 8),
        {
          val (indexed, meta) = Similarity.buildIvfPqIndex(corpus, "doc_id",
            "embedding", nCentroids = 8, m = 16, ksub = 64, refineIterations = 0)
          Similarity.writeIvfPqIndex(indexed, meta, annDir.toString)
          Similarity.readIvfPqIndex(s, annDir.toString)
        })
      val bm = graft.llm.Retrieval.topK(idx, queries, "q_id", "q_text", k = 10)
        .select(col("q_id"), col("doc_id"), col("rank"))
      val raw = corpus.select(col("doc_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      val ann = Similarity.probeIvfPqIndex(reloaded, meta2, raw, queries,
          "q_id", "embedding", k = 10, nProbe = 8, rerank = 200)
        .select(col("query_id").as("q_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      // The fused ranking deliberately probes EVERY cell (that is what
      // makes the dense side exactly brute force and DuckDB-replayable),
      // and probeIvfPqIndex correctly skips the cell filter then — so the
      // ann pruning fact is pinned on a SIDE probe at nProbe=2, whose
      // static `centroid_idx IN (...)` list must reach the scan as a
      // PartitionFilter (a dynamic-pruning subquery alone must not satisfy
      // the pin).
      val annSide = Similarity.probeIvfPqIndex(reloaded, meta2, raw, queries,
        "q_id", "embedding", k = 10, nProbe = 2, rerank = 200)
      val res = graft.llm.Retrieval.rrfFuse(Seq(bm, ann), k = 10)
        .select(col("q_id"), col("doc_id"), col("rank"),
          floor(col("rrf_score") * 1e9).cast("long").as("score_fp"),
          lit(graft.PlanShape(bm).prunedByLiteralIn).as("bm25_pruned"),
          lit(graft.PlanShape(annSide).prunedByLiteralIn).as("ann_pruned"))
        .orderBy("q_id", "rank").localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(bmDir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(annDir.toFile)
      res
    }),

    // END-TO-END pipeline composition: the full C4/RefinedWeb-style
    // curation (fix encoding → HTML extract → langid → quality → line
    // dedup → exact dedup → minhash near-dup → decontaminate) run as ONE
    // Pipeline.curate call over a planted corpus whose every stage effect
    // is id-arithmetic-derivable, with the per-stage survival stats frame
    // as the output — DuckDB replays it STAGE BY STAGE (rows and token
    // sums) by reconstructing the same 600 documents and applying each
    // rule: fr-stopword docs die at langid, punctuation-spam at quality
    // (discrete 4/7 score — no FP boundary), within-doc repeated lines
    // shrink tokens, mirrored exact copies die at content-hash dedup
    // (keep-lowest-id), +4-token variants (shingle jaccard 19/23 ≈ 0.826
    // ≥ 0.8, exact-verified) at near-dup, and the two eval-copied docs at
    // decontamination (every 13-gram carries an id token, so only exact
    // id matches flag). ASCII-only corpus ⇒ the encoding stage is
    // identity (the q_text_mojibake/q_text_normalize pinned contracts);
    // the HTML wrapper strips exactly (the q_text_html_extract template).
    // This is the cross-operator contract test no single-op gate gives:
    // column collisions, null handling, or survivor-rule drift anywhere
    // in the chain moves some stage's (rows_out, tokens_out).
    "q_pipeline_e2e" -> ((s, d) => {
      def enGood(i: Column) = concat(lit("w"), i,
        lit("a the quick brown fox jumps over the lazy dog w"), i,
        lit("b it was good that it is here and now w"), i, lit("c"))
      val i = col("id").cast("string")
      val j = col("id") - 300
      val js = j.cast("string")
      val fr = concat(lit("le chat et le chien sont dans la maison avec " +
        "les amis et la famille w"), i)
      val junk = lit("the it was " + Seq("!", "?", "@", "#", "$", "%", "^")
        .map(c => c * 20).mkString(" "))
      val lineA = concat(lit("the cat sat on the mat with w"), i, lit("x"))
      val lineB = concat(lit("it was here and it is there w"), i, lit("y"))
      val linesBody = concat(lineA, lit("\n"), lineB, lit("\n"), lineB)
      val body = when(col("id") < 300 && pmod(col("id"), lit(5)) === 0, fr)
        .when(col("id") < 300 && pmod(col("id"), lit(7)) === 0, junk)
        .when(col("id") < 300 && pmod(col("id"), lit(11)) === 0, linesBody)
        .when(col("id") < 300, enGood(i))
        .when(pmod(j, lit(5)) === 0 || pmod(j, lit(7)) === 0 ||
          pmod(j, lit(11)) === 0, enGood(i))
        .when(pmod(j, lit(13)) === 0, enGood(js))
        // Near-dup plant: ONE appended token ⇒ shingle jaccard 19/20 =
        // 0.95 — the r14 selective banding (16 bands × 8 rows) catches
        // s=0.95 pairs with P(miss) ~ 3e-8 per doc, so the stage replay
        // stays exact; the old +4-token 0.826-jaccard plant sat on the
        // S-curve's shoulder where per-doc candidate probability is ~0.97.
        .when(pmod(j, lit(17)) === 0, concat(enGood(js), lit(" extra")))
        .otherwise(enGood(i))
      val corpus = s.range(0, 600).toDF("id")
        .select(col("id").as("doc_id"),
          concat(lit("<p>"), body,
            lit("</p><script>var x = 1;</script>")).as("text"))
      val eval = s.range(0, 2).toDF("k")
        .select((col("k") + 9000L).as("doc_id"),
          when(col("k") === 0, enGood(lit("2")))
            .otherwise(enGood(lit("4"))).as("text"))
      graft.llm.Pipeline.curate(corpus, "doc_id", "text", Some(eval))
        .stats.select("ord", "stage", "rows_out", "tokens_out",
          "capped_rows") // wall_sec is measurement, not oracle-replayable
        .orderBy("ord") // semantics; capped_rows must replay as all-zero
    }),

    // Model-based pipeline stages (r15): the pretrained quality classifier
    // and DSIR resampling riding the flagship curate call through the new
    // Config hooks. Plant: 240 docs in three 21-token theme classes by
    // id%3 (cooking / sports / promo-spam — all heuristically fine prose,
    // so ONLY the model can separate them); a 300-doc labeled frame
    // (disjoint t{id} tokens, promo = negative) trains the classifier
    // in-query, and the model stage drops exactly the promo class. The
    // DSIR stage then selects 40 of the 160 survivors against a
    // cooking-theme target corpus — the importance-weight gap between the
    // classes (target-seen vs unseen bigrams) dwarfs the Gumbel noise, so
    // all 40 land in the cooking class (pinned boolean) and the count is
    // exact by construction (top-k). Every stage's rows_out/tokens_out
    // replays from id arithmetic (21 tokens per doc, every class).
    "q_pipeline_model_stages" -> ((s, d) => {
      val cooking = (i: Column) => concat(lit("w"), i,
        lit("a stir the fresh garlic and onion in warm oil w"), i,
        lit("b simmer the tomato sauce with basil and sea salt w"), i, lit("c"))
      val sports = (i: Column) => concat(lit("w"), i,
        lit("a kick the fast ball across the green field now w"), i,
        lit("b the team ran hard and won the final game w"), i, lit("c"))
      val promo = (i: Column) => concat(lit("w"), i,
        lit("a click the best casino bonus offer here for you w"), i,
        lit("b you can win the big prize and cash now w"), i, lit("c"))
      val i = col("id").cast("string")
      val corpus = s.range(0, 240).toDF("id")
        .select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(3)) === 0, cooking(i))
            .when(pmod(col("id"), lit(3)) === 1, sports(i))
            .otherwise(promo(i)).as("text"))
      val ti = concat(lit("t"), col("id").cast("string"))
      val labeled = s.range(0, 300).toDF("id")
        .select(
          when(pmod(col("id"), lit(3)) === 0, cooking(ti))
            .when(pmod(col("id"), lit(3)) === 1, sports(ti))
            .otherwise(promo(ti)).as("text"),
          (pmod(col("id"), lit(3)) =!= 2).as("label"))
      val model = graft.llm.QualityClassifier.train(labeled, "text", "label")
      val qi = concat(lit("q"), col("id").cast("string"))
      val target = s.range(0, 20).toDF("id")
        .select(col("id").as("doc_id"), cooking(qi).as("text"))
      val r = graft.llm.Pipeline.curate(corpus, "doc_id", "text",
        cfg = graft.llm.Pipeline.Config(
          qualityModel = Some(model), qualityModelMin = 0.5,
          dsirTarget = Some(target), dsirN = 40))
      val allCooking = r.docs.agg(all(pmod(col("doc_id"), lit(3)) === 0))
        .collect()(0).getBoolean(0)
      r.stats.select(col("ord"), col("stage"), col("rows_out"),
          col("tokens_out"), col("capped_rows"),
          lit(allCooking).as("dsir_all_target_class"))
        .orderBy("ord")
    }),

    // Multimodal image-curation pipeline: decode+pHash (garbage dropped) →
    // byte-exact dedup → perceptual near-dup removal → bilinear resize,
    // as ONE curateImages call over a planted corpus: 30 families × 5
    // slots (64×64 block-texture original, 48×48 resize, JPEG re-encode,
    // byte-exact copy, garbage bytes). Every stage's row count replays
    // from the slot arithmetic: garbage dies at decode (-30), the byte
    // copy at exact dedup (-30, keep-lowest-id), the resize/re-encode
    // variants at near-dup (-60, pHash pigeonhole), and resize keeps all
    // 30 survivors. Pinned booleans: every survivor is the family
    // original (id % 5 = 0) and every resized payload re-decodes to
    // exactly the target dims (real ImageIO roundtrip).
    "q_pipeline_images" -> ((s, d) => {
      import s.implicits._
      val media = s.range(0, 150).select(col("id")).as[Long].map { id =>
        val orig = Multimodal.encodeBlockImage(id / 5)
        val bytes = (id % 5) match {
          case 0L => orig
          case 1L => Multimodal.resizeOne(orig, 48, 48, "png")
          case 2L => Multimodal.resizeOne(orig, 64, 64, "jpg")
          case 3L => orig // byte-exact duplicate of slot 0
          case _ => s"not-an-image-$id".getBytes("UTF-8")
        }
        (id, bytes)
      }.toDF("doc_id", "payload")
      val r = graft.llm.Pipeline.curateImages(media, "doc_id", "payload",
        graft.llm.Pipeline.ImageConfig(targetW = 32, targetH = 32))
      val dec = Multimodal.decodeImages(
        r.docs.select(col("doc_id"), col("resized")), "resized")
      val resizedOk = dec.agg(all(
        col("decoded.width") === 32 && col("decoded.height") === 32))
        .collect()(0).getBoolean(0)
      val survivorsOk = r.docs.agg(all(pmod(col("doc_id"), lit(5)) === 0))
        .collect()(0).getBoolean(0)
      r.stats.select(col("ord"), col("stage"), col("rows_out"),
          lit(resizedOk).as("resized_ok"), lit(survivorsOk).as("survivors_ok"))
        .orderBy("ord")
    }),

    // Interleaved multimodal curation (r14, full text chain r15): one
    // corpus where each doc carries text AND an image array — text
    // stages decide document survival (French dies at langid,
    // punctuation spam at quality, text byte-copies at exact dedup,
    // +1-token near-copies at minhash near-dup, eval-overlapping docs at
    // decontamination — each taking its image slots along), then the
    // image stages run over the exploded slots with corpus-wide
    // keep-lowest-(doc, slot) dedup, and per-doc arrays reassemble in
    // slot order. Plant: 200 docs; even docs carry 3 slots, odd 2;
    // slot 0 = the doc's own block texture, slot 1 = byte-exact copy
    // (garbage bytes on every 3rd doc instead), slot 2 (even docs) =
    // 48×48 resize of slot 0. Text copies (r15): id ≡ 2 mod 35 carries a
    // byte-identical copy of doc id-1's body (dies at exact_dedup —
    // keep-lowest-id keeps the base); id ≡ 4 mod 35 carries doc id-1's
    // body plus one appended token (19 of 20 shingles shared, J = 0.95 ≥
    // 0.8 — dies at near_dedup); both residues are never ≡ 0 mod 5/7, so
    // base and copy always reach the dedup stages. Docs 41 and 76 share
    // their first 13-token window with the planted eval corpus and die
    // at decontaminate. Every stage's (docs_out, images_out) replays
    // from the id arithmetic: image garbage dies at decode, the byte
    // copy at exact dedup, the resize at perceptual near-dup — leaving
    // exactly one image per surviving doc. Pinned booleans: every
    // reassembled doc has exactly one image and every image re-decodes
    // at the 32×32 training shape.
    "q_pipeline_interleaved" -> ((s, d) => {
      import s.implicits._
      val base = s.range(0, 200).select(col("id")).as[Long].map { id =>
        val orig = Multimodal.encodeBlockImage(id)
        val slot1 =
          if (id % 3 == 0) s"not-an-image-$id".getBytes("UTF-8") else orig.clone()
        val slots =
          if (id % 2 == 0) Seq(orig, slot1, Multimodal.resizeOne(orig, 48, 48, "png"))
          else Seq(orig, slot1)
        (id, slots)
      }.toDF("doc_id", "images")
      // Copy families: ≡2/≡4 mod 35 docs take doc id-1's body tokens.
      val isCopy = pmod(col("doc_id"), lit(35)).isin(2, 4)
      val fam = when(isCopy, col("doc_id") - 1)
        .otherwise(col("doc_id")).cast("string")
      val body0 = when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("le chat et le chien sont dans la maison avec " +
            "les amis et la famille w"), col("doc_id").cast("string")))
        .when(pmod(col("doc_id"), lit(7)) === 0,
          lit("the it was " + Seq("!", "?", "@", "#", "$", "%", "^")
            .map(c => c * 20).mkString(" ")))
        .otherwise(concat(lit("w"), fam,
          lit("a the quick brown fox jumps over the lazy dog w"), fam,
          lit("b it was good that it is here and now w"), fam, lit("c")))
      val body = when(pmod(col("doc_id"), lit(35)) === 4,
        concat(body0, lit(" extra"))).otherwise(body0)
      val corpus = base.withColumn("text", concat(lit("<p>"), body,
        lit("</p><script>var x = 1;</script>")))
      // Eval corpus: each row is EXACTLY the first 13-token window of its
      // target doc (n = 13 decontamination default), so precisely docs 41
      // and 76 are contaminated.
      val evalCorpus = Seq(41L, 76L).toDF("doc_id").withColumn("text",
        concat(lit("w"), col("doc_id").cast("string"),
          lit("a the quick brown fox jumps over the lazy dog w"),
          col("doc_id").cast("string"), lit("b it was")))
      val r = graft.llm.Pipeline.curateInterleaved(corpus, "doc_id", "text",
        "images", graft.llm.Pipeline.InterleavedConfig(
          image = graft.llm.Pipeline.ImageConfig(targetW = 32, targetH = 32)),
        evalDocs = Some(evalCorpus))
      val dec = Multimodal.decodeImages(
        r.docs.select(explode(col("images")).as("img")), "img")
      val resizedOk = dec.agg(all(
        col("decoded.width") === 32 && col("decoded.height") === 32))
        .collect()(0).getBoolean(0)
      val oneOk = r.docs.agg(all(col("n_images") === 1))
        .collect()(0).getBoolean(0)
      r.stats.select(col("ord"), col("stage"), col("docs_out"),
          col("images_out"), lit(resizedOk).as("resized_ok"),
          lit(oneOk).as("one_image_ok"))
        .orderBy("ord")
    }),

    // Interleaved AUDIO+VIDEO curation (r16 stretch — the OBELICS-style
    // shape generalized past images): each doc carries text plus an
    // audio array and a video array; curateInterleavedMm runs the full
    // text chain then each modality through the shared exploded-slot
    // machinery (slot ids doc·maxPerDoc+idx, keep-lowest-id corpus-wide)
    // with modality-native sketches. Planted cross-modality fates, all
    // id-arithmetic: text byte-copies (ids ≡ 7 mod 30 copy id-1) die at
    // exact_dedup taking BOTH modalities' slots along; audio slot0 of
    // ids ≡ 3 mod 10 is a byte-copy of id-1's clip (dies at
    // aud_exact_dedup), of ids ≡ 5 mod 10 an amplitude-rescaled copy
    // (bytes differ, spectral hash identical — dies at aud_near_dedup);
    // video slot0 of ids ≡ 5 mod 10 is a byte-copy (vid_exact_dedup),
    // of ids ≡ 3 mod 10 a re-MUX of id-1's video (payload fingerprint
    // identical — dies at vid_near_dedup); audio slot1 is garbage for
    // ids ≡ 0 mod 4 (dies at aud_decode), video slot1 garbage for ids ≡
    // 0 mod 6 (vid_decode). The oracle replays every stage's
    // (docs, live media slots) and the per-doc array sizes.
    "q_pipeline_interleaved_av" -> ((s, d) => {
      import s.implicits._
      val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
      val base = s.range(0, 120).select(col("id")).as[Long].map { id =>
        val audio0 =
          if (id % 10 == 3) Multimodal.encodeToneWav(id - 1)
          else if (id % 10 == 5) Multimodal.encodeToneWav(id - 1, scaleShift = 1)
          else Multimodal.encodeToneWav(id)
        val audio1 =
          if (id % 4 == 0) s"not-a-wav-$id".getBytes("UTF-8")
          else Multimodal.encodeToneWav(id + 5000L)
        val video0 =
          if (id % 10 == 3) Multimodal.encodeMp4Media(id - 1, sizes,
            Seq.fill(8)(3), timescale = 90000,
            durationUnits = 24L * 20L * 150L)
          else if (id % 10 == 5) Multimodal.encodeMp4Media(id - 1, sizes,
            Seq.fill(6)(4))
          else Multimodal.encodeMp4Media(id, sizes, Seq.fill(6)(4))
        val video1 =
          if (id % 6 == 0) s"not-an-mp4-$id".getBytes("UTF-8")
          else Multimodal.encodeMp4Media(id + 9000L, sizes, Seq.fill(6)(4))
        (id, Seq(audio0, audio1), Seq(video0, video1))
      }.toDF("doc_id", "audios", "videos")
      val isCopy = pmod(col("doc_id"), lit(30)) === 7
      val fam = when(isCopy, col("doc_id") - 1)
        .otherwise(col("doc_id")).cast("string")
      val corpus = base.withColumn("text", concat(lit("w"), fam,
        lit("a the quick brown fox jumps over the lazy dog w"), fam,
        lit("b it was good that it is here and now w"), fam, lit("c")))
      val r = graft.llm.Pipeline.curateInterleavedMm(corpus, "doc_id", "text",
        Seq("audio" -> "audios", "video" -> "videos"))
      val audioOk = r.docs.agg(all(col("n_audios") ===
        lit(2) - when(pmod(col("doc_id"), lit(10)).isin(3, 5), 1).otherwise(0)
          - when(pmod(col("doc_id"), lit(4)) === 0, 1).otherwise(0)))
        .collect()(0).getBoolean(0)
      val videoOk = r.docs.agg(all(col("n_videos") ===
        lit(2) - when(pmod(col("doc_id"), lit(10)).isin(3, 5), 1).otherwise(0)
          - when(pmod(col("doc_id"), lit(6)) === 0, 1).otherwise(0)))
        .collect()(0).getBoolean(0)
      r.stats.select(col("ord"), col("stage"), col("docs_out"),
          col("images_out").as("media_out"),
          lit(audioOk).as("audio_counts_ok"),
          lit(videoOk).as("video_counts_ok"))
        .orderBy("ord")
    }),

    // Interleaved curation with RE-ENCODE-TOLERANT video dedup (r17 —
    // VERDICT r16 #1: the vid_near stage's payload sketch is
    // re-mux-exact only, so a re-ENCODED video copy survived the
    // flagship pipeline even though the engine owns the re-encode
    // signature). profilePairs=true adds the vid_profile_dedup stage:
    // videoProfilePairs (signature candidates + exact Spearman verify)
    // → connected components → keep-lowest-slot-id. Plant (60 docs ×
    // 2 video slots, all-unique surviving text): slot0 is the doc's own
    // 640-frame two-pass encode; slot1 by id%5 — 0: independent
    // content; 1: a RE-ENCODE of doc id-1's content (0.6× bitrate, gop
    // 8, fresh rate-control noise, different payload bytes — survives
    // vid_exact AND vid_near, dies at vid_profile_dedup against doc
    // id-1's lower slot id); 2: a re-MUX of its own slot0 (identical
    // payload stream — dies at vid_near_dedup); 3: garbage bytes (dies
    // at vid_decode); 4: a byte-exact copy of slot0 (dies at
    // vid_exact_dedup). Every stage's (docs, live slots) and the final
    // per-doc array sizes replay from the id arithmetic.
    "q_pipeline_interleaved_reenc" -> ((s, d) => {
      import s.implicits._
      def chunksFor(nf: Int): Seq[Int] =
        Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)
      val base = s.range(0, 60).select(col("id")).as[Long].map { id =>
        val own = Multimodal.encodeMp4Media(id * 100L,
          Multimodal.bitrateProfileFrameSizes(id, 640, 1.0, gop = 12, noiseSeed = 1L),
          chunksFor(640))
        val slot1 = (id % 5) match {
          case 0L => Multimodal.encodeMp4Media(id * 100L + 2,
            Multimodal.bitrateProfileFrameSizes(id + 9000L, 640, 1.0, gop = 12, noiseSeed = 4L),
            chunksFor(640))
          case 1L => Multimodal.encodeMp4Media(id * 100L + 1,
            Multimodal.bitrateProfileFrameSizes(id - 1, 640, 0.6, gop = 8, noiseSeed = 2L),
            chunksFor(640))
          case 2L => Multimodal.encodeMp4Media(id * 100L,
            Multimodal.bitrateProfileFrameSizes(id, 640, 1.0, gop = 12, noiseSeed = 1L),
            Seq.fill(20)(32), timescale = 90000,
            durationUnits = 640L * 20L * 150L)
          case 3L => s"not-an-mp4-$id".getBytes("UTF-8")
          case _ => own.clone()
        }
        (id, Seq(own, slot1))
      }.toDF("doc_id", "videos")
      val fam = col("doc_id").cast("string")
      val corpus = base.withColumn("text", concat(lit("w"), fam,
        lit("a the quick brown fox jumps over the lazy dog w"), fam,
        lit("b it was good that it is here and now w"), fam, lit("c")))
      val r = graft.llm.Pipeline.curateInterleavedMm(corpus, "doc_id", "text",
        Seq("video" -> "videos"),
        videoCfg = graft.llm.Pipeline.MediaConfig(maxDistance = 4, pieces = 8,
          profilePairs = true))
      val videoOk = r.docs.agg(all(col("n_videos") ===
        lit(2) - when(pmod(col("doc_id"), lit(5)) =!= 0, 1).otherwise(0)))
        .collect()(0).getBoolean(0)
      r.stats.select(col("ord"), col("stage"), col("docs_out"),
          col("images_out").as("media_out"),
          lit(videoOk).as("video_counts_ok"))
        .orderBy("ord")
    }),

    // BM25 lexical retrieval: full DuckDB replay of the entire scoring
    // pipeline — tokenization, tf/dl/df aggregates, the Lucene smoothed
    // idf, and the per-(query, doc) score sum — over a bounded doc
    // universe with queries derived from corpus content (first 8 tokens
    // of three fixed docs). All candidate pairs are emitted (no top-k in
    // the gate, so no rank-boundary FP risk); the ranking path is
    // spec-pinned. Fixed point is round-half-up at 1e-4 (not floor at
    // 1e-6): cross-engine summation-order drift is ~1e-14 relative, so
    // the coarser grid puts boundary-adjacent scores ~10 orders of
    // magnitude further from a flip than the drift. The whole
    // INCREMENTAL lifecycle is on the gate path: build+write the bucketed
    // index over the base corpus, parquet-append a batch, reload, score —
    // with `append_equals_rebuild` pinning (in-engine, 1e-9 tolerance)
    // that the appended index scores EXACTLY like a from-scratch rebuild
    // over base ∪ batch, which is also what DuckDB replays.
    "q_text_bm25" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .where(col("text").isNotNull && col("doc_id") < 300)
      val base = docs.where(col("doc_id") < 250)
      val batch = docs.where(col("doc_id") >= 250)
      val queries = docs.where(col("doc_id").isin(1, 3, 5))
        .select(col("doc_id").as("q_id"),
          array_join(slice(split(lower(trim(col("text"))), "\\s+"), 1, 8), " ")
            .as("q_text"))
      val dir = java.nio.file.Files.createTempDirectory("graft_bm25_idx")
      val dirFull = java.nio.file.Files.createTempDirectory("graft_bm25_idx_full")
      // The dir lifecycle (build base + append batch) and the dirFull
      // rebuild + its checkpointed scores touch DISJOINT index dirs with
      // no data dependency until the comparison join — overlap the two
      // chains so the ~8 tiny fixed-cost write jobs back-fill each other
      // (guide §2.6, r19). Same writes, same scores, same output.
      val (appended, sR) = graft.io.Par.both(
        {
          graft.llm.Retrieval.buildAndWriteIndex(base, "doc_id", "text",
            dir.toString, nBuckets = 8)
          graft.llm.Retrieval.appendToBm25Index(batch, "doc_id",
            "text", dir.toString)
        }, {
          val rebuilt = graft.llm.Retrieval.buildAndWriteIndex(docs, "doc_id",
            "text", dirFull.toString, nBuckets = 8)
          // sR feeds BOTH comparison joins (append-vs-rebuild and
          // compact-vs-rebuild): checkpoint it once instead of re-running
          // the whole scoring pipeline per action (r18).
          graft.llm.Retrieval.scores(rebuilt, queries, "q_id", "q_text")
            .withColumnRenamed("score", "score_r").localCheckpoint()
        })
      val sA = graft.llm.Retrieval.scores(appended, queries, "q_id", "q_text")
      val appendEqualsRebuild = sA.join(sR, Seq("q_id", "doc_id"), "full_outer")
        .agg(all(abs(col("score") - col("score_r")) < 1e-9))
        .collect()(0).getBoolean(0)
      // Compaction leg (r14): the appended index has accreted one extra
      // file per touched tf bucket + a dl delta; compactBm25Index must
      // shrink the file census and leave scoring BIT-EQUIVALENT (same
      // rows, 1e-9 score tolerance) on the reloaded index.
      val (filesBefore, filesAfter) =
        graft.llm.Retrieval.compactBm25Index(s, dir.toString, dlFiles = 2)
      val sC = graft.llm.Retrieval.scores(
        graft.llm.Retrieval.loadIndex(s, dir.toString), queries, "q_id", "q_text")
      val compactPreserves = sC.join(sR, Seq("q_id", "doc_id"), "full_outer")
        .agg(all(abs(col("score") - col("score_r")) < 1e-9))
        .collect()(0).getBoolean(0)
      val res = sC
        .select(col("q_id"), col("doc_id"),
          round(col("score") * 1e4).cast("long").as("score_fp"),
          lit(appendEqualsRebuild).as("append_equals_rebuild"),
          lit(filesAfter < filesBefore).as("compact_shrinks_files"),
          lit(compactPreserves).as("compact_preserves_scores"))
        .orderBy("q_id", "doc_id").localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(dirFull.toFile)
      res
    }),

    // NFKC normalization: n and the ASCII-subset count replay in DuckDB
    // (the ASCII test is the same RE2-safe regex in both engines); the
    // Unicode facts are pinned booleans — ASCII text is untouched,
    // normalization is idempotent corpus-wide (the UAX #15 guarantee,
    // checked, not assumed), and planted compatibility characters
    // (fullwidth, ligatures, circled digits, NBSP) map to their canonical
    // forms.
    "q_text_normalize" -> ((s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents").where(col("text").isNotNull)
      val K = graft.functions.NormalizeKernel
      val planted = Seq(
        ("fullwidth", "Ｈｅｌｌｏ　！", "Hello !"),
        ("ligature", "eﬃcient ﬁle", "efficient file"),
        ("circled", "step ① done", "step 1 done"),
        ("nbsp", "a b", "a b"),
        ("ascii", "plain ascii stays", "plain ascii stays"))
        .toDF("kind", "raw", "want")
        .withColumn("got", K.nfkc(col("raw")))
      val plantedOk = planted.agg(all(col("got") === col("want")))
        .collect()(0).getBoolean(0)
      val isAscii = col("text").rlike("^[ -~\\t\\n\\r]*$")
      val norm = docs.withColumn("nt", K.nfkc(col("text")))
      one(norm,
        "n" -> count(lit(1)),
        "n_ascii" -> sum(when(isAscii, 1L).otherwise(0L)),
        "ascii_unchanged" -> all(!isAscii || (col("nt") === col("text"))),
        "idempotent_all" -> all(K.nfkc(col("nt")) === col("nt")),
        "planted_ok" -> lit(plantedOk))
    }),

    // Sentence segmentation: full row-for-row DuckDB replay of the
    // exploded (doc, idx, sentence) frame over a bounded doc set — the
    // shared regex is deliberately RE2-safe and leftmost-first-identical
    // between engines, so segmentation, indexing, the whitespace-only
    // drop, and trim all replay exactly.
    "q_text_sentences" -> ((s, d) =>
      graft.llm.TextAnalysis.sentences(
        table(s, d, "documents").where(col("doc_id") < 200), "doc_id", "text")
        .orderBy("doc_id", "sent_idx")),

    // JSONL interchange roundtrip: documents -> gzip .jsonl shards ->
    // pinned-schema read-back. Every emitted aggregate is computed from
    // the ROUNDTRIPPED frame while DuckDB replays it from the original
    // parquet — equality certifies losslessness field-for-field (longs,
    // Unicode text, nulls); the exceptAll-both-ways boolean pins exact
    // multiset identity.
    "q_io_jsonl_roundtrip" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
      val path = dir.resolve("docs").toString
      graft.io.TextIo.writeJsonl(docs, path, compression = "gzip",
        partitions = 4)
      val back = graft.io.TextIo.readJsonl(s, path, docs.schema)
      val identical = back.exceptAll(docs).isEmpty &&
        docs.exceptAll(back).isEmpty
      val res = one(back,
        "n" -> count(lit(1)),
        "sum_doc_id" -> sum(col("doc_id")).cast("long"),
        "sum_chars" -> sum(length(col("text"))).cast("long"),
        "n_langs" -> countDistinct(col("lang")),
        "n_null_text" -> sum(when(col("text").isNull, 1L).otherwise(0L)),
        "roundtrip_identical" -> lit(identical)).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      res
    }),

    // Distributed PCA: one-pass Gram treeAggregate + driver Jacobi +
    // fused projection. n/dim/trace_fp replay in DuckDB (the covariance
    // trace is basis-independent and recomputable from raw per-dimension
    // population variances — double-cast products, so only summation
    // order drifts, ~1e-11 against the 1e-6 step); the spectral facts
    // are pinned booleans: orthonormal components, descending nonnegative
    // eigenvalues, and the projected corpus's per-component population
    // variance matching its eigenvalue (the defining PCA property,
    // recomputed from the materialized projection).
    "q_embed_pca" -> ((s, d) => {
      val emb = table(s, d, "embeddings").where(col("embedding").isNotNull)
      val m = graft.llm.Pca.fit(emb, "embedding", k = 8)
      def dotv(a: Array[Double], b: Array[Double]): Double = {
        var s0 = 0.0; var i = 0
        while (i < a.length) { s0 += a(i) * b(i); i += 1 }
        s0
      }
      val ortho = (0 until m.k).forall(i => (i until m.k).forall { j =>
        math.abs(dotv(m.components(i), m.components(j)) -
          (if (i == j) 1.0 else 0.0)) < 1e-9
      })
      val desc = m.eigenvalues.zip(m.eigenvalues.tail)
        .forall { case (a, b) => a >= b - 1e-12 }
      val nonneg = m.eigenvalues.forall(_ >= -1e-9)
      val proj = graft.llm.Pca.transform(emb, "embedding", m, "pc")
      val stats = proj.select((0 until m.k).flatMap(j => Seq(
        avg(element_at(col("pc"), j + 1)),
        avg(element_at(col("pc"), j + 1) * element_at(col("pc"), j + 1)))): _*)
        .collect()(0)
      val varOk = (0 until m.k).forall { j =>
        val mu = stats.getDouble(2 * j)
        val v = stats.getDouble(2 * j + 1) - mu * mu
        math.abs(v - m.eigenvalues(j)) <= 1e-6 * math.max(1.0, m.eigenvalues(j))
      }
      one(emb,
        "n" -> count(lit(1)),
        "dim" -> max(size(col("embedding"))).cast("long"),
        // round-half-up at 1e-4 (not floor at 1e-6): the two engines reach
        // the trace by different routes (Jacobi eigenvalue sum vs raw
        // per-dimension variances), so the coarser grid keeps the ~1e-10
        // cross-route drift ~6 orders of magnitude inside the step.
        "trace_fp" -> L(math.floor(m.eigenvalues.sum * 1e4 + 0.5).toLong),
        "orthonormal_ok" -> lit(ortho),
        "eigen_desc_ok" -> lit(desc),
        "eigen_nonneg_ok" -> lit(nonneg),
        "proj_var_matches" -> lit(varOk),
        "explained_in_unit" -> lit(m.explainedVariance > 0.0 &&
          m.explainedVariance <= 1.0))
    }),

    // Near-dup-leakage-safe splits: whole minhash clusters move
    // atomically into train/val/test. n replays in DuckDB (corpus
    // construction is pure arithmetic); the invariants are pinned
    // booleans computed against the materialized assignment — zero
    // straddling near-dup pairs (the defining guarantee, checked over
    // EVERY emitted pair), planted copy-triples sharing one split, full
    // coverage, and row-level fractions inside a band sized for the
    // corpus (±0.05 at 550+ effective draws).
    "q_split_leakage_safe" -> ((s, d) => {
      val docs = table(s, d, "documents").where(col("text").isNotNull)
      val base = docs.select(col("doc_id").cast("long").as("id"), col("text"))
      val copies = base.where(col("id") < 50)
        .select(explode(array(lit(1000000000L), lit(2000000000L))).as("off"),
          col("id"), col("text"))
        .select((col("id") + col("off")).as("id"), col("text"))
      val corpus = base.unionByName(copies)
      val pairs = Dedup.nearDupMinHash(corpus, "id", "text",
        threshold = 0.9, numHashes = 128, bands = 64).localCheckpoint()
      val split = Sampling.assignSplitsByCluster(corpus, "id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).localCheckpoint()
      // The straddle and planted-cluster checks are independent actions
      // over the pinned split — overlap them (§2.6, r19).
      val (straddle, plantedBad) = graft.io.Par.both(
        pairs
          .join(split.select(col("id").as("id_a"), col("split").as("sp_a")), "id_a")
          .join(split.select(col("id").as("id_b"), col("split").as("sp_b")), "id_b")
          .where(col("sp_a") =!= col("sp_b")).count(),
        split
          .where(col("id") < 50 || col("id") >= 1000000000L)
          .withColumn("b", pmod(col("id"), lit(1000000000L)))
          .groupBy("b").agg(countDistinct("split").as("ns"), count(lit(1)).as("n"))
          .where(col("ns") =!= 1 || col("n") =!= 3).count())
      def fracOk(name: String, target: Double) =
        (abs(avg(when(col("split") === name, 1.0).otherwise(0.0)) - target)
          < 0.05).as(s"${name}_frac_ok")
      one(split,
        "n" -> count(lit(1)),
        "no_straddle" -> lit(straddle == 0L),
        "planted_same_split" -> lit(plantedBad == 0L),
        "coverage" -> all(col("split").isin("train", "val", "test")),
        "train_frac_ok" -> fracOk("train", 0.8),
        "val_frac_ok" -> fracOk("val", 0.1),
        "test_frac_ok" -> fracOk("test", 0.1))
    }),

    // Bounded edit-distance near-dup join (PassJoin segment blocking +
    // fused banded-levenshtein verify) over a bounded ASCII title
    // universe with planted distance-1 variants. FULL DuckDB replay: the
    // oracle brute-forces levenshtein over every title pair, so a single
    // pair missed by the blocking (or a wrong distance) is a hash
    // mismatch — the oracle certifies the pigeonhole's completeness, not
    // just the verifier.
    "q_dedup_edit_distance" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .where(col("text").isNotNull && col("doc_id") < 2000)
      val titles = docs.select(col("doc_id").as("id"),
        regexp_replace(substring(col("text"), 1, 40), "[^ -~]", "").as("t"))
        .where(length(col("t")) >= 5)
      val variants = titles.where(col("id") % 10 === 0)
        .select((col("id") + 10000000L).as("id"),
          col("t").substr(lit(2), length(col("t"))).as("t"))
      Dedup.editDistancePairs(titles.unionByName(variants), "id", "t",
        maxDist = 1).orderBy("id_a", "id_b")
    }),

    // Misra-Gries heavy hitters + exact confirmation pass. The emitted
    // rows are the true global top-10 tokens by exact count — a full
    // DuckDB replay — and the query PROVES they are global from the
    // sketch alone: any token with true count > dec is guaranteed
    // tracked, so once the returned 10th exact count exceeds dec, no
    // untracked token can outrank it (top10_certified). The output is
    // therefore deterministic even though treeAggregate's merge order
    // can shuffle the candidate tail. Sandwich (est <= exact <= est+dec)
    // and the mergeable-summaries bound dec*(k+1) <= W ride as booleans.
    "q_corpus_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents")
      val mg = graft.llm.CorpusStats.heavyHitters(docs, "text", k = 4096)
      val cand = mg.items
      val exact = graft.llm.CorpusStats.exactCounts(docs, "text",
        cand.map(_._1)).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val sandwichOk = cand.forall { case (t, e) =>
        val tr = exact.getOrElse(t, 0L); e <= tr && tr <= e + mg.dec
      }
      val errBoundOk = mg.dec * (mg.k + 1L) <= mg.weight
      val top10 = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(10)
      val certified = top10.size == 10 && top10.last._2 > mg.dec
      top10.toDF("token", "c_exact")
        .withColumn("sandwich_ok", lit(sandwichOk))
        .withColumn("error_bound_ok", lit(errBoundOk))
        .withColumn("top10_certified", lit(certified))
        .orderBy(col("c_exact").desc, col("token").asc)
    }),

    // WordPiece train + per-word greedy encode + save/load lifecycle.
    // n_words and sum_piece_chars are genuine DuckDB replays: every
    // non-UNK word's pieces are first-token-bare + ##-marked
    // continuations, so the structural reconstruction (token 1 verbatim,
    // later tokens minus their 2-char marker) reproduces the word exactly
    // — total piece content = total word chars, recomputable from raw
    // strings. UNK never fires here by construction (the single-symbol
    // alphabet is never pruned and maxWordChars is lifted above the
    // corpus maximum), which no_unk pins. Merge quality invariants
    // (counts ≥ floor, positive likelihood scores) ride as booleans.
    "q_wordpiece" -> ((s, d) => {
      val docs = table(s, d, "documents").where(col("text").isNotNull)
      // sweepSize=4 exercises the batched symbol-disjoint path (sound
      // for WordPiece — see the trainer scaladoc) and cuts the gate's
      // driver round-trips 4x; every pin below holds for any correct
      // selection (counts are sweep-start counts, all >= the floor).
      val m0 = graft.llm.WordPiece.train(docs, "text", numMerges = 30,
        sweepSize = 4)
      val words = docs
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .where(col("w") =!= "").localCheckpoint()
      val maxWordLen = words.agg(max(length(col("w"))))
        .collect()(0).getInt(0)
      val m = m0.copy(maxWordChars = math.max(200, maxWordLen))
      val dir = java.nio.file.Files.createTempDirectory("graft_wp_model")
      val path = dir.resolve("model.json").toString
      graft.llm.WordPiece.save(s, m, path)
      val m2 = graft.llm.WordPiece.load(s, path)
      val enc = graft.llm.WordPiece.encode(words, "w", m, outCol = "t")
      val enc2 = graft.llm.WordPiece.encode(words, "w", m2, outCol = "t")
      val identical = enc.exceptAll(enc2).isEmpty && enc2.exceptAll(enc).isEmpty
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      val rebuilt = concat(
        coalesce(element_at(col("t"), 1), lit("")),
        concat_ws("", transform(
          slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
          x => x.substr(lit(3), length(x)))))
      one(enc,
        "n_words" -> count(lit(1)),
        "sum_piece_chars" -> sum(length(rebuilt)).cast("long"),
        "all_roundtrip" -> all(rebuilt === col("w")),
        "no_unk" -> all(!array_contains(col("t"),
          graft.functions.WordPieceKernels.UnkToken)),
        "compressed" -> (sum(size(col("t"))) < sum(length(col("w")))),
        "reload_identical" -> lit(identical),
        "n_merges" -> L(m.merges.length.toLong),
        "merge_counts_ge_floor" -> lit(m.merges.forall(_.count >= 2L)),
        "scores_positive" -> lit(m.merges.forall(_.score > 0.0)))
    }),

    // Mojibake repair: a clean corpus must pass through bit-identically
    // (n_docs + unchanged_all replay in DuckDB); the planted booleans
    // prove the repair itself — classic cp1252 mojibake restores to the
    // original, the Latin-1/C1 variant too, ASCII and legitimate
    // accented text are untouched, and null survives.
    "q_text_mojibake" -> ((s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents").where(col("text").isNotNull)
      def corrupt1252(x: String) = new String(x.getBytes("UTF-8"), "windows-1252")
      def corruptL1(x: String) = new String(x.getBytes("UTF-8"), "ISO-8859-1")
      val planted = Seq(
        ("cp1252", corrupt1252("déjà vu — café 5€"), "déjà vu — café 5€"),
        ("latin1", corruptL1("smart “quotes” and …"), "smart “quotes” and …"),
        ("ascii", "plain text stays", "plain text stays"),
        ("accents", "résumé naïve café", "résumé naïve café"))
        .toDF("kind", "broken", "clean")
        .withColumn("fixed", graft.functions.MojibakeKernel.fixMojibake(col("broken")))
      val plantedOk = planted.agg(all(col("fixed") === col("clean")))
        .collect()(0).getBoolean(0)
      one(docs.withColumn("fixed",
        graft.functions.MojibakeKernel.fixMojibake(col("text"))),
        "n_docs" -> count(lit(1)),
        "unchanged_all" -> all(col("fixed") === col("text")),
        "planted_repaired" -> lit(plantedOk))
    }),

    // N-gram novelty: unseen-fraction of each odd-doc's distinct 5-gram
    // windows against the even-half reference — full DuckDB replay
    // (string grams, identical tokenization, floor-division fixed point).
    "q_text_novelty" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.llm.Decontamination.ngramNovelty(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    // Token-budget sampling: keep the longest (hash, key)-order prefix
    // whose cumulative token count fits the budget (prefix-stop rule) —
    // the "take N tokens from this source" primitive. n_docs replays in
    // DuckDB; the pins prove the selection respects the budget, FILLS it
    // (the shortfall is smaller than the largest document, so no doc in
    // order could have been added), is monotone in the budget, and
    // degenerates to the whole corpus when the budget covers it.
    "q_sample_token_budget" -> ((s, d) => {
      val docs = table(s, d, "documents").where(col("text").isNotNull)
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      val totals = docs.agg(sum("n_tok"), max("n_tok"), count(lit(1))).collect()(0)
      val (total, maxTok, nDocs) = (totals.getLong(0), totals.getLong(1),
        totals.getLong(2))
      val budget = total * 2 / 5
      // The three selections (budget, budget/2, full) are independent —
      // overlap their jobs (§2.6, r19); identical selections and booleans.
      val sels = graft.io.Par.all(Seq(
        () => {
          val sel = graft.llm.Sampling.sampleTokenBudget(docs, Seq("doc_id"),
            "n_tok", budget).localCheckpoint()
          (sel.agg(coalesce(sum("n_tok"), lit(0L))).collect()(0).getLong(0),
            sel.select("doc_id").collect().map(_.getLong(0)).toSet)
        },
        () => graft.llm.Sampling.sampleTokenBudget(docs, Seq("doc_id"),
          "n_tok", budget / 2).select("doc_id").collect().map(_.getLong(0)).toSet,
        () => graft.llm.Sampling.sampleTokenBudget(docs, Seq("doc_id"),
          "n_tok", total).count()))
      val (selTok, idsSel) = sels(0).asInstanceOf[(Long, Set[Long])]
      val idsSmall = sels(1).asInstanceOf[Set[Long]]
      val fullN = sels(2).asInstanceOf[Long]
      one(docs,
        "n_docs" -> count(lit(1)),
        "within_budget" -> lit(selTok <= budget),
        "fills_budget" -> lit(budget - selTok < maxTok),
        "monotone_subset" -> lit(idsSmall.subsetOf(idsSel) &&
          idsSmall.size < idsSel.size),
        "full_when_covered" -> lit(fullN == nDocs))
    }),

    // K-means clustering (farthest-first seeds, L2 Lloyd, fused argmin
    // assignment) + cluster-balanced selection. n replays in DuckDB; the
    // model facts are pinned invariants on the executed clustering:
    // every row sits in its genuinely-nearest cell (recomputed against
    // the centroid literal with built-in HOFs), Lloyd never increases
    // the objective, sizes sum to n, assignment is repartition-stable,
    // and the balanced sample takes exactly min(quota, size) per cell.
    "q_cluster_kmeans" -> ((s, d) => {
      val emb = table(s, d, "embeddings").where(col("embedding").isNotNull)
      val (a0, m0) = graft.llm.Clustering.kMeans(emb, "vec_id", "embedding",
        k = 8, iterations = 0)
      // m0 IS the deterministic farthest-first seed matrix (0 Lloyd
      // iterations return it unchanged) — inject it instead of re-running
      // the k-1 seeding jobs (r18; identical centroids by construction).
      val (assigned, mat) = graft.llm.Clustering.kMeans(emb, "vec_id",
        "embedding", k = 8, iterations = 3, seedCentroids = Some(m0))
      def totalInertia(df: DataFrame, m: Array[Array[Double]]): Double =
        graft.llm.Clustering.clusterStats(df, "embedding", m)
          .agg(coalesce(sum("inertia"), lit(0.0))).collect()(0).getDouble(0)
      // Five independent verification actions over the trained model —
      // overlap them (§2.6, r19): each is a small job whose tail leaves
      // cores idle; values and the final booleans are unchanged.
      val checks = graft.io.Par.all(Seq(
        () => totalInertia(assigned, mat),
        () => totalInertia(a0, m0),
        () => graft.llm.Clustering.clusterStats(assigned, "embedding", mat)
          .select("cluster_id", "n").collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap,
        () => graft.llm.Clustering
          .balancedSample(assigned, Seq("vec_id"), perCluster = 20)
          .groupBy("cluster_id").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap,
        () => graft.llm.Clustering
          .assign(emb.repartition(11), "embedding", mat)
          .select("vec_id", "cluster_id").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap,
        () => assigned.select("vec_id", "cluster_id").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap))
      val monotone = checks(0).asInstanceOf[Double] <=
        checks(1).asInstanceOf[Double] * (1 + 1e-12) + 1e-9
      val sizes = checks(2).asInstanceOf[Map[Int, Long]]
      val balCounts = checks(3).asInstanceOf[Map[Int, Long]]
      val balancedOk = sizes.forall { case (c, n) =>
        balCounts.getOrElse(c, 0L) == math.min(20L, n) }
      val stable = checks(4) == checks(5)
      val matLit = array(mat.map(c => array(c.map(lit): _*)): _*)
      val dists = transform(matLit, c => aggregate(
        zip_with(col("embedding").cast("array<double>"), c,
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
      one(assigned,
        "n" -> count(lit(1)),
        "assigned_nearest" -> all(
          element_at(dists, col("cluster_id") + 1) === array_min(dists)),
        "sizes_sum_to_n" -> (sum(lit(1L)) === L(sizes.values.sum)),
        "cells_le_k" -> lit(sizes.size <= 8),
        "cells_ge_2" -> lit(sizes.size >= 2),
        "lloyd_monotone" -> lit(monotone),
        "balanced_ok" -> lit(balancedOk),
        "assign_stable" -> lit(stable))
    }),

    // DSIR importance resampling (Xie et al., NeurIPS 2023): the target
    // corpus is the high-'spark'-token-rate slice (> 0.06 of tokens); the
    // raw corpus is everything. n_raw / n_target / n_out are genuine
    // DuckDB recomputations (the target rule replays exactly — integer
    // token counts, IEEE double division on both engines); enrichment
    // (selected docs' mean marker rate strictly above raw's),
    // rerun+repartition determinism, and weight finiteness are pinned
    // booleans on the executed selection.
    "q_dsir_resample" -> ((s, d) => {
      val docs = table(s, d, "documents").where(col("text").isNotNull)
      def rate(c: Column): Column = {
        val toks = split(lower(trim(c)), "\\s+")
        size(filter(toks, t => t === "spark")).cast("double") / size(toks)
      }
      val target = docs.where(rate(col("text")) > 0.06)
      // The two resample runs (determinism pin) and the raw-rate aggregate
      // are independent — overlap them (§2.6, r19); both runs are
      // deterministic by contract, so interleaving cannot change the pin.
      val parts = graft.io.Par.all(Seq(
        () => {
          val picked = graft.llm.Dsir.resampleN(docs, target, "text",
            Seq("doc_id"), n = 100, dim = 1 << 14, ngrams = 2).localCheckpoint()
          (picked, picked.select("doc_id").collect().map(_.getLong(0)).toSet)
        },
        () => graft.llm.Dsir.resampleN(docs.repartition(13), target,
          "text", Seq("doc_id"), n = 100, dim = 1 << 14, ngrams = 2)
          .select("doc_id").collect().map(_.getLong(0)).toSet,
        () => docs.agg(avg(rate(col("text")))).collect()(0).getDouble(0)))
      val (picked, idsA) =
        parts(0).asInstanceOf[(org.apache.spark.sql.DataFrame, Set[Long])]
      val idsB = parts(1).asInstanceOf[Set[Long]]
      val rawRate = parts(2).asInstanceOf[Double]
      one(picked,
        "n_raw" -> L(docs.count()),
        "n_target" -> L(target.count()),
        "n_out" -> count(lit(1)),
        "enriched" -> (avg(rate(col("text"))) > rawRate),
        "deterministic" -> lit(idsA == idsB),
        "weights_finite" -> all(!isnan(col("dsir_logw")) &&
          abs(col("dsir_logw")) < Double.PositiveInfinity))
    }),

    // -------------------------------------------- tf-idf salient terms
    // Full replay: per-doc top-3 terms with tf/df and the smoothed TF-IDF
    // at 1e-6 fixed point — DuckDB re-derives the whole pipeline (explode,
    // both aggregations, ln((N+1)/(df+1))+1, the rank ordering). Rank ties
    // carry the term-asc tiebreak on both sides; distinct (tf, df) pairs
    // yield score gaps far above double rounding.
    "q_text_salient" -> ((s, d) =>
      TextAnalysis.salientTerms(table(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
          col("tf"), col("df_docs"),
          round(col("tfidf") * 1e6).cast("long").as("score_fp"))
        .orderBy("doc_id", "rank")),

    // ------------------------------------------------ chunking (RAG prep)
    // Full-output replay: every chunk row (layout integers + the rejoined
    // chunk STRING) hash-compares against DuckDB re-deriving the identical
    // integer stride arithmetic and list slicing. Zero-shuffle operator —
    // the orderBy here is presentation for the gate, not part of the op.
    "q_chunk_rag" -> ((s, d) =>
      graft.llm.Chunking.chunkByTokens(table(s, d, "documents"),
          "doc_id", "text", chunkTokens = 16, overlapTokens = 4)
        .orderBy("doc_id", "chunk_id")))

  /** Shared DuckDB replay of the exhaustive inverted-index 3-gram jaccard
    * pipeline on shingle STRINGS, ending in a `pairs(id_a, id_b, j)` CTE —
    * the exact reference for the whole minhash family's oracles. */
  private val NgramPairsCte: String =
    """WITH tk AS (SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(lt) - 2, 1)),
      |    i -> array_to_string(lt[i:i+2], ' '))) AS s FROM tk),
      |inv AS (SELECT doc_id, unnest(s) AS w FROM sh),
      |keep AS (SELECT w FROM inv GROUP BY w HAVING count(*) <= 1000),
      |invf AS (SELECT doc_id, w FROM inv WHERE w IN (SELECT w FROM keep)),
      |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh_n
      |  FROM invf a JOIN invf b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
      |pairs AS (SELECT id_a, id_b, sh_n::DOUBLE / (sa.n + sb.n - sh_n) AS j
      |  FROM shared JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b)""".stripMargin

  /** Genuine DuckDB oracles (every former pinned-constant oracle in this
    * family is now a replay). */
  val oracles: Map[String, String] = Map(
    // GENUINE replay of the temperature-weight arithmetic: per-source
    // sizes from the table, w_i = budget * (n_i^alpha / Z) / n_i at
    // alpha=0.5 with budget = corpus size, the expected realized-count
    // mean w_i*n_i, the 6-sigma Binomial band over the fractional epoch,
    // budget conservation, and the small-corpus boost ordering — all
    // re-derived in SQL at 1e-6 fixed point (identical double
    // association order as temperatureWeights). Only `in_band` (did the
    // realized xxhash64 draw land inside the band) is echoed TRUE: the
    // hash draw is not replayable in SQL, the band it must land in is.
    "q_sample_temperature" ->
      """WITH sz AS (SELECT CASE WHEN doc_id % 10 <= 5 THEN 'big'
        |      WHEN doc_id % 10 <= 8 THEN 'mid' ELSE 'small' END AS source,
        |    CAST(count(*) AS DOUBLE) AS n
        |    FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS total, sum(pow(n, 0.5)) AS z FROM sz),
        |w AS (SELECT source, n,
        |    (SELECT total FROM tot) * (pow(n, 0.5) / (SELECT z FROM tot)) / n AS wt
        |  FROM sz),
        |wq AS (SELECT source, n, wt,
        |    CAST(round(wt * 1000000) AS BIGINT) AS w_micro,
        |    CAST(round(wt * 1000000) AS BIGINT) / 1000000.0 AS wsnap
        |  FROM w)
        |SELECT source,
        |  CAST(n AS BIGINT) AS n_rows,
        |  w_micro,
        |  CAST(round(wsnap * n * 1000000) AS BIGINT) AS mean_micro,
        |  CAST(round((6 * sqrt(n * (wsnap - floor(wsnap)) * (1 - (wsnap - floor(wsnap))))
        |    + 0.5) * 1000000) AS BIGINT) AS band_micro,
        |  (SELECT abs(sum(wt * n) - (SELECT total FROM tot)) FROM w) < 1e-6 AS budget_ok,
        |  ((SELECT min(n) FROM sz) = (SELECT max(n) FROM sz)
        |    OR (SELECT wt FROM w ORDER BY n ASC, source LIMIT 1)
        |     > (SELECT wt FROM w ORDER BY n DESC, source LIMIT 1)) AS small_boosted,
        |  TRUE AS in_band
        |FROM wq ORDER BY source""".stripMargin,

    // GENUINE full-string replay: first-occurrence-order distinct lines
    // via indexed unnest + min(index) + ordered string_agg.
    "q_text_dedup_lines" ->
      """WITH aug AS (SELECT doc_id, text || chr(10) || 'the repeated boilerplate line'
        |    || chr(10) || text || chr(10) || 'the repeated boilerplate line' AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |parts AS (SELECT doc_id, string_split(t, chr(10)) AS ps FROM aug),
        |idx AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ps)),
        |    i -> struct_pack(i := i, w := ps[i]))) AS s FROM parts),
        |firsts AS (SELECT doc_id, s.w AS w, min(s.i) AS fi FROM idx GROUP BY doc_id, s.w)
        |SELECT doc_id, string_agg(w, chr(10) ORDER BY fi) AS deduped
        |FROM firsts GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // GENUINE replay: distinct-fingerprint count == distinct normalized
    // strings (xxhash64 collisions negligible; Java \p{Punct} == RE2
    // [[:punct:]], both ASCII), and the subword kernel is parity-pinned to
    // the regex DuckDB replays here (Java \s == RE2 \s, ASCII-only).
    // Overrides the pinned generated constant by merge order.
    "q_text_fingerprint" ->
      """SELECT count(DISTINCT regexp_replace(trim(lower(text)), '[[:punct:]\s]+', ' ', 'g')) AS n_fp,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin,

    // GENUINE replay of the whole inverted-index jaccard pipeline on
    // shingle STRINGS (the Spark side intersects xxhash64 fingerprints —
    // the family's collision-negligible assumption): windows with the
    // whole-short-doc convention, per-doc distinct, the stop-shingle
    // doc-frequency cap (inactive at gate scale but replayed anyway), and
    // jaccard from UNFILTERED set sizes. Scale-invariant.
    "q_dedup_ngram_jaccard" ->
      s"""$NgramPairsCte
        |SELECT count(*) AS n_pairs,
        |  CAST(coalesce(sum(id_a), 0) AS BIGINT) AS sum_a,
        |  CAST(coalesce(sum(id_b), 0) AS BIGINT) AS sum_b
        |FROM pairs WHERE j >= 0.5""".stripMargin,

    // GENUINE replay, same CTE as q_dedup_ngram_jaccard: at threshold 0.5
    // with 64 bands x 2 rows, a qualifying pair misses the candidate
    // filter with probability (1 - j^2)^64 <= 1e-8, and every candidate is
    // EXACT-verified on the full shingle sets — so the minhash output
    // equals the exhaustive inverted-index pair set (measured identical at
    // sf0.001/0.01/0.1; q_dedup_minhash_recall pins the equality as its
    // own query). The former pinned constant certified only "output
    // didn't change"; this recomputes the right answer at any scale.
    "q_dedup_minhash" ->
      s"""$NgramPairsCte
        |SELECT count(*) AS n_pairs,
        |  CAST(coalesce(sum(id_a), 0) AS BIGINT) AS sum_a,
        |  CAST(coalesce(sum(id_b), 0) AS BIGINT) AS sum_b
        |FROM pairs WHERE j >= 0.5""".stripMargin,

    // GENUINE replay of the exact arm (the same inverted-index jaccard
    // CTE); sets_equal stays the hash-frozen cross-validation pin. This
    // replaced the last scale-pinned constant (n_exact was hardcoded to
    // sf0.01's 25 and failed the sf0.1 gate, where the true count is 256
    // — verified identical between both engines' pair sets).
    "q_dedup_minhash_recall" ->
      s"""$NgramPairsCte
        |SELECT count(*) AS n_exact, TRUE AS sets_equal
        |FROM pairs WHERE j >= 0.5""".stripMargin,

    // GENUINE replay: survivors = all documents minus the distinct
    // larger-ids of the exhaustive jaccard pair set (the greedy id_b drop
    // of dropNearDupsMinHash), with the same recall-1 equivalence argument
    // as q_dedup_minhash.
    "q_dedup_minhash_drop" ->
      s"""$NgramPairsCte
        |SELECT (SELECT count(*) FROM documents)
        |  - (SELECT count(DISTINCT id_b) FROM pairs WHERE j >= 0.5)
        |  AS n_survivors""".stripMargin,

    // GENUINE replay of the planted-family construction: the pair list is
    // exactly (even doc_id, doc_id+1) where both exist, at hamming 0 —
    // derived from the doc_id arithmetic, not pinned.
    "q_dedup_simhash" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0 ORDER BY id_a""".stripMargin,

    // GENUINE replay of the planted image-family construction: ids 3f,
    // 3f+1 (resized copy), 3f+2 (JPEG re-encode) must pair exactly within
    // each family f — the pair list is pure id arithmetic.
    "q_dedup_image_phash" ->
      """WITH f AS (SELECT g.range AS f FROM range(0, 40) g),
        |p AS (SELECT 3*f AS id_a, 3*f+1 AS id_b FROM f
        |  UNION ALL SELECT 3*f AS id_a, 3*f+2 AS id_b FROM f
        |  UNION ALL SELECT 3*f+1 AS id_a, 3*f+2 AS id_b FROM f)
        |SELECT id_a, id_b FROM p ORDER BY id_a, id_b""".stripMargin,

    // GENUINE replay of the planted guard construction: variants 0 (exact)
    // and 1 (2-bit) flag, variant 2 (20-bit, every piece touched) does not.
    "q_dedup_image_stream" ->
      """SELECT g.range AS id, (g.range % 3) < 2 AS img_near_dup
        |FROM range(0, 120) g ORDER BY id""".stripMargin,

    // GENUINE replay of both planted audio constructions: energy leg —
    // (3f, 3f+1) pairs exactly where the scaled copy exists (families
    // with f % 3 = 2 carry garbage in that slot instead — null hash, no
    // pair); spectral leg (r14) — ids 200+5f+slot, slots 0-3 (original,
    // offset, padded, halved) pair completely within each family, the
    // novel slot 4 pairs with nothing.
    "q_dedup_audio_hash" ->
      """WITH e AS (SELECT 3 * g.range AS id_a, 3 * g.range + 1 AS id_b
        |    FROM range(0, 40) g WHERE g.range % 3 <> 2),
        |f AS (SELECT g.range AS f FROM range(0, 20) g),
        |sl AS (SELECT a.range AS a, b.range AS b
        |  FROM range(0, 4) a, range(0, 4) b WHERE a.range < b.range),
        |sp AS (SELECT 200 + 5 * f + a AS id_a, 200 + 5 * f + b AS id_b
        |  FROM f, sl)
        |SELECT id_a, id_b FROM e
        |UNION ALL SELECT id_a, id_b FROM sp
        |ORDER BY id_a, id_b""".stripMargin,

    // GENUINE replay of the planted video construction: within family f
    // (ids 4f+s), the original (s0), re-muxed copy (s1) and splice copy
    // (s2) pair completely — except every 3rd family, whose s1 slot is
    // garbage (null hash, no pairs); the novel slot s3 never pairs.
    "q_dedup_video_hash" ->
      """WITH fams AS (SELECT g.range AS f FROM range(0, 40) g),
        |p AS (
        |  SELECT 4 * f AS id_a, 4 * f + 1 AS id_b FROM fams WHERE f % 3 <> 2
        |  UNION ALL SELECT 4 * f, 4 * f + 2 FROM fams WHERE f % 3 <> 2
        |  UNION ALL SELECT 4 * f + 1, 4 * f + 2 FROM fams WHERE f % 3 <> 2
        |  UNION ALL SELECT 4 * f, 4 * f + 2 FROM fams WHERE f % 3 = 2)
        |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
        |FROM p ORDER BY id_a, id_b""".stripMargin,

    // GENUINE replay of the planted re-encode construction: within
    // family f (ids 5f+s), the original (s0), both independent
    // re-encodes (s1, s2) and the re-mux (s3) pair completely — except
    // every 3rd family, whose s1 slot is garbage (null signature, no
    // pairs); the novel slot s4 never pairs.
    "q_dedup_video_profile" ->
      """WITH fams AS (SELECT g.range AS f FROM range(0, 40) g),
        |sl AS (SELECT a.range AS a, b.range AS b
        |  FROM range(0, 4) a, range(0, 4) b WHERE a.range < b.range),
        |p AS (
        |  SELECT 5 * f + a AS id_a, 5 * f + b AS id_b FROM fams, sl
        |    WHERE f % 3 <> 2
        |  UNION ALL SELECT 5 * f + a, 5 * f + b FROM fams, sl
        |    WHERE f % 3 = 2 AND a <> 1 AND b <> 1)
        |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
        |FROM p ORDER BY id_a, id_b""".stripMargin,

    // Same pair replay as q_dedup_video_profile (identical plant), via
    // the CELL-INDEX path; the booleans pin the four candidate paths'
    // in-engine identity (banded / cell index / cell-grouped multi-pass
    // / flat escape hatch).
    "q_dedup_video_profile_paths" ->
      """WITH fams AS (SELECT g.range AS f FROM range(0, 40) g),
        |sl AS (SELECT a.range AS a, b.range AS b
        |  FROM range(0, 4) a, range(0, 4) b WHERE a.range < b.range),
        |p AS (
        |  SELECT 5 * f + a AS id_a, 5 * f + b AS id_b FROM fams, sl
        |    WHERE f % 3 <> 2
        |  UNION ALL SELECT 5 * f + a, 5 * f + b FROM fams, sl
        |    WHERE f % 3 = 2 AND a <> 1 AND b <> 1)
        |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  TRUE AS celled_eq_banded, TRUE AS multipass_eq_banded,
        |  TRUE AS flat_eq_banded
        |FROM p ORDER BY id_a, id_b""".stripMargin,

    // GENUINE replay of the planted streaming-guard construction: per
    // modality, slots 0-1 (identical/in-radius copies) flag, slots 2-3
    // (novel content, garbage bytes) do not. The video_profile leg (r17)
    // is the VERIFIED re-encode guard: re-encoded (s0) and
    // monotone-scaled (s1) copies flag, independent content and garbage
    // (s2, s3) do not — exact flags, no candidate-only radius.
    "q_dedup_av_stream" ->
      """WITH a AS (SELECT g.range AS id, (g.range % 4) < 2 AS flag,
        |    'audio' AS modality FROM range(0, 80) g),
        |v AS (SELECT 1000 + g.range AS id, (g.range % 4) < 2 AS flag,
        |    'video' AS modality FROM range(0, 120) g),
        |p AS (SELECT 2000 + g.range AS id, (g.range % 4) < 2 AS flag,
        |    'video_profile' AS modality FROM range(0, 100) g)
        |SELECT id, flag, modality FROM a
        |UNION ALL SELECT id, flag, modality FROM v
        |UNION ALL SELECT id, flag, modality FROM p ORDER BY id""".stripMargin,

    // GENUINE replay via exhaustive exact cosine over the same augmented
    // corpus (natural + a copy of every vector at vec_id + 1e9): DuckDB
    // recomputes every qualifying pair itself. Max natural cosine ~0.6,
    // planted duplicates at exactly 1.0 — threshold 0.9 sits in the gap,
    // so no FP-boundary risk on either engine.
    "q_dedup_cosine_lsh" ->
      """WITH aug AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 1000000000, embedding FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // GENUINE replay of the planted-wordlist construction: expected
    // classification is the diagonal (lang_pred == lang) with class sizes
    // from the doc_id % 11 arithmetic. A kernel regression on any of the
    // 11 planted inputs (stopword argmax or script ratios) fails the gate.
    "q_text_langid" ->
      """WITH m AS (SELECT CASE CAST(doc_id % 11 AS INTEGER)
        |    WHEN 0 THEN 'ar' WHEN 1 THEN 'de' WHEN 2 THEN 'en' WHEN 3 THEN 'es'
        |    WHEN 4 THEN 'fr' WHEN 5 THEN 'it' WHEN 6 THEN 'ja' WHEN 7 THEN 'ko'
        |    WHEN 8 THEN 'ru' WHEN 9 THEN 'und' ELSE 'zh' END AS lang
        |  FROM documents)
        |SELECT lang, lang AS lang_pred, count(*) AS n FROM m
        |GROUP BY lang ORDER BY lang, lang_pred""".stripMargin,

    // n_exact is a genuine recomputation (same exhaustive pair count the
    // cosine-recall oracle uses); the booleans pin the semantic-dedup
    // contract: exact-verified precision, the measured recall band, and
    // drop = corpus minus distinct losers.
    "q_dedup_semantic" ->
      """SELECT count(*) AS n_exact, TRUE AS precision_one, TRUE AS recall_ok,
        |  TRUE AS drop_consistent FROM (
        |  SELECT 1 FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4)""".stripMargin,

    // Full replay of the decontamination pipeline on window STRINGS:
    // eval slice construction, 13-token windows with the whole-short-doc
    // convention (greatest(len-12, 1), truncating slice — same as the
    // substring-dedup oracles), per-doc distinct grams, hit counts.
    "q_decontaminate" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt FROM documents),
        |evsrc AS (
        |  SELECT array_to_string(lt[6:26], ' ') AS text FROM tk WHERE doc_id % 100 = 1
        |  UNION ALL SELECT 'qa0 qa1 qa2 qa3 qa4 qa5 qa6 qa7 qa8 qa9 qa10 qa11 qa12 qa13 qa14 qa15 qa16 qa17 qa18 qa19'
        |  UNION ALL SELECT 'qb0 qb1 qb2 qb3 qb4 qb5 qb6 qb7 qb8 qb9 qb10 qb11 qb12 qb13 qb14 qb15 qb16 qb17 qb18 qb19'
        |  UNION ALL SELECT 'qc0 qc1 qc2 qc3 qc4 qc5 qc6 qc7 qc8 qc9 qc10 qc11 qc12 qc13 qc14 qc15 qc16 qc17 qc18 qc19'),
        |evtk AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS lt FROM evsrc),
        |evg AS (SELECT DISTINCT w FROM (
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(lt) - 12, 1)),
        |    i -> array_to_string(lt[i:i+12], ' '))) AS w FROM evtk)),
        |tg AS (SELECT DISTINCT doc_id, w FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(lt) - 12, 1)),
        |    i -> array_to_string(lt[i:i+12], ' '))) AS w FROM tk)),
        |per AS (SELECT doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN w IN (SELECT w FROM evg) THEN 1 ELSE 0 END) AS n_hits
        |  FROM tg GROUP BY doc_id)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_hits >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(sum(n_hits) AS BIGINT) AS sum_hits,
        |  CAST(sum(n_grams) AS BIGINT) AS sum_grams,
        |  -- kept counts ALL train rows minus contaminated ones: the Spark
        |  -- side keeps null-text rows (no grams), which `per` excludes.
        |  CAST((SELECT count(*) FROM documents)
        |    - sum(CASE WHEN n_hits >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM per""".stripMargin,

    // Same augmentation and the same RE2-safe regex chain, replayed by
    // DuckDB's regexp_replace with the 'g' flag; the full redacted strings
    // hash-compare. \p{Cntrl} (Java) == [[:cntrl:]] (RE2): ASCII controls.
    "q_text_redact" ->
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com visit https://ex.com/p/' || CAST(doc_id AS VARCHAR)
        |         || ' call +1 (555) 010-' || CAST(doc_id AS VARCHAR)
        |         || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' || chr(9) || 'end',
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\-\s]{6,}[0-9]', '<PHONE>', 'g'),
        |  '[[:cntrl:]]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The counting chain replayed verbatim: each class counted on the
    // text with earlier classes masked (same order as the redact chain),
    // density as integer ppm so no float ever rides the hash compare.
    "q_pii_density" ->
      """WITH aug AS (SELECT doc_id, text || CASE
        |    WHEN doc_id % 3 = 1 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |    WHEN doc_id % 3 = 2 THEN ' mail a' || CAST(doc_id AS VARCHAR) || '@b.io or c' || CAST(doc_id AS VARCHAR)
        |      || '@d.io via https://x.io/p/' || CAST(doc_id AS VARCHAR)
        |      || ' from 10.1.' || CAST(doc_id % 256 AS VARCHAR) || '.9 call +1 (555) 010-' || CAST(doc_id AS VARCHAR)
        |    ELSE '' END AS t FROM documents),
        |s1 AS (SELECT doc_id, t, regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g') AS t1 FROM aug),
        |s2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2 FROM s1),
        |s3 AS (SELECT doc_id, t, t1, t2, regexp_replace(t2, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t3 FROM s2),
        |c AS (SELECT doc_id,
        |  len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_url,
        |  len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t2, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(t3, '\+?[0-9][0-9()\-\s]{6,}[0-9]')) AS n_phone,
        |  len(regexp_split_to_array(trim(t), '\s+')) AS ntok FROM s3)
        |SELECT doc_id, n_url, n_email, n_ip, n_phone,
        |  CAST(floor(CAST(n_url + n_email + n_ip + n_phone AS DOUBLE) / greatest(ntok, 1) * 1000000.0) AS BIGINT) AS density_ppm,
        |  (CAST(n_url + n_email + n_ip + n_phone AS DOUBLE) / greatest(ntok, 1)) <= 0.08 AS kept
        |FROM c ORDER BY doc_id""".stripMargin,

    // Genuine recomputation: the planted dims/gray are pure functions of
    // doc_id, so DuckDB re-derives every aggregate — dims/band sums over
    // the decodable rows, the exact corrupt-row count, every mean exact,
    // resize identity on sub-512px images, 4 frames per payload.
    "q_multimodal_decode" ->
      """SELECT count(*) AS n,
        |CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 3 + doc_id % 5 END) AS BIGINT) AS sum_width,
        |CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 2 + doc_id % 7 END) AS BIGINT) AS sum_height,
        |CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 3 END) AS BIGINT) AS sum_channels,
        |CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_exact,
        |CAST(4 * count(*) AS BIGINT) AS n_frames,
        |CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resized_id
        |FROM documents WHERE doc_id < 2000""".stripMargin,

    // Genuine recomputation: every planted WAV header field is a pure
    // function of doc_id, so DuckDB re-derives all the sums, the exact
    // garbage-row count, and — because duration and mean amplitude are
    // double divisions of the same planted integers on both sides — the
    // two exactness counts equal the decodable-row count.
    "q_multimodal_audio" ->
      """SELECT count(*) AS n,
        |CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 8000 + (doc_id % 3) * 4000 END) AS BIGINT) AS sum_rate,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 + doc_id % 2 END) AS BIGINT) AS sum_channels,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 16 END) AS BIGINT) AS sum_bits,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 100 + (doc_id % 50) * 10 END) AS BIGINT) AS sum_frames,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_duration_exact,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_exact,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wav
        |FROM documents WHERE doc_id < 2000""".stripMargin,

    // Replay of the planted MP4 header arithmetic (see q_multimodal_video
    // in `queries`): garbage every 13th doc, otherwise mvhd timescale
    // 1000+(id%4)*500, duration 3000+(id%100)*25, 1+(id%3) tracks with the
    // first carrying 160(1+id%6) x 90(1+id%4). Frame tables (r11): every
    // genuine doc except id%17==0 plants 3+id%5 frames; keyframes are all
    // frames when id%5==0 (stss omitted) else ceil(frames/2); the mean
    // frame size is a Spark-side exact compare, replayed as the count of
    // stbl-carrying docs.
    "q_multimodal_video" ->
      """SELECT count(*) AS n,
        |CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1000 + (doc_id % 4) * 500 END) AS BIGINT) AS sum_timescale,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 3000 + (doc_id % 100) * 25 END) AS BIGINT) AS sum_duration_units,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 + doc_id % 3 END) AS BIGINT) AS sum_tracks,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 160 * (1 + doc_id % 6) END) AS BIGINT) AS sum_width,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 90 * (1 + doc_id % 4) END) AS BIGINT) AS sum_height,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_duration_exact,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 THEN 3 + doc_id % 5 END) AS BIGINT) AS sum_frames,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 THEN
        |  CASE WHEN doc_id % 5 = 0 THEN 3 + doc_id % 5 ELSE (4 + doc_id % 5) // 2 END
        |END) AS BIGINT) AS sum_keyframes,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_exact_frames,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_no_stbl,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mp4,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_codec_video,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND doc_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_codec_audio,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND doc_id % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fps_exact,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND
        |  (3 + doc_id % 5) * (CASE WHEN doc_id % 11 = 0 THEN 3000 + (doc_id % 100) * 25 ELSE (doc_id % 3 + 1) * 100 END) * (1000 + (doc_id % 4) * 500)
        |  = (3000 + (doc_id % 100) * 25) * (CASE WHEN doc_id % 11 = 0 THEN (1000 + (doc_id % 4) * 500) * (3 + doc_id % 5) ELSE 2400 END)
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_duration_consistent,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 THEN (4 + doc_id % 5) // 2 END) AS BIGINT) AS sum_chunks,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_chunk_consistent
        |FROM documents WHERE doc_id < 2000""".stripMargin,

    // Replay of the solid-gray resize closed form (see q_multimodal_resize):
    // every non-garbage doc must downsample to an exactly-gray 6x4x3 PNG.
    "q_multimodal_resize" ->
      """SELECT count(*) AS n,
        |CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dims_exact,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_exact,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_png
        |FROM documents WHERE doc_id < 1000""".stripMargin,

    // Full replay of the corpus-frequent-line strip: same planting, same
    // distinct-doc counting rule, same >= 3 threshold, same blank-line
    // exemption (trim(line) <> ''), rejoin by line.
    "q_dedup_corpus_lines" ->
      """WITH aug AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 4 = 0 THEN 'SUBSCRIBE TO OUR NEWSLETTER' END,
        |    text,
        |    CASE WHEN doc_id % 6 = 0 THEN '(c) example.com - all rights reserved' END) AS text
        |  FROM documents),
        |lns AS (SELECT DISTINCT doc_id, line FROM
        |  (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM aug)
        |  WHERE trim(line) <> ''),
        |freq AS (SELECT coalesce(list(line), []) AS fl FROM
        |  (SELECT line FROM lns GROUP BY line HAVING count(*) >= 3))
        |SELECT a.doc_id,
        |  array_to_string(list_filter(string_split(a.text, chr(10)),
        |    x -> NOT list_contains(f.fl, x)), chr(10)) AS cleaned
        |FROM aug a, freq f ORDER BY doc_id""".stripMargin,

    // The guard form replays against the SAME rule as q_dedup_corpus_lines
    // (the two engine paths are pinned equal on the training corpus).
    "q_dedup_line_guard" ->
      """WITH aug AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 4 = 0 THEN 'SUBSCRIBE TO OUR NEWSLETTER' END,
        |    text,
        |    CASE WHEN doc_id % 6 = 0 THEN '(c) example.com - all rights reserved' END) AS text
        |  FROM documents),
        |lns AS (SELECT DISTINCT doc_id, line FROM
        |  (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM aug)
        |  WHERE trim(line) <> ''),
        |freq AS (SELECT coalesce(list(line), []) AS fl FROM
        |  (SELECT line FROM lns GROUP BY line HAVING count(*) >= 3))
        |SELECT a.doc_id,
        |  array_to_string(list_filter(string_split(a.text, chr(10)),
        |    x -> NOT list_contains(f.fl, x)), chr(10)) AS cleaned
        |FROM aug a, freq f ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT count(*) AS n, count(DISTINCT text) AS n_after_dedup,
        |count(DISTINCT text) AS n_after_hash_dedup FROM documents""".stripMargin,

    "q_dedup_keepfirst" ->
      "SELECT source, min(doc_id) AS doc_id FROM documents GROUP BY source ORDER BY source, doc_id",

    // Streaming minhash guard, planted: disjoint 24-token family vocab per
    // doc; the corpus carries the id%3==0 families, so the flagged set is
    // exactly {id < 600 : id%3==0} (identical text -> all 64 bands hit);
    // the stateless-replay and full-band booleans are frozen.
    "q_dedup_stream_minhash" ->
      """SELECT count(*) AS n_stream,
        |CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |CAST(sum(CASE WHEN doc_id % 3 = 0 THEN doc_id ELSE 0 END) AS BIGINT) AS sum_flagged,
        |TRUE AS all_full_band_hits, TRUE AS batch_equal
        |FROM documents WHERE doc_id < 600""".stripMargin,

    // n_exact recomputed (5 neighbors per query over >= 20 corpus rows);
    // recall band pinned (deterministic centroid draw).
    "q_ann_ivf_recall" ->
      """SELECT count(*) AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS nid,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rnk
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id) t
        |WHERE rnk <= 5""".stripMargin,

    // Bounded-training pins: same replayable exact-arm size; no-op,
    // parity, and determinism facts are frozen booleans.
    "q_ann_train_bounded" ->
      """SELECT count(*) AS n_exact, TRUE AS noop_below_bound,
        |  TRUE AS bounded_parity, TRUE AS bounded_deterministic FROM (
        |  SELECT q.vec_id, c.vec_id AS nid,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rnk
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id) t
        |WHERE rnk <= 5""".stripMargin,

    // n_exact is a genuine recomputation; the two booleans pin the LSH
    // quality contract (subset-precision and the measured recall band —
    // deterministic hashes freeze the draw).
    "q_dedup_cosine_recall" ->
      """SELECT count(*) AS n_exact, TRUE AS precision_one, TRUE AS recall_ok FROM (
        |  SELECT 1 FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4)""".stripMargin,

    "q_embed_cosine_pairs" ->
      """SELECT count(*) AS n_pairs,
        |CAST(coalesce(sum(id_a), 0) AS BIGINT) AS sum_a,
        |CAST(coalesce(sum(id_b), 0) AS BIGINT) AS sum_b FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4)""".stripMargin,

    "q_ann_topk" ->
      """SELECT query_id, rnk, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rnk
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) t
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // Cell count and coverage recompute from the corpus row count (the
    // auto-size rule is round(sqrt(N))); the booleans pin the balance
    // contract the diagnostics exist to check.
    "q_ann_ivf_cells" ->
      """SELECT CAST(round(sqrt(count(*))) AS BIGINT) AS n_cells,
        |count(*) AS n_assigned,
        |TRUE AS no_empty_cells,
        |TRUE AS balanced
        |FROM embeddings""".stripMargin,

    // nProbe == nCentroids makes IVF exact, so it shares the brute-force
    // oracle — a genuine equivalence check, not just a rows count.
    "q_ann_ivf" ->
      """SELECT query_id, rnk, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rnk
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) t
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // Full replay of the span-removal pipeline from strings: windows,
    // cross-doc frequencies, covered 1-based positions, token filter,
    // single-space rejoin — compared document by document.
    "q_dedup_substring_drop" ->
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 50 = 0
        |    THEN text || ' subscribe to our newsletter for daily updates and exclusive offers today'
        |    ELSE text END AS text FROM documents),
        |tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt,
        |    regexp_split_to_array(trim(text), '\s+') AS ot FROM aug),
        |winsL AS (SELECT doc_id,
        |    list_transform(generate_series(1, greatest(len(lt) - 7, 1)),
        |      i -> struct_pack(i := i, w := array_to_string(lt[i:i+7], ' '))) AS ws
        |  FROM tk),
        |wins AS (SELECT doc_id, unnest(ws) AS s FROM winsL),
        |rep AS (SELECT w FROM (SELECT DISTINCT doc_id, s.w AS w FROM wins)
        |  GROUP BY w HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, generate_series(s.i, s.i + 7) AS js FROM wins
        |  WHERE s.w IN (SELECT w FROM rep)),
        |cov AS (SELECT doc_id, list(DISTINCT j) AS cv
        |  FROM (SELECT doc_id, unnest(js) AS j FROM hits) GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(generate_series(1, len(t.ot)),
        |      k -> NOT list_contains(coalesce(c.cv, []), k)),
        |    k -> t.ot[k]), ' '), '') AS deduped
        |FROM tk t LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Group sizes are table facts; the hash-frozen selection guarantees
    // (determinism, monotonicity) are Spark-evaluated booleans.
    "q_sample_group" ->
      """SELECT CAST(sum(LEAST(30, c)) AS BIGINT) AS n_total,
        |  count(*) AS n_groups,
        |  TRUE AS per_group_ok, TRUE AS deterministic_ok, TRUE AS monotone_ok
        |FROM (SELECT count(*) AS c FROM documents GROUP BY source)""".stripMargin,

    // Totals recomputed with the engine's exact tokenization ('' -> 0
    // tokens); the pack-structure guarantees are Spark-evaluated booleans.
    // n_docs replays; assignment/overflow/pack-count-quality are frozen
    // (pack structure is hash-order-dependent).
    "q_pack_bestfit" ->
      """SELECT count(*) AS n_docs, TRUE AS all_assigned,
        |  TRUE AS no_overflow, TRUE AS packs_le_nextfit
        |FROM documents""".stripMargin,

    "q_pack_sequences" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |  TRUE AS all_assigned, TRUE AS no_overflow,
        |  TRUE AS packs_band_ok, TRUE AS chunks_exact
        |FROM documents""".stripMargin,

    "q_text_tokens" ->
      """SELECT CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
        |CAST(max(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS max_tokens,
        |CAST(sum(CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 20 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_short FROM documents""".stripMargin,

    // Genuine recomputation of the repetition signals: identical ASCII-\s
    // tokenization, identical n-gram construction (3-grams only when the
    // document has > 3 tokens, else one full-text shingle with zero dups),
    // space-only ltrim/rtrim on both engines.
    "q_text_repetition" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(len(ls) - len(list_distinct(ls))) AS BIGINT) AS sum_dup_lines,
        |  CAST(sum(dup3) AS BIGINT) AS sum_dup_3grams,
        |  CAST(sum(len(list_filter(ls, x -> regexp_matches(ltrim(x), '^[-*•]')))) AS BIGINT)
        |    AS n_bullet_lines,
        |  CAST(sum(len(list_filter(ls, x -> rtrim(x) LIKE '%...'))) AS BIGINT)
        |    AS n_ellipsis_lines,
        |  CAST(sum(CASE WHEN dup3 * 5 > tot3 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_rep
        |FROM (
        |  SELECT ls,
        |    CASE WHEN len(toks) <= 3 THEN 1 ELSE len(toks) - 2 END AS tot3,
        |    CASE WHEN len(toks) <= 3 THEN 0
        |         ELSE (len(toks) - 2) - len(list_distinct(list_transform(
        |           generate_series(1, len(toks) - 2),
        |           i -> array_to_string(toks[i:i+2], ' ')))) END AS dup3
        |  FROM (
        |    SELECT string_split(text, chr(10)) AS ls,
        |      regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |    FROM documents))""".stripMargin,

    // Genuine recomputation of the substring-level dedup: identical
    // tokenization and window construction as the repetition oracle, with
    // the inverted index built from window strings (Spark uses their
    // xxhash64 fingerprints — collision-free at these row counts).
    "q_dedup_substring" ->
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 50 = 0
        |    THEN text || ' subscribe to our newsletter for daily updates and exclusive offers today'
        |    ELSE text END AS text FROM documents),
        |wins AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) <= 8
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(generate_series(1, len(toks) - 7),
        |        i -> array_to_string(toks[i:i+7], ' ')) END) AS ws
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM aug)),
        |ex AS (SELECT doc_id, unnest(ws) AS w FROM wins),
        |freq AS (SELECT w FROM ex GROUP BY w HAVING count(*) >= 2),
        |flags AS (SELECT e.doc_id, count(*) AS nrep FROM ex e JOIN freq USING (w) GROUP BY e.doc_id)
        |SELECT
        |  (SELECT count(*) FROM aug) AS n_docs,
        |  (SELECT count(*) FROM freq) AS n_repeated_fps,
        |  (SELECT count(*) FROM flags WHERE nrep >= 4) AS n_flagged,
        |  (SELECT count(*) FROM flags WHERE nrep >= 4 AND doc_id % 50 = 0) AS n_planted_flagged,
        |  (SELECT count(*) FROM (
        |     SELECT 1 FROM ex a JOIN ex b USING (w)
        |     WHERE a.doc_id < b.doc_id
        |     GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 4)) AS n_pairs_ge4""".stripMargin,

    // Recomputes every qualityFeatures threshold from strings: identical
    // space-only trim, ASCII-\s tokenization, POSIX punct class, and
    // int/int ratio divisions, so the boolean folds are bit-safe.
    "q_text_quality" ->
      """WITH f AS (
        |  SELECT text, n_chars,
        |    CAST(length(trim(text)) AS DOUBLE) AS chars,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS ndis,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','and','of','to','in','is','that','it','was','for',
        |          'with','as','his','on','be','at','by','this','had','not'], x))) END AS hits,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[A-Za-z]', '', 'g')) AS n_alpha,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[[:punct:]]', '', 'g')) AS n_punct,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[0-9]', '', 'g')) AS n_digit,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[A-Z]', '', 'g')) AS n_upper,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS no_ws
        |  FROM documents),
        |g AS (
        |  SELECT length(text) AS raw_len, n_chars, ntok,
        |    CASE WHEN chars = 0 THEN 0.0 ELSE n_alpha / chars END AS alpha_ratio,
        |    CASE WHEN chars = 0 THEN 0.0 ELSE n_punct / chars END AS punct_ratio,
        |    CASE WHEN chars = 0 THEN 0.0 ELSE n_digit / chars END AS digit_ratio,
        |    CASE WHEN chars = 0 THEN 0.0 ELSE n_upper / chars END AS upper_ratio,
        |    CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(no_ws AS DOUBLE) / ntok END AS meanlen,
        |    CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(hits AS DOUBLE) / ntok END AS stop_ratio,
        |    CASE WHEN ntok = 0 THEN 0.0 ELSE 1.0 - CAST(ndis AS DOUBLE) / ntok END AS rep
        |  FROM f)
        |SELECT
        |  CAST(sum(CASE WHEN alpha_ratio >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_ok,
        |  CAST(sum(CASE WHEN raw_len = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_len_match,
        |  CAST(sum(raw_len) AS BIGINT) AS sum_chars,
        |  CAST(sum(ntok) AS BIGINT) AS sum_tokens_f,
        |  CAST(sum(CASE WHEN meanlen >= 2 AND meanlen <= 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_meanlen_ok,
        |  CAST(sum(CASE WHEN punct_ratio <= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_punct_ok,
        |  CAST(sum(CASE WHEN stop_ratio >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_ok,
        |  CAST(sum(CASE WHEN rep <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_ok,
        |  CAST(sum(CASE WHEN digit_ratio > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_digit_any,
        |  CAST(sum(CASE WHEN upper_ratio > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_upper_any,
        |  CAST(sum(CASE WHEN
        |    (CASE WHEN ntok >= 5 THEN 1 ELSE 0 END) + (CASE WHEN ntok <= 100000 THEN 1 ELSE 0 END) +
        |    (CASE WHEN meanlen >= 2 AND meanlen <= 12 THEN 1 ELSE 0 END) +
        |    (CASE WHEN alpha_ratio >= 0.6 THEN 1 ELSE 0 END) +
        |    (CASE WHEN punct_ratio <= 0.25 THEN 1 ELSE 0 END) +
        |    (CASE WHEN stop_ratio >= 0.05 THEN 1 ELSE 0 END) +
        |    (CASE WHEN rep <= 0.5 THEN 1 ELSE 0 END) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_quality
        |FROM g""".stripMargin,

    // All three facts replay from raw column lengths under the pinned
    // template: every row reconstructs exactly (so n_exact = count(*)),
    // and the extracted total is len(source) + len(text) + 16 fixed
    // chars (2 newlines + the 14-char decoded entity line).
    "q_text_html_extract" ->
      """SELECT count(*) AS n_docs,
        |  count(*) AS n_exact,
        |  CAST(sum(length(source) + length(text) + 16) AS BIGINT)
        |    AS sum_extracted_chars
        |FROM documents""".stripMargin,

    // n_docs and n_pos replay the planted label from strings with the
    // exact tokens() rule (space trim, ASCII \s split); the learnability
    // facts (AUC, separation, loss descent, unit scores, Pareto
    // monotonicity) are frozen tolerance-band booleans — DuckDB has no
    // gradient-descent arm to recompute weights with.
    "q_quality_classifier" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(CASE WHEN list_contains(
        |    regexp_split_to_array(trim(text), '\s+'), 'spark')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  TRUE AS auc_ok, TRUE AS separation_ok, TRUE AS loss_decreasing,
        |  TRUE AS scores_in_unit, TRUE AS pareto_monotone
        |FROM documents""".stripMargin,

    // Same quality arithmetic as q_text_quality, grouped by source — the
    // streaming sink's final table must equal this batch replay.
    "q_stream_quality" ->
      """WITH f AS (
        |  SELECT source, text,
        |    CAST(length(trim(text)) AS DOUBLE) AS chars,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS ndis,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','and','of','to','in','is','that','it','was','for',
        |          'with','as','his','on','be','at','by','this','had','not'], x))) END AS hits,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[A-Za-z]', '', 'g')) AS n_alpha,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[[:punct:]]', '', 'g')) AS n_punct,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS no_ws
        |  FROM documents),
        |g AS (
        |  SELECT source, ntok,
        |    CASE WHEN chars = 0 THEN 0.0 ELSE n_alpha / chars END AS alpha_ratio,
        |    CASE WHEN chars = 0 THEN 0.0 ELSE n_punct / chars END AS punct_ratio,
        |    CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(no_ws AS DOUBLE) / ntok END AS meanlen,
        |    CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(hits AS DOUBLE) / ntok END AS stop_ratio,
        |    CASE WHEN ntok = 0 THEN 0.0 ELSE 1.0 - CAST(ndis AS DOUBLE) / ntok END AS rep
        |  FROM f)
        |SELECT source, count(*) AS n,
        |  CAST(sum(CASE WHEN
        |    (CASE WHEN ntok >= 5 THEN 1 ELSE 0 END) + (CASE WHEN ntok <= 100000 THEN 1 ELSE 0 END) +
        |    (CASE WHEN meanlen >= 2 AND meanlen <= 12 THEN 1 ELSE 0 END) +
        |    (CASE WHEN alpha_ratio >= 0.6 THEN 1 ELSE 0 END) +
        |    (CASE WHEN punct_ratio <= 0.25 THEN 1 ELSE 0 END) +
        |    (CASE WHEN stop_ratio >= 0.05 THEN 1 ELSE 0 END) +
        |    (CASE WHEN rep <= 0.5 THEN 1 ELSE 0 END) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST(sum(ntok) AS BIGINT) AS sum_tokens
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS sum_bytes,
        |count(DISTINCT text) AS n_checksums,
        |count(*) AS n_octet FROM documents""".stripMargin,

    // GENUINE exhaustive replay: DuckDB recomputes every train-x-eval
    // cosine and counts the survivors below the 0.9 threshold.
    "q_decontaminate_semantic" ->
      """WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 50 = 0),
        |flag AS (SELECT t.vec_id FROM embeddings t
        |  WHERE EXISTS (SELECT 1 FROM ev
        |    WHERE list_cosine_similarity(t.embedding, ev.embedding) >= 0.9))
        |SELECT (SELECT count(*) FROM embeddings) AS n_train,
        |  (SELECT count(*) FROM ev) AS n_eval,
        |  CAST((SELECT count(*) FROM embeddings)
        |    - (SELECT count(*) FROM flag) AS BIGINT) AS n_kept""".stripMargin,

    // Group sizes are table facts; the stratified-weighted-sample
    // guarantees fold into pinned booleans (see q_sample_weighted_group).
    "q_sample_weighted_group" ->
      """WITH g AS (SELECT source, least(5, count(*)) AS take
        |  FROM documents GROUP BY source)
        |SELECT CAST(sum(take) AS BIGINT) AS n_total,
        |  count(*) AS n_groups, TRUE AS per_group_ok,
        |  TRUE AS deterministic_ok, TRUE AS bias_ok
        |FROM g""".stripMargin,

    // Exact recomputation of the distinct-3-gram Jaccard facts on shingle
    // strings (identical tokenization and the short-doc whole-text window
    // convention); the KMV-estimate band is the pinned guarantee.
    "q_corpus_overlap" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(lt) - 2, 1)),
        |    i -> array_to_string(lt[i:i+2], ' '))) AS w FROM tk),
        |ga AS (SELECT DISTINCT w FROM g WHERE doc_id % 3 <> 2),
        |gb AS (SELECT DISTINCT w FROM g WHERE doc_id % 3 <> 0)
        |SELECT (SELECT count(*) FROM ga) AS n_grams_a,
        |  (SELECT count(*) FROM gb) AS n_grams_b,
        |  (SELECT count(*) FROM ga JOIN gb USING (w)) AS n_inter,
        |  TRUE AS estimate_band_ok""".stripMargin,

    // Replays q_decontaminate's planted construction for the table facts
    // (n_docs, n_contaminated); the bloom's one-directional error
    // guarantees fold into pinned booleans (the filter's bit pattern is
    // not SQL-replayable; the properties it must satisfy are).
    "q_decontaminate_bloom" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt FROM documents),
        |evsrc AS (
        |  SELECT array_to_string(lt[6:26], ' ') AS text FROM tk WHERE doc_id % 100 = 1
        |  UNION ALL SELECT 'qa0 qa1 qa2 qa3 qa4 qa5 qa6 qa7 qa8 qa9 qa10 qa11 qa12 qa13 qa14 qa15 qa16 qa17 qa18 qa19'
        |  UNION ALL SELECT 'qb0 qb1 qb2 qb3 qb4 qb5 qb6 qb7 qb8 qb9 qb10 qb11 qb12 qb13 qb14 qb15 qb16 qb17 qb18 qb19'
        |  UNION ALL SELECT 'qc0 qc1 qc2 qc3 qc4 qc5 qc6 qc7 qc8 qc9 qc10 qc11 qc12 qc13 qc14 qc15 qc16 qc17 qc18 qc19'),
        |evtk AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS lt FROM evsrc),
        |evg AS (SELECT DISTINCT w FROM (
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(lt) - 12, 1)),
        |    i -> array_to_string(lt[i:i+12], ' '))) AS w FROM evtk)),
        |tg AS (SELECT DISTINCT doc_id, w FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(lt) - 12, 1)),
        |    i -> array_to_string(lt[i:i+12], ' '))) AS w FROM tk)),
        |per AS (SELECT doc_id, sum(CASE WHEN w IN (SELECT w FROM evg) THEN 1 ELSE 0 END) AS n_hits
        |  FROM tg GROUP BY doc_id)
        |SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  CAST(sum(CASE WHEN n_hits >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  TRUE AS no_false_neg_ok, TRUE AS fp_band_ok
        |FROM per""".stripMargin,

    // Full replay of the int8 quantization arithmetic: per-vector scale
    // (max|x|/127 over the same float->double casts), quantized-value
    // checksums, and the reconstruction bound — all identical double ops.
    "q_embed_quantize" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs FROM embeddings),
        |s AS (SELECT vec_id, xs,
        |    list_max(list_transform(xs, x -> abs(x))) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, scale, xs,
        |    CASE WHEN scale = 0 THEN list_transform(xs, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(xs, x -> CAST(round(x/scale) AS BIGINT)) END AS qs
        |  FROM s)
        |SELECT vec_id, scale AS q_scale,
        |  CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |  CAST(list_min(qs) AS BIGINT) AS q_min,
        |  CAST(list_max(qs) AS BIGINT) AS q_max,
        |  len(list_filter(generate_series(1, len(qs)),
        |    i -> abs(qs[i]*scale - xs[i]) > scale/2)) = 0 AS recon_ok
        |FROM q ORDER BY vec_id""".stripMargin,

    // n_exact is replayable (5 queries x 10 neighbors over >= 20 corpus
    // rows); the recall band is the hash-frozen pin (see
    // q_ann_quantized_recall in `queries`).
    "q_ann_quantized_recall" ->
      """SELECT CAST(least(5, (SELECT count(*) FROM embeddings WHERE vec_id < 5)) * 10
        |  AS BIGINT) AS n_exact, TRUE AS recall_ok
        |FROM (SELECT 1)""".stripMargin,

    // n is replayable; code bounds / dimensionality / Lloyd monotonicity
    // are the hash-frozen spec booleans (codebook is k-means output).
    "q_embed_pq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, TRUE AS codes_len_ok,
        |  TRUE AS codes_in_range, TRUE AS dim_ok, TRUE AS refine_improves
        |FROM embeddings""".stripMargin,

    // Persisted-index roundtrip: n_queries replays; the save/load
    // identity, row count, and partition-pruned scan are frozen booleans.
    "q_ann_index_persist" ->
      """SELECT CAST(least(5, (SELECT count(*) FROM embeddings)) AS BIGINT) AS n_queries,
        |  TRUE AS rows_ok, TRUE AS identical_topk, TRUE AS partition_pruned
        |FROM (SELECT 1)""".stripMargin,

    // Incremental append: n_queries replays; append==rebuild top-k
    // identity and the touched-partitions facts are frozen booleans.
    "q_ann_index_append" ->
      """SELECT CAST(least(5, (SELECT count(*) FROM embeddings)) AS BIGINT) AS n_queries,
        |  TRUE AS rows_ok, TRUE AS identical_topk,
        |  TRUE AS append_only_batch_cells, TRUE AS preexisting_untouched
        |FROM (SELECT 1)""".stripMargin,

    // Compaction: n_queries replays; the probe identity, file-count
    // shrink, one-file-per-cell, and sidecar-survival facts are frozen
    // booleans.
    "q_ann_index_compact" ->
      """SELECT CAST(least(5, (SELECT count(*) FROM embeddings)) AS BIGINT) AS n_queries,
        |  TRUE AS rows_ok, TRUE AS identical_topk, TRUE AS files_shrunk,
        |  TRUE AS one_file_per_cell, TRUE AS meta_survived_swap
        |FROM (SELECT 1)""".stripMargin,

    // Same shape as q_ann_quantized_recall: replayable exact-arm size,
    // hash-frozen recall pin.
    "q_ann_pq_recall" ->
      """SELECT CAST(least(5, (SELECT count(*) FROM embeddings WHERE vec_id < 5)) * 10
        |  AS BIGINT) AS n_exact, TRUE AS recall_ok
        |FROM (SELECT 1)""".stripMargin,

    // Hybrid-index recall: replayable exact-arm size, hash-frozen pin
    // (cell-miss + quantization budget at nProbe=4 of 8 cells).
    "q_ann_ivfpq_recall" ->
      """SELECT CAST(least(5, (SELECT count(*) FROM embeddings WHERE vec_id < 5)) * 10
        |  AS BIGINT) AS n_exact, TRUE AS recall_ok
        |FROM (SELECT 1)""".stripMargin,

    // Genuine replay of the rank-0 BPE merge: the same lowercased
    // whitespace tokenization, adjacent-char pair counts over all word
    // occurrences, and the (count desc, left asc, right asc) tie-break.
    // The sequence invariants are the hash-frozen booleans.
    "q_bpe_train" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |wf AS (SELECT w FROM w WHERE w <> '' AND length(w) >= 2),
        |wi AS (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i FROM wf),
        |p AS (SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r FROM wi)
        |SELECT l AS first_left, r AS first_right,
        |  CAST(count(*) AS BIGINT) AS first_count,
        |  TRUE AS ranks_contiguous, TRUE AS counts_nonincreasing
        |FROM p GROUP BY l, r
        |ORDER BY count(*) DESC, l, r LIMIT 1""".stripMargin,

    // n_docs is replayable; roundtrip identity / token bound / compression
    // are frozen (the merge table is the trainer's output).
    "q_bpe_encode" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS all_roundtrip,
        |  TRUE AS tokens_le_chars, TRUE AS compressed
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // Byte-level roundtrip: n_docs replays count + the 5 non-ASCII
    // literals; the lossless decode identity and totality are frozen.
    "q_bpe_bytes" ->
      """SELECT CAST(count(*) + 5 AS BIGINT) AS n_docs, TRUE AS all_roundtrip,
        |  TRUE AS all_encodable, TRUE AS merged_something
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // Tokenizer save/load: n_docs replays; the structural and
    // encode-identity facts are frozen booleans.
    "q_bpe_model_roundtrip" ->
      """SELECT count(*) AS n_docs, TRUE AS merges_equal,
        |  TRUE AS flag_survives, TRUE AS encode_identical
        |FROM documents WHERE text IS NOT NULL AND doc_id < 300""".stripMargin,

    // n_words and n_pieces are genuine recomputations under the shared
    // word rule — the vocabulary size is min(target, distinct substrings
    // of length <= 8), counted here over a 64-position series whose
    // sufficiency word_len_le_64 itself verifies on both sides. The
    // model facts are pinned invariants (alphabet coverage,
    // normalization, EM monotonicity — see the query comment).
    "q_unigram_train" ->
      """WITH words AS (
        |  SELECT DISTINCT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |subs AS (
        |  SELECT DISTINCT substring(w, s, l) AS p
        |  FROM words, generate_series(1, 64) AS g(s), generate_series(1, 8) AS h(l)
        |  WHERE w <> '' AND s + l - 1 <= length(w))
        |SELECT (SELECT count(*) FROM words WHERE w <> '') AS n_words,
        |  (SELECT least(300, count(*)) FROM subs) AS n_pieces,
        |  (SELECT max(length(w)) FROM words) <= 64 AS word_len_le_64,
        |  TRUE AS alphabet_covered, TRUE AS normalized,
        |  TRUE AS em_monotone, TRUE AS top_word_is_piece""".stripMargin,

    // n_docs and the clean-corpus no-op replay; the planted repairs are
    // pinned booleans (byte-level encoding surgery has no DuckDB
    // counterpart).
    "q_text_mojibake" ->
      """SELECT count(*) AS n_docs, TRUE AS unchanged_all,
        |  TRUE AS planted_repaired
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // Full replay: same tokenization, same distinct 5-token windows on
    // both halves, same left-join novelty counts, floor-division fixed
    // point (Spark `div` == DuckDB `//` for non-negative longs).
    "q_text_novelty" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt
        |  FROM documents WHERE text IS NOT NULL),
        |ref AS (SELECT DISTINCT unnest(list_transform(
        |    generate_series(1, len(lt) - 4),
        |    i -> array_to_string(lt[i:i+4], ' '))) AS gram
        |  FROM tk WHERE doc_id % 2 = 0 AND len(lt) >= 5),
        |sg AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |    generate_series(1, len(lt) - 4),
        |    i -> array_to_string(lt[i:i+4], ' '))) AS gram
        |  FROM tk WHERE doc_id % 2 = 1 AND len(lt) >= 5),
        |j AS (SELECT sg.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_novel
        |  FROM sg LEFT JOIN ref ON sg.gram = ref.gram
        |  GROUP BY sg.doc_id)
        |SELECT doc_id, n_grams, n_novel,
        |  CAST((n_novel * 1000000) // n_grams AS BIGINT) AS novelty_fp
        |FROM j ORDER BY doc_id""".stripMargin,

    // n_docs replays; the budget facts are pinned invariants on the
    // executed prefix (see the query comment) — the hash order itself is
    // engine-internal, but within/fills/monotone/degenerate hold for any
    // correct prefix-stop selection.
    "q_sample_token_budget" ->
      """SELECT count(*) AS n_docs,
        |  TRUE AS within_budget, TRUE AS fills_budget,
        |  TRUE AS monotone_subset, TRUE AS full_when_covered
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // n replays exactly; the clustering facts are pinned invariants on
    // the executed model (see the query comment) — centroids are
    // train-data-dependent, so DuckDB cannot re-derive them, but the
    // nearest-cell recomputation and the quota arithmetic hold for ANY
    // correct clustering.
    "q_cluster_kmeans" ->
      """SELECT count(*) AS n,
        |  TRUE AS assigned_nearest, TRUE AS sizes_sum_to_n,
        |  TRUE AS cells_le_k, TRUE AS cells_ge_2, TRUE AS lloyd_monotone,
        |  TRUE AS balanced_ok, TRUE AS assign_stable
        |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin,

    // n_raw / n_target / n_out replay exactly: the target rule is integer
    // token counts + IEEE double division, identical in both engines;
    // n_out = least(100, n_raw) because Gumbel top-k returns min(n, rows).
    // The hash-dependent selection itself is pinned by the query's own
    // enrichment/determinism/finiteness booleans.
    "q_dsir_resample" ->
      """WITH t AS (
        |  SELECT len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |           x -> x = 'spark')) * 1.0
        |         / len(regexp_split_to_array(trim(lower(text)), '\s+')) AS r
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT count(*) AS n_raw,
        |  count(*) FILTER (r > 0.06) AS n_target,
        |  least(100, count(*)) AS n_out,
        |  TRUE AS enriched, TRUE AS deterministic, TRUE AS weights_finite
        |FROM t""".stripMargin,

    // sum_piece_chars replays from raw strings: Viterbi segmentation
    // partitions each word, so piece characters total exactly the
    // corpus's non-whitespace characters.
    // Exact replay of the fusion arithmetic (CAST 1.0 AS DOUBLE keeps
    // DuckDB in IEEE doubles, not DECIMAL; two-term sums are
    // order-independent so score_fp is bit-stable).
    "q_retrieval_rrf" ->
      """WITH b AS (SELECT CAST(g.range // 50 AS BIGINT) AS q_id,
        |    g.range % 50 AS doc_id FROM range(0, 150) g),
        |r1 AS (SELECT q_id, doc_id, (doc_id * 7 + q_id) % 50 + 1 AS rank
        |  FROM b),
        |r2 AS (SELECT q_id, doc_id, (doc_id * 13 + q_id * 3) % 50 + 1 AS rank
        |  FROM b),
        |c AS (SELECT q_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS c
        |    FROM r1 WHERE rank <= 20
        |  UNION ALL
        |  SELECT q_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS c
        |    FROM r2 WHERE rank <= 20),
        |sc AS (SELECT q_id, doc_id, sum(c) AS s FROM c GROUP BY q_id, doc_id)
        |SELECT q_id, doc_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY s DESC, doc_id ASC) AS INT) AS rank,
        |  CAST(floor(s * 1e9) AS BIGINT) AS score_fp
        |FROM sc
        |QUALIFY rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // GENUINE replay of the whole hybrid stack: full BM25 recomputation
    // (the q_text_bm25 oracle) ranked top-10, exhaustive double-precision
    // cosine top-10 (the dense probe is exactly brute force by
    // construction — every cell probed, every candidate exact-reranked,
    // self excluded), then the two-term RRF sum (order-independent IEEE,
    // bit-stable at 1e-9 fixed point). Pruning facts are pinned booleans.
    "q_retrieval_hybrid" ->
      """WITH c AS (SELECT d.doc_id AS doc_id,
        |    regexp_split_to_array(trim(lower(d.text)), '\s+') AS lt,
        |    CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.text IS NOT NULL),
        |tok AS (SELECT doc_id, unnest(lt) AS term FROM c),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
        |  GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |dfre AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |q AS (SELECT doc_id AS q_id, array_to_string(lt[1:8], ' ') AS qt,
        |    v AS qv
        |  FROM c WHERE doc_id IN (1, 3, 5)),
        |qterm AS (SELECT DISTINCT q_id, unnest(
        |    regexp_split_to_array(trim(lower(qt)), '\s+')) AS term FROM q),
        |qterm2 AS (SELECT q_id, term FROM qterm WHERE term <> ''),
        |sc AS (SELECT qterm2.q_id AS q_id, tf.doc_id AS doc_id,
        |    sum(ln(1 + ((SELECT n FROM stats) - dfre.df + 0.5)
        |          / (dfre.df + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
        |          / (SELECT avgdl FROM stats)))) AS score
        |  FROM qterm2 JOIN dfre USING (term) JOIN tf USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  GROUP BY qterm2.q_id, tf.doc_id),
        |bm AS (SELECT q_id, doc_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM sc QUALIFY rank <= 10),
        |dn AS (SELECT q.q_id AS q_id, c.doc_id AS doc_id,
        |    list_cosine_similarity(q.qv, c.v) AS cos
        |  FROM q JOIN c ON c.doc_id <> q.q_id),
        |dnr AS (SELECT q_id, doc_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, doc_id ASC) AS rank
        |  FROM dn QUALIFY rank <= 10),
        |u AS (SELECT q_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS con
        |    FROM bm
        |  UNION ALL
        |  SELECT q_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS con
        |    FROM dnr),
        |f AS (SELECT q_id, doc_id, sum(con) AS s FROM u GROUP BY q_id, doc_id)
        |SELECT q_id, doc_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY s DESC, doc_id ASC) AS INT) AS rank,
        |  CAST(floor(s * 1e9) AS BIGINT) AS score_fp,
        |  TRUE AS bm25_pruned, TRUE AS ann_pruned
        |FROM f
        |QUALIFY rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // Model-stage replay: every class is 21 tokens/doc, so each stage is
    // (rows, 21*rows). Model stage drops the promo third (160 survive),
    // DSIR keeps exactly its top-k 40; the class identity of the DSIR
    // winners is the pinned boolean (classifier weights and importance
    // ratios are in-engine models — their EFFECT is what the id
    // arithmetic replays).
    "q_pipeline_model_stages" ->
      """WITH k AS (SELECT g.range AS id FROM range(0, 240) g),
        |s AS (
        |  SELECT 0 AS ord, 'input' AS stage, count(*) AS n FROM k
        |  UNION ALL SELECT 1, 'fix_encoding', count(*) FROM k
        |  UNION ALL SELECT 2, 'html_extract', count(*) FROM k
        |  UNION ALL SELECT 3, 'langid_filter', count(*) FROM k
        |  UNION ALL SELECT 4, 'quality_filter', count(*) FROM k
        |  UNION ALL SELECT 5, 'model_quality_filter', count(*) FROM k
        |    WHERE id % 3 <> 2
        |  UNION ALL SELECT 6, 'dsir_resample', 40
        |  UNION ALL SELECT 7, 'line_dedup', 40
        |  UNION ALL SELECT 8, 'exact_dedup', 40
        |  UNION ALL SELECT 9, 'near_dedup', 40)
        |SELECT CAST(ord AS INT) AS ord, stage, CAST(n AS BIGINT) AS rows_out,
        |  CAST(n * 21 AS BIGINT) AS tokens_out, CAST(0 AS BIGINT) AS capped_rows,
        |  TRUE AS dsir_all_target_class
        |FROM s ORDER BY ord""".stripMargin,

    // STAGE-BY-STAGE replay of the whole curation pipeline: DuckDB
    // reconstructs the same 600 planted documents and applies each
    // stage's survivor rule (language family, quality family, line
    // dedup's token shrink, mirrored exact copies, +4-token near-dup
    // variants, eval-copied decontamination victims) from the id
    // arithmetic, recomputing every stage's row count and token sum.
    "q_pipeline_e2e" ->
      """WITH ids AS (SELECT g.range AS id FROM range(0, 600) g),
        |b1 AS (SELECT id,
        |  CASE
        |    WHEN id < 300 AND id % 5 = 0 THEN
        |      'le chat et le chien sont dans la maison avec les amis et la famille w' || id
        |    WHEN id < 300 AND id % 7 = 0 THEN
        |      'the it was !!!!!!!!!!!!!!!!!!!! ???????????????????? @@@@@@@@@@@@@@@@@@@@ #################### $$$$$$$$$$$$$$$$$$$$ %%%%%%%%%%%%%%%%%%%% ^^^^^^^^^^^^^^^^^^^^'
        |    WHEN id < 300 AND id % 11 = 0 THEN
        |      'the cat sat on the mat with w' || id || 'x' || chr(10) ||
        |      'it was here and it is there w' || id || 'y' || chr(10) ||
        |      'it was here and it is there w' || id || 'y'
        |    WHEN id < 300 THEN
        |      'w' || id || 'a the quick brown fox jumps over the lazy dog w' ||
        |      id || 'b it was good that it is here and now w' || id || 'c'
        |    WHEN (id-300) % 5 = 0 OR (id-300) % 7 = 0 OR (id-300) % 11 = 0 THEN
        |      'w' || id || 'a the quick brown fox jumps over the lazy dog w' ||
        |      id || 'b it was good that it is here and now w' || id || 'c'
        |    WHEN (id-300) % 13 = 0 THEN
        |      'w' || (id-300) || 'a the quick brown fox jumps over the lazy dog w' ||
        |      (id-300) || 'b it was good that it is here and now w' || (id-300) || 'c'
        |    WHEN (id-300) % 17 = 0 THEN
        |      'w' || (id-300) || 'a the quick brown fox jumps over the lazy dog w' ||
        |      (id-300) || 'b it was good that it is here and now w' || (id-300) ||
        |      'c extra'
        |    ELSE
        |      'w' || id || 'a the quick brown fox jumps over the lazy dog w' ||
        |      id || 'b it was good that it is here and now w' || id || 'c'
        |  END AS body FROM ids),
        |b2 AS (SELECT id, body,
        |  CASE WHEN id < 300 AND id % 11 = 0 AND id % 5 <> 0 AND id % 7 <> 0
        |    THEN 'the cat sat on the mat with w' || id || 'x' || chr(10) ||
        |         'it was here and it is there w' || id || 'y'
        |    ELSE body END AS body5,
        |  '<p>' || body || '</p><script>var x = 1;</script>' AS wrapped
        |  FROM b1),
        |g AS (SELECT id,
        |  len(regexp_split_to_array(trim(wrapped), '\s+')) AS tokw,
        |  len(regexp_split_to_array(trim(body), '\s+')) AS tokb,
        |  len(regexp_split_to_array(trim(body5), '\s+')) AS tok5,
        |  NOT (id < 300 AND id % 5 = 0) AS k_lang,
        |  NOT (id < 300 AND id % 5 = 0)
        |    AND NOT (id < 300 AND id % 7 = 0 AND id % 5 <> 0) AS k_q,
        |  NOT (id < 300 AND id % 5 = 0)
        |    AND NOT (id < 300 AND id % 7 = 0 AND id % 5 <> 0)
        |    AND NOT (id >= 300 AND (id-300) % 13 = 0 AND (id-300) % 5 <> 0
        |      AND (id-300) % 7 <> 0 AND (id-300) % 11 <> 0) AS k_exact,
        |  NOT (id < 300 AND id % 5 = 0)
        |    AND NOT (id < 300 AND id % 7 = 0 AND id % 5 <> 0)
        |    AND NOT (id >= 300 AND (id-300) % 13 = 0 AND (id-300) % 5 <> 0
        |      AND (id-300) % 7 <> 0 AND (id-300) % 11 <> 0)
        |    AND NOT (id >= 300 AND (id-300) % 17 = 0 AND (id-300) % 13 <> 0
        |      AND (id-300) % 5 <> 0 AND (id-300) % 7 <> 0
        |      AND (id-300) % 11 <> 0) AS k_near
        |  FROM b2)
        |SELECT CAST(0 AS INT) AS ord, 'input' AS stage,
        |    count(*) AS rows_out, CAST(sum(tokw) AS BIGINT) AS tokens_out,
        |    CAST(0 AS BIGINT) AS capped_rows
        |  FROM g
        |UNION ALL SELECT 1, 'fix_encoding', count(*), CAST(sum(tokw) AS BIGINT), 0
        |  FROM g
        |UNION ALL SELECT 2, 'html_extract', count(*), CAST(sum(tokb) AS BIGINT), 0
        |  FROM g
        |UNION ALL SELECT 3, 'langid_filter', count(*), CAST(sum(tokb) AS BIGINT), 0
        |  FROM g WHERE k_lang
        |UNION ALL SELECT 4, 'quality_filter', count(*), CAST(sum(tokb) AS BIGINT), 0
        |  FROM g WHERE k_q
        |UNION ALL SELECT 5, 'line_dedup', count(*), CAST(sum(tok5) AS BIGINT), 0
        |  FROM g WHERE k_q
        |UNION ALL SELECT 6, 'exact_dedup', count(*), CAST(sum(tok5) AS BIGINT), 0
        |  FROM g WHERE k_exact
        |UNION ALL SELECT 7, 'near_dedup', count(*), CAST(sum(tok5) AS BIGINT), 0
        |  FROM g WHERE k_near
        |UNION ALL SELECT 8, 'decontaminate', count(*), CAST(sum(tok5) AS BIGINT), 0
        |  FROM g WHERE k_near AND id NOT IN (2, 4)
        |ORDER BY ord""".stripMargin,

    // Slot-arithmetic replay of the image pipeline's survival counts; the
    // decode-roundtrip and survivor-identity facts are pinned booleans.
    "q_pipeline_images" ->
      """WITH v AS (SELECT g.range AS id FROM range(0, 150) g)
        |SELECT CAST(0 AS INT) AS ord, 'input' AS stage,
        |    count(*) AS rows_out, TRUE AS resized_ok, TRUE AS survivors_ok
        |  FROM v
        |UNION ALL SELECT 1, 'decode_phash', count(*), TRUE, TRUE
        |  FROM v WHERE id % 5 <> 4
        |UNION ALL SELECT 2, 'exact_dedup', count(*), TRUE, TRUE
        |  FROM v WHERE id % 5 IN (0, 1, 2)
        |UNION ALL SELECT 3, 'near_dedup', count(*), TRUE, TRUE
        |  FROM v WHERE id % 5 = 0
        |UNION ALL SELECT 4, 'resize', count(*), TRUE, TRUE
        |  FROM v WHERE id % 5 = 0
        |ORDER BY ord""".stripMargin,

    // GENUINE arithmetic replay of the interleaved plant: text-stage doc
    // survival (mod-5 French at langid, mod-7 spam at quality, ≡2-mod-35
    // byte-copies at exact dedup, ≡4-mod-35 +1-token near-copies at
    // minhash near-dup, docs 41/76 at decontamination — r15) times the
    // per-slot image fates (mod-3 garbage at decode, byte copy at exact,
    // even-doc resize at near-dup) — every stage's docs_out/images_out
    // derives from the id arithmetic; the shape facts are pinned booleans.
    "q_pipeline_interleaved" ->
      """WITH v AS (SELECT g.range AS id FROM range(0, 200) g),
        |k AS (SELECT id,
        |  CASE WHEN id % 2 = 0 THEN 3 ELSE 2 END AS slots,
        |  CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END AS ev,
        |  CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END AS garb,
        |  NOT (id % 5 = 0) AS k_lang,
        |  NOT (id % 5 = 0) AND NOT (id % 7 = 0) AS k_q,
        |  NOT (id % 5 = 0) AND NOT (id % 7 = 0) AND NOT (id % 35 = 2) AS k_ex,
        |  NOT (id % 5 = 0) AND NOT (id % 7 = 0) AND NOT (id % 35 = 2)
        |    AND NOT (id % 35 = 4) AS k_nr,
        |  NOT (id % 5 = 0) AND NOT (id % 7 = 0) AND NOT (id % 35 = 2)
        |    AND NOT (id % 35 = 4) AND id NOT IN (41, 76) AS k_dc
        |  FROM v)
        |SELECT CAST(0 AS INT) AS ord, 'input' AS stage,
        |    count(*) AS docs_out, CAST(sum(slots) AS BIGINT) AS images_out,
        |    TRUE AS resized_ok, TRUE AS one_image_ok
        |  FROM k
        |UNION ALL SELECT 1, 'fix_encoding', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k
        |UNION ALL SELECT 2, 'html_extract', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k
        |UNION ALL SELECT 3, 'langid_filter', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k WHERE k_lang
        |UNION ALL SELECT 4, 'quality_filter', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k WHERE k_q
        |UNION ALL SELECT 5, 'line_dedup', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k WHERE k_q
        |UNION ALL SELECT 6, 'exact_dedup', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k WHERE k_ex
        |UNION ALL SELECT 7, 'near_dedup', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k WHERE k_nr
        |UNION ALL SELECT 8, 'decontaminate', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k WHERE k_dc
        |UNION ALL SELECT 9, 'img_explode', count(*), CAST(sum(slots) AS BIGINT),
        |  TRUE, TRUE FROM k WHERE k_dc
        |UNION ALL SELECT 10, 'img_decode', count(*),
        |  CAST(sum(slots - garb) AS BIGINT), TRUE, TRUE FROM k WHERE k_dc
        |UNION ALL SELECT 11, 'img_exact_dedup', count(*),
        |  CAST(sum(slots - 1) AS BIGINT), TRUE, TRUE FROM k WHERE k_dc
        |UNION ALL SELECT 12, 'img_near_dedup', count(*),
        |  CAST(sum(slots - 1 - ev) AS BIGINT), TRUE, TRUE FROM k WHERE k_dc
        |UNION ALL SELECT 13, 'img_resize', count(*),
        |  CAST(sum(slots - 1 - ev) AS BIGINT), TRUE, TRUE FROM k WHERE k_dc
        |UNION ALL SELECT 14, 'reassemble', count(*), count(*),
        |  TRUE, TRUE FROM k WHERE k_dc
        |ORDER BY ord""".stripMargin,

    // GENUINE replay of the audio+video interleaved plant: per-doc slot
    // fates from id arithmetic — text copies (≡7 mod 30) die at
    // exact_dedup with all four media slots; audio garbage (≡0 mod 4)
    // at aud_decode, audio byte-copies (≡3 mod 10) at aud_exact_dedup,
    // rescaled copies (≡5 mod 10) at aud_near_dedup; video garbage
    // (≡0 mod 6) at vid_decode, byte-copies (≡5 mod 10) at
    // vid_exact_dedup, re-muxes (≡3 mod 10) at vid_near_dedup.
    "q_pipeline_interleaved_av" ->
      """WITH v AS (SELECT g.range AS id FROM range(0, 120) g),
        |k AS (SELECT id,
        |  NOT (id % 30 = 7) AS alive,
        |  CASE WHEN id % 4 = 0 THEN 1 ELSE 0 END AS a_garb,
        |  CASE WHEN id % 10 = 3 THEN 1 ELSE 0 END AS a_exact,
        |  CASE WHEN id % 10 IN (3, 5) THEN 1 ELSE 0 END AS a_dup,
        |  CASE WHEN id % 6 = 0 THEN 1 ELSE 0 END AS v_garb,
        |  CASE WHEN id % 10 = 5 THEN 1 ELSE 0 END AS v_exact,
        |  CASE WHEN id % 10 IN (3, 5) THEN 1 ELSE 0 END AS v_dup
        |  FROM v)
        |SELECT CAST(0 AS INT) AS ord, 'input' AS stage, count(*) AS docs_out,
        |    CAST(4 * count(*) AS BIGINT) AS media_out,
        |    TRUE AS audio_counts_ok, TRUE AS video_counts_ok FROM k
        |UNION ALL SELECT 1, 'fix_encoding', count(*),
        |  CAST(4 * count(*) AS BIGINT), TRUE, TRUE FROM k
        |UNION ALL SELECT 2, 'html_extract', count(*),
        |  CAST(4 * count(*) AS BIGINT), TRUE, TRUE FROM k
        |UNION ALL SELECT 3, 'langid_filter', count(*),
        |  CAST(4 * count(*) AS BIGINT), TRUE, TRUE FROM k
        |UNION ALL SELECT 4, 'quality_filter', count(*),
        |  CAST(4 * count(*) AS BIGINT), TRUE, TRUE FROM k
        |UNION ALL SELECT 5, 'line_dedup', count(*),
        |  CAST(4 * count(*) AS BIGINT), TRUE, TRUE FROM k
        |UNION ALL SELECT 6, 'exact_dedup', count(*),
        |  CAST(4 * count(*) AS BIGINT), TRUE, TRUE FROM k WHERE alive
        |UNION ALL SELECT 7, 'near_dedup', count(*),
        |  CAST(4 * count(*) AS BIGINT), TRUE, TRUE FROM k WHERE alive
        |UNION ALL SELECT 8, 'aud_explode', count(*),
        |  CAST(4 * count(*) AS BIGINT), TRUE, TRUE FROM k WHERE alive
        |UNION ALL SELECT 9, 'aud_decode', count(*),
        |  CAST(sum(4 - a_garb) AS BIGINT), TRUE, TRUE FROM k WHERE alive
        |UNION ALL SELECT 10, 'aud_exact_dedup', count(*),
        |  CAST(sum(4 - a_garb - a_exact) AS BIGINT), TRUE, TRUE
        |  FROM k WHERE alive
        |UNION ALL SELECT 11, 'aud_near_dedup', count(*),
        |  CAST(sum(4 - a_garb - a_dup) AS BIGINT), TRUE, TRUE
        |  FROM k WHERE alive
        |UNION ALL SELECT 12, 'vid_explode', count(*),
        |  CAST(sum(4 - a_garb - a_dup) AS BIGINT), TRUE, TRUE
        |  FROM k WHERE alive
        |UNION ALL SELECT 13, 'vid_decode', count(*),
        |  CAST(sum(4 - a_garb - a_dup - v_garb) AS BIGINT), TRUE, TRUE
        |  FROM k WHERE alive
        |UNION ALL SELECT 14, 'vid_exact_dedup', count(*),
        |  CAST(sum(4 - a_garb - a_dup - v_garb - v_exact) AS BIGINT), TRUE, TRUE
        |  FROM k WHERE alive
        |UNION ALL SELECT 15, 'vid_near_dedup', count(*),
        |  CAST(sum(4 - a_garb - a_dup - v_garb - v_dup) AS BIGINT), TRUE, TRUE
        |  FROM k WHERE alive
        |UNION ALL SELECT 16, 'reassemble', count(*),
        |  CAST(sum(4 - a_garb - a_dup - v_garb - v_dup) AS BIGINT), TRUE, TRUE
        |  FROM k WHERE alive
        |ORDER BY ord""".stripMargin,

    // GENUINE replay of the re-encode interleaved plant: all 60 docs
    // survive every text stage (unique English bodies); per-doc slot
    // fates from id%5 — garbage (3) dies at vid_decode, the byte-exact
    // copy (4) at vid_exact_dedup, the re-mux (2) at vid_near_dedup and
    // the RE-ENCODE (1) at the new vid_profile_dedup stage; independent
    // slot1 content (0) survives to reassembly.
    "q_pipeline_interleaved_reenc" ->
      """WITH v AS (SELECT g.range AS id FROM range(0, 60) g),
        |k AS (SELECT id,
        |  CASE WHEN id % 5 = 3 THEN 1 ELSE 0 END AS garb,
        |  CASE WHEN id % 5 = 4 THEN 1 ELSE 0 END AS exct,
        |  CASE WHEN id % 5 = 2 THEN 1 ELSE 0 END AS remux,
        |  CASE WHEN id % 5 = 1 THEN 1 ELSE 0 END AS reenc
        |  FROM v)
        |SELECT CAST(0 AS INT) AS ord, 'input' AS stage, count(*) AS docs_out,
        |    CAST(2 * count(*) AS BIGINT) AS media_out,
        |    TRUE AS video_counts_ok FROM k
        |UNION ALL SELECT 1, 'fix_encoding', count(*),
        |  CAST(2 * count(*) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 2, 'html_extract', count(*),
        |  CAST(2 * count(*) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 3, 'langid_filter', count(*),
        |  CAST(2 * count(*) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 4, 'quality_filter', count(*),
        |  CAST(2 * count(*) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 5, 'line_dedup', count(*),
        |  CAST(2 * count(*) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 6, 'exact_dedup', count(*),
        |  CAST(2 * count(*) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 7, 'near_dedup', count(*),
        |  CAST(2 * count(*) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 8, 'vid_explode', count(*),
        |  CAST(2 * count(*) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 9, 'vid_decode', count(*),
        |  CAST(sum(2 - garb) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 10, 'vid_exact_dedup', count(*),
        |  CAST(sum(2 - garb - exct) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 11, 'vid_near_dedup', count(*),
        |  CAST(sum(2 - garb - exct - remux) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 12, 'vid_profile_dedup', count(*),
        |  CAST(sum(2 - garb - exct - remux - reenc) AS BIGINT), TRUE FROM k
        |UNION ALL SELECT 13, 'reassemble', count(*),
        |  CAST(sum(2 - garb - exct - remux - reenc) AS BIGINT), TRUE FROM k
        |ORDER BY ord""".stripMargin,

    // Complete BM25 replay over base ∪ batch: same word rule, same
    // tf/dl/df aggregates, same smoothed idf and length normalization;
    // round-half-up 1e-4 fixed point (term-sum FP drift ~1e-15 sits ~10
    // orders inside the step). append_equals_rebuild is the in-engine
    // pinned boolean (appended index ≡ rebuilt index).
    "q_text_bm25" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt
        |  FROM documents WHERE text IS NOT NULL AND doc_id < 300),
        |tok AS (SELECT doc_id, unnest(lt) AS term FROM d),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
        |  GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |dfre AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |q AS (SELECT doc_id AS q_id, array_to_string(lt[1:8], ' ') AS qt
        |  FROM d WHERE doc_id IN (1, 3, 5)),
        |qterm AS (SELECT DISTINCT q_id, unnest(
        |    regexp_split_to_array(trim(lower(qt)), '\s+')) AS term FROM q),
        |qterm2 AS (SELECT q_id, term FROM qterm WHERE term <> ''),
        |sc AS (SELECT qterm2.q_id AS q_id, tf.doc_id AS doc_id,
        |    sum(ln(1 + ((SELECT n FROM stats) - dfre.df + 0.5)
        |          / (dfre.df + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
        |          / (SELECT avgdl FROM stats)))) AS score
        |  FROM qterm2 JOIN dfre USING (term) JOIN tf USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  GROUP BY qterm2.q_id, tf.doc_id)
        |SELECT q_id, doc_id, CAST(round(score * 1e4) AS BIGINT) AS score_fp,
        |  TRUE AS append_equals_rebuild,
        |  TRUE AS compact_shrinks_files,
        |  TRUE AS compact_preserves_scores
        |FROM sc ORDER BY q_id, doc_id""".stripMargin,

    // n and the ASCII-subset count replay (same RE2-safe class both
    // engines); the Unicode mapping facts are pinned booleans.
    "q_text_normalize" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN regexp_matches(text, '^[ -~\t\n\r]*$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ascii,
        |  TRUE AS ascii_unchanged, TRUE AS idempotent_all,
        |  TRUE AS planted_ok
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // Row-for-row replay of the sentence rule (same regex, same 0-based
    // raw-match indexing, same space-only trim and empty drop).
    "q_text_sentences" ->
      """WITH m AS (SELECT doc_id,
        |    regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+\z') AS arr
        |  FROM documents WHERE text IS NOT NULL AND doc_id < 200),
        |x AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(arr)),
        |    i -> {'i': i, 's': arr[i]})) AS u FROM m)
        |SELECT doc_id, CAST(u.i - 1 AS INT) AS sent_idx,
        |  trim(u.s) AS sentence
        |FROM x WHERE trim(u.s) <> ''
        |ORDER BY doc_id, sent_idx""".stripMargin,

    // The aggregates come from the roundtripped JSONL frame; DuckDB
    // replays them from the original parquet — equality certifies the
    // write/read cycle lost nothing.
    "q_io_jsonl_roundtrip" ->
      """SELECT count(*) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_text,
        |  TRUE AS roundtrip_identical
        |FROM documents""".stripMargin,

    // n/dim replay directly; trace_fp replays because the covariance
    // trace = Σ per-dimension population variance, basis-independent —
    // products are double-cast on both sides, and the round-half-up 1e-4
    // grid keeps the ~1e-10 cross-route drift (Jacobi vs raw variances)
    // ~6 orders inside the step. Spectral facts are pinned
    // booleans (eigenvectors are engine-internal, but orthonormality and
    // var(pc_j)=λ_j hold for any correct PCA).
    "q_embed_pca" ->
      """WITH e AS (SELECT embedding AS emb FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |x AS (SELECT unnest(list_transform(generate_series(1, len(emb)),
        |    i -> {'i': i, 'v': CAST(emb[i] AS DOUBLE)})) AS s FROM e),
        |pd AS (SELECT s.i AS i, avg(s.v * s.v) - avg(s.v) * avg(s.v) AS var
        |  FROM x GROUP BY s.i)
        |SELECT (SELECT count(*) FROM e) AS n,
        |  (SELECT max(len(emb)) FROM e) AS dim,
        |  CAST(round(1e4 * (SELECT sum(var) FROM pd)) AS BIGINT) AS trace_fp,
        |  TRUE AS orthonormal_ok, TRUE AS eigen_desc_ok,
        |  TRUE AS eigen_nonneg_ok, TRUE AS proj_var_matches,
        |  TRUE AS explained_in_unit""".stripMargin,

    // n replays from the planted-copy arithmetic; the split invariants
    // are pinned booleans (hash assignment and CC are engine-internal,
    // but the no-straddle/atomic-cluster facts hold for any correct
    // leakage-safe split — see the query comment).
    "q_split_leakage_safe" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE text IS NOT NULL)
        |SELECT (SELECT count(*) FROM d)
        |    + 2 * (SELECT count(*) FROM d WHERE doc_id < 50) AS n,
        |  TRUE AS no_straddle, TRUE AS planted_same_split,
        |  TRUE AS coverage, TRUE AS train_frac_ok, TRUE AS val_frac_ok,
        |  TRUE AS test_frac_ok""".stripMargin,

    // Brute-force replay of the complete bounded edit-distance join over
    // the same planted title universe (length-diff prefilter is sound:
    // ed >= |len(a)-len(b)|).
    "q_dedup_edit_distance" ->
      """WITH titles AS (
        |  SELECT doc_id AS id,
        |    regexp_replace(substring(text, 1, 40), '[^ -~]', '', 'g') AS t
        |  FROM documents WHERE text IS NOT NULL AND doc_id < 2000),
        |base AS (SELECT id, t FROM titles WHERE length(t) >= 5),
        |vars AS (SELECT id + 10000000 AS id, substring(t, 2) AS t
        |  FROM base WHERE id % 10 = 0),
        |uni AS (SELECT * FROM base UNION ALL SELECT * FROM vars)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.t, b.t) AS INT) AS dist
        |FROM uni a JOIN uni b
        |  ON a.id < b.id AND abs(length(a.t) - length(b.t)) <= 1
        |WHERE levenshtein(a.t, b.t) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // Full replay: the emitted rows are the exact global top-10 token
    // counts (same word rule, same tie-break); the sketch-quality facts
    // are pinned booleans certified inside the query (see its comment).
    "q_corpus_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT w AS token, count(*) AS c_exact FROM w
        |  WHERE w <> '' GROUP BY w)
        |SELECT token, c_exact, TRUE AS sandwich_ok, TRUE AS error_bound_ok,
        |  TRUE AS top10_certified
        |FROM c ORDER BY c_exact DESC, token ASC LIMIT 10""".stripMargin,

    // n_words and sum_piece_chars replay from the raw strings (the
    // roundtrip invariant makes total piece content = total word chars);
    // the lifecycle/quality facts are pinned booleans, n_merges is the
    // requested vocabulary size (corpus has ≥ 30 pairs above the floor).
    "q_wordpiece" ->
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT count(*) AS n_words,
        |  CAST(sum(length(w)) AS BIGINT) AS sum_piece_chars,
        |  TRUE AS all_roundtrip, TRUE AS no_unk, TRUE AS compressed,
        |  TRUE AS reload_identical, CAST(30 AS BIGINT) AS n_merges,
        |  TRUE AS merge_counts_ge_floor, TRUE AS scores_positive
        |FROM w WHERE w <> ''""".stripMargin,

    "q_unigram_encode" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(length(regexp_replace(trim(lower(text)), '\s+', '', 'g'))) AS BIGINT)
        |    AS sum_piece_chars,
        |  TRUE AS all_roundtrip, TRUE AS compressed, TRUE AS reload_identical
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // Full replay of the bigram-LM scoring: identical tokenization, the
    // corpus bigram/unigram counts, V, and -ln((cb+1)/(cu+V)) averaged
    // per doc at 1e-6 fixed point (summation-order FP drift ~1e-14 sits
    // far inside the rounding step, the temperature-mixing precedent).
    "q_text_perplexity" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt
        |  FROM documents WHERE text IS NOT NULL),
        |base AS (SELECT doc_id, lt FROM tk WHERE len(lt) >= 2),
        |pairs AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(lt) - 1),
        |    i -> {'w1': lt[i], 'w2': lt[i+1]})) AS b FROM base),
        |pf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM pairs),
        |uni AS (SELECT w, count(*) AS cu FROM (SELECT unnest(lt) AS w FROM tk)
        |  GROUP BY w),
        |bi AS (SELECT w1, w2, count(*) AS cb FROM pf GROUP BY w1, w2),
        |v AS (SELECT count(*) AS v FROM uni),
        |sc AS (SELECT doc_id,
        |    -ln((cb + 1.0) / (cu + 1.0 * v)) AS nll
        |  FROM pf JOIN bi USING (w1, w2) JOIN uni ON pf.w1 = uni.w CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(round(avg(nll) * 1e6) AS BIGINT) AS nll_fp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Full replay of the stupid-backoff arithmetic: identical counts from
    // the even half, identical branch structure (trigram ratio, else
    // 0.4 x bigram ratio, else 0.4 x 0.4 x add-one unigram) over the odd
    // half, 1e-6 fixed point. All divisions forced to double (*1.0)
    // to match Spark's true division on longs.
    "q_text_perplexity_sb" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS lt
        |  FROM documents WHERE text IS NOT NULL),
        |tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
        |uni AS (SELECT w1, count(*) AS c1 FROM
        |  (SELECT unnest(lt) AS w1 FROM tr) GROUP BY w1),
        |bi AS (SELECT g.w1 AS w1, g.w2 AS w2, count(*) AS c2 FROM
        |  (SELECT unnest(list_transform(generate_series(1, len(lt)-1),
        |     i -> {'w1': lt[i], 'w2': lt[i+1]})) AS g
        |   FROM tr WHERE len(lt) >= 2) GROUP BY 1, 2),
        |tri AS (SELECT g.w1 AS w1, g.w2 AS w2, g.w3 AS w3, count(*) AS c3 FROM
        |  (SELECT unnest(list_transform(generate_series(1, len(lt)-2),
        |     i -> {'w1': lt[i], 'w2': lt[i+1], 'w3': lt[i+2]})) AS g
        |   FROM tr WHERE len(lt) >= 3) GROUP BY 1, 2, 3),
        |nv AS (SELECT sum(c1) AS n_total, count(*) AS v FROM uni),
        |sf AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM
        |  (SELECT doc_id, unnest(list_transform(generate_series(1, len(lt)-2),
        |     i -> {'w1': lt[i], 'w2': lt[i+1], 'w3': lt[i+2]})) AS g
        |   FROM tk WHERE doc_id % 2 = 1 AND len(lt) >= 3)),
        |j AS (SELECT sf.doc_id, tri.c3, b1.c2 AS c2_ctx, b2.c2 AS c2_pair,
        |    u2.c1 AS c1_w2, u3.c1 AS c1_w3, nv.n_total, nv.v
        |  FROM sf
        |  LEFT JOIN tri ON sf.w1 = tri.w1 AND sf.w2 = tri.w2 AND sf.w3 = tri.w3
        |  LEFT JOIN bi b1 ON sf.w1 = b1.w1 AND sf.w2 = b1.w2
        |  LEFT JOIN bi b2 ON sf.w2 = b2.w1 AND sf.w3 = b2.w2
        |  LEFT JOIN uni u2 ON sf.w2 = u2.w1
        |  LEFT JOIN uni u3 ON sf.w3 = u3.w1
        |  CROSS JOIN nv),
        |sc AS (SELECT doc_id, -ln(
        |    CASE WHEN c3 IS NOT NULL THEN c3 * 1.0 / c2_ctx
        |      ELSE 0.4 * (CASE WHEN c2_pair IS NOT NULL THEN c2_pair * 1.0 / c1_w2
        |        ELSE 0.4 * ((coalesce(c1_w3, 0) + 1.0) / (n_total + v + 1.0)) END)
        |    END) AS nll FROM j)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  CAST(round(avg(nll) * 1e6) AS BIGINT) AS nll_fp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Full replay of the TF-IDF pipeline: identical tokenization, the two
    // aggregations, the smooth idf ln((N+1)/(df+1))+1 over the same
    // doubles, and the (score desc, term asc) rank — every output row
    // hash-compares including the 1e-6 fixed-point score.
    "q_text_salient" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
        |dfx AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfx.df_docs,
        |    CAST(tf.tf AS DOUBLE) *
        |      (ln(CAST(n.n + 1 AS DOUBLE) / CAST(dfx.df_docs + 1 AS DOUBLE)) + 1.0)
        |      AS tfidf
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, df_docs,
        |  CAST(round(tfidf * 1e6) AS BIGINT) AS score_fp
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // The sample size is a table fact; the bias/determinism/monotonicity
    // booleans are hash-frozen guarantees the Spark side must re-derive
    // (see q_sample_weighted in `queries`).
    "q_sample_weighted" ->
      """SELECT least(100, count(*)) AS n, TRUE AS bias_ok,
        |TRUE AS deterministic_ok, TRUE AS monotone_ok
        |FROM documents""".stripMargin,

    // Full replay of the overlapping-window chunk layout at C=16, S=12:
    // identical tokenization (trim + \s+ split), the same integer chunk
    // count (greatest(n-16,0)+11) // 12 + 1, and the same 1-based
    // inclusive list slice rejoined single-space — every chunk row
    // hash-compares including its text.
    "q_chunk_rag" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 0 THEN 0
        |         ELSE (greatest(len(toks) - 16, 0) + 11) // 12 + 1 END AS nc
        |  FROM t),
        |e AS (SELECT doc_id, toks, n, nc, unnest(range(nc)) AS cid FROM c)
        |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
        |  CAST(nc AS BIGINT) AS n_chunks,
        |  CAST(least(16, n - cid * 12) AS BIGINT) AS chunk_tokens,
        |  array_to_string(toks[cid * 12 + 1 : cid * 12 + 16], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin)
}
