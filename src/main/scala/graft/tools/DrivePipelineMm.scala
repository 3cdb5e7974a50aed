package graft.tools

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** At-scale proof for the MULTI-MODALITY interleaved pipeline
  * (`Pipeline.curateInterleavedMm` — r17, VERDICT r16 Next #2: every other
  * flagship has a scale run; the interleaved curator was proven only on
  * 120–200-doc plants). Synthesizes an N-doc corpus where one doc in
  * three carries a real media payload (rotating image/audio/video — PNG
  * bytes, PCM WAV bytes, MP4 containers), with planted duplicates in
  * every modality chosen so each media stage drops an EXACTLY countable
  * set: garbage (dies at decode), byte-exact copies (exact dedup),
  * modality-native near copies — resized image / amplitude-rescaled
  * audio / re-muxed video — (near dedup), and RE-ENCODED videos (the new
  * vid_profile_dedup stage, running the cell-partitioned index path at
  * this scale). Text bodies use the Zipf heterogeneous template families
  * (the DrivePipelineScale plant) so the text near-dup stage stays
  * linear and drops nothing.
  *
  * EXACT survival oracles, including the accidental classes a 10⁵⁺ plant
  * inevitably carries:
  *  - image near-dup runs at radius 2 (resize copies measured at pHash
  *    distance 0 over 3000 families — DriveMmProbe; accidental ≤2 pairs
  *    ~1e-5 expected at this corpus);
  *  - audio near-dup runs at radius 0 and the driver REPLAYS the
  *    spectral hash arithmetically (the hash is exactly the chosen-band
  *    bit pattern — DriveMmProbe pinned 2000/2000), so the ~dozen
  *    birthday collisions in the 2^32 tone space are accounted exactly;
  *  - the video profile stage's pair graph (planted re-encodes PLUS the
  *    true content-curve birthday pairs — 2.2e-13/pair measured at 1M in
  *    bench_ops_scale) is replayed by an INDEPENDENT brute-force scan
  *    over driver-computed signature features within the 3×3 cell
  *    neighborhoods + union-find — a stronger check than planted counts:
  *    the MIH index path must match a brute-force oracle at scale.
  *
  * Records one JSON line `pipeline_interleaved_mm_<n>m` into
  * `bench_pipeline.json` with per-stage wall + survival and ASSERTS
  * every stage's (docs, media) — the scale number is only evidence if
  * survival is exact and nothing leaned on a cap.
  *
  * Run: `sbt "runMain graft.tools.DrivePipelineMm [rows ...]"`. */
object DrivePipelineMm extends Serializable {

  // Media fate within a modality: k = id/9 (id%9 picks the modality).
  //  k%10==3 (k>=2) -> byte-exact copy of doc id-18 (same modality, plain)
  //  k%10==5 (k>=4) -> near copy of doc id-36 (resize/rescale/re-mux)
  //  k%10==7        -> garbage bytes (dies at decode)
  //  k%10==9 (k>=8, video only) -> RE-ENCODE of doc id-72's content
  //  otherwise      -> own content (family = id)
  private[tools] def fateOf(id: Long): Char = {
    if (id % 9 >= 3) return '-' // no media slot
    val k = id / 9
    if (k % 10 == 7) 'g'
    else if (k % 10 == 3 && k >= 2) 'e'
    else if (k % 10 == 5 && k >= 4) 'n'
    else if (k % 10 == 9 && k >= 8 && id % 9 == 2) 'r'
    else 'p'
  }

  private[tools] def durSecOf(fam: Long): Double =
    Seq(8.0, 15.0, 30.0, 60.0, 120.0, 240.0, 480.0)((fam % 7).toInt)
  // >= 512 frames: the signature's certified regime needs >= ~8 frames
  // per bucket median (DiagVp / Round16 notes) — a 64-frame video's
  // 1-frame "medians" inherit the rate-control noise raw and most
  // re-encode pairs land outside radius 14 (measured in the 90k smoke:
  // 67/1000 planted pairs at 64-128 frames).
  private[tools] def nFramesOf(fam: Long): Int = 512 + 64 * ((fam % 5).toInt)
  private def chunksFor(nf: Int): Seq[Int] =
    Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)

  /** Frame sizes of the (only) encode of video content `fam` that is
    * alive at the profile stage: plain videos carry their own curve,
    * re-encodes the 0.6×/gop-8 second encode of the BASE doc's curve. */
  private[tools] def videoSizesOf(fam: Long, reencode: Boolean): Seq[Int] = {
    val M = graft.llm.Multimodal
    val nf = nFramesOf(fam)
    if (reencode) M.bitrateProfileFrameSizes(fam, nf, 0.6, gop = 8, noiseSeed = 2L, base = 48)
    else M.bitrateProfileFrameSizes(fam, nf, 1.0, gop = 12, noiseSeed = 1L, base = 48)
  }

  private[tools] def videoOf(fam: Long, payloadFam: Long, reencode: Boolean,
      remux: Boolean): Array[Byte] = {
    val M = graft.llm.Multimodal
    val nf = nFramesOf(fam)
    val dur = durSecOf(fam)
    val sizes = videoSizesOf(fam, reencode)
    if (remux)
      M.encodeMp4Media(payloadFam, sizes, Seq.fill(nf / 16)(16),
        timescale = 90000, durationUnits = (dur * 90000.0).round)
    else
      M.encodeMp4Media(payloadFam, sizes, chunksFor(nf),
        durationUnits = (dur * 600.0).round)
  }

  /** The one payload generator — runs in the plant-synthesis executors;
    * the object extends Serializable so accidental closure captures of
    * its methods never poison a task (object Multimodal is referenced
    * only through static-path calls). */
  private[tools] def mediaOf(id: Long): Array[Byte] = {
    val M = graft.llm.Multimodal
    val fate = fateOf(id)
    if (fate == '-') return null
    if (fate == 'g') return s"not-decodable-$id".getBytes("UTF-8")
    val modality = (id % 9).toInt // 0 image, 1 audio, 2 video
    fate match {
      case 'p' => modality match {
        case 0 => M.encodeBlockImage(id)
        case 1 => M.encodeToneWav(id, toneFrames = 2048)
        case _ => videoOf(id, id, reencode = false, remux = false)
      }
      case 'e' => // byte-exact copy of doc id-18 (plain by construction)
        mediaOf(id - 18)
      case 'n' => modality match { // near copy of doc id-36
        case 0 => M.resizeOne(M.encodeBlockImage(id - 36), 48, 48, "png")
        case 1 => M.encodeToneWav(id - 36, scaleShift = 1, toneFrames = 2048)
        case _ => videoOf(id - 36, id - 36, reencode = false, remux = true)
      }
      case _ => // video re-encode of doc id-72's content, new payload bytes
        videoOf(id - 72, id, reencode = true, remux = false)
    }
  }

  /** The audio spectral hash replayed arithmetically: set bits are
    * exactly the 32 chosen tone bands (pinned 2000/2000 against
    * sketch64Of in DriveMmProbe and re-pinned per run below). */
  private[tools] def audioHashOfFam(fam: Long): Long = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    var bits = 0L
    var k = 0
    while (k < 32) {
      bits |= 1L << (2 * k + (mix(fam * 127L + k) & 1L).toInt)
      k += 1
    }
    bits
  }

  def main(args: Array[String]): Unit = {
    val local = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      Seq("/dev/shm", "/tmp").find(p => new java.io.File(p).isDirectory).get)
    val threads = sys.env.getOrElse("SPARK_GRAFT_THREADS", "32")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64")
    val spark = SparkSession.builder().master(s"local[$threads]")
      // Media-bearing rows are ~4-8 KB; 32 MB splits keep per-task decode
      // batches bounded (the maxPartitionBytes-sized-to-the-SF rule).
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.memory.storageFraction", "0.5")
      .config("spark.local.dir", s"$local/graft_mm_local")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(3000000L)
    // r18 lever: payload storage (default|disk → DISK_ONLY side/exploded
    // frames, VERDICT r17 #2). The bench-entry name carries the
    // non-default setting so runs land as separate bench_pipeline.json
    // lines.
    val payloadDisk = sys.env.get("SPARK_GRAFT_MM_PAYLOAD").contains("disk")
    val variant = if (payloadDisk) "_disk" else ""
    val out = new StringBuilder

    def boxSteal(): Long = try {
      val ticks = scala.io.Source.fromFile("/proc/stat").getLines().next().trim
        .split("\\s+").drop(1).map(_.toLong)
      ticks(7)
    } catch { case _: Throwable => 0L }

    // Re-pin the audio hash replication on THIS build (500 families).
    locally {
      val M = graft.llm.Multimodal
      (0L until 500L).foreach { fam =>
        val actual = M.sketch64Of(M.encodeToneWav(fam, toneFrames = 2048), "audio_spectral")
        assert(actual != null && actual.longValue() == audioHashOfFam(fam),
          s"audio hash replication broke at fam=$fam")
      }
      println("CHECK audio hash replication re-pinned (500/500)")
    }

    sizes.foreach { n =>
      // ---- plant (parquet-cached, plant-versioned dir) ----
      val dir = s"/tmp/graft_mm_plant_v2_$n"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("images", ArrayType(BinaryType), nullable = false),
          StructField("audios", ArrayType(BinaryType), nullable = false),
          StructField("videos", ArrayType(BinaryType), nullable = false)))
        val rdd = spark.range(n).rdd.map { id =>
          val m = DrivePipelineMm.mediaOf(id)
          val img = if (id % 9 == 0 && m != null) Seq(m) else Seq.empty[Array[Byte]]
          val aud = if (id % 9 == 1 && m != null) Seq(m) else Seq.empty[Array[Byte]]
          val vid = if (id % 9 == 2 && m != null) Seq(m) else Seq.empty[Array[Byte]]
          Row(id.longValue(), img, aud, vid)
        }
        // Zipf template text (the DrivePipelineScale family scheme): the
        // near-dup stage's candidate mass stays linear, and with no
        // planted text dupes every text stage keeps all n docs.
        val i = col("doc_id")
        def famWord(tag: String) = {
          val u = (pmod(xxhash64(i, lit(31L)), lit(1000000L)).cast("double") + 0.5) / 1000000.0
          val rank = floor(pow(lit(1000.0), u)).cast("long")
          val fam = (i / 2000L) * 1009L + rank
          concat(lit("s"), translate(fam.cast("string"), "0123456789", "abcdefghij"), lit(tag))
        }
        val is = i.cast("string")
        val body = concat(lit("w"), is,
          lit("a the "), famWord("a"), lit(" "), famWord("b"), lit(" "), famWord("c"),
          lit(" over the "), famWord("d"), lit(" "), famWord("e"), lit(" "), famWord("f"),
          lit(" w"), is,
          lit("b it was "), famWord("g"), lit(" that it is "), famWord("h"),
          lit(" and now w"), is, lit("c"))
        spark.createDataFrame(rdd, schema)
          .withColumn("text", body)
          .write.mode("overwrite").parquet(dir)
      }
      val corpus = spark.read.parquet(dir)

      // ---- expected survival (pure arithmetic + independent replays) ----
      var slots = 0L
      val garb = Array(0L, 0L, 0L)
      val exct = Array(0L, 0L, 0L)
      var id = 0L
      while (id < n) {
        val f = fateOf(id)
        if (f != '-') {
          slots += 1
          val m = (id % 9).toInt
          if (f == 'g') garb(m) += 1
          if (f == 'e') exct(m) += 1
        }
        id += 1
      }
      // Image near stage (radius 2): resize copies at distance 0 die;
      // accidental ≤2 pairs are ~1e-5 expected — counted as zero.
      var imgNearDrop = 0L
      locally {
        var m = 0L // image docs: id % 9 == 0; only planted resizes die
        while (m < n) {
          if (fateOf(m) == 'n') imgNearDrop += 1
          m += 9
        }
      }
      // Audio replay, BOTH stages. A tone WAV's bytes are fully
      // determined by (band-choice hash, scaleShift) — the 2^32 band
      // space means the ~dozen birthday collisions at this corpus are
      // BYTE-identical clips, so they die at aud_EXACT_dedup (keep-first
      // on the byte fingerprint), while the rescaled plants (bytes
      // differ, hash identical) and any surviving hash collisions die at
      // aud_near_dedup (radius 0, keep-lowest-id). Replay both rules in
      // slot-id order.
      var audExactDrop = 0L
      var audNearDrop = 0L
      locally {
        val seenBytes = new java.util.HashSet[(Long, Int)] // (band hash, scaleShift)
        val seenHash = new java.util.HashSet[java.lang.Long]
        var a = 1L // audio docs: id % 9 == 1
        while (a < n) {
          val f = fateOf(a)
          if (f == 'p' || f == 'e' || f == 'n') {
            val fam = if (f == 'e') a - 18 else if (f == 'n') a - 36 else a
            val shift = if (f == 'n') 1 else 0
            val h = audioHashOfFam(fam)
            if (!seenBytes.add((h, shift))) audExactDrop += 1
            else if (!seenHash.add(java.lang.Long.valueOf(h))) audNearDrop += 1
          }
          a += 9
        }
      }
      // Video near stage (radius 4 payload): re-mux copies die; payload
      // hashes are ~iid so accidentals are ~2e-3 expected — zero.
      var vidNearDrop = 0L
      locally {
        var v = 2L
        while (v < n) {
          if (fateOf(v) == 'n') vidNearDrop += 1
          v += 9
        }
      }
      // Video PROFILE stage: independent brute-force oracle over
      // signature features computed straight from the frame-size arrays
      // (no MP4 encode/parse) for every slot alive at the stage (plain +
      // re-encodes), scanning the 3×3 duration×fps cell neighborhoods
      // exhaustively, then union-find keep-lowest-id — planted pairs AND
      // true content-curve birthday pairs both accounted, and the MIH
      // index path must match this brute force exactly.
      val (vidProfileDrop, profilePairCount) = {
        val sc = spark.sparkContext
        val alive = scala.collection.mutable.ArrayBuffer.empty[Long]
        var v = 2L
        while (v < n) {
          val f = fateOf(v)
          if (f == 'p' || f == 'r') alive += v
          v += 9
        }
        // (mid, bits, ranks, cell) per alive slot — the same shared
        // signature arithmetic the engine's parse feeds.
        val feats = sc.parallelize(alive.toSeq, 64).map { docId =>
          val reenc = DrivePipelineMm.fateOf(docId) == 'r'
          val fam = if (reenc) docId - 72 else docId
          val sizesArr = DrivePipelineMm.videoSizesOf(fam, reenc)
            .map(_.toLong).toArray
          val nf = sizesArr.length
          val medians = new Array[Double](64)
          var k = 0
          while (k < 64) {
            val lo = (k.toLong * nf / 64).toInt
            val hi = ((k + 1).toLong * nf / 64).toInt
            val aSeg = java.util.Arrays.copyOfRange(sizesArr, lo, hi)
            java.util.Arrays.sort(aSeg)
            val mSeg = aSeg.length
            medians(k) =
              if (mSeg % 2 == 1) aSeg(mSeg / 2).toDouble
              else (aSeg(mSeg / 2 - 1) + aSeg(mSeg / 2)) / 2.0
            k += 1
          }
          val durUnits = (DrivePipelineMm.durSecOf(fam) * 600.0).round
          val durSec = durUnits.toDouble / 600.0
          (docId * 1000L, graft.llm.Multimodal.profileBitsOf(medians),
            graft.llm.Multimodal.profileRanksOfR2(
              graft.llm.Multimodal.profileRank2Of(medians)),
            graft.llm.Multimodal.profileCellOf(durSec, nf))
        }.collect()
        // Path-aware recall class: at or below 16·maxBucket alive rows
        // the operator takes the BANDED path (corpus-wide recall), past
        // it the cell index (3×3 neighborhood recall) — the oracle must
        // scan the same candidate universe the engine certifies.
        val banded = feats.length <= 16 * 10000
        val bcByCell = sc.broadcast(feats.groupBy(_._4))
        val bcAll = sc.broadcast(feats)
        val pairs = sc.parallelize(feats.toSeq, 256).flatMap {
          case (mid, bits, ranks, cell) =>
            val cands =
              if (banded) bcAll.value.iterator
              else graft.llm.Multimodal.profileProbeCellsOf(cell).iterator
                .flatMap(c => bcByCell.value.getOrElse(c,
                  Array.empty[(Long, Long, Array[Double], Long)]))
            cands
              .filter { case (gMid, gBits, _, _) =>
                gMid < mid && java.lang.Long.bitCount(gBits ^ bits) <= 14
              }
              .filter { case (_, _, gRanks, _) =>
                var s = 0.0
                var i2 = 0
                while (i2 < 64) { s += ranks(i2) * gRanks(i2); i2 += 1 }
                s >= 0.85
              }
              .map { case (gMid, _, _, _) => (gMid, mid) }
        }.collect()
        bcByCell.unpersist(blocking = false)
        bcAll.unpersist(blocking = false)
        // union-find, union-by-min: survivors are component roots.
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        pairs.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        (parent.keys.count(x => find(x) != x).toLong, pairs.length.toLong)
      }
      println(s"CHECK profile oracle: $profilePairCount pairs -> $vidProfileDrop losers " +
        s"(planted re-encodes + content birthday pairs)")

      val st0 = boxSteal()
      val t0 = System.nanoTime()
      val r = graft.llm.Pipeline.curateInterleavedMm(corpus, "doc_id", "text",
        Seq("image" -> "images", "audio" -> "audios", "video" -> "videos"),
        graft.llm.Pipeline.InterleavedConfig(
          image = graft.llm.Pipeline.ImageConfig(maxDistance = 2),
          payloadLevel =
            if (payloadDisk) org.apache.spark.storage.StorageLevel.DISK_ONLY
            else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER),
        audioCfg = graft.llm.Pipeline.MediaConfig(maxDistance = 0, pieces = 4),
        videoCfg = graft.llm.Pipeline.MediaConfig(maxDistance = 4, pieces = 8,
          profilePairs = true))
      val total = (System.nanoTime() - t0) / 1e9
      val st1 = boxSteal()
      val collected = r.stats.orderBy("ord").collect()

      // Stage-by-stage replay: media counts march down one planted class
      // per stage; docs stay n throughout (no planted text dupes).
      var media = slots
      val expect = scala.collection.mutable.Map[String, Long]()
      Seq("input", "fix_encoding", "html_extract", "langid_filter",
        "quality_filter", "line_dedup", "exact_dedup", "near_dedup",
        "img_explode").foreach(s => expect(s) = media)
      media -= garb(0); expect("img_decode") = media
      media -= exct(0); expect("img_exact_dedup") = media
      media -= imgNearDrop; expect("img_near_dedup") = media
      expect("img_resize") = media
      expect("aud_explode") = media
      media -= garb(1); expect("aud_decode") = media
      // audExactDrop subsumes the planted byte copies: the replay counts
      // every byte-group loser, planted or birthday-collided.
      media -= audExactDrop; expect("aud_exact_dedup") = media
      media -= audNearDrop; expect("aud_near_dedup") = media
      expect("vid_explode") = media
      media -= garb(2); expect("vid_decode") = media
      media -= exct(2); expect("vid_exact_dedup") = media
      media -= vidNearDrop; expect("vid_near_dedup") = media
      media -= vidProfileDrop; expect("vid_profile_dedup") = media
      expect("reassemble") = media

      collected.foreach { x =>
        val stage = x.getString(1)
        assert(x.getLong(2) == n, s"$stage docs_out ${x.getLong(2)} != $n")
        assert(x.getLong(3) == expect(stage),
          s"$stage media_out ${x.getLong(3)} != expected ${expect(stage)} at n=$n")
        assert(x.getLong(5) == 0L, s"$stage capped_rows ${x.getLong(5)} != 0")
      }
      println(s"CHECK survival exact at n=$n (docs=$n every stage; media " +
        s"$slots -> ${expect("reassemble")}; capped_rows all zero)")

      val stages = collected.map { x =>
        f"""{"stage":"${x.getString(1)}","docs_out":${x.getLong(2)},"media_out":${x.getLong(3)},"wall_sec":${x.getDouble(4)}%.2f,"capped_rows":${x.getLong(5)}}"""
      }.mkString("[", ",", "]")
      val line = f"""{"bench":"pipeline_interleaved_mm_${n / 1000000}m$variant","rows":$n,"media_slots":$slots,"total_sec":$total%.1f,"steal_sec":${(st1 - st0) / 100.0}%.1f,"profile_pairs":$profilePairCount,"profile_losers":$vidProfileDrop,"stages":$stages}"""
      println(s"CHECK $line")
      out.append(line).append('\n')
    }

    val path = java.nio.file.Paths.get("bench_pipeline.json")
    val merged =
      if (!java.nio.file.Files.exists(path)) out.toString
      else {
        val fresh = out.toString.linesIterator.toSeq
        val freshNames = fresh.map(l => l.split("\"")(3)).toSet
        val kept = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          .linesIterator.filter(l => l.nonEmpty && !freshNames(l.split("\"")(3)))
        (kept ++ fresh).mkString("", "\n", "\n")
      }
    java.nio.file.Files.write(path, merged.getBytes("UTF-8"))
    println(s"CHECK wrote bench_pipeline.json (${out.length} chars)")
    spark.stop()
  }
}
