package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 additions: pipeline stats observed on the stage checkpoints'
  * own materialize jobs (checked against the planted counts here and
  * against the aggregate over the same checkpoint in PipelineRunnerSpec),
  * the payload storage-level lever, the flat-index hatch on the streaming
  * profile guard, the id-contract check moved onto the checkpointed input,
  * videoProfileIndex's loud numeric-id guard, and the WriterLock
  * rename-back hardening. */
class Round18Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------------------------------------------- shared plant helpers

  private def chunksFor(nf: Int): Seq[Int] =
    Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)

  private def vid(fam: Long, payloadFam: Long, reenc: Boolean): Array[Byte] = {
    val M = graft.llm.Multimodal
    val sizes =
      if (reenc) M.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L)
      else M.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L)
    M.encodeMp4Media(payloadFam, sizes, chunksFor(640))
  }

  private def vidRemux(fam: Long): Array[Byte] = {
    val M = graft.llm.Multimodal
    M.encodeMp4Media(fam * 100L,
      M.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L),
      Seq.fill(20)(32), timescale = 90000, durationUnits = 640L * 20L * 150L)
  }

  /** 24-doc interleaved plant, one media slot per doc across all three
    * modalities, with a planted drop for every media stage (garbage /
    * byte-copy / near-copy / video re-encode). */
  private lazy val mmPlant = {
    val M = graft.llm.Multimodal
    val rows = (0L until 24L).map { id =>
      val img: Seq[Array[Byte]] =
        if (id % 3 != 0) Nil
        else if (id == 6L) Seq(M.encodeBlockImage(0L))
        else if (id == 9L) Seq(M.resizeOne(M.encodeBlockImage(3L), 48, 48, "png"))
        else if (id == 12L) Seq(s"junk-img-$id".getBytes("UTF-8"))
        else Seq(M.encodeBlockImage(id))
      val aud: Seq[Array[Byte]] =
        if (id % 3 != 1) Nil
        else if (id == 7L) Seq(M.encodeToneWav(1L, toneFrames = 2048))
        else if (id == 10L) Seq(M.encodeToneWav(4L, scaleShift = 1, toneFrames = 2048))
        else if (id == 13L) Seq(s"junk-aud-$id".getBytes("UTF-8"))
        else Seq(M.encodeToneWav(id, toneFrames = 2048))
      val vd: Seq[Array[Byte]] =
        if (id % 3 != 2) Nil
        else if (id == 8L) Seq(vid(2L, 200L, reenc = false)) // byte copy of id 2
        else if (id == 11L) Seq(vidRemux(5L)) // re-mux of id 5
        else if (id == 14L) Seq(vid(2L, 1400L, reenc = true)) // re-encode of id 2
        else if (id == 17L) Seq(s"junk-vid-$id".getBytes("UTF-8"))
        else Seq(vid(id, id * 100L, reenc = false))
      (id, img, aud, vd)
    }
    val base = rows.toDF("doc_id", "images", "audios", "videos")
    val fam = col("doc_id").cast("string")
    base.withColumn("text", concat(lit("w"), fam,
      lit("a the quick brown fox jumps over the lazy dog w"), fam,
      lit("b it was good that it is here and now w"), fam, lit("c")))
  }

  private def runMm(
      payloadLevel: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER) = {
    val P = graft.llm.Pipeline
    P.curateInterleavedMm(mmPlant, "doc_id", "text",
      Seq("image" -> "images", "audio" -> "audios", "video" -> "videos"),
      P.InterleavedConfig(image = P.ImageConfig(maxDistance = 2),
        payloadLevel = payloadLevel),
      audioCfg = P.MediaConfig(maxDistance = 0, pieces = 4),
      videoCfg = P.MediaConfig(maxDistance = 4, pieces = 8, profilePairs = true))
  }

  private def statsRows(r: graft.llm.Pipeline.Result): Seq[(Int, String, Long, Long, Long)] =
    r.stats.orderBy("ord").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3), x.getLong(5)))
      .toSeq

  private def survivors(r: graft.llm.Pipeline.Result): Set[(Long, Seq[Seq[Byte]])] =
    r.docs.select(col("doc_id"),
        concat(col("images"), col("audios"), col("videos")).as("m"))
      .collect()
      .map(x => (x.getLong(0), x.getSeq[Array[Byte]](1).map(_.toSeq)))
      .toSet

  // ------------------------------ observed stats against the plants

  /** The mmPlant's per-stage (docs, live slots): 24 docs with one slot
    * each, every planted loser dropped at its own stage. */
  private val mmPlanted = Seq(
    "input" -> 24L, "fix_encoding" -> 24L, "html_extract" -> 24L,
    "langid_filter" -> 24L, "quality_filter" -> 24L, "line_dedup" -> 24L,
    "exact_dedup" -> 24L, "near_dedup" -> 24L,
    "img_explode" -> 24L, "img_decode" -> 23L, "img_exact_dedup" -> 22L,
    "img_near_dedup" -> 21L, "img_resize" -> 21L,
    "aud_explode" -> 21L, "aud_decode" -> 20L, "aud_exact_dedup" -> 19L,
    "aud_near_dedup" -> 18L,
    "vid_explode" -> 18L, "vid_decode" -> 17L, "vid_exact_dedup" -> 16L,
    "vid_near_dedup" -> 15L, "vid_profile_dedup" -> 14L,
    "reassemble" -> 14L)
    .zipWithIndex.map { case ((stage, slots), i) => (i, stage, 24L, slots, 0L) }

  test("curateInterleavedMm: observed stats equal the planted per-stage drops; survivors as planted") {
    val r = runMm()
    assert(statsRows(r) == mmPlanted, s"\n${statsRows(r)}")
    // 24 slots minus the ten planted losers (img: garbage + byte copy +
    // resize copy; aud: garbage + byte copy + rescale; vid: garbage +
    // byte copy + re-mux + re-encode), every document kept.
    val got = survivors(r)
    assert(got.map(_._1) == (0L until 24L).toSet)
    val dropped = Set(6L, 9L, 12L, 7L, 10L, 13L, 8L, 11L, 14L, 17L)
    assert(got.filter(_._2.nonEmpty).map(_._1) == (0L until 24L).toSet -- dropped)
  }

  test("curateInterleavedMm: DISK_ONLY payload level is result-identical (stats and survivors)") {
    val dflt = runMm()
    val disk = runMm(payloadLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY)
    assert(statsRows(disk) == mmPlanted)
    assert(statsRows(disk) == statsRows(dflt))
    assert(survivors(disk) == survivors(dflt))
  }

  test("curate: observed stats equal the planted row and token counts; curated docs as planted") {
    val P = graft.llm.Pipeline
    // 38 docs on the proven 3-marker template (near-dup-safe between
    // distinct ids): one exact dupe, one +1-token near dupe, one doc
    // decontaminated against the eval set, and a token budget that trims
    // the tail.
    def enGood(i: Long) =
      s"w${i}a the quick brown fox jumps over the lazy dog w${i}b " +
        s"it was good that it is here and now w${i}c"
    val body = (i: Long) =>
      if (i == 36) enGood(0) // exact duplicate of doc 0
      else if (i == 37) enGood(1) + " extra" // near-dup of doc 1
      else enGood(i)
    val docs = (0L until 38L).map(i => (i, body(i))).toDF("id", "text")
    val ev = Seq((100L, enGood(3))).toDF("id", "text")
    val r = P.curate(docs, "id", "text", evalDocs = Some(ev),
      cfg = P.Config(budgetTokens = 300L))
    val kept = r.docs.select("id").collect().map(_.getLong(0)).toSet
    // Planted survivors per stage; the budget keeps a strict subset.
    val all = (0L until 38L).toSet
    val decontaminated = all -- Set(36L, 37L, 3L)
    assert(kept.subsetOf(decontaminated) && kept.size < decontaminated.size &&
      kept.nonEmpty, kept.toString)
    val live = Seq("input", "fix_encoding", "html_extract", "langid_filter",
      "quality_filter", "line_dedup").map(_ -> all) ++ Seq(
      "exact_dedup" -> (all - 36L), "near_dedup" -> (all -- Set(36L, 37L)),
      "decontaminate" -> decontaminated, "token_budget" -> kept)
    def tokens(ids: Set[Long]) = ids.toSeq.map(i => body(i).split(" ").length.toLong).sum
    val want = live.zipWithIndex.map { case ((stage, ids), i) =>
      (i, stage, ids.size.toLong, tokens(ids), 0L) }
    val got = r.stats.orderBy("ord").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3), x.getLong(5)))
      .toSeq
    assert(got == want, s"\n$got\n$want")
    // The budget bounds the curated token total.
    assert(tokens(kept) <= 300L)
  }

  test("curateImages: observed stats equal the planted rows and bytes") {
    val M = graft.llm.Multimodal
    val P = graft.llm.Pipeline
    val plant = (0L until 12L).map { i =>
      val bytes =
        if (i == 5L) M.encodeBlockImage(0L) // byte copy
        else if (i == 7L) M.resizeOne(M.encodeBlockImage(1L), 48, 48, "png")
        else if (i == 9L) s"junk-$i".getBytes("UTF-8")
        else M.encodeBlockImage(i)
      (i, bytes)
    }
    val imgs = plant.toDF("id", "img")
    val r = P.curateImages(imgs, "id", "img", P.ImageConfig(maxDistance = 2))
    val payload = plant.toMap
    def bytes(ids: Set[Long]) = ids.toSeq.map(payload(_).length.toLong).sum
    val all = (0L until 12L).toSet
    val survivors = all -- Set(9L, 5L, 7L)
    val resized = survivors.toSeq.map(i => M.resizeOne(payload(i), 64, 64, "png").length.toLong).sum
    val want = Seq(
      ("input", 12L, bytes(all)), ("decode_phash", 11L, bytes(all - 9L)),
      ("exact_dedup", 10L, bytes(all -- Set(9L, 5L))),
      ("near_dedup", 9L, bytes(survivors)), ("resize", 9L, resized))
      .zipWithIndex.map { case ((s, n, b), i) => (i, s, n, b) }
    val got = r.stats.orderBy("ord").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3))).toSeq
    assert(got == want, s"\n$got\n$want")
    assert(r.stats.columns.toSeq == Seq("ord", "stage", "rows_out", "bytes_out", "wall_sec"))
    assert(r.docs.select("id").collect().map(_.getLong(0)).toSet == survivors)
  }

  // ------------------------------ id contract on the checkpointed input

  test("curateInterleavedMm id contract: duplicate ids confined to dropped null-text rows pass; live duplicates and non-numeric ids fail loudly") {
    val P = graft.llm.Pipeline
    val M = graft.llm.Multimodal
    val mediaA = Seq(M.encodeBlockImage(1L))
    def curate(df: org.apache.spark.sql.DataFrame) =
      P.curateInterleavedMm(df, "doc_id", "text", Seq("image" -> "images"),
        P.InterleavedConfig())
    // One id duplicated only on a NULL-text row (dropped before the
    // checkpoint): must succeed — the r17 check aggregated raw docs and
    // spuriously failed this shape.
    def enGood(i: Long) =
      s"w${i}a the quick brown fox jumps over the lazy dog w${i}b " +
        s"it was good that it is here and now w${i}c"
    val okDf = Seq(
      (1L, Some(enGood(1)), mediaA),
      (2L, Some(enGood(2)), mediaA),
      (1L, None: Option[String], mediaA))
      .toDF("doc_id", "text", "images")
    assert(curate(okDf).docs.count() == 2L)
    // Live duplicate ids fail with the contract named.
    val dupDf = Seq(
      (1L, enGood(1), mediaA),
      (1L, enGood(2), mediaA))
      .toDF("doc_id", "text", "images")
    val e = intercept[IllegalArgumentException](curate(dupDf))
    assert(e.getMessage.contains("UNIQUE doc ids"), e.getMessage)
    // Non-numeric ids fail with the contract named (not a cast error).
    val badDf = Seq(
      ("x1", "w1a the quick brown fox jumps over the lazy dog and more", mediaA))
      .toDF("doc_id", "text", "images")
    val e2 = intercept[IllegalArgumentException](curate(badDf))
    assert(e2.getMessage.contains("numeric doc ids"), e2.getMessage)
  }

  test("videoProfileIndex: non-numeric ids fail loudly (not an NPE from the index build)") {
    val M = graft.llm.Multimodal
    val corpus = Seq(("vid-a", vid(1L, 100L, reenc = false)))
      .toDF("family", "payload")
    val e = intercept[IllegalArgumentException] {
      M.videoProfileIndex(corpus, "family", "payload")
    }
    assert(e.getMessage.contains("numeric ids"), e.getMessage)
  }

  // --------------------- streaming profile guard: flat-index hatch

  test("streamVideoProfileGuard(flatIndex): a 4x-fps re-encode flags under the flat guard, not the celled one; batch ≡ MemoryStream on both arms") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val M = graft.llm.Multimodal
    val D = graft.llm.Dedup
    def enc(fam: Long, id: Long, fps: Int, reenc: Boolean): Array[Byte] = {
      val nFrames = (30.0 * fps).round.toInt
      val sizes =
        if (reenc) M.bitrateProfileFrameSizes(fam, nFrames, 0.6, gop = 8, noiseSeed = 2L, base = 48)
        else M.bitrateProfileFrameSizes(fam, nFrames, 1.0, gop = 12, noiseSeed = 1L, base = 48)
      M.encodeMp4Media(id, sizes, chunksFor(nFrames), durationUnits = 30L * 600L)
    }
    val corpus = (0L until 6L).map(f => (f, enc(f, f * 10L, 30, reenc = false)))
      .toDF("family", "payload")
    // Probes: per family, a same-fps re-encode (inside the 3×3 cell
    // neighborhood) and a 4×-fps re-encode (fps bucket 2 away — outside
    // it), plus junk.
    val probes = (0L until 6L).flatMap { f =>
      Seq((f * 10L, enc(f, f * 10L + 1, 30, reenc = true)),
        (f * 10L + 1, enc(f, f * 10L + 2, 120, reenc = true)))
    } :+ (999L, "junk".getBytes("UTF-8"))
    val probeDf = probes.toDF("id", "payload")
    val cellIdx = M.videoProfileIndex(corpus, "family", "payload")
    val flatIdx = M.videoProfileIndex(corpus, "family", "payload",
      flatIndex = true)
    def verdicts(df: org.apache.spark.sql.DataFrame, flat: Boolean) =
      D.streamVideoProfileGuard(df, if (flat) flatIdx else cellIdx, "payload",
          flatIndex = flat)
        .select("id", "video_near_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val celled = verdicts(probeDf, flat = false)
    val flat = verdicts(probeDf, flat = true)
    probes.foreach { case (id, _) =>
      val sameFps = id % 10 == 0 && id != 999L
      val fourX = id % 10 == 1
      assert(celled(id) == sameFps,
        s"celled guard at $id: got ${celled(id)}, want $sameFps")
      assert(flat(id) == (sameFps || fourX),
        s"flat guard at $id: got ${flat(id)}, want ${sameFps || fourX}")
    }
    // Stream identity on both arms.
    Seq(false, true).foreach { useFlat =>
      val in = MemoryStream[(Long, Array[Byte])]
      val q = D.streamVideoProfileGuard(in.toDS().toDF("id", "payload"),
          if (useFlat) flatIdx else cellIdx, "payload", flatIndex = useFlat)
        .writeStream.format("memory").queryName(s"r18_guard_$useFlat")
        .outputMode("append").start()
      try {
        in.addData(probes)
        q.processAllAvailable()
        val streamed = spark.table(s"r18_guard_$useFlat")
          .select("id", "video_near_dup").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        assert(streamed == (if (useFlat) flat else celled),
          s"stream≠batch on flat=$useFlat")
      } finally q.stop()
    }
  }

  // ------------------------------------------- PII density gate (r18)

  test("piiStats + pipeline pii_filter: ordered counting, density gate drops the planted burst docs, interleaved parity") {
    val P = graft.llm.Pipeline
    val TA = graft.llm.TextAnalysis
    // Ordered-chain pins: a URL's digits never double-count as a phone,
    // an IP never half-counts under the phone class.
    val one = Seq((0L,
      "visit https://x.io/555-010-7777 from 10.1.2.9 mail a@b.io call +1 (555) 010-1234 end"))
      .toDF("id", "text")
      .select(TA.piiStats(col("text")).as("p")).collect()(0).getStruct(0)
    assert(one.getAs[Int]("n_url") == 1 && one.getAs[Int]("n_email") == 1 &&
      one.getAs[Int]("n_ip") == 1 && one.getAs[Int]("n_phone") == 1, one.toString)
    // 4 matches / 11 whitespace tokens.
    assert(math.abs(one.getAs[Double]("density") - 4.0 / 11.0) < 1e-12)
    // Empty text: density 0, not NaN.
    val empty = Seq((0L, "")).toDF("id", "text")
      .select(TA.piiStats(col("text")).as("p")).collect()(0).getStruct(0)
    assert(empty.getAs[Double]("density") == 0.0)

    // Pipeline stage: docs 0-9 clean, 10-11 PII-dense (a contact dump) —
    // the gate drops exactly those two, and the stats frame shows the
    // stage.
    def enGood(i: Long) =
      s"w${i}a the quick brown fox jumps over the lazy dog w${i}b " +
        s"it was good that it is here and now w${i}c"
    val docs = (0L until 12L).map { i =>
      val t =
        if (i >= 10) s"w${i}a reach a$i@x.io b$i@x.io c$i@x.io d$i@x.io " +
          s"https://x.io/$i https://y.io/$i from 10.0.0.$i and 10.0.1.$i w${i}b"
        else enGood(i)
      (i, t)
    }.toDF("id", "text")
    val r = P.curate(docs, "id", "text",
      cfg = P.Config(piiMaxDensity = Some(0.2)))
    val byStage = r.stats.collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(byStage("quality_filter") == 12L, byStage.toString)
    assert(byStage("pii_filter") == 10L, byStage.toString)
    assert(r.docs.select("id").collect().map(_.getLong(0)).toSet == (0L until 10L).toSet)
    // Interleaved chain carries the same stage.
    val mdocs = docs.withColumn("images",
      array().cast("array<binary>")).withColumnRenamed("id", "doc_id")
    val r2 = P.curateInterleavedMm(mdocs, "doc_id", "text",
      Seq("image" -> "images"),
      P.InterleavedConfig(text = P.Config(piiMaxDensity = Some(0.2))))
    val by2 = r2.stats.collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(by2("pii_filter") == 10L, by2.toString)
  }

  // ------------------------------- WriterLock rename-back hardening

  test("WriterLock: a failed rename-back of a falsely-stale LIVE lock retries, restores the lock, and reports busy") {
    import graft.io.WriterLock
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.r18fs.impl", classOf[FalseStaleFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("r18_lock_rb")
    val path = "r18fs://" + dir.toString + "/idx"
    val lock = WriterLock.lockPath(path)
    val fs = lock.getFileSystem(conf)
    try {
      // A "live" holder's lock: FalseStaleFs reports the LOCK's mtime as
      // ancient (so the breaker judges it stale) but the renamed ASIDE's
      // mtime as fresh (so the breaker realizes it renamed a live lock).
      val out = fs.create(lock, false)
      try out.write("""{"op": "holder", "token": "live-holder"}""".getBytes("UTF-8"))
      finally out.close()
      // One transient rename-back failure: the retry must restore.
      FalseStaleFs.failRenameBacks.set(1)
      val e = intercept[WriterLock.ConcurrentWriterException] {
        WriterLock.withLock(spark, path, "breaker", staleAfterMs = 60000L)(fail())
      }
      assert(e.getMessage.contains("another writer holds"), e.getMessage)
      assert(fs.exists(lock), "the retried rename-back must restore the live lock")
      val leaked = fs.listStatus(lock.getParent)
        .map(_.getPath.getName).filter(_.contains(".breaking."))
      assert(leaked.isEmpty, s"aside sidecar leaked: ${leaked.mkString(",")}")

      // Both attempts failing with NO new owner: the aside must be LEFT
      // (the only record of the live writer), loudly.
      FalseStaleFs.failRenameBacks.set(2)
      val (e2, err) = LogCapture.warnings("graft.io.WriterLock") {
        intercept[WriterLock.ConcurrentWriterException] {
          WriterLock.withLock(spark, path, "breaker2", staleAfterMs = 60000L)(fail())
        }
      }
      assert(e2.getMessage.contains("another writer holds"), e2.getMessage)
      assert(err.contains("leaving the aside"), s"must be loud, got: '$err'")
      val aside = fs.listStatus(lock.getParent)
        .map(_.getPath.getName).filter(_.contains(".breaking."))
      assert(aside.nonEmpty,
        "with no new owner the aside must survive as the record of the live writer")
    } finally {
      FalseStaleFs.failRenameBacks.set(0)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("WriterLock: wrapped-failure streak resets across interleaved transient IOExceptions (no spurious heartbeat disable)") {
    import graft.io.WriterLock
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.r18alt.impl", classOf[AlternatingSetTimesFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("r18_lock_alt")
    val path = "r18alt://" + dir.toString + "/idx"
    try {
      // ~100 ms beats; every beat fails, alternating wrapped/IO. The
      // 3-consecutive-wrapped disable must never trip (the r17 counter
      // did not reset on the IOException arm, so the alternation would
      // have disabled the heartbeat and mislabeled it 'consecutive').
      val (got, err) = LogCapture.warnings("graft.io.WriterLock") {
        WriterLock.withLock(spark, path, "alt-writer", staleAfterMs = 400L) {
          Thread.sleep(1100L)
          7
        }
      }
      assert(got == 7)
      assert(!err.contains("heartbeat disabled"),
        s"alternating failures must not disable the heartbeat: '$err'")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}

/** Local filesystem staging the false-stale scenario: the LOCK file's
  * mtime reads as ancient (a breaker judges it stale), a renamed ASIDE's
  * mtime reads fresh (the breaker realizes the lock was live), and
  * rename-backs (aside → lock) fail transiently while the shared counter
  * is positive. Top-level: Hadoop instantiates it reflectively. */
class FalseStaleFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("r18fs:///")
  override def getFileStatus(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = {
    val s = super.getFileStatus(p)
    if (p.getName.contains(".breaking.")) s
    else new org.apache.hadoop.fs.FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, 1000L, s.getPath)
  }
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (src.getName.contains(".breaking.") &&
        FalseStaleFs.failRenameBacks.getAndUpdate(n => math.max(0, n - 1)) > 0)
      false
    else super.rename(src, dst)
  }
}
object FalseStaleFs {
  val failRenameBacks = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Local filesystem whose setTimes alternates a WRAPPED RuntimeException
  * with a plain IOException — the interleaving the r17 streak counter
  * mislabeled as 'consecutive'. */
class AlternatingSetTimesFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  private val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  override def getUri: java.net.URI = java.net.URI.create("r18alt:///")
  override def setTimes(p: org.apache.hadoop.fs.Path, mtime: Long,
      atime: Long): Unit =
    if (calls.getAndIncrement() % 2 == 0)
      throw new RuntimeException("wrapped throttle blip")
    else throw new java.io.IOException("transient io blip")
}
