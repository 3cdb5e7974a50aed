package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 additions: WriterLock positive-match release, the cell-index
  * table-byte reserve in the shard budget, the VERIFIED streaming video
  * re-encode guard (Spearman fused into the probe), the re-encode-tolerant
  * vid_profile_dedup pipeline stage, the flat-index recall escape hatch,
  * and the measured CBR information-free closure. */
class Round17Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------ WriterLock release safety

  test("WriterLock: heartbeat survives a WRAPPED non-fatal setTimes failure (degrades loudly, writer completes, release works)") {
    import graft.io.WriterLock
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.r17ft.impl", classOf[ThrowingSetTimesFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("r17_lock_ft")
    val path = "r17ft://" + dir.toString + "/idx"
    try {
      // 400 ms horizon → ~100 ms beats; the body outlives several beats,
      // each of which hits the RuntimeException-throwing setTimes. The
      // r16 loop caught only UnsupportedOperation/IOException — anything
      // else killed the daemon SILENTLY; r17 degrades loudly instead.
      val (got, err) = LogCapture.warnings("graft.io.WriterLock") {
        WriterLock.withLock(spark, path, "ft-writer", staleAfterMs = 400L) {
          Thread.sleep(1200L)
          42
        }
      }
      assert(got == 42)
      val lock = WriterLock.lockPath(path)
      val fs = lock.getFileSystem(conf)
      assert(!fs.exists(lock), "release must still free the lock")
      assert(err.contains("heartbeat refresh failed") &&
        err.contains("heartbeat disabled"),
        s"the degrade must be LOUD, got warnings: '$err'")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("WriterLock: release deletes ONLY on a positive token match (foreign and unreadable tokens both survive)") {
    import graft.io.WriterLock
    val dir = java.nio.file.Files.createTempDirectory("r17_lock_rel")
    val path = dir.toString + "/idx"
    val lock = WriterLock.lockPath(path)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def replaceWith(payload: String): Unit = {
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      try out.write(payload.getBytes("UTF-8")) finally out.close()
    }
    try {
      // The body simulates a break + re-acquire by ANOTHER writer: the
      // original holder's release must see the foreign token and leave
      // the new owner's lock in place.
      WriterLock.withLock(spark, path, "displaced", staleAfterMs = 60000L) {
        replaceWith("""{"op": "usurper", "token": "not-our-token"}""")
      }
      assert(fs.exists(lock), "release deleted a lock carrying a FOREIGN token")
      fs.delete(lock, false)
      // Token-LESS payload — the regex yields None. The r16 release used
      // forall (None => ours => delete); r17 requires a positive match,
      // so an unreadable/foreign-format lock is treated as NOT OURS.
      WriterLock.withLock(spark, path, "displaced2", staleAfterMs = 60000L) {
        replaceWith("not-a-graft-lock-payload")
      }
      assert(fs.exists(lock),
        "release deleted a lock whose token is unreadable (must treat as not-ours)")
      // The conservative direction's worst case — a leaked lock — still
      // self-breaks through the stale horizon.
      Thread.sleep(900L)
      assert(WriterLock.withLock(spark, path, "after", staleAfterMs = 600L)(7) == 7)
      assert(!fs.exists(lock), "the breaker's own release must free its lock")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  // --------------------------------- shard budget: table-byte reserve

  test("MIH byte budget: cell-index shards reserve the worst-case bucket-table bytes (r17)") {
    val K = graft.functions.HammingIndexKernel
    // One table: 4·(4·2^16 + 1) bytes at pieces=4.
    assert(K.bucketTableBytes(4) == 1048580L)
    // Default budget, rank-carrying cell index: rows + 128 tables fit.
    val cap = K.shardRowCap(K.DefaultIndexBudgetBytes, 4, hasIds = true,
      rankLen = 64, cellTables = 128)
    assert(cap == 10247901L)
    assert(cap * 104L + 128L * K.bucketTableBytes(4) <= K.DefaultIndexBudgetBytes,
      "a maxed cell-index shard must fit the budget INCLUDING its tables")
    // cellTables = 0 (the flat default) keeps the r16 cap — pins intact.
    assert(K.shardRowCap(K.DefaultIndexBudgetBytes, 4, hasIds = true,
      rankLen = 64) == 11538461L)
    // Small budgets take the amortized branch: at most rows/4096 tables
    // can exist, so the reserve is ceil(tableBytes/4096) ≈ 257 B/row.
    val small = K.shardRowCap(50L * 361L, 4, hasIds = true, rankLen = 64,
      cellTables = 128)
    assert(small == 50L, s"amortized branch cap: $small")
    // shardCount threads the reserve through.
    assert(K.shardCount(50000000L, K.DefaultIndexBudgetBytes, 4,
      hasIds = true, rankLen = 64, cellTables = 128) == 5)
  }

  test("videoProfileIndex: the guard index build is bounded by the same budget") {
    val M = graft.llm.Multimodal
    def chunksFor(nf: Int): Seq[Int] =
      Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)
    val corpus = (0L until 3L).map(f => (f, M.encodeMp4Media(f * 10L,
        M.bitrateProfileFrameSizes(f, 128, 1.0, gop = 12, noiseSeed = 1L),
        chunksFor(128))))
      .toDF("family", "payload")
    val e = intercept[IllegalArgumentException] {
      M.videoProfileIndex(corpus, "family", "payload", maxIndexBytes = 2L * 361L)
    }
    assert(e.getMessage.contains("index budget"), e.getMessage)
    // At a budget that fits, the index builds and probes its own corpus.
    val idx = M.videoProfileIndex(corpus, "family", "payload")
    val self = corpus.as[(Long, Array[Byte])].collect().forall { case (_, bytes) =>
      M.profileVerifiedHitOf(bytes, idx, 14, 0.85, false) == java.lang.Boolean.TRUE
    }
    assert(self, "every corpus video must verify against its own index entry")
  }

  // ------------------- verified guard probe ≡ pair probe (cell index)

  test("anyVerifiedWithin ≡ (pair probe at selfId=∞ nonempty) over tabled AND micro cells") {
    val K = graft.functions.HammingIndexKernel
    val M = graft.llm.Multimodal
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // One tabled cell (past MicroCellMaxRows) + one micro cell, rank
    // payloads from real median curves so the dot spans [-1, 1].
    val big = K.MihCellIndex.MicroCellMaxRows + 5
    val n = big + 12
    val meds = Array.tabulate(n)(i =>
      Array.tabulate(64)(k => StrictMath.sin(0.1 * ((i % 97) + 1) * k) * 100 + 200))
    val r2s = meds.map(M.profileRank2Of)
    val hs = Array.tabulate(n)(i => mix(i.toLong * 31L))
    val ids = Array.tabulate(n)(_.toLong)
    val cells = Array.tabulate(n)(i => if (i < big) 1L else 2L)
    val rb = new Array[Byte](64 * n)
    (0 until n).foreach(i => System.arraycopy(r2s(i), 0, rb, i * 64, 64))
    val inv = r2s.map(M.profileRankInvOf)
    val idx = new K.MihCellIndex(cells, hs, 4, ids, rb, inv)
    assert(idx.tableStats == (1, 1))
    // Probe a grid of (query, radius, threshold): the boolean guard must
    // equal "the pair probe at selfId=∞ emits ≥ 1 hit" on every point.
    val probeCells = Array(1L, 2L)
    var agree = 0
    var flagged = 0
    (0 until 60).foreach { t =>
      val q = M.profileRanksOfR2(r2s(t * 7 % n))
      val h = hs(t * 13 % n) ^ ((1L << (t % 64)) - 1L & 0x3L)
      Seq(3, 8, 14).foreach { d =>
        Seq(0.5, 0.85, 0.999).foreach { minDot =>
          val guard = idx.anyVerifiedWithin(probeCells, h, d, q, minDot)
          val pairs = idx.hitsBelowWithinRankDot(probeCells, h, d,
            Long.MaxValue, q, minDot)
          assert(guard == pairs.nonEmpty,
            s"guard=$guard pairs=${pairs.length} at t=$t d=$d minDot=$minDot")
          agree += 1
          if (guard) flagged += 1
        }
      }
    }
    assert(agree == 540 && flagged > 0 && flagged < agree,
      s"degenerate grid: $flagged/$agree") // both verdicts must occur
  }

  // ---------------- verified streaming profile guard: batch ≡ stream

  test("streamVideoProfileGuard: exact verified flags; batch ≡ MemoryStream ≡ the batch pair operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val M = graft.llm.Multimodal
    val D = graft.llm.Dedup
    def chunksFor(nf: Int): Seq[Int] =
      Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)
    val corpus = (0L until 6L).map(f => (f, M.encodeMp4Media(f * 100L,
        M.bitrateProfileFrameSizes(f, 640, 1.0, gop = 12, noiseSeed = 1L),
        chunksFor(640))))
      .toDF("family", "payload")
    val idx = M.videoProfileIndex(corpus, "family", "payload")
    val rows = (0 until 24).map { i =>
      val fam = (i / 4).toLong
      val bytes = (i % 4) match {
        // re-encode: new payload bytes, 0.6× bitrate, different GOP/noise
        case 0 => M.encodeMp4Media(fam * 100L + 1,
          M.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L),
          chunksFor(640))
        // monotone-scaled copy: 2s+7 per frame — rank-invariant, dot 1.0
        case 1 => M.encodeMp4Media(fam * 100L + 2,
          M.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L)
            .map(sz => math.min(65536, 2 * sz + 7)),
          chunksFor(640))
        // independent content: in-tail candidates die at the fused verify
        case 2 => M.encodeMp4Media(fam * 100L + 3,
          M.bitrateProfileFrameSizes(fam + 5000L, 640, 1.0, gop = 12, noiseSeed = 4L),
          chunksFor(640))
        // unprofiled: null → unflagged
        case _ => s"junk-$i".getBytes("UTF-8")
      }
      (i.toLong, bytes)
    }
    val batch = D.streamVideoProfileGuard(rows.toDF("id", "payload"),
        idx, "payload")
      .select("id", "video_near_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rows.forall { case (id, _) => batch(id) == (id % 4 < 2) },
      batch.toString)

    // Stream leg: bit-identical verdicts through a MemoryStream.
    val in = MemoryStream[(Long, Array[Byte])]
    val q = D.streamVideoProfileGuard(in.toDS().toDF("id", "payload"),
        idx, "payload")
      .writeStream.format("memory").queryName("r17_profile_guard")
      .outputMode("append").start()
    try {
      in.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("r17_profile_guard")
        .select("id", "video_near_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed == batch)
    } finally q.stop()

    // Pair-operator identity: a guard flag is exactly "videoProfilePairs
    // over corpus ∪ {probe} emits a (corpus, probe) pair" — same parse,
    // same neighborhood, same verify arithmetic.
    val union = corpus.select(col("family").as("doc_id"), col("payload"))
      .unionByName(rows.toDF("id", "payload")
        .select((col("id") + 100L).as("doc_id"), col("payload")))
    val paired = M.videoProfilePairs(union, "doc_id", "payload")
      .where(col("id_a") < 100L && col("id_b") >= 100L)
      .select(col("id_b") - 100L).collect().map(_.getLong(0)).toSet
    rows.foreach { case (id, _) =>
      assert(paired.contains(id) == batch(id),
        s"guard/pair mismatch at probe $id: pair=${paired.contains(id)} guard=${batch(id)}")
    }
  }

  // ------------- pipeline vid_profile_dedup ≡ standalone composition

  test("curateInterleavedMm(profilePairs): stage survivors are identical to the standalone operator composition") {
    val M = graft.llm.Multimodal
    val D = graft.llm.Dedup
    def chunksFor(nf: Int): Seq[Int] =
      Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)
    val base = (0L until 15L).map { id =>
      val own = M.encodeMp4Media(id * 100L,
        M.bitrateProfileFrameSizes(id, 640, 1.0, gop = 12, noiseSeed = 1L),
        chunksFor(640))
      val slot1 = (id % 5) match {
        case 0L => M.encodeMp4Media(id * 100L + 2,
          M.bitrateProfileFrameSizes(id + 9000L, 640, 1.0, gop = 12, noiseSeed = 4L),
          chunksFor(640))
        case 1L => M.encodeMp4Media(id * 100L + 1, // re-encode of id-1
          M.bitrateProfileFrameSizes(id - 1, 640, 0.6, gop = 8, noiseSeed = 2L),
          chunksFor(640))
        case 2L => M.encodeMp4Media(id * 100L, // re-mux of own slot0
          M.bitrateProfileFrameSizes(id, 640, 1.0, gop = 12, noiseSeed = 1L),
          Seq.fill(20)(32), timescale = 90000, durationUnits = 640L * 20L * 150L)
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
    val got = r.docs.select(explode(col("videos")).as("v"))
      .collect().map(_.getAs[Array[Byte]](0).toSeq).toSet

    // Standalone composition over the same exploded slots: payload
    // sketch → exact keep-first → payload near-dup drop →
    // videoProfilePairs + connected components keep-lowest-id.
    val exploded = corpus
      .select(col("doc_id"), posexplode(col("videos")).as(Seq("idx", "media")))
      .withColumn("mid", col("doc_id") * 1000L + col("idx"))
    val hashed = exploded
      .withColumn("vhash", M.mediaSketch64(col("media"), "video_payload"))
      .where(col("vhash").isNotNull)
    val afterExact = D.exactKeepFirst(
      hashed.withColumn("fp", xxhash64(col("media"))), Seq("fp"), "mid").drop("fp")
    val afterNear = D.dropNearDupsPHash(afterExact, "mid", "vhash", 4, 8)
    val pairs = M.videoProfilePairs(afterNear, "mid", "media")
    val losers = D.connectedComponents(pairs, "id_a", "id_b")
      .where(col("id") =!= col("component")).select(col("id").as("mid"))
    val want = afterNear.join(losers, Seq("mid"), "left_anti")
      .select("media").collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
    assert(got == want,
      s"pipeline vs standalone survivor mismatch: got ${got.size} want ${want.size}")
    // The re-encode slots are gone; each id≡1 doc keeps only slot0.
    val counts = r.docs.select("doc_id", "n_videos").collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert((0L until 15L).forall(id =>
      counts(id) == (if (id % 5 == 0) 2 else 1)), counts.toString)
  }

  // ------------------------- flat-index escape hatch (recall contract)

  test("videoProfilePairs: flatIndex=true restores corpus-wide recall for pairs outside the 3x3 cell neighborhood") {
    val M = graft.llm.Multimodal
    // A 4× fps re-encode (30 → 120 fps, duration preserved): its fps
    // bucket is TWO log-2 buckets away, outside the certified 3×3
    // neighborhood — the cell path must (documented contract) not emit
    // it, the flat escape hatch must.
    def enc(fam: Long, id: Long, durSec: Double, fps: Int, reenc: Boolean): (Long, Array[Byte]) = {
      val nFrames = (durSec * fps).round.toInt
      val sizes =
        if (reenc) M.bitrateProfileFrameSizes(fam, nFrames, 0.6, gop = 8, noiseSeed = 2L, base = 48)
        else M.bitrateProfileFrameSizes(fam, nFrames, 1.0, gop = 12, noiseSeed = 1L, base = 48)
      val chunks = Seq.fill(nFrames / 64)(64) ++
        (if (nFrames % 64 > 0) Seq(nFrames % 64) else Nil)
      (id, M.encodeMp4Media(id, sizes, chunks,
        durationUnits = (durSec * 600.0).round))
    }
    // 20 same-fps pairs keep the corpus past the banded threshold
    // (maxBucket = 1 ⇒ index path at > 16 rows); one 4×-fps pair.
    val rows = (0 until 10).flatMap { f =>
      Seq(enc(f, 2L * f, 30.0, 30, reenc = false),
        enc(f, 2L * f + 1, 30.0, 30, reenc = true))
    } ++ Seq(enc(10L, 20L, 30.0, 30, reenc = false),
      enc(10L, 21L, 30.0, 120, reenc = true))
    val df = spark.createDataFrame(rows).toDF("doc_id", "payload")
    def pairsOf(flat: Boolean): Set[(Long, Long)] =
      M.videoProfilePairs(df, "doc_id", "payload", maxBucket = 1,
          flatIndex = flat)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sameFps = (0 until 10).map(f => (2L * f, 2L * f + 1)).toSet
    val celled = pairsOf(flat = false)
    assert(celled == sameFps, s"cell path: $celled")
    val flat = pairsOf(flat = true)
    assert(flat == sameFps + ((20L, 21L)),
      s"flat path must recover the 4x-fps pair: $flat")
  }

  // --------------------------- parser robustness under hostile bytes

  test("media parsers never throw on random or mutated-container bytes (null is the only failure mode)") {
    val M = graft.llm.Multimodal
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def randBytes(seed: Long, n: Int): Array[Byte] = {
      val a = new Array[Byte](n)
      var i = 0
      var z = seed
      while (i < n) {
        if (i % 8 == 0) z = mix(z + i)
        a(i) = (z >>> ((i % 8) * 8)).toByte
        i += 1
      }
      a
    }
    def chunksFor(nf: Int): Seq[Int] =
      Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)
    val validMp4 = M.encodeMp4Media(7L,
      M.bitrateProfileFrameSizes(7L, 128, 1.0, gop = 12, noiseSeed = 1L),
      chunksFor(128))
    val validWav = M.encodeToneWav(7L, toneFrames = 2048)
    val validPng = M.encodeBlockImage(7L)
    val idx = M.videoProfileIndex(
      Seq((0L, validMp4)).toDF("id", "payload"), "id", "payload")
    val kinds = Seq("phash", "audio_energy", "audio_spectral",
      "video_payload", "video_profile")
    def probeAll(bytes: Array[Byte]): Unit = {
      kinds.foreach(k => M.sketch64Of(bytes, k)) // null or a value, never a throw
      M.videoProfileParse(bytes)
      M.profileVerifiedHitOf(bytes, idx, 14, 0.85, false)
    }
    // Pure random buffers across the size spectrum (incl. empty).
    (0 until 400).foreach(t => probeAll(randBytes(t * 1013L, (t * 37) % 4096)))
    probeAll(Array.emptyByteArray)
    // Mutated VALID containers: random byte flips (headers, size fields,
    // sample tables — the box walk's bounds logic) and truncations. The
    // parse may return garbage-but-bounded values or null; it must not
    // throw or allocate from hostile counts.
    Seq(validMp4, validWav, validPng).zipWithIndex.foreach { case (valid, vi) =>
      (0 until 300).foreach { t =>
        val b = valid.clone()
        var f = 0
        val flips = 1 + (t % 9)
        while (f < flips) {
          val pos = ((mix(vi * 7919L + t * 131L + f) >>> 1) % b.length).toInt
          b(pos) = (b(pos) ^ (1 << (f % 8)).toByte).toByte
          f += 1
        }
        probeAll(b)
      }
      (1 until 60).foreach { t =>
        probeAll(java.util.Arrays.copyOf(valid,
          ((mix(vi * 104729L + t) >>> 1) % valid.length).toInt))
      }
    }
    // A pathological stsz count (huge declared count, tiny box) must hit
    // the bounds guard, not an allocation.
    val evil = validMp4.clone()
    val stszAt = {
      var i = 0
      var found = -1
      while (i < evil.length - 4 && found < 0) {
        if (evil(i) == 's' && evil(i + 1) == 't' && evil(i + 2) == 's' &&
          evil(i + 3) == 'z') found = i
        i += 1
      }
      found
    }
    assert(stszAt > 0)
    val cntOff = stszAt + 4 + 8 // ver/flags(4) + uniform(4) → count field
    java.nio.ByteBuffer.wrap(evil).putInt(cntOff, Int.MaxValue)
    probeAll(evil)
  }

  // --------------------- CBR closure: measured information-free class

  test("CBR flat-profile videos are information-free by construction: container metadata is content-independent (class closed)") {
    val M = graft.llm.Multimodal
    // Three uniform-stsz "CBR" encodes at the same duration/fps/rate:
    // A and its re-encode A' carry the SAME content (different payload
    // bytes); B is INDEPENDENT content. A signature may read everything
    // except the coded payload (a re-encode rewrites every payload
    // byte). Measured: the entire container prefix (ftyp + moov with
    // mvhd/tkhd/mdhd/stsd/stsz/stsc/stco) is byte-identical across all
    // three, so ANY payload-blind signature assigns A, A', B the same
    // value — it either pairs the independent pair (false positive) or
    // pairs nothing. The class carries zero content signal; the
    // certified null (hash to null, pair nothing) is the correct arm,
    // permanently.
    val a = M.encodeMp4Media(1L, Seq.fill(128)(400), Seq.fill(4)(32))
    val aRe = M.encodeMp4Media(2L, Seq.fill(128)(400), Seq.fill(4)(32))
    val b = M.encodeMp4Media(3L, Seq.fill(128)(400), Seq.fill(4)(32))
    val headerLen = a.length - (8 + 128 * 400) // mdat box + payload
    assert(headerLen > 0 && a.length == aRe.length && a.length == b.length)
    val ha = a.take(headerLen + 8).toSeq // include the mdat size+fourcc
    assert(ha == aRe.take(headerLen + 8).toSeq,
      "re-encode changed container bytes — the class would carry signal")
    assert(ha == b.take(headerLen + 8).toSeq,
      "independent content changed container bytes — the class would carry signal")
    assert(a.drop(headerLen + 8).toSeq != aRe.drop(headerLen + 8).toSeq)
    // The certified null stands: no profile, no pairs, even flat.
    assert(M.videoSizeProfileHashOne(a) == null)
    val df = Seq((0L, a), (1L, aRe), (2L, b)).toDF("doc_id", "payload")
    assert(M.videoProfilePairs(df, "doc_id", "payload").isEmpty)
  }
}

/** Local filesystem whose setTimes throws a WRAPPED RuntimeException —
  * the decorated/object-store shape the r16 heartbeat loop died on
  * silently (it caught only UnsupportedOperation/IOException). Top-level
  * class: Hadoop instantiates it reflectively from `fs.r17ft.impl`. */
class ThrowingSetTimesFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("r17ft:///")
  override def setTimes(p: org.apache.hadoop.fs.Path, mtime: Long,
      atime: Long): Unit =
    throw new RuntimeException("decorated store refuses setTimes")
}
