package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 additions: WriterLock heartbeat + token-verified release,
  * byte-budgeted MIH shard math, the cell-partitioned fused pair probe
  * behind videoProfilePairs' index path, the CBR null boundary, and the
  * streaming audio/video guards' batch≡stream parity. */
class Round16Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ----------------------------------------------- WriterLock liveness

  test("WriterLock: a heartbeating slow writer keeps its lock past the stale horizon") {
    import graft.io.WriterLock
    val dir = java.nio.file.Files.createTempDirectory("r16_lock_hb")
    val path = dir.toString + "/idx"
    try {
      val acquired = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      @volatile var slowOk = false
      // 1200 ms horizon / 300 ms beats: ~4 beats per horizon leaves slack
      // for scheduler stalls on a loaded box without slowing the test
      // much — the property is the same at any horizon.
      val slow = new Thread(() => {
        WriterLock.withLock(spark, path, "slow-writer", staleAfterMs = 1200L) {
          acquired.countDown()
          release.await(15, java.util.concurrent.TimeUnit.SECONDS)
          slowOk = true
        }
      })
      slow.start()
      assert(acquired.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // Body runs well past the horizon; the heartbeat keeps refreshing
      // the mtime, so a second writer must keep failing fast the whole
      // time instead of breaking the lock.
      Thread.sleep(3000L)
      val e = intercept[WriterLock.ConcurrentWriterException] {
        WriterLock.withLock(spark, path, "impatient", staleAfterMs = 1200L)(fail())
      }
      assert(e.getMessage.contains("another writer holds"), e.getMessage)
      release.countDown()
      slow.join(10000L)
      assert(slowOk)
      // Released: a new writer acquires immediately.
      assert(WriterLock.withLock(spark, path, "after", staleAfterMs = 1200L)(42) == 42)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("WriterLock: a dead writer's lock self-breaks, and the dead writer's release cannot free the new owner's lock") {
    import graft.io.WriterLock
    val dir = java.nio.file.Files.createTempDirectory("r16_lock_tok")
    val path = dir.toString + "/idx"
    try {
      WriterLock.heartbeatEnabled = false // simulate a stalled/dead driver
      val acquired = new java.util.concurrent.CountDownLatch(1)
      val dead = new Thread(() => {
        WriterLock.withLock(spark, path, "dead-writer", staleAfterMs = 400L) {
          acquired.countDown()
          Thread.sleep(1400L)
        }
      })
      dead.start()
      assert(acquired.await(10, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(800L) // mtime is now 800 ms old with no heartbeat: stale
      WriterLock.withLock(spark, path, "breaker", staleAfterMs = 400L) {
        // The breaker owns the lock. Let the "dead" writer's finally run
        // (its release must see the breaker's token and leave the file):
        dead.join(10000L)
        val third = intercept[WriterLock.ConcurrentWriterException] {
          WriterLock.withLock(spark, path, "third", staleAfterMs = 60000L)(fail())
        }
        assert(third.getMessage.contains("another writer holds"), third.getMessage)
      }
      // The breaker released its own lock; the file is gone.
      val lock = WriterLock.lockPath(path)
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(lock), "token-verified release must have freed the breaker's lock")
    } finally {
      WriterLock.heartbeatEnabled = true
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------ byte-budgeted shard math

  test("MIH byte budget: shared per-row formula, array clamp, shard counts") {
    val K = graft.functions.HammingIndexKernel
    // The serialization formula (HammingIndexKernel scaladoc): hash + id
    // + bucket members + optional rank payload + inverse norm.
    assert(K.indexBytesPerRow(4, hasIds = false, rankLen = 0) == 24L)
    assert(K.indexBytesPerRow(4, hasIds = true, rankLen = 0) == 32L)
    assert(K.indexBytesPerRow(4, hasIds = true, rankLen = 64) == 104L)
    assert(K.indexBytesPerRow(8, hasIds = true, rankLen = 0) == 48L)
    // Default budget: rank-carrying form shards ~4.3x earlier than the
    // 50M-row pHash form the old cap was inherited from.
    assert(K.shardRowCap(K.DefaultIndexBudgetBytes, 4, hasIds = true,
      rankLen = 64) == 11538461L)
    assert(K.shardRowCap(K.DefaultIndexBudgetBytes, 4, hasIds = false,
      rankLen = 0) == 50000000L)
    // Array clamp: even an absurd byte budget cannot admit a shard whose
    // flattened rank payload overflows a JVM array (the r15 defect).
    assert(K.shardRowCap(Long.MaxValue / 4, 4, hasIds = true, rankLen = 64) ==
      Int.MaxValue.toLong / 64)
    // Shard counts: the synthetic 50-row budget the pair-identity test
    // rides (187 hashed rows -> 4 passes), and the r15 default corpus
    // (50M rank-carrying rows was ONE 5.2 GB shard; now 5 passes under
    // the 1.2 GB budget).
    assert(K.shardCount(187L, 50L * 104L, 4, hasIds = true, rankLen = 64) == 4)
    assert(K.shardCount(50000000L, K.DefaultIndexBudgetBytes, 4,
      hasIds = true, rankLen = 64) == 5)
    assert(K.shardCount(1000L, K.DefaultIndexBudgetBytes, 4,
      hasIds = true, rankLen = 64) == 1)
  }

  test("MihIndex: an empty shard index is legal and probes to nothing") {
    val K = graft.functions.HammingIndexKernel
    val empty = new K.MihIndex(Array.emptyLongArray, 4, Array.emptyLongArray,
      Array.emptyByteArray, Array.emptyDoubleArray)
    assert(empty.idsBelowWithinRankDot(0x1234L, 14, 99L,
      Array.fill(64)(0.125), 0.85).isEmpty)
    assert(!empty.anyWithin(0x1234L, 14))
  }

  test("rank-dot probes: non-finite minDot fails at construction, not in codegen") {
    val K = graft.functions.HammingIndexKernel
    val r2 = Array.tabulate(64)(i => (2 * i).toByte)
    val inv = graft.llm.Multimodal.profileRankInvOf(r2)
    val idx = new K.MihIndex(Array(7L), 4, Array(1L), r2, Array(inv))
    val bc = spark.sparkContext.broadcast(idx)
    try {
      intercept[IllegalArgumentException] {
        K.idsBelowWithinRankDot(lit(7L), lit(2L), lit(Array.fill(64)(0.125)),
          bc, 14, Double.NaN)
      }
      intercept[IllegalArgumentException] {
        K.idsBelowWithinRankDot(lit(7L), lit(2L), lit(Array.fill(64)(0.125)),
          bc, 14, Double.PositiveInfinity)
      }
    } finally bc.unpersist(blocking = false)
  }

  // ------------------------------------- cell-partitioned fused probe

  private def packCell(durB: Int, fpsB: Int): Long =
    (durB.toLong << 32) | (fpsB.toLong & 0xFFFFFFFFL)

  test("profileCellOf: duration/fps bucketing, 2x fps lands adjacent, unknown sentinel") {
    val M = graft.llm.Multimodal
    // 21.33 s at 30 fps: durB = floor(ln 21.33 / ln 1.5) = 7, fpsB =
    // floor(log2 30) = 4.
    val base = M.profileCellOf(21.33, 640)
    assert(base == packCell(7, 4), f"got ${base}%x")
    // Same duration, exactly 2x the fps: log2 shifts by exactly 1 —
    // always the ADJACENT fps bucket (the neighborhood covers it).
    assert(M.profileCellOf(21.33, 1280) == packCell(7, 5))
    // Same content re-encoded with sub-frame duration rounding stays in
    // the same (or an edge-adjacent) duration bucket.
    assert(M.profileCellOf(21.30, 639) == packCell(7, 4))
    // Unknown duration: the reserved cell.
    assert(M.profileCellOf(Double.NaN, 640) == M.ProfileCellUnknown)
    assert(M.profileCellOf(0.0, 640) == M.ProfileCellUnknown)
    assert(M.profileCellOf(21.33, 0) == M.ProfileCellUnknown)
  }

  test("videoProfileParse: mdhd duration/timescale ride the same walk as the profile") {
    val M = graft.llm.Multimodal
    val sizes = M.bitrateProfileFrameSizes(3L, 640, 1.0, gop = 12, noiseSeed = 1L)
    val chunks = Seq.fill(10)(64)
    val p = M.videoProfileParse(M.encodeMp4Media(30L, sizes, chunks))
    assert(p != null && p.nSamples == 640)
    assert(math.abs(p.durSec - 640.0 * 20.0 / 600.0) < 1e-9)
    // Explicit durationUnits override (realistic re-mux clocking).
    val p2 = M.videoProfileParse(M.encodeMp4Media(30L, sizes, chunks,
      timescale = 90000, durationUnits = 640L * 20L * 150L))
    assert(p2 != null && math.abs(p2.durSec - p.durSec) < 1e-9)
    // And the profile is the SAME parse (bit-identical medians).
    assert(p.medians.sameElements(p2.medians))
  }

  test("MihCellIndex: probes are bounded to the probed cells, and verify arithmetic is identical to the flat index") {
    val K = graft.functions.HammingIndexKernel
    val M = graft.llm.Multimodal
    // Four corpus rows sharing one hash and one rank profile; cells
    // (0,0), (1,0) adjacent, (3,0) far, (0,0).
    val h = 0x0123456789ABCDEFL
    val r2 = Array.tabulate(64)(i => (2 * ((i * 37) % 64)).toByte) // permutation
    val inv = M.profileRankInvOf(r2)
    val q = M.profileRanksOfR2(r2) // identical profile: dot == 1.0
    val ids = Array(10L, 20L, 30L, 40L)
    val cells = Array(packCell(0, 0), packCell(1, 0), packCell(3, 0), packCell(0, 0))
    val rb = new Array[Byte](64 * 4)
    (0 until 4).foreach(i => System.arraycopy(r2, 0, rb, i * 64, 64))
    val flat = new K.MihIndex(Array.fill(4)(h), 4, ids, rb, Array.fill(4)(inv))
    val celled = new K.MihCellIndex(cells, Array.fill(4)(h), 4, ids, rb,
      Array.fill(4)(inv))
    // Flat index finds every smaller id regardless of cell.
    assert(flat.idsBelowWithinRankDot(h, 14, 100L, q, 0.85).toSeq ==
      Seq(10L, 20L, 30L, 40L))
    // Celled probe over the 3x3 neighborhood of (0,0): finds the two
    // (0,0) rows and the adjacent (1,0) row, never the far (3,0) row.
    val neighborhood = (for { dd <- -1 to 1; ff <- -1 to 1 }
      yield packCell(0 + dd, 0 + ff)).toArray
    val hits = celled.hitsBelowWithinRankDot(neighborhood, h, 14, 100L, q, 0.85)
    assert(hits.map(_.id).toSeq == Seq(10L, 20L, 40L))
    // Emitted values are the probe's own exact computations.
    hits.foreach { hit =>
      assert(hit.hamming == 0)
      assert(math.abs(hit.dot - 1.0) < 1e-12)
    }
    // Probing ONLY the far cell finds only the far row.
    assert(celled.hitsBelowWithinRankDot(Array(packCell(3, 0)), h, 14, 100L,
      q, 0.85).map(_.id).toSeq == Seq(30L))
    val (nCells, maxCell) = celled.cellStats
    assert(nCells == 3 && maxCell == 2)

    // Mixed representations: a cell at/above MicroCellMaxRows builds the
    // bucket-tabled MihIndex, tiny cells stay scan-all arrays — and the
    // two emit IDENTICAL hits for the same members (memory is bounded by
    // corpus/4096 tables even under adversarial one-row-per-cell keys).
    val big = K.MihCellIndex.MicroCellMaxRows
    val n2 = big + 3
    val hs2 = Array.tabulate(n2)(i => h ^ (i % 7).toLong) // within radius 14
    val ids2 = Array.tabulate(n2)(i => i.toLong)
    val cells2 = Array.tabulate(n2)(i => if (i < big) packCell(0, 0) else packCell(9, 9))
    val rb2 = new Array[Byte](64 * n2)
    (0 until n2).foreach(i => System.arraycopy(r2, 0, rb2, i * 64, 64))
    val mixed = new K.MihCellIndex(cells2, hs2, 4, ids2, rb2, Array.fill(n2)(inv))
    val (nc2, mx2) = mixed.cellStats
    assert(nc2 == 2 && mx2 == big)
    // Probe each cell: the MihIndex-backed big cell and the MicroCell
    // both return every smaller-id member with exact (hamming, dot).
    val bigHits = mixed.hitsBelowWithinRankDot(Array(packCell(0, 0)), h, 14,
      50L, q, 0.85)
    assert(bigHits.map(_.id).toSeq == (0L until 50L) &&
      bigHits.forall(x => x.hamming == java.lang.Long.bitCount(h ^ hs2(x.id.toInt))
        && math.abs(x.dot - 1.0) < 1e-12))
    val microHits = mixed.hitsBelowWithinRankDot(Array(packCell(9, 9)), h, 14,
      Long.MaxValue, q, 0.85)
    assert(microHits.map(_.id).toSeq == Seq(big.toLong, big + 1L, big + 2L))
    assert(mixed.tableStats == (1, 1)) // the big cell tabled, the tiny one micro

    // A wrong-length rank vector fails the same named way regardless of
    // which representation the probed cells use.
    val e = intercept[IllegalArgumentException] {
      celled.hitsBelowWithinRankDot(Array(packCell(0, 0)), h, 14, 100L,
        Array.fill(32)(0.1), 0.85)
    }
    assert(e.getMessage.contains("rank vector length 32 != 64"), e.getMessage)
  }

  test("MihCellIndex: the table budget caps bucket tables at the largest cells; emissions unchanged") {
    val K = graft.functions.HammingIndexKernel
    val M = graft.llm.Multimodal
    val h = 0x5A5A5A5A5A5A5A5AL
    val r2 = Array.tabulate(64)(i => (2 * ((i * 11) % 64)).toByte)
    val inv = M.profileRankInvOf(r2)
    val q = M.profileRanksOfR2(r2)
    val big = K.MihCellIndex.MicroCellMaxRows
    // Six cells, each past the micro threshold — an adversarial-ish
    // spread that would build six ~1 MB tables unbudgeted.
    val perCell = big + 7
    val n = 6 * perCell
    val hs = Array.tabulate(n)(i => h ^ (i % 5).toLong)
    val ids = Array.tabulate(n)(_.toLong)
    val cells = Array.tabulate(n)(i => ((i / perCell).toLong << 32) | 1L)
    val rb = new Array[Byte](64 * n)
    (0 until n).foreach(i => System.arraycopy(r2, 0, rb, i * 64, 64))
    val budgeted = new K.MihCellIndex(cells, hs, 4, ids, rb,
      Array.fill(n)(inv), maxTables = 2)
    val unbudgeted = new K.MihCellIndex(cells, hs, 4, ids, rb,
      Array.fill(n)(inv), maxTables = 100)
    assert(budgeted.tableStats == (2, 4))
    assert(unbudgeted.tableStats == (6, 0))
    // Same probes, same hits, regardless of representation.
    val probeCells = Array.tabulate(6)(c => (c.toLong << 32) | 1L)
    val a = budgeted.hitsBelowWithinRankDot(probeCells, h, 14, 1000L, q, 0.85)
    val b = unbudgeted.hitsBelowWithinRankDot(probeCells, h, 14, 1000L, q, 0.85)
    assert(a.map(x => (x.id, x.hamming, x.dot)).toSeq ==
      b.map(x => (x.id, x.hamming, x.dot)).toSeq)
    assert(a.map(_.id).toSeq == (0L until 1000L))
  }

  test("videoProfilePairs: cell-grouped multi-pass is pair-identical to the single-pass index (incl. cross-group fps pairs and oversized-cell sub-splits)") {
    val M = graft.llm.Multimodal
    // 22 videos across three duration classes (30/80/180 s — cells
    // (8,4)/(10,4)/(12,4)) plus one 2×-fps re-encode pair whose sides
    // straddle ADJACENT fps cells ((10,4) vs (10,5)). Expected pairs:
    // every family's (2f, 2f+1) plus the cross-cell (20, 21).
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
    val rows = (0 until 10).flatMap { f =>
      val dur = Seq(30.0, 80.0, 180.0)(f % 3)
      Seq(enc(f, 2L * f, dur, 30, reenc = false),
        enc(f, 2L * f + 1, dur, 30, reenc = true))
    } ++ Seq(enc(10L, 20L, 80.0, 30, reenc = false),
      enc(10L, 21L, 80.0, 60, reenc = true))
    val df = spark.createDataFrame(rows).toDF("doc_id", "payload")
    val expected = (0 until 10).map(f => (2L * f, 2L * f + 1)).toSet + ((20L, 21L))
    // Budgets expressed in EFFECTIVE per-row bytes (row payload + the r17
    // amortized table reserve) so `budgetRows` stays the shard row cap.
    val K16 = graft.functions.HammingIndexKernel
    val effRow = K16.indexBytesPerRow(4, hasIds = true, rankLen = 64) +
      (K16.bucketTableBytes(4) + K16.MihCellIndex.MicroCellMaxRows - 1) /
        K16.MihCellIndex.MicroCellMaxRows
    def pairsWith(budgetRows: Long, stats: ((Int, Int, Int) => Unit) = null): Set[(Long, Long)] =
      M.videoProfilePairs(df, "doc_id", "payload", maxBucket = 1,
          maxIndexBytes = budgetRows * effRow,
          onIndexStats = stats)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Single pass (budget holds all 22): the baseline.
    val single = pairsWith(100L)
    assert(single == expected,
      s"missing=${(expected -- single)} extra=${(single -- expected)}")
    // Budget 10 rows: whole-cell groups — the (10,4)+(10,5) cells pack
    // into one group, the cross-fps pair survives; identity holds.
    var shardRows = List.empty[Int]
    val grouped = pairsWith(10L, (r, _, _) => shardRows = r :: shardRows)
    assert(grouped == single)
    assert(shardRows.sum == 22 && shardRows.size == 3, shardRows.toString)
    // Budget 5 rows: every duration cell is OVERSIZED and hash-splits
    // into sub-shards; the cross-fps prober must still find its partner
    // in exactly one sub-shard. Identity again.
    val split = pairsWith(5L)
    assert(split == single)
  }

  test("videoProfilePairs: CBR/flat-profile videos are a certified NULL boundary (no signature, no pairs)") {
    val M = graft.llm.Multimodal
    // Two "CBR re-encodes" of the same content: uniform frame sizes at
    // two bitrates. The stsz curve is flat — there is nothing
    // content-specific to key on, and pairing them would pair EVERY
    // constant-bitrate file with every other. Certified boundary: they
    // hash to null and pair with nothing, while a real VBR family in the
    // same corpus still pairs.
    val cbrA = M.encodeMp4Media(1L, Seq.fill(128)(400), Seq.fill(4)(32))
    val cbrB = M.encodeMp4Media(2L, Seq.fill(128)(240), Seq.fill(4)(32))
    assert(M.videoSizeProfileHashOne(cbrA) == null)
    assert(M.videoSizeProfileHashOne(cbrB) == null)
    val vbr0 = M.encodeMp4Media(10L,
      M.bitrateProfileFrameSizes(5L, 640, 1.0, gop = 12, noiseSeed = 1L),
      Seq.fill(10)(64))
    val vbr1 = M.encodeMp4Media(11L,
      M.bitrateProfileFrameSizes(5L, 640, 0.6, gop = 8, noiseSeed = 2L),
      Seq.fill(10)(64))
    val df = Seq((0L, cbrA), (1L, cbrB), (2L, vbr0), (3L, vbr1))
      .toDF("doc_id", "payload")
    val pairs = M.videoProfilePairs(df, "doc_id", "payload")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 3L)), s"got $pairs")
  }

  // ------------------------- interleaved audio/video (curateInterleavedMm)

  test("curateInterleavedMm: text death kills all modality slots; per-modality keep-lowest-id at the byte level") {
    val M = graft.llm.Multimodal
    val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
    def mp4(fam: Long, remux: Boolean = false): Array[Byte] =
      if (remux) M.encodeMp4Media(fam, sizes, Seq.fill(8)(3), timescale = 90000,
        durationUnits = 24L * 20L * 150L)
      else M.encodeMp4Media(fam, sizes, Seq.fill(6)(4))
    val t0 = "w0a the quick brown fox jumps over the lazy dog w0b it was good that it is here and now w0c"
    val t2 = "w2a the quick brown fox jumps over the lazy dog w2b it was good that it is here and now w2c"
    val rows = Seq(
      // doc 0: originals.
      (0L, t0, Seq(M.encodeToneWav(100L), M.encodeToneWav(101L)),
        Seq(mp4(200L), mp4(201L))),
      // doc 1: byte-identical TEXT copy of doc 0 — dies at exact_dedup;
      // its (novel!) media slots must die with it.
      (1L, t0, Seq(M.encodeToneWav(999L)), Seq(mp4(998L))),
      // doc 2: audio slot0 = byte-copy of doc 0's clip (aud_exact_dedup),
      // slot1 = amplitude-rescaled copy (aud_near_dedup), slot2 novel;
      // video slot0 = re-mux of doc 0's video (vid_near_dedup), slot1 =
      // byte-copy (vid_exact_dedup), slot2 novel.
      (2L, t2,
        Seq(M.encodeToneWav(100L), M.encodeToneWav(101L, scaleShift = 1),
          M.encodeToneWav(102L)),
        Seq(mp4(200L, remux = true), mp4(200L), mp4(777L))))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text", "audios", "videos")
    val r = graft.llm.Pipeline.curateInterleavedMm(df, "doc_id", "text",
      Seq("audio" -> "audios", "video" -> "videos"))
    val out = r.docs.select("doc_id", "audios", "videos").collect()
      .map(x => x.getLong(0) ->
        (x.getSeq[Array[Byte]](1).map(_.toSeq), x.getSeq[Array[Byte]](2).map(_.toSeq)))
      .toMap
    assert(out.keySet == Set(0L, 2L), s"doc 1 must die at text exact_dedup: ${out.keySet}")
    assert(out(0L)._1 == Seq(M.encodeToneWav(100L).toSeq, M.encodeToneWav(101L).toSeq))
    assert(out(0L)._2 == Seq(mp4(200L).toSeq, mp4(201L).toSeq))
    // doc 2 keeps only its novel slots (originals won keep-lowest-id).
    assert(out(2L)._1 == Seq(M.encodeToneWav(102L).toSeq))
    assert(out(2L)._2 == Seq(mp4(777L).toSeq))
    // doc 1's media never entered the corpus: nothing anywhere carries them.
    val allBytes = out.values.flatMap(v => v._1 ++ v._2).toSeq
    assert(!allBytes.contains(M.encodeToneWav(999L).toSeq))
    assert(!allBytes.contains(mp4(998L).toSeq))
    // Stage roster: text chain then each modality's explode/decode/
    // exact/near chain, then reassemble.
    val stages = r.stats.orderBy("ord").select("stage").collect().map(_.getString(0)).toSeq
    assert(stages == Seq("input", "fix_encoding", "html_extract", "langid_filter",
      "quality_filter", "line_dedup", "exact_dedup", "near_dedup",
      "aud_explode", "aud_decode", "aud_exact_dedup", "aud_near_dedup",
      "vid_explode", "vid_decode", "vid_exact_dedup", "vid_near_dedup",
      "reassemble"), stages.toString)
  }

  test("curateInterleavedMm: all three modalities ride one corpus (image resize + audio/video dedup together)") {
    val M = graft.llm.Multimodal
    val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
    val rows = Seq(
      (0L, "w0a the quick brown fox jumps over the lazy dog w0b it was good that it is here and now w0c",
        Seq(M.encodeBlockImage(500L)),
        Seq(M.encodeToneWav(100L)),
        Seq(M.encodeMp4Media(200L, sizes, Seq.fill(6)(4)))),
      // doc 1: image byte-copy (img_exact_dedup), audio rescaled copy
      // (aud_near_dedup), video re-mux (vid_near_dedup), plus one novel
      // slot per modality — each modality dedups independently.
      (1L, "w1a the quick brown fox jumps over the lazy dog w1b it was good that it is here and now w1c",
        Seq(M.encodeBlockImage(500L), M.encodeBlockImage(501L)),
        Seq(M.encodeToneWav(100L, scaleShift = 1), M.encodeToneWav(101L)),
        Seq(M.encodeMp4Media(200L, sizes, Seq.fill(8)(3), timescale = 90000,
          durationUnits = 24L * 20L * 150L),
          M.encodeMp4Media(201L, sizes, Seq.fill(6)(4)))))
    val df = spark.createDataFrame(rows)
      .toDF("doc_id", "text", "images", "audios", "videos")
    val r = graft.llm.Pipeline.curateInterleavedMm(df, "doc_id", "text",
      Seq("image" -> "images", "audio" -> "audios", "video" -> "videos"),
      graft.llm.Pipeline.InterleavedConfig(
        image = graft.llm.Pipeline.ImageConfig(targetW = 32, targetH = 32)))
    val out = r.docs.select("doc_id", "n_images", "n_audios", "n_videos")
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2), x.getInt(3))).toMap
    assert(out == Map(0L -> ((1, 1, 1)), 1L -> ((1, 1, 1))), out.toString)
    // Images reassemble RESIZED; audio/video reassemble original bytes.
    val doc1 = r.docs.where(col("doc_id") === 1L)
      .select("images", "audios", "videos").collect()(0)
    val img1 = doc1.getSeq[Array[Byte]](0).head
    assert(M.decodeImages(Seq((1L, img1)).toDF("id", "img"), "img")
      .select("decoded.width").collect()(0).getInt(0) == 32)
    assert(doc1.getSeq[Array[Byte]](1).head.toSeq == M.encodeToneWav(101L).toSeq)
    assert(doc1.getSeq[Array[Byte]](2).head.toSeq ==
      M.encodeMp4Media(201L, sizes, Seq.fill(6)(4)).toSeq)
    val stages = r.stats.orderBy("ord").select("stage").collect().map(_.getString(0))
    assert(stages.count(_.startsWith("img_")) == 5 &&
      stages.count(_.startsWith("aud_")) == 4 && stages.count(_.startsWith("vid_")) == 4)
  }

  // ------------------------------- streaming AV guards: batch ≡ stream

  test("mediaSketch64 expression: bit-identical to the per-row sketch kernels") {
    // The reference is the kernel called directly on the collected bytes.
    def sameAsKernel(df: org.apache.spark.sql.DataFrame, sketch: String,
        kernel: Array[Byte] => java.lang.Long): Boolean =
      df.select(col("payload"), col(sketch)).collect().forall { r =>
        val want = kernel(r.getAs[Array[Byte]](0))
        if (want == null) r.isNullAt(1) else !r.isNullAt(1) && r.getLong(1) == want.longValue
      }
    val audio = spark.range(0, 12).select(col("id")).as[Long]
      .map { id =>
        val bytes =
          if (id % 4 == 3) s"junk-$id".getBytes("UTF-8")
          else graft.llm.Multimodal.encodeToneWav(id / 2)
        (id, bytes)
      }.toDF("id", "payload")
    val exprA = audio.select(col("payload"),
      graft.llm.Multimodal.mediaSketch64(col("payload"), "audio_spectral").as("shash"))
    assert(sameAsKernel(exprA, "shash", graft.llm.Multimodal.audioSpectralHashOne))
    assert(sameAsKernel(graft.llm.Multimodal.audioSpectralHashes(audio, "payload"), "shash",
      graft.llm.Multimodal.audioSpectralHashOne))

    val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
    val video = spark.range(0, 12).select(col("id")).as[Long]
      .map { id =>
        val bytes =
          if (id % 4 == 3) s"junk-$id".getBytes("UTF-8")
          else graft.llm.Multimodal.encodeMp4Media(id / 2, sizes, Seq.fill(6)(4))
        (id, bytes)
      }.toDF("id", "payload")
    val exprV = video.select(col("payload"),
      graft.llm.Multimodal.mediaSketch64(col("payload"), "video_payload").as("vhash"))
    assert(sameAsKernel(exprV, "vhash", graft.llm.Multimodal.videoHashOne))
    assert(sameAsKernel(graft.llm.Multimodal.videoHashes(video, "payload"), "vhash",
      graft.llm.Multimodal.videoHashOne))
  }

  test("streamAudioGuard / streamVideoGuard: batch and MemoryStream verdicts are identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val D = graft.llm.Dedup

    // Audio: corpus of 6 tone families; probes = halved copy (flag),
    // offset copy (flag), novel (no), garbage (no).
    val audioCorpus = spark.range(0, 6).select(col("id")).as[Long]
      .map(f => (f, graft.llm.Multimodal.encodeToneWav(f))).toDF("family", "payload")
    val audioIdx = D.pHashIndex(
      graft.llm.Multimodal.audioSpectralHashes(audioCorpus, "payload"), "shash",
      pieces = 4)
    val audioRows = (0 until 24).map { i =>
      val fam = (i / 4).toLong
      val bytes = (i % 4) match {
        case 0 => graft.llm.Multimodal.encodeToneWav(fam, scaleShift = 1)
        case 1 => graft.llm.Multimodal.encodeToneWav(fam, prefixSilenceFrames = 300)
        case 2 => graft.llm.Multimodal.encodeToneWav(fam + 7000L)
        case _ => s"junk-$i".getBytes("UTF-8")
      }
      (i.toLong, bytes)
    }
    val audioBatch = D.streamAudioGuard(audioRows.toDF("id", "payload"),
        audioIdx, "payload", maxDistance = 3)
      .select("id", "audio_near_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(audioRows.forall { case (id, _) => audioBatch(id) == (id % 4 < 2) })

    val audioIn = MemoryStream[(Long, Array[Byte])]
    val audioQ = D.streamAudioGuard(audioIn.toDS().toDF("id", "payload"),
        audioIdx, "payload", maxDistance = 3)
      .writeStream.format("memory").queryName("r16_audio_guard")
      .outputMode("append").start()
    try {
      audioIn.addData(audioRows)
      audioQ.processAllAvailable()
      val streamed = spark.table("r16_audio_guard")
        .select("id", "audio_near_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed == audioBatch)
    } finally audioQ.stop()

    // Video: corpus of 6 payload families; probes = re-mux (flag),
    // splice (flag), novel (no), garbage (no).
    val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
    val videoCorpus = spark.range(0, 6).select(col("id")).as[Long]
      .map(f => (f, graft.llm.Multimodal.encodeMp4Media(f, sizes, Seq.fill(6)(4))))
      .toDF("family", "payload")
    val videoIdx = D.pHashIndex(graft.llm.Multimodal.videoHashes(videoCorpus, "payload"), "vhash",
      pieces = 4)
    val videoRows = (0 until 24).map { i =>
      val fam = (i / 4).toLong
      val bytes = (i % 4) match {
        case 0 => graft.llm.Multimodal.encodeMp4Media(fam, sizes, Seq.fill(8)(3), timescale = 90000)
        case 1 => graft.llm.Multimodal.encodeMp4Media(fam, sizes, Seq.fill(6)(4), alteredFrames = Set(7))
        case 2 => graft.llm.Multimodal.encodeMp4Media(fam + 9000L, sizes, Seq.fill(6)(4))
        case _ => s"junk-$i".getBytes("UTF-8")
      }
      (i.toLong, bytes)
    }
    val videoBatch = D.streamVideoGuard(videoRows.toDF("id", "payload"),
        videoIdx, "payload", maxDistance = 4)
      .select("id", "video_near_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(videoRows.forall { case (id, _) => videoBatch(id) == (id % 4 < 2) })

    val videoIn = MemoryStream[(Long, Array[Byte])]
    val videoQ = D.streamVideoGuard(videoIn.toDS().toDF("id", "payload"),
        videoIdx, "payload", maxDistance = 4)
      .writeStream.format("memory").queryName("r16_video_guard")
      .outputMode("append").start()
    try {
      videoIn.addData(videoRows)
      videoQ.processAllAvailable()
      val streamed = spark.table("r16_video_guard")
        .select("id", "video_near_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed == videoBatch)
    } finally videoQ.stop()
  }
}
