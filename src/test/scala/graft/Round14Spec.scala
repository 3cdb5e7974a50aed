package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 additions: BM25 index compaction, crash-healing of the df
  * swap, and the full-64-AC-bit pHash. */
class Round14Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs(lo: Int, hi: Int) = spark.range(lo, hi).toDF("id")
    .withColumn("text", concat_ws(" ",
      (0 until 12).map(k => concat(lit("t"),
        pmod(xxhash64(col("id"), lit(k)), lit(50)).cast("string"))): _*))

  private def scoreMap(idx: graft.llm.Retrieval.Bm25Index,
      qs: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    graft.llm.Retrieval.scores(idx, qs, "qid", "qtext")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  // --------------------------------------------------- BM25 compaction

  test("compactBm25Index: shrinks the file census, preserves scores and pruning") {
    val qs = Seq((1L, "t1 t7 t13 t25"), (2L, "t2 t40")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("r14_bm25_compact")
    try {
      graft.llm.Retrieval.buildAndWriteIndex(docs(0, 300), "id", "text",
        dir.toString, nBuckets = 16)
      // Three ingest batches: each appends one file per touched tf bucket
      // and one dl delta — the small-files growth compaction closes.
      (0 until 3).foreach { b =>
        graft.llm.Retrieval.appendToBm25Index(
          docs(300 + b * 50, 350 + b * 50), "id", "text", dir.toString)
      }
      val before = scoreMap(graft.llm.Retrieval.loadIndex(spark, dir.toString), qs)
      val (nBefore, nAfter) =
        graft.llm.Retrieval.compactBm25Index(spark, dir.toString, dlFiles = 2)
      assert(nAfter < nBefore, s"expected shrink, got $nBefore -> $nAfter")
      val reloaded = graft.llm.Retrieval.loadIndex(spark, dir.toString)
      val after = scoreMap(reloaded, qs)
      assert(after.keySet === before.keySet)
      after.foreach { case (k, v) => assert(math.abs(v - before(k)) < 1e-9, s"$k") }
      // Partition pruning must survive the rewrite (same tb=... layout).
      val scored = graft.llm.Retrieval.scores(reloaded, qs, "qid", "qtext")
      assert(PlanShape(scored).staticPartitionFilters.nonEmpty,
        s"no partition pruning in:\n${scored.queryExecution.executedPlan}")
      // Compaction is idempotent: a second pass may not lose rows.
      graft.llm.Retrieval.compactBm25Index(spark, dir.toString, dlFiles = 2)
      val again = scoreMap(graft.llm.Retrieval.loadIndex(spark, dir.toString), qs)
      assert(again === after)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  // --------------------------------------------- df-swap crash healing

  test("healDfSwap: a crash between the swap renames self-heals forward") {
    val qs = Seq((1L, "t1 t7 t13 t25")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("r14_bm25_heal_fwd")
    val dirR = java.nio.file.Files.createTempDirectory("r14_bm25_heal_ref")
    try {
      graft.llm.Retrieval.buildAndWriteIndex(docs(0, 300), "id", "text",
        dir.toString, nBuckets = 8)
      graft.llm.Retrieval.appendToBm25Index(docs(300, 400), "id", "text",
        dir.toString)
      val want = scoreMap(graft.llm.Retrieval.buildAndWriteIndex(
        docs(0, 400), "id", "text", dirR.toString, nBuckets = 8), qs)
      // Simulate the crash window between rename(df, __old) and
      // rename(tmp, df): the COMPLETE merged df sits at the tmp name
      // (with its _SUCCESS), the previous df at __old, nothing at df.
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val df = new org.apache.hadoop.fs.Path(s"$dir/df")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/df._graft_append_tmp")
      val old = new org.apache.hadoop.fs.Path(s"$dir/df.__old")
      assert(fs.rename(df, tmp))
      assert(fs.mkdirs(old)) // stale pre-append df (content irrelevant)
      // loadIndex must finish the swap and score exactly like the rebuild.
      val healed = graft.llm.Retrieval.loadIndex(spark, dir.toString)
      assert(fs.exists(df) && !fs.exists(tmp) && !fs.exists(old))
      val got = scoreMap(healed, qs)
      assert(got.keySet === want.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"$k") }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(dirR.toFile)
    }
  }

  test("healDfSwap: an incomplete merged df restores the original") {
    val qs = Seq((1L, "t1 t7 t13 t25")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("r14_bm25_heal_back")
    try {
      val built = graft.llm.Retrieval.buildAndWriteIndex(docs(0, 300), "id",
        "text", dir.toString, nBuckets = 8)
      val want = scoreMap(built, qs)
      // Simulate a crash DURING the merged-df write: df moved aside,
      // tmp exists but has no _SUCCESS marker.
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val df = new org.apache.hadoop.fs.Path(s"$dir/df")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/df._graft_append_tmp")
      val old = new org.apache.hadoop.fs.Path(s"$dir/df.__old")
      assert(fs.rename(df, old))
      assert(fs.mkdirs(tmp)) // partial write, no _SUCCESS
      val healed = graft.llm.Retrieval.loadIndex(spark, dir.toString)
      assert(fs.exists(df) && !fs.exists(tmp) && !fs.exists(old))
      val got = scoreMap(healed, qs)
      assert(got.keySet === want.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"$k") }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("healCompactSwaps: a crashed tf compaction heals before load OR append") {
    val qs = Seq((1L, "t1 t7 t13 t25")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("r14_bm25_heal_tf")
    try {
      graft.llm.Retrieval.buildAndWriteIndex(docs(0, 300), "id", "text",
        dir.toString, nBuckets = 8)
      val want = scoreMap(graft.llm.Retrieval.loadIndex(spark, dir.toString), qs)
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tf = new org.apache.hadoop.fs.Path(s"$dir/tf")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/tf._graft_compact_tmp")
      val old = new org.apache.hadoop.fs.Path(s"$dir/tf.__old")
      // Crash window A: between the two renames with a COMPLETE rewrite
      // at the tmp name — heal must finish forward.
      assert(fs.rename(tf, tmp)) // the rewrite is complete (has _SUCCESS)
      assert(fs.mkdirs(old))
      val healed = graft.llm.Retrieval.loadIndex(spark, dir.toString)
      assert(fs.exists(tf) && !fs.exists(tmp) && !fs.exists(old))
      val got = scoreMap(healed, qs)
      assert(got.keySet === want.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"$k") }
      // Crash window B: rewrite incomplete (no _SUCCESS), tf moved aside.
      // Without healing, the subsequent APPEND would recreate tf holding
      // only its delta — the silent-corpus-drop path the heal closes.
      assert(fs.rename(tf, old))
      assert(fs.mkdirs(tmp))
      graft.llm.Retrieval.appendToBm25Index(docs(300, 350), "id", "text",
        dir.toString)
      assert(fs.exists(tf) && !fs.exists(tmp) && !fs.exists(old))
      val full = scoreMap(graft.llm.Retrieval.loadIndex(spark, dir.toString), qs)
      val dirR = java.nio.file.Files.createTempDirectory("r14_bm25_heal_tf_ref")
      try {
        val ref = scoreMap(graft.llm.Retrieval.buildAndWriteIndex(
          docs(0, 350), "id", "text", dirR.toString, nBuckets = 8), qs)
        assert(full.keySet === ref.keySet)
        full.foreach { case (k, v) => assert(math.abs(v - ref(k)) < 1e-9, s"$k") }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dirR.toFile)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  // ------------------------------------------------- pHash: 64 AC bits

  test("pHash carries 64 discriminating AC bits (no constant DC bit)") {
    import graft.llm.Multimodal
    val hashes = (0L until 64L).map(f =>
      Multimodal.pHashOne(Multimodal.encodeBlockImage(f)).longValue())
    // Exactly 32 of the 64 AC coefficients sit above their median when
    // values are distinct — the balanced split a Hamming sketch wants.
    hashes.foreach(h => assert(java.lang.Long.bitCount(h) === 32, f"$h%016x"))
    // Every BIT POSITION varies across textures: a constant bit (the old
    // DC slot) carries no discrimination. Block textures are iid noise in
    // every frequency, so 64 samples pin each position with P(miss)~5e-18.
    (0 until 64).foreach { j =>
      val ones = hashes.count(h => (h >>> j & 1L) == 1L)
      assert(ones > 0 && ones < hashes.size, s"bit $j constant across textures")
    }
  }

  // ------------------------------------ selective banding + cap drops

  test("lshParamsSelective: most selective banding whose transition <= threshold") {
    assert(graft.llm.Dedup.lshParamsSelective(0.8, 128) === (16, 8))
    for (t <- Seq(0.3, 0.5, 0.7, 0.9); n <- Seq(64, 128, 256)) {
      val (b, r) = graft.llm.Dedup.lshParamsSelective(t, n)
      assert(b * r === n, s"t=$t n=$n")
      assert(math.pow(1.0 / b, 1.0 / r) <= t + 1e-12, s"t=$t n=$n")
      // Maximality: every divisor pair satisfying the bound has r' <= r.
      (1 to n).filter(n % _ == 0).map(bb => (bb, n / bb))
        .filter { case (bb, rr) => math.pow(1.0 / bb, 1.0 / rr) <= t }
        .foreach { case (_, rr) => assert(rr <= r, s"t=$t n=$n missed rr=$rr") }
    }
    // A threshold below every pair's transition falls back to the
    // closest-transition tuner instead of failing.
    assert(graft.llm.Dedup.lshParamsSelective(0.005, 128) ===
      graft.llm.Dedup.lshParamsFor(0.005, 128))
  }

  test("nearDupMinHash surfaces bucket-cap drops instead of losing recall silently") {
    var keys = -1L
    var rows = -1L
    val df = spark.range(50).toDF("id").withColumn("text",
      when(col("id") < 40, lit("all the same boilerplate text here okay"))
        .otherwise(concat(lit("unique w"), col("id"),
          lit("a alpha beta gamma delta epsilon"))))
    val pairs = graft.llm.Dedup.nearDupMinHash(df, "id", "text",
      threshold = 0.8, numHashes = 32, bands = 4, shingleWidth = 3,
      maxBucket = 10, onCapDrops = (k, r) => { keys = k; rows = r })
    // 40 identical docs share all 4 band keys -> 4 oversized buckets of
    // 40 rows each are capped away (and reported); the unique docs pair
    // with nothing, so the capped family vanishing leaves zero pairs.
    assert(pairs.count() === 0L)
    assert(keys === 4L && rows === 160L, s"keys=$keys rows=$rows")
    // Uncapped control: the family pairs fully (C(40,2) at jaccard 1).
    val uncapped = graft.llm.Dedup.nearDupMinHash(df, "id", "text",
      threshold = 0.8, numHashes = 32, bands = 4, shingleWidth = 3)
    assert(uncapped.count() === 780L)
  }

  // ---------------------------------- image near-dup auto-scale switch

  test("dropNearDupsPHash: multi-pass sharded fallback == fused MIH path, survivor for survivor") {
    // 40 families of 64-bit sketches: the original, a 2-bit perturbation
    // (pairs at d<=3), an 11-bit perturbation (does not), plus a shared
    // exact duplicate family and null sketches that must survive both
    // paths untouched.
    val rows = (0L until 40L).flatMap { f =>
      val base = f * 0x9E3779B97F4A7C15L ^ (f << 17) // spread bits
      Seq(
        (4 * f, Some(base)),
        (4 * f + 1, Some(base ^ 0x0000000000000081L)), // 2 bits, one piece
        (4 * f + 2, Some(base ^ 0x0101010101010101L ^ 0x0000000000000700L)), // 11 bits
        (4 * f + 3, if (f % 7 == 3) (None: Option[Long]) else Some(base)))
    }
    val df = spark.createDataFrame(rows).toDF("id", "phash")
    def ids(out: org.apache.spark.sql.DataFrame): Seq[Long] =
      out.select("id").collect().map(_.getLong(0)).toSeq.sorted
    // Large cap -> fused single-index MIH path; a 60-hash cap over ~119
    // distinct hashes forces the multi-pass hash-range path (3 shards).
    // Same call, same survivors.
    val fused = ids(graft.llm.Dedup.dropNearDupsPHash(df, "id", "phash",
      maxDistance = 3, maxCorpusImages = 1000000L))
    val sharded = ids(graft.llm.Dedup.dropNearDupsPHash(df, "id", "phash",
      maxDistance = 3, maxCorpusImages = 60L))
    assert(fused === sharded)
    // Sanity on the semantics themselves: per family the original (4f)
    // survives, the 2-bit copy (4f+1) is dropped, the 11-bit variant
    // survives, the exact duplicate (4f+3) is dropped where present and
    // the null-sketch rows always survive.
    val want = (0L until 40L).flatMap { f =>
      Seq(4 * f, 4 * f + 2) ++ (if (f % 7 == 3) Seq(4 * f + 3) else Nil)
    }.sorted
    assert(fused === want)
  }

  // ------------------------------------------- spectral audio fingerprint

  test("spectral audio hash: shift/pad/scale-invariant, distinct, null on garbage") {
    import graft.llm.Multimodal
    def h(b: Array[Byte]): java.lang.Long = Multimodal.audioSpectralHashOne(b)
    (0L until 6L).foreach { f =>
      val orig = h(Multimodal.encodeToneWav(f)).longValue()
      // Time offset (leading silence), padding (trailing silence), and
      // amplitude halving — the transforms the energy-profile hash breaks
      // under — must stay within the pairing radius.
      val off = h(Multimodal.encodeToneWav(f, prefixSilenceFrames = 300)).longValue()
      val pad = h(Multimodal.encodeToneWav(f, suffixSilenceFrames = 4000)).longValue()
      val both = h(Multimodal.encodeToneWav(f, prefixSilenceFrames = 777,
        suffixSilenceFrames = 1234)).longValue()
      val half = h(Multimodal.encodeToneWav(f, scaleShift = 1)).longValue()
      assert(java.lang.Long.bitCount(orig ^ off) <= 3, s"family $f offset")
      assert(java.lang.Long.bitCount(orig ^ pad) <= 3, s"family $f pad")
      assert(java.lang.Long.bitCount(orig ^ both) <= 3, s"family $f both")
      assert(java.lang.Long.bitCount(orig ^ half) <= 3, s"family $f scale")
      // Different tone families sit far apart (expected ~32 bits).
      val other = h(Multimodal.encodeToneWav(f + 100L)).longValue()
      assert(java.lang.Long.bitCount(orig ^ other) > 12, s"family $f vs ${f + 100L}")
    }
    assert(h("not audio at all".getBytes("UTF-8")) == null)
    assert(h(null) == null)
    assert(h(Array.emptyByteArray) == null)
    // Shorter than one analysis window: no spectrum to hash.
    assert(h(Multimodal.encodePatternWav(1L, sections = 8,
      framesPerSection = 100)) == null)
  }

  test("pHash is invariant to global brightness/contrast scaling") {
    import graft.llm.Multimodal
    // Scaling every pixel by 0.75 scales every AC coefficient AND their
    // median by 0.75 — the bit pattern is unchanged up to byte-rounding
    // noise. (A pure brightness SHIFT moves only the excluded DC term.)
    (0L until 8L).foreach { f =>
      val orig = Multimodal.encodeBlockImage(f)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(orig))
      val dark = new java.awt.image.BufferedImage(
        img.getWidth, img.getHeight, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      (0 until img.getHeight).foreach { y =>
        (0 until img.getWidth).foreach { x =>
          val g = ((img.getRGB(x, y) & 0xFF) * 3) / 4
          dark.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(dark, "png", out)
      val d = java.lang.Long.bitCount(
        Multimodal.pHashOne(orig) ^ Multimodal.pHashOne(out.toByteArray))
      assert(d <= 6, s"family $f: hamming $d under 0.75x contrast scale")
    }
  }

  // ------------------------------------------- broadcast MIH probes

  test("broadcast MIH probes == embedded-index probes, row for row") {
    import graft.functions.HammingIndexKernel
    val hashes = (0L until 500L).map(i => i * 0x9E3779B97F4A7C15L ^ (i << 23))
    val idx = new HammingIndexKernel.MihIndex(hashes.toArray, 4,
      hashes.indices.map(_.toLong).toArray)
    val bc = spark.sparkContext.broadcast(idx)
    // Probe set: every corpus hash, near-misses at d=2, and far points.
    val probes = hashes ++ hashes.map(_ ^ 0x0000010000000100L) ++
      hashes.map(~_)
    val df = probes.zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("pid", "h")
    val both = df.select(col("pid"),
        HammingIndexKernel.anyWithin(col("h"), idx, 2).as("a_emb"),
        HammingIndexKernel.anyWithin(col("h"), bc, 2).as("a_bc"),
        HammingIndexKernel.minIdWithin(col("h"), idx, 2).as("m_emb"),
        HammingIndexKernel.minIdWithin(col("h"), bc, 2).as("m_bc"))
      .collect()
    both.foreach { r =>
      assert(r.getBoolean(1) === r.getBoolean(2), s"anyWithin @ ${r.getLong(0)}")
      assert(r.getLong(3) === r.getLong(4), s"minIdWithin @ ${r.getLong(0)}")
    }
    // The broadcast variant's task-binary payload is the HANDLE, not the
    // index: the expression tree must not reference the MihIndex object.
    val bcCol = HammingIndexKernel.minIdWithin(col("h"), bc, 2)
    val expr = org.apache.spark.sql.graftshim.GraftSql.expression(bcCol)
    assert(!expr.asInstanceOf[Product].productIterator
      .exists(_.isInstanceOf[HammingIndexKernel.MihIndex]))
    assert(expr.asInstanceOf[Product].productIterator
      .exists(_.isInstanceOf[org.apache.spark.broadcast.Broadcast[_]]))
    bc.unpersist(blocking = false)
  }

  // --------------------------------------------------- video fingerprint

  test("videoHashOne: remux-invariant, splice <= 4 bits, distinct families, null on garbage") {
    import graft.llm.Multimodal
    val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
    val orig = Multimodal.videoHashOne(
      Multimodal.encodeMp4Media(5L, sizes, Seq.fill(6)(4)))
    assert(orig != null)
    // Re-mux sweep: chunking, timescale, dims, and codec fourcc all
    // change; the coded payload stream does not — hash identical.
    val remux = Multimodal.videoHashOne(Multimodal.encodeMp4Media(5L, sizes,
      Seq.fill(8)(3), timescale = 90000, width = 640, height = 480, codec = "hev1"))
    assert(remux == orig)
    val oneChunk = Multimodal.videoHashOne(
      Multimodal.encodeMp4Media(5L, sizes, Seq(24)))
    assert(oneChunk == orig)
    // Splice copy: frame 7 replaced — sampled exactly once at 24 frames,
    // so at most its one nibble moves.
    val splice = Multimodal.videoHashOne(
      Multimodal.encodeMp4Media(5L, sizes, Seq.fill(6)(4), alteredFrames = Set(7)))
    assert(splice != null && java.lang.Long.bitCount(orig ^ splice) <= 4)
    val novel = Multimodal.videoHashOne(
      Multimodal.encodeMp4Media(9005L, sizes, Seq.fill(6)(4)))
    assert(java.lang.Long.bitCount(orig ^ novel) > 10)
    assert(Multimodal.videoHashOne("not-an-mp4-at-all".getBytes("UTF-8")) == null)
    assert(Multimodal.videoHashOne(null) == null)
    // The header-only stub carries no sample-location tables: null, never
    // a confident hash over absent media.
    assert(Multimodal.videoHashOne(
      Multimodal.encodeMp4Stub(600, 1200, Seq((320, 240)))) == null)
  }

  test("videoHashOne: short corpora hash (sampling repeats frames); truncated mdat nulls") {
    import graft.llm.Multimodal
    val sizes5 = Seq(10, 20, 30, 40, 50)
    val full = Multimodal.encodeMp4Media(1L, sizes5, Seq(2, 3))
    assert(Multimodal.videoHashOne(full) != null)
    // Truncation drops the tail of the mdat: a located payload now exits
    // the file, which must null the hash (out-of-bounds, not garbage bits).
    assert(Multimodal.videoHashOne(full.take(full.length - 10)) == null)
  }

  test("videoHashOne: co64 chunk table == stco (the >4GiB offset width); crafted stsz count nulls") {
    import graft.llm.Multimodal
    val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
    val viaStco = Multimodal.videoHashOne(
      Multimodal.encodeMp4Media(5L, sizes, Seq.fill(6)(4)))
    val viaCo64 = Multimodal.videoHashOne(
      Multimodal.encodeMp4Media(5L, sizes, Seq.fill(6)(4), useCo64 = true))
    assert(viaCo64 != null && viaCo64 == viaStco)
    // Crafted compact-form stsz: patch the sample count to ~2^31-ish.
    // The hash must NULL (count exceeds the file's byte count) instead of
    // attempting a multi-GB allocation on garbage input.
    val f = Multimodal.encodeMp4Media(5L, sizes, Seq.fill(6)(4))
    var crafted: Array[Byte] = null
    var i = 0
    while (i + 8 <= f.length && crafted == null) {
      if (new String(f, i, 4, "US-ASCII") == "stsz") {
        val c = f.clone()
        // stsz payload: ver/flags(4), sample_size(4), sample_count(4)
        java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.BIG_ENDIAN)
          .putInt(i + 4 + 4, 0x10) // force the compact form (uniform 16)
        java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.BIG_ENDIAN)
          .putInt(i + 4 + 8, Int.MaxValue)
        crafted = c
      }
      i += 1
    }
    assert(crafted != null, "stsz box not found in the stub")
    assert(Multimodal.videoHashOne(crafted) == null)
    // Allocation-amplification form: uniform 4096 with cnt = file length
    // passes a naive cnt<=len bound but needs len/4096 to be sound.
    val c2 = f.clone()
    java.nio.ByteBuffer.wrap(c2).order(java.nio.ByteOrder.BIG_ENDIAN)
      .putInt(i - 1 + 8, 4096).putInt(i - 1 + 12, f.length)
    assert(Multimodal.videoHashOne(c2) == null)
    // Crafted co64 offset near Long.MaxValue: the naive bounds check
    // `off + size > len` wraps negative and would pass, handing
    // hashUnsafeBytes a wild native address — must null, not read.
    val g = Multimodal.encodeMp4Media(5L, sizes, Seq.fill(6)(4), useCo64 = true)
    var j = 0
    var patched: Array[Byte] = null
    while (j + 8 <= g.length && patched == null) {
      if (new String(g, j, 4, "US-ASCII") == "co64") {
        val c = g.clone()
        // co64 payload: ver/flags(4), count(4), then 8-byte offsets.
        java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.BIG_ENDIAN)
          .putLong(j + 4 + 8, Long.MaxValue - 7L)
        patched = c
      }
      j += 1
    }
    assert(patched != null, "co64 box not found")
    assert(Multimodal.videoHashOne(patched) == null)
  }

  // ------------------------------------------ decontaminate fast path

  test("decontaminate == contaminationReport-derived keep set (both minHits legs, nulls kept)") {
    val train = docs(0, 400).unionByName(
      Seq((9999L, null: String)).toDF("id", "text"))
    val eval = docs(390, 410)
    val rep = graft.llm.Decontamination.contaminationReport(
      train, eval, "id", "text", n = 5)
    Seq(1L, 3L).foreach { minHits =>
      val kept = graft.llm.Decontamination.decontaminate(
          train, eval, "id", "text", n = 5, minHits = minHits)
        .select("id").collect().map(_.getLong(0)).toSet
      val expected = rep.where(col("n_hits") < minHits)
        .select("id").collect().map(_.getLong(0)).toSet + 9999L
      assert(kept == expected, s"minHits=$minHits")
    }
    // The planted overlap (ids 390-399 verbatim in eval) must be dropped.
    val kept1 = graft.llm.Decontamination.decontaminate(
        train, eval, "id", "text", n = 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert((390L until 400L).forall(!kept1.contains(_)))
    // decontaminateAuto: the fused single-pass plan and the forced join
    // fallback (cap 1 gram) must both equal the join path's keep set.
    Seq(50000000L, 1L).foreach { cap =>
      val auto = graft.llm.Decontamination.decontaminateAuto(
          train, eval, "id", "text", n = 5, maxFusedGrams = cap)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(auto == kept1, s"maxFusedGrams=$cap")
    }
  }
}
