package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 additions: distributed bloom-guard build, bucketed/appendable
  * BM25 index, fused term counting, image pHash dedup, pipeline
  * composition, and the PCA null-contract fixes. */
class Round13Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs(n: Int) = spark.range(n).toDF("id")
    .withColumn("text", concat_ws(" ",
      (0 until 12).map(k => concat(lit("t"),
        pmod(xxhash64(col("id"), lit(k)), lit(50)).cast("string"))): _*))

  // ----------------------------------------------------- bloom guard

  test("distributed bloom build is bit-identical to the serial builder") {
    import graft.functions.SetKernels.LongBloomSet
    val c = docs(400)
    // exactSizing = true reproduces the serial geometry exactly.
    val dist = graft.llm.Dedup.minHashBandBloom(c, "id", "text",
      numHashes = 32, bands = 16, exactSizing = true)
    // Serial reference: same distinct keys through the one-threaded Builder.
    val keys = graft.llm.Dedup.minHashBandIndex(c, "id", "text",
      numHashes = 32, bands = 16)
    val b = LongBloomSet.builder(keys.length.toLong, 20)
    keys.foreach(b.add)
    val serial = b.result()
    assert(dist == serial, s"distributed $dist != serial $serial")
  }

  test("bloom guard (approx sizing): no false negatives vs the exact index") {
    val corpus = docs(300)
    val stream = docs(500) // first 300 collide with the corpus exactly
    val exactIdx = graft.llm.Dedup.minHashBandIndex(corpus, "id", "text",
      numHashes = 32, bands = 16)
    val bloom = graft.llm.Dedup.minHashBandBloom(corpus, "id", "text",
      numHashes = 32, bands = 16) // default approx sizing
    val exact = graft.llm.Dedup.streamMinHashGuard(stream, exactIdx, "text",
      numHashes = 32, bands = 16)
      .select(col("id"), col("nd_candidate").as("e")).localCheckpoint()
    val bloomed = graft.llm.Dedup.streamMinHashGuardWith(stream, bloom, "text",
      numHashes = 32, bands = 16)
      .select(col("id"), col("nd_candidate").as("b")).localCheckpoint()
    // Bloom may over-flag (FP) but must NEVER miss an exact-index hit.
    val misses = exact.join(bloomed, "id").where(col("e") && !col("b")).count()
    assert(misses === 0L)
    // And at these sizes the FP rate (~6e-5/band) should yield zero
    // spurious flags over 200 clean docs × 16 bands.
    val extra = exact.join(bloomed, "id").where(!col("e") && col("b")).count()
    assert(extra === 0L, s"$extra bloom false positives — geometry regression?")
  }

  // ----------------------------------------------------- term counts

  test("TermCountKernel matches the relational groupBy spelling") {
    val d = docs(200)
    val toks = split(lower(trim(col("text"))), "\\s+")
    val fused = d.select(col("id"),
        explode(graft.functions.TermCountKernel.termCounts(toks)).as("e"))
      .select(col("id"), col("e.term"), col("e.tf").cast("long").as("tf"))
    val relational = d.select(col("id"), explode(toks).as("term"))
      .where(col("term") =!= "")
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    assert(fused.exceptAll(relational).isEmpty && relational.exceptAll(fused).isEmpty)
    // Empty/null tokens are skipped; output is term-sorted.
    val edge = Seq((1L, Seq("b", "", "a", "b", null))).toDF("id", "toks")
      .select(graft.functions.TermCountKernel.termCounts(col("toks")).as("tc"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(edge.map(r => (r.getString(0), r.getInt(1))) === Seq("a" -> 1, "b" -> 2))
  }

  // ----------------------------------------------------- BM25 lifecycle

  test("bucketed BM25 index: pruned scores == in-memory scores; append == rebuild") {
    val base = docs(300)
    val batch = spark.range(300, 400).toDF("id")
      .withColumn("text", concat_ws(" ",
        (0 until 12).map(k => concat(lit("t"),
          pmod(xxhash64(col("id"), lit(k)), lit(50)).cast("string"))): _*))
    val all = base.unionByName(batch)
    val qs = Seq((1L, "t1 t7 t13 t25"), (2L, "t2 t40")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("r13_bm25")
    val dirR = java.nio.file.Files.createTempDirectory("r13_bm25_rebuild")
    try {
      val written = graft.llm.Retrieval.buildAndWriteIndex(base, "id", "text",
        dir.toString, nBuckets = 16)
      assert(written.nBuckets === 16)
      val mem = graft.llm.Retrieval.scores(
        graft.llm.Retrieval.buildIndex(base, "id", "text"), qs, "qid", "qtext")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val disk = graft.llm.Retrieval.scores(written, qs, "qid", "qtext")
      // The bucketed scan must carry non-empty PartitionFilters.
      assert(PlanShape(disk).staticPartitionFilters.nonEmpty,
        s"no partition pruning in:\n${disk.queryExecution.executedPlan}")
      val got = disk.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.keySet === mem.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - mem(k)) < 1e-12, s"$k") }

      // Incremental append == from-scratch rebuild, score for score.
      val appended = graft.llm.Retrieval.appendToBm25Index(batch, "id", "text",
        dir.toString)
      val rebuilt = graft.llm.Retrieval.buildAndWriteIndex(all, "id", "text",
        dirR.toString, nBuckets = 16)
      val sA = graft.llm.Retrieval.scores(appended, qs, "qid", "qtext")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sR = graft.llm.Retrieval.scores(rebuilt, qs, "qid", "qtext")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(sA.keySet === sR.keySet)
      sA.foreach { case (k, v) => assert(math.abs(v - sR(k)) < 1e-9, s"$k") }

      // Re-ingesting existing ids must fail fast (df would double-count).
      val ex = intercept[IllegalArgumentException] {
        graft.llm.Retrieval.appendToBm25Index(batch, "id", "text", dir.toString)
      }
      assert(ex.getMessage.contains("already present in the lengths table"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(dirR.toFile)
    }
  }

  // ----------------------------------------------------- image pHash

  test("pHash: invariant to resize/re-encode, distinct across textures, null on garbage") {
    import graft.llm.Multimodal
    val a = Multimodal.encodeBlockImage(1L)
    val aResized = Multimodal.resizeOne(a, 48, 48, "png")
    val aJpeg = Multimodal.resizeOne(a, 64, 64, "jpg")
    val b = Multimodal.encodeBlockImage(2L)
    def h(x: Array[Byte]) = Multimodal.pHashOne(x)
    def dist(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(h(a) === h(a)) // deterministic
    assert(dist(h(a), h(aResized)) <= 10, s"resize moved ${dist(h(a), h(aResized))} bits")
    assert(dist(h(a), h(aJpeg)) <= 10, s"jpeg moved ${dist(h(a), h(aJpeg))} bits")
    assert(dist(h(a), h(b)) > 16, s"families too close: ${dist(h(a), h(b))}")
    assert(Multimodal.pHashOne("not an image".getBytes("UTF-8")) == null)
    assert(Multimodal.pHashOne(Array.emptyByteArray) == null)
  }

  test("nearDupHamming64: pigeonhole pairs over an explicit sketch column") {
    // Hashes planted so that (1,2) differ in 2 bits, (3,4) in 1 bit, and
    // everything else in >= 16 bits.
    val rows = Seq(
      (1L, 0x0F0F0F0F0F0F0F0FL), (2L, 0x0F0F0F0F0F0F0F0CL),
      (3L, 0x00FF00FF00FF00FFL), (4L, 0x00FF00FF00FF00FEL),
      (5L, 0x1234567811223344L)).toDF("id", "h")
    val got = graft.llm.Dedup.nearDupHamming64(rows, "id", "h",
      maxDistance = 3, pieces = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (3L, 4L)))
  }

  test("audioHash: amplitude-scale invariant, pattern-distinct, null on garbage") {
    import graft.llm.Multimodal
    val a = Multimodal.encodePatternWav(7L)
    val aHalf = Multimodal.encodePatternWav(7L, scaleShift = 1)
    val b = Multimodal.encodePatternWav(8L)
    val ha = Multimodal.audioHashOne(a)
    assert(ha != null && ha == Multimodal.audioHashOne(a)) // deterministic
    assert(ha == Multimodal.audioHashOne(aHalf)) // exact halving => identical
    assert(java.lang.Long.bitCount(ha ^ Multimodal.audioHashOne(b)) > 16)
    assert(Multimodal.audioHashOne("not audio".getBytes("UTF-8")) == null)
    assert(Multimodal.audioHashOne(null) == null)
    // A real constant-amplitude clip (no profile) still hashes without error.
    assert(Multimodal.audioHashOne(
      Multimodal.encodePcmWav(8000, 1, 6400, 1000)) != null)
  }

  test("MihIndex: pigeonhole-complete, exact-verified, null passthrough") {
    import graft.functions.HammingIndexKernel
    val corpus = Array(0x0123456789ABCDEFL, 0xFEDCBA9876543210L, 0L)
    val idx = new HammingIndexKernel.MihIndex(corpus, pieces = 4)
    // Exact members and <=d perturbations hit; far hashes don't.
    assert(idx.anyWithin(0x0123456789ABCDEFL, 0))
    assert(idx.anyWithin(0x0123456789ABCDEFL ^ 0x81L, 3)) // d=2
    assert(!idx.anyWithin(0x0123456789ABCDEFL ^ 0x81L, 1)) // verify rejects d=2 at r=1
    assert(idx.anyWithin(3L, 2) && !idx.anyWithin(0x00FF00FF00FF00FFL, 3))
    // Completeness sweep: EVERY <=3-bit perturbation of a member flags.
    val base = 0xFEDCBA9876543210L
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { _ =>
      val bits = rnd.shuffle((0 until 64).toList).take(rnd.nextInt(4))
      val h = bits.foldLeft(base)((a, b) => a ^ (1L << b))
      assert(idx.anyWithin(h, 3), s"missed ${bits.size}-bit perturbation")
    }
    // Column form: null sketch passes unflagged through the guard.
    val df = Seq((1L, Some(0L)), (2L, None: Option[Long])).toDF("id", "phash")
    val out = graft.llm.Dedup.streamPHashGuard(df, idx, "phash", maxDistance = 0)
      .orderBy("id").collect()
    assert(out(0).getBoolean(2) && !out(1).getBoolean(2))
  }

  // ----------------------------------------------------- PCA null contract

  test("PcaProject: a null vector element projects to null, not 0.0") {
    val m = graft.llm.Pca.fit(
      spark.range(50).select(transform(sequence(lit(0), lit(3)), i =>
        pmod(xxhash64(col("id"), i), lit(100L)).cast("double")).as("v")),
      "v", k = 2)
    val withNull = spark.range(1)
      .select(array(lit(1.0), lit(null).cast("double"), lit(3.0), lit(4.0)).as("v"))
      .select(graft.llm.Pca.project(col("v"), m).as("pc"))
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("Pca.fit on an empty / all-null input fails with a diagnosis") {
    val ex = intercept[IllegalArgumentException] {
      graft.llm.Pca.fit(
        Seq.empty[Seq[Double]].toDF("v"), "v", k = 2)
    }
    assert(ex.getMessage.contains("at least one non-null"))
  }

  // ----------------------------------------------------- pipeline

  test("Pipeline.curateImages: decode/exact/near/resize drop the planted slots") {
    import graft.llm.{Multimodal, Pipeline}
    val media = (0L until 30L).map { id =>
      val orig = Multimodal.encodeBlockImage(id / 5)
      val bytes = (id % 5) match {
        case 0L => orig
        case 1L => Multimodal.resizeOne(orig, 48, 48, "png")
        case 2L => Multimodal.resizeOne(orig, 64, 64, "jpg")
        case 3L => orig
        case _ => s"garbage-$id".getBytes("UTF-8")
      }
      (id, bytes)
    }.toDF("doc_id", "payload")
    val r = Pipeline.curateImages(media, "doc_id", "payload",
      Pipeline.ImageConfig(targetW = 16, targetH = 16))
    val rows = r.stats.orderBy("ord").collect()
      .map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(rows === Map("input" -> 30L, "decode_phash" -> 24L,
      "exact_dedup" -> 18L, "near_dedup" -> 6L, "resize" -> 6L))
    assert(r.docs.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(0L, 5L, 10L, 15L, 20L, 25L))
  }

  test("Pipeline.curate: stages drop exactly the planted families") {
    import graft.llm.Pipeline
    def enGood(i: Long) =
      s"w${i}a the quick brown fox jumps over the lazy dog w${i}b " +
        s"it was good that it is here and now w${i}c"
    val rows = (0L until 20L).map { i =>
      val body =
        if (i == 0) "le chat et le chien sont dans la maison avec les amis et la famille w0"
        else if (i == 1) "the it was " + Seq("!", "?", "@", "#", "$", "%", "^").map(c => c * 20).mkString(" ")
        else if (i == 2) "the cat sat on the mat with w2x\nit was here and it is there w2y\nit was here and it is there w2y"
        else if (i == 18) enGood(5) // exact duplicate of doc 5
        // Near-dup of doc 6: ONE extra token (shingle jaccard 19/20 =
        // 0.95) sits past the r14 selective banding's S-curve knee, so
        // the planted drop is certain (P(miss) ~ 3e-8), unlike the old
        // +4-token 0.826-jaccard plant on the curve's shoulder.
        else if (i == 19) enGood(6) + " extra"
        else enGood(i)
      (i, s"<p>$body</p><script>var x = 1;</script>")
    }.toDF("doc_id", "text")
    val eval = Seq((100L, enGood(3))).toDF("doc_id", "text")
    val r = Pipeline.curate(rows, "doc_id", "text", Some(eval))
    val stats = r.stats.orderBy("ord").collect()
      .map(x => x.getString(1) -> (x.getLong(2), x.getLong(3)))
    val byStage = stats.toMap
    assert(stats.map(_._1).toSeq === Seq("input", "fix_encoding", "html_extract",
      "langid_filter", "quality_filter", "line_dedup", "exact_dedup",
      "near_dedup", "decontaminate"))
    assert(byStage("input")._1 === 20L)
    assert(byStage("fix_encoding") === byStage("input")) // ASCII identity
    assert(byStage("html_extract")._1 === 20L)
    assert(byStage("html_extract")._2 === byStage("input")._2 - 20L * 3) // wrapper = +3 tokens/doc
    assert(byStage("langid_filter")._1 === 19L) // fr doc gone
    assert(byStage("quality_filter")._1 === 18L) // junk doc gone
    assert(byStage("line_dedup")._1 === 18L)
    assert(byStage("line_dedup")._2 === byStage("quality_filter")._2 - 8L) // one repeated 8-token line
    assert(byStage("exact_dedup")._1 === 17L) // doc 18 gone
    assert(byStage("near_dedup")._1 === 16L) // doc 19 gone
    assert(byStage("decontaminate")._1 === 15L) // doc 3 gone
    val ids = r.docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === (4L until 18L).toSet + 2L)
    // Final text of the line-dedup doc keeps first occurrences in order.
    val t2 = r.docs.where(col("doc_id") === 2).select("text").collect()(0).getString(0)
    assert(t2 === "the cat sat on the mat with w2x\nit was here and it is there w2y")
  }
}
