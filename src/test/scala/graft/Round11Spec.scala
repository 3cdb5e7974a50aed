package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 additions: MP4 frame-level metadata (stbl: stsz/stss). */
class Round11Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("video frames: stsz/stss roundtrip — both stsz forms, stss-absent rule") {
    import graft.llm.Multimodal
    // Per-entry stsz (varying sizes) + stss naming 3 keyframes.
    val varying = Multimodal.encodeMp4Stub(timescale = 1000, durationUnits = 5000L,
      tracks = Seq((320, 240)), frameSizes = Seq(100, 110, 120, 130, 140),
      syncSamples = Seq(1, 3, 5))
    val r1 = Multimodal.parseMp4Meta(varying)
    assert(r1 != null)
    assert(r1.getLong(7) === 5L, s"frame_count: $r1")
    assert(r1.getLong(8) === 3L, s"keyframe_count: $r1")
    assert(r1.getDouble(9) === 120.0, s"mean_frame_size: $r1")

    // Compact stsz (uniform size), NO stss: every sample is sync
    // (ISO 14496-12 absence rule).
    val uniform = Multimodal.encodeMp4Stub(timescale = 1000, durationUnits = 5000L,
      tracks = Seq((320, 240), (0, 0)), frameSizes = Seq.fill(7)(256))
    val r2 = Multimodal.parseMp4Meta(uniform)
    assert(r2.getLong(7) === 7L && r2.getLong(8) === 7L && r2.getDouble(9) === 256.0)

    // No stbl at all: header fields parse, frame fields are null.
    val bare = Multimodal.encodeMp4Stub(timescale = 1000, durationUnits = 5000L,
      tracks = Seq((320, 240)))
    val r3 = Multimodal.parseMp4Meta(bare)
    assert(r3 != null && r3.getLong(1) === 1000L)
    assert(r3.isNullAt(7) && r3.isNullAt(8) && r3.isNullAt(9),
      s"stbl-less container must yield null frame fields: $r3")

    // The distributed decode carries the new fields through the struct.
    val df = Seq((1L, varying), (2L, bare)).toDF("id", "payload")
    val dec = Multimodal.decodeVideoMeta(df, "payload")
      .select(col("id"), col("decoded_video.frame_count").as("fc"),
        col("decoded_video.keyframe_count").as("kc"))
      .orderBy("id").collect()
    assert(dec(0).getLong(1) === 5L && dec(0).getLong(2) === 3L)
    assert(dec(1).isNullAt(1) && dec(1).isNullAt(2))
  }

  test("streaming minhash guard: stateless, batch-identical, index bound enforced") {
    import graft.llm.Dedup
    def fam(id: Long): String = (0 until 24).map(i => s"w${id}x$i").mkString(" ")
    val corpus = Seq((100L, fam(0)), (101L, fam(3))).toDF("doc_id", "text")
    val index = Dedup.minHashBandIndex(corpus, "doc_id", "text",
      numHashes = 128, bands = 64)
    assert(index.nonEmpty && index.length <= 2 * 64)

    val docs = Seq((0L, fam(0)), (1L, fam(1)), (3L, fam(3)), (7L, fam(7)))
      .toDF("doc_id", "text")
    // Batch-mode verdicts: identical text hits every band; disjoint
    // families hit none.
    val got = Dedup.streamMinHashGuard(docs, index, "text",
      numHashes = 128, bands = 64)
      .select("doc_id", "nd_bands_hit", "nd_candidate")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq === Seq((0L, 64L, true), (1L, 0L, false),
      (3L, 64L, true), (7L, 0L, false)))
    val kept = Dedup.streamDropNearDupsMinHash(docs, index, "text",
      numHashes = 128, bands = 64).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 7L))

    // Streaming execution: genuinely stateless — zero state-store
    // operators in the executed streaming query.
    val dir = java.nio.file.Files.createTempDirectory("graft_r11_mh").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val sdf = spark.readStream.schema(schema).parquet(dir)
    val guarded = Dedup.streamMinHashGuard(sdf, index, "text",
      numHashes = 128, bands = 64)
    assert(guarded.isStreaming)
    val q = guarded.writeStream.format("memory").queryName("r11_mh_guard")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    assert(q.lastProgress.stateOperators.isEmpty,
      "the guard must not instantiate any stateful operator")
    val streamed = spark.table("r11_mh_guard")
      .select("doc_id", "nd_candidate").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    assert(streamed.toSeq === Seq((0L, true), (1L, false), (3L, true), (7L, false)))

    // The driver-collect guard knob refuses unbounded indexes.
    val err = intercept[IllegalArgumentException] {
      Dedup.minHashBandIndex(corpus, "doc_id", "text", maxCorpusKeys = 3L)
    }
    assert(err.getMessage.contains("maxCorpusKeys"))

    // (bloom form asserted below)
    // Bloom form: never misses a genuine band collision (the planted
    // copies stay flagged), and flags are a superset of the exact guard's.
    val bloomed = Dedup.streamMinHashGuardBloom(docs, corpus, "doc_id", "text",
      numHashes = 128, bands = 64)
      .select("doc_id", "nd_candidate").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(bloomed(0L) && bloomed(3L), "bloom guard must never false-negative")
    val exactFlags = got.map(t => t._1 -> t._3).toMap
    exactFlags.foreach { case (id, ex) =>
      assert(!ex || bloomed(id), s"bloom must contain every exact flag (doc $id)")
    }
  }

  test("persisted IVF+PQ index: meta JSON roundtrip, cell layout, pruned probe scan") {
    import graft.llm.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (indexed, meta) = Similarity.buildIvfPqIndex(
      emb, "vec_id", "embedding", nCentroids = 8, m = 16, ksub = 64,
      refineIterations = 1)
    // Metadata JSON roundtrip is the identity on every double.
    val back = Similarity.IvfPqMeta.fromJson(meta.toJson)
    assert(back.centroids.map(_.toSeq).toSeq === meta.centroids.map(_.toSeq).toSeq)
    assert(back.books.map(_.map(_.toSeq).toSeq).toSeq ===
      meta.books.map(_.map(_.toSeq).toSeq).toSeq)

    // Write: one directory per cell + the underscore-metadata file.
    val dir = java.nio.file.Files.createTempDirectory("graft_r11_idx").toString
    Similarity.writeIvfPqIndex(indexed, meta, dir)
    val entries = new java.io.File(dir).listFiles().map(_.getName)
    assert(entries.count(_.startsWith("centroid_idx=")) >= 2,
      s"expected cell directories, got ${entries.mkString(",")}")
    assert(entries.contains("_graft_ivfpq_meta.json"))

    // Probe of the reloaded index: the parquet scan carries non-empty
    // PartitionFilters (only the probed cell directories are read).
    val (reloaded, meta2) = Similarity.readIvfPqIndex(spark, dir)
    val raw = emb.select(org.apache.spark.sql.functions.col("vec_id").as("neighbor_id"),
      org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("cv"))
    val probe = Similarity.probeIvfPqIndex(reloaded, meta2, raw,
      emb.where(org.apache.spark.sql.functions.col("vec_id") < 3),
      "vec_id", "embedding", k = 5, nProbe = 2, rerank = 2)
    assert(PlanShape(probe).prunedByLiteralIn,
      s"probe scan must prune cell partitions:\n${probe.queryExecution.executedPlan}")
    assert(probe.count() > 0)
  }
}
