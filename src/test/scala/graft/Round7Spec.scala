package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.Multimodal

/** Round-7 component tests: the real `javax.imageio` image decoder that
  * replaced the round-1..6 deterministic stub. */
class Round7Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------------------ image decode

  test("decodeOne recovers exact dims/bands/mean from solid PNG and BMP") {
    for (fmt <- Seq("png", "bmp"); (w, h, g) <- Seq((3, 2, 0), (7, 5, 128), (64, 1, 255))) {
      val row = Multimodal.decodeOne(Multimodal.encodeSolidImage(w, h, g, fmt))
      assert(row != null, s"$fmt ${w}x$h decode returned null")
      assert(row.getInt(0) == w && row.getInt(1) == h, s"$fmt dims")
      assert(row.getInt(2) == 3, s"$fmt bands")
      assert(row.getDouble(3) == g / 255.0, s"$fmt mean for gray $g")
    }
  }

  test("decodeOne handles GIF (palette raster, 1 band) with exact mean") {
    val row = Multimodal.decodeOne(Multimodal.encodeSolidImage(4, 3, 200, "gif"))
    assert(row != null)
    assert(row.getInt(0) == 4 && row.getInt(1) == 3)
    // r8: palette-indexed images resolve through the palette (getRGB), so
    // the channel count is a reader-independent 3 and the mean is a true
    // color intensity — exact for a solid fill.
    assert(row.getInt(2) == 3)
    assert(row.getDouble(3) == 200 / 255.0)
  }

  test("decodeOne returns null for corrupt, truncated, empty, and null bytes") {
    assert(Multimodal.decodeOne("definitely not an image".getBytes("UTF-8")) == null)
    val png = Multimodal.encodeSolidImage(8, 8, 10, "png")
    assert(Multimodal.decodeOne(png.take(12)) == null, "truncated header")
    assert(Multimodal.decodeOne(Array.empty[Byte]) == null)
    assert(Multimodal.decodeOne(null) == null)
  }

  test("decodeImages: planted corpus decodes distributed, corrupt rows null") {
    val media = spark.range(0, 60).as[Long].map { id =>
      val bytes =
        if (id % 17 == 0) s"junk-$id".getBytes("UTF-8")
        else Multimodal.encodeSolidImage((3 + id % 5).toInt, (2 + id % 7).toInt,
          (id % 251).toInt, if (id % 2 == 0) "bmp" else "png")
      (id, bytes)
    }.toDF("doc_id", "payload")
    val out = Multimodal.decodeImages(media, "payload")
    assert(out.schema.fieldNames.last == "decoded")
    val rows = out.select(col("doc_id"), col("decoded.width"), col("decoded.height"),
      col("decoded.channels"), col("decoded.mean_intensity")).collect()
    assert(rows.length == 60)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 17 == 0) assert(r.isNullAt(1), s"corrupt row $id should be null")
      else {
        assert(r.getInt(1) == 3 + (id % 5).toInt, s"width of $id")
        assert(r.getInt(2) == 2 + (id % 7).toInt, s"height of $id")
        assert(r.getInt(3) == 3, s"bands of $id")
        assert(r.getDouble(4) == (id % 251).toDouble / 255.0, s"mean of $id")
      }
    }
  }

  // ---------------------------------------------------------------- packing

  test("chunkPack clamps zero-token docs at exact chunk boundaries") {
    import graft.llm.Packing
    val budget = 128L
    // Every real doc is exactly one chunk wide, so every cumulative offset
    // is an exact boundary — wherever a zero-token doc sorts (including
    // last in its shard), it hits the r6-advice pathological case.
    val docs = (0 until 40).map(i => (i.toLong, budget)) ++
      Seq((1000L, 0L), (1001L, 0L), (1002L, 0L))
    for (seed <- 1 to 5) {
      val out = Packing.chunkPack(docs.toDF("id", "n_tok"), Seq("id"), "n_tok",
        budget, shards = 2, seed = seed)
      val bad = out.groupBy("pack_shard")
        .agg(max("chunk_last").as("mxl"), max("chunk_first").as("mxf"),
          sum("n_tok").as("tok"))
        .where(col("tok") > 0 &&
          (col("mxl") =!= floor((col("tok") - 1) / budget) || col("mxf") > col("mxl")))
        .count()
      assert(bad === 0L, s"seed=$seed: zero-token doc escaped the shard's chunk range")
      assert(out.where(col("chunk_offset") < 0 || col("chunk_offset") >= budget)
        .count() === 0L, s"seed=$seed: offset out of range")
      assert(out.where(col("chunk_last") - col("chunk_first") =!=
        floor((col("chunk_offset") + greatest(col("n_tok"), lit(1L)) - 1) / budget))
        .count() === 0L, s"seed=$seed: range arithmetic broken")
    }
  }

  test("auto-sized shards (shards = 0) hold packing invariants under skew") {
    import graft.llm.Packing
    val rnd = new scala.util.Random(11)
    // Heavily skewed token counts: a few giants among many tiny docs.
    val docs = (0 until 500).map { i =>
      (i.toLong, if (i % 97 == 0) 50000L else rnd.nextInt(30).toLong)
    }
    val df = docs.toDF("id", "n_tok")
    val budget = 4096L
    val packed = Packing.binPack(df, Seq("id"), "n_tok", budget) // auto shards
    assert(packed.count() === 500L)
    // r8: auto-sizing is a pure function of row count (no defaultParallelism
    // input), so a sub-1M-row corpus packs as ONE deterministic stream.
    assert(packed.agg(max("pack_shard")).head.getLong(0) === 0L,
      "small corpus auto-resolves to a single shard, independent of cluster size")
    val overflow = packed.groupBy("pack_shard", "pack_id")
      .agg(sum("n_tok").as("tok"), count(lit(1)).as("n"))
      .where(col("tok") > budget && col("n") > 1).count()
    assert(overflow === 0L, "multi-doc pack overflows under skew")
    val chunked = Packing.chunkPack(df, Seq("id"), "n_tok", budget) // auto shards
    val badShard = chunked.groupBy("pack_shard")
      .agg(max("chunk_last").as("mxc"), sum("n_tok").as("tok"))
      .where(col("tok") > 0 && col("mxc") =!= floor((col("tok") - 1) / budget)).count()
    assert(badShard === 0L, "chunk tiling broken with auto shards")
  }

  // ------------------------------------------------------------- centroids

  test("nearestIndices yields null (not -1 sentinels) for NaN vectors") {
    import graft.functions.CentroidKernels
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq(
      (1L, Seq(Double.NaN, 1.0)),
      (2L, Seq(1.0, Double.NaN)),
      (3L, Seq(3.0, 4.0))).toDF("id", "vec")
    val out = df.select(col("id"),
      CentroidKernels.nearestIndices(col("vec"), centroids, 2).as("idx"),
      CentroidKernels.nearestIndex(col("vec"), centroids).as("best"))
      .orderBy("id").collect()
    assert(out(0).isNullAt(1) && out(0).isNullAt(2), "NaN-first vector must be null")
    assert(out(1).isNullAt(1) && out(1).isNullAt(2), "NaN-second vector must be null")
    assert(out(2).getSeq[Int](1) == Seq(1, 0) && out(2).getInt(2) == 1,
      "real vector still ranks centroids")
  }

  // -------------------------------------------------------------------- ivf

  test("autoCentroids follows sqrt(N) with clamps") {
    import graft.llm.Similarity
    assert(Similarity.autoCentroids(0) == 1)
    assert(Similarity.autoCentroids(100) == 10)
    assert(Similarity.autoCentroids(2000) == 45)
    assert(Similarity.autoCentroids(Long.MaxValue) == 65536)
  }

  test("ivfCellStats reports every cell, including empty ones") {
    import graft.llm.Similarity
    // All-identical vectors: every sampled centroid coincides, ties go to
    // the lowest index, so cells 1 and 2 must still appear with 0 rows.
    val df = Seq.tabulate(6)(i => (i.toLong, Seq(1.0, 0.0))).toDF("id", "vec")
    val rows = Similarity.ivfCellStats(df, "id", "vec", nCentroids = 3)
      .orderBy("centroid_idx").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(1)).toSeq == Seq(6L, 0L, 0L))
  }

  test("Lloyd refinement does not worsen cell balance on the test corpus") {
    import graft.llm.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def maxCell(iters: Int): Long =
      Similarity.ivfCellStats(emb, "vec_id", "embedding",
        nCentroids = 0, refineIterations = iters)
        .agg(max("n_rows")).head.getLong(0)
    assert(maxCell(2) <= maxCell(0), "2 Lloyd iterations should not increase the largest cell")
  }

  // --------------------------------------------------------------- analyzer

  test("scriptDataGeneratorFromData classifies uniform / normal / skewed shapes") {
    import graft.analyzer.DataAnalyzer
    // u: uniform ramp; sq: right-skewed (quadratic); g: Irwin-Hall sum of 12
    // hash-uniforms (approximately normal, deterministic).
    val df = spark.range(0, 20000).select(
      col("id").cast("double").as("u"),
      (col("id") * col("id") / lit(20000.0)).as("sq"),
      (0 until 12).map(k => pmod(xxhash64(col("id"), lit(k)), lit(1000)).cast("double"))
        .reduce(_ + _).as("g"))
    val code = DataAnalyzer.scriptDataGeneratorFromData(df, "shapes")
    val lines = code.linesIterator.toSeq
    def lineFor(c: String) = lines.find(_.contains("\"" + c + "\"")).get
    assert(lineFor("u").contains("Range(") && !lineFor("u").contains("Normal")
      && !lineFor("u").contains("skewed"), s"uniform misread: ${lineFor("u")}")
    assert(lineFor("sq").contains("skewed"), s"skew missed: ${lineFor("sq")}")
    assert(lineFor("g").contains("Distribution.Normal"), s"normal missed: ${lineFor("g")}")
  }

  test("resizePlan is identity below maxSide and clamps above it") {
    val df = Seq((800, 600), (100, 50)).toDF("width", "height")
      .select(struct(col("width"), col("height")).as("decoded"))
      .select(Multimodal.resizePlan(col("decoded"), maxSide = 512).as("t"))
      .select("t.width", "t.height").collect()
    assert(df(0).getInt(0) == 512 && df(0).getInt(1) == 384)
    assert(df(1).getInt(0) == 100 && df(1).getInt(1) == 50)
  }

  // ------------------------------------------------- faker locale breadth

  test("all 23 faker locales have distinct name pools and ASCII-safe emails") {
    import graft.columns.FakerPools
    val locales = FakerPools.Locales
    assert(locales.size >= 23, s"expected >= 23 locales, got ${locales.size}: $locales")
    // Every locale's last-name pool differs from en (except en itself).
    val en = FakerPools.pool("last_name", 300, 7L, "en").toSet
    for (loc <- locales if loc != "en") {
      val p = FakerPools.pool("last_name", 300, 7L, loc).toSet
      assert(p != en, s"locale $loc fell back to en")
    }
    // Emails stay RFC-ish ASCII in every locale, incl. non-Latin-origin ones.
    val emailRe = "^[a-z0-9.]+@[a-z0-9.]+$".r
    for (loc <- locales; e <- FakerPools.pool("email", 50, 11L, loc)) {
      assert(emailRe.findFirstIn(e).isDefined, s"locale $loc email '$e'")
    }
  }

  test("new faker providers emit valid shapes, Luhn-valid PANs, deterministic pools") {
    import graft.columns.FakerPools
    def luhnOk(pan: String): Boolean = {
      val ds = pan.map(_ - '0')
      ds.reverse.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum % 10 == 0
    }
    FakerPools.pool("credit_card_number", 200, 3L).foreach { pan =>
      assert(pan.matches("^4[0-9]{15}$") && luhnOk(pan), s"bad PAN $pan")
    }
    FakerPools.pool("ipv6", 50, 3L).foreach(v =>
      assert(v.matches("^([0-9a-f]{4}:){7}[0-9a-f]{4}$"), v))
    FakerPools.pool("mac_address", 50, 3L).foreach(v =>
      assert(v.matches("^([0-9a-f]{2}:){5}[0-9a-f]{2}$"), v))
    FakerPools.pool("latitude", 50, 3L).foreach { v =>
      val d = v.toDouble; assert(d >= -90 && d <= 90, v)
    }
    FakerPools.pool("longitude", 50, 3L).foreach { v =>
      val d = v.toDouble; assert(d >= -180 && d <= 180, v)
    }
    FakerPools.pool("ssn", 50, 3L).foreach(v => assert(v.matches("^[0-9]{3}-[0-9]{2}-[0-9]{4}$"), v))
    FakerPools.pool("sentence", 20, 3L).foreach(v =>
      assert(v.matches("^[A-Z][a-z]+( [a-z]+)+\\.$"), v))
    FakerPools.pool("paragraph", 10, 3L).foreach(v =>
      assert(v.split("\\. ").length >= 3, v))
    // Determinism: same seed -> identical pool; different seed -> different.
    assert(FakerPools.pool("uuid4", 20, 5L) == FakerPools.pool("uuid4", 20, 5L))
    assert(FakerPools.pool("uuid4", 20, 5L) != FakerPools.pool("uuid4", 20, 6L))
  }

  // -------------------------------------------- exact gamma/beta quantiles

  import graft.functions.DistKernels

  test("regGammaP matches closed forms for integer shapes") {
    // P(1,x) = 1 - e^-x; P(2,x) = 1 - (1+x)e^-x.
    for (x <- Seq(0.01, 0.1, 0.5, 1.0, 2.0, 4.0, 8.0, 12.0, 30.0)) {
      assert(math.abs(DistKernels.regGammaP(1.0, x) - (1 - math.exp(-x))) < 1e-12, s"P(1,$x)")
      assert(math.abs(DistKernels.regGammaP(2.0, x) - (1 - (1 + x) * math.exp(-x))) < 1e-12,
        s"P(2,$x)")
    }
  }

  test("regBetaI matches the binomial-tail closed form for (2,5) and identity for (1,1)") {
    def choose(n: Int, k: Int): Double = (1 to k).map(i => (n - k + i).toDouble / i).product
    def exact(x: Double): Double =
      (2 to 6).map(j => choose(6, j) * math.pow(x, j) * math.pow(1 - x, 6 - j)).sum
    for (x <- Seq(0.05, 0.2, 0.4, 0.6, 0.8, 0.95)) {
      assert(math.abs(DistKernels.regBetaI(2.0, 5.0, x) - exact(x)) < 1e-12, s"I_$x(2,5)")
      assert(math.abs(DistKernels.regBetaI(1.0, 1.0, x) - x) < 1e-14, s"I_$x(1,1)")
    }
  }

  test("quantile inverses round-trip through the CDFs across shapes incl. a<1") {
    val ps = Seq(1e-6, 1e-3, 0.05, 0.25, 0.5, 0.75, 0.95, 0.999, 1 - 1e-6)
    for (a <- Seq(0.3, 0.7, 1.0, 2.0, 5.5, 20.0); p <- ps) {
      val x = DistKernels.invGammaP(a, p)
      assert(math.abs(DistKernels.regGammaP(a, x) - p) < 1e-10, s"gamma a=$a p=$p -> x=$x")
    }
    for ((a, b) <- Seq((0.4, 0.6), (1.0, 1.0), (2.0, 5.0), (5.0, 2.0), (8.0, 8.0)); p <- ps) {
      val x = DistKernels.invBetaI(a, b, p)
      assert(math.abs(DistKernels.regBetaI(a, b, x) - p) < 1e-10, s"beta ($a,$b) p=$p -> x=$x")
    }
    // Anchors: Exp(1) median ln 2; symmetric Beta median 1/2; I(1,1) identity.
    assert(math.abs(DistKernels.invGammaP(1.0, 0.5) - math.log(2.0)) < 1e-12)
    assert(math.abs(DistKernels.invBetaI(8.0, 8.0, 0.5) - 0.5) < 1e-12)
    assert(math.abs(DistKernels.invBetaI(1.0, 1.0, 0.37) - 0.37) < 1e-12)
  }

  test("quantile kernels agree with the static math under codegen and propagate nulls") {
    val df = spark.range(0, 2000)
      .select((col("id").cast("double") / 2000.0).as("u"))
      .select(col("u"),
        DistKernels.gammaQuantileCol(col("u"), 2.0, 50.0).as("g"),
        DistKernels.betaQuantileCol(col("u"), 2.0, 5.0).as("b"))
    val rows = df.collect()
    rows.foreach { r =>
      val u = r.getDouble(0)
      assert(r.getDouble(1) == DistKernels.gammaQuantile(2.0, 50.0, u))
      assert(r.getDouble(2) == DistKernels.betaQuantile(2.0, 5.0, u))
    }
    val withNull = Seq[Option[Double]](Some(0.5), None).toDF("u")
      .select(DistKernels.gammaQuantileCol(col("u"), 1.0, 1.0).as("g")).collect()
    assert(withNull.exists(_.isNullAt(0)) && withNull.exists(!_.isNullAt(0)))
  }

  test("exact draws are monotone in u and hit known medians") {
    // Quantile functions are nondecreasing; medians: Gamma(2,50) median =
    // 50*invP(2,.5) ~ 83.9; Beta(2,5) median ~ 0.26445.
    val us = (1 to 99).map(_ / 100.0)
    val gs = us.map(DistKernels.gammaQuantile(2.0, 50.0, _))
    val bs = us.map(DistKernels.betaQuantile(2.0, 5.0, _))
    assert(gs.zip(gs.tail).forall { case (x, y) => x < y })
    assert(bs.zip(bs.tail).forall { case (x, y) => x < y })
    assert(math.abs(gs(49) - 50.0 * DistKernels.invGammaP(2.0, 0.5)) < 1e-9)
    assert(math.abs(DistKernels.regBetaI(2.0, 5.0, bs(49)) - 0.5) < 1e-10)
  }
}
