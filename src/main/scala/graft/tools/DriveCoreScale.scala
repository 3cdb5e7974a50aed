package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core-scaling evidence at 10-100x the board's corpus (r19 — VERDICT r18
  * #6: the sf0.1 board is 5k docs / 2k vectors / 600k lineitem rows, so
  * every query is job-overhead-bound and NOTHING there can demonstrate
  * parallelism; the 8-vs-32-core ratios it produces say nothing about
  * 100 TB). This harness synthesizes a 500k-doc / 200k-vector / 6M-row
  * input ONCE into parquet on tmpfs (untimed), then times the board's top
  * operator families over it at the core count in `SPARK_GRAFT_CPUS`.
  * Run it at 8 and at 32 and compare:
  *
  *   SPARK_GRAFT_CPUS=8  runMain graft.tools.DriveCoreScale
  *   SPARK_GRAFT_CPUS=32 runMain graft.tools.DriveCoreScale
  *
  * Appends one JSON line per op to `bench_core_scale.json`
  * (`{"op":..., "rows":..., "cpus":..., "best_sec":..., "steal_sec":...}`),
  * best-of-2 with the winning attempt's steal. Inputs are deterministic
  * (xxhash64 idiom), so the two runs measure the same computation.
  */
object DriveCoreScale {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only: Set[String] = args.toSet
    val tmp = new java.io.File("/dev/shm", s"graft_core_scale")
    tmp.mkdirs()
    val spark = graft.SessionTuning.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", tmp.getAbsolutePath))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-core-scale").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def mat(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def stealTicks(): Long = try {
      scala.io.Source.fromFile("/proc/stat").getLines().next().trim
        .split("\\s+").drop(1).map(_.toLong).apply(7)
    } catch { case _: Throwable => 0L }

    val out = new StringBuilder
    def bench(name: String, rows: Long)(body: => Unit): Unit =
      if (only.isEmpty || only(name)) {
        var best = Double.MaxValue
        var steal = 0.0
        for (_ <- 0 until 2) {
          val s0 = stealTicks()
          val t0 = System.nanoTime()
          body
          val t = (System.nanoTime() - t0) / 1e9
          val s = (stealTicks() - s0) / 100.0
          if (t < best) { best = t; steal = s }
        }
        val line = f"""{"op":"$name","rows":$rows,"cpus":$cpus,"best_sec":$best%.2f,"steal_sec":$steal%.2f}"""
        println("CORESCALE " + line)
        out.append(line).append('\n')
      }

    // ----- deterministic synthesized inputs, written once (untimed) -----
    val nDocs = 500000L
    val nVecs = 200000L
    val nRows = 6000000L
    val dim = 64

    // ~80-token docs over a 20k vocabulary; every 10th doc is a
    // sliding-window variant of its predecessor (jaccard ~0.75 — real
    // near-dup pairs for the minhash/CC ops).
    def tokens(idCol: Column, n: Int, off: Int): Column = transform(
      sequence(lit(off), lit(off + n - 1)),
      i => concat(lit("w"), pmod(xxhash64(idCol, i), lit(20000)).cast("string")))
    val docsPath = s"$tmp/docs"
    val vecsPath = s"$tmp/vecs"
    val rowsPath = s"$tmp/rows"
    if (!Seq(docsPath, vecsPath, rowsPath).forall(p => new java.io.File(s"$p/_SUCCESS").exists)) {
      spark.range(nDocs).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) === 9,
          array_join(slice(tokens(col("id") - 1, 80, 0), 11, 60), " "))
          .otherwise(array_join(tokens(col("id"), 80, 0), " ")).as("text"))
        .write.mode("overwrite").parquet(docsPath)
      spark.range(nVecs).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id"), i), lit(1000000L)).cast("double") / 1e6 - 0.5)
          .as("embedding"))
        .write.mode("overwrite").parquet(vecsPath)
      spark.range(nRows).select(col("id"),
        pmod(xxhash64(col("id"), lit(1)), lit(25)).as("cat"),
        pmod(xxhash64(col("id"), lit(2)), lit(10000)).cast("double").as("price"),
        pmod(xxhash64(col("id"), lit(3)), lit(50)).as("qty"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit(4)), lit(1000))).as("sup"))
        .write.mode("overwrite").parquet(rowsPath)
    }
    val docs = spark.read.parquet(docsPath)
    val vecs = spark.read.parquet(vecsPath)
    val rows = spark.read.parquet(rowsPath)
    // Warm (codegen + JIT, small slices).
    mat(docs.limit(1000))
    mat(vecs.limit(1000))
    mat(rows.limit(1000))

    import graft.llm._

    bench("dedup_exact", nDocs) {
      mat(Dedup.exact(docs, Seq("text")))
      mat(Dedup.byContentHash(docs, "text"))
    }
    bench("dedup_minhash_pairs", nDocs) {
      mat(Dedup.nearDupMinHash(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 128, bands = 64))
    }
    bench("dedup_minhash_cc_distributed", nDocs) {
      val pairs = Dedup.nearDupMinHash(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 128, bands = 64)
      // localEdgeThreshold=0 forces the distributed large/small-star loop
      // (the path that anti-scaled at sf0.1) instead of the driver
      // union-find shortcut.
      mat(Dedup.connectedComponents(pairs, "id_a", "id_b",
        localEdgeThreshold = 0L))
    }
    bench("dedup_simhash", nDocs) {
      val fam = (col("doc_id") - pmod(col("doc_id"), lit(2))).cast("long")
      val toks = transform(sequence(lit(0), lit(23)),
        i => concat(lit("w"), fam, lit("x"), i.cast("string")))
      val aug = docs.select(col("doc_id"), array_join(toks, " ").as("text"))
      mat(Dedup.nearDupSimHash(aug, "doc_id", "text", maxDistance = 3))
    }
    bench("dedup_ngram_jaccard", nDocs) {
      mat(Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5))
    }
    bench("decontaminate", nDocs) {
      mat(Decontamination.decontaminateAuto(docs,
        docs.where(col("doc_id") < 2000), "doc_id", "text"))
    }
    bench("quality_train_score", nDocs) {
      val labeled = docs.where(col("doc_id") < 40000)
        .withColumn("label", pmod(col("doc_id"), lit(2)) === 0)
      val m = QualityClassifier.train(labeled, "text", "label",
        dim = 1 << 16, ngrams = 2, iterations = 10)
      mat(docs.select(col("doc_id"),
        QualityClassifier.score(col("text"), m).as("q")))
    }
    bench("bm25_build", nDocs) {
      val dir = s"$tmp/bm25_${System.nanoTime()}"
      Retrieval.buildAndWriteIndex(docs, "doc_id", "text", dir, nBuckets = 64)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    bench("ivfpq_build_probe", nVecs) {
      val dir = s"$tmp/ivf_${System.nanoTime()}"
      val (indexed, meta) = Similarity.buildIvfPqIndex(vecs, "vec_id",
        "embedding", nCentroids = 64, m = 16, ksub = 64, refineIterations = 2)
      Similarity.writeIvfPqIndex(indexed, meta, dir)
      val (reloaded, meta2) = Similarity.readIvfPqIndex(spark, dir)
      val raw = vecs.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      mat(Similarity.probeIvfPqIndex(reloaded, meta2, raw,
        vecs.where(col("vec_id") < 64), "vec_id", "embedding",
        k = 10, nProbe = 4, rerank = 64))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    bench("pack_sequences", nDocs) {
      val withTok = docs.withColumn("n_tok",
        size(split(col("text"), " ")).cast("long"))
      mat(Packing.binPack(withTok, Seq("doc_id"), "n_tok", maxTokens = 512))
    }
    bench("analyzer_summary", nRows) {
      mat(graft.analyzer.DataAnalyzer.summarizeToDF(rows))
    }
    bench("groupby_window", nRows) {
      import org.apache.spark.sql.expressions.Window
      mat(rows.groupBy("cat", "sup").agg(sum("price").as("rev"),
        avg("qty").as("aq"), count(lit(1)).as("n")))
      val w = Window.partitionBy("cat").orderBy(col("price").desc)
      mat(rows.withColumn("rk", row_number().over(w)).where(col("rk") <= 100))
    }

    // Append to the artifact so the 8- and 32-core runs accumulate.
    val f = java.nio.file.Paths.get("bench_core_scale.json")
    java.nio.file.Files.write(f, out.toString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
