package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.DataGenerator
import graft.io.PlanJson
import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.spec._
import graft.spec.ColumnStrategy._

/** Round-2 component tests: serialization, fluent API, LLM-pipeline
  * operators (dedup recall vs exact, ANN recall, text analysis), analyzer
  * codegen. Mirrors reference test families in tests/test_serialization.py,
  * tests/core/spec/test_file_loading.py, and extends them for the
  * beyond-reference operators. */
class Round2Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------------- serialization

  test("plan JSON/YAML roundtrip is the identity on reference fixtures") {
    val fixtures = Seq("star_schema.json", "plan.json", "plan.yml")
    // The repo's fixtures, plus the reference's own files wherever a
    // dbldatagen checkout sits beside this repo as `reference`.
    val refDir = java.nio.file.Paths.get("..", "reference", "tests", "core", "fixtures")
    val refPaths =
      if (java.nio.file.Files.isDirectory(refDir)) fixtures.map(f => refDir.resolve(f).toString)
      else Nil
    val plans = fixtures.map(f => s"graft/fixtures/$f" -> PlanJson.loadResource(f)) ++
      refPaths.map(p => p -> PlanJson.loadFile(p))
    for ((path, plan) <- plans) {
      assert(PlanJson.loadJson(PlanJson.saveJson(plan)) === plan, s"json roundtrip: $path")
      assert(PlanJson.loadYaml(PlanJson.saveYaml(plan)) === plan, s"yaml roundtrip: $path")
    }
  }

  test("plan fixtures: plan.yml is plan.json; a missing one is a named SpecError") {
    val plan = PlanJson.loadResource("plan.json")
    assert(PlanJson.loadResource("plan.yml") === plan)
    assert(plan.tables.map(t => (t.name, t.rows, t.primaryKey)) === Seq(
      ("customers", 200L, Some(PrimaryKey("customer_id"))),
      ("orders", 1000L, Some(PrimaryKey("order_id")))))
    val ex = intercept[SpecError](PlanJson.loadResource("no_such_plan.json"))
    assert(ex.getMessage.contains("graft/fixtures/no_such_plan.json"))
  }

  test("star_schema fixture generates its declared rows with zero FK orphans") {
    val star = PlanJson.loadResource("star_schema.json")
    val tables = graft.engine.Generator.generate(spark, star)
    assert(star.tables.map(t => t.name -> tables(t.name).count()) === Seq(
      "regions" -> 10L, "customers" -> 500L, "products" -> 100L,
      "orders" -> 5000L, "order_items" -> 2000L))
    for ((child, parent, key) <- Seq(("customers", "regions", "region_id"),
        ("orders", "customers", "customer_id"), ("orders", "products", "product_id"),
        ("order_items", "orders", "order_id"), ("order_items", "products", "product_id")))
      assert(tables(child).join(tables(parent), Seq(key), "left_anti").count() === 0,
        s"$child.$key orphans")
  }

  test("roundtrip preserves FK null_fraction and seed_from_columns") {
    val plan = DataGenPlan(Seq(
      TableSpec("p", 10, Seq(ColumnSpec("pid", "bigint", Sequence())),
        primaryKey = Some(PrimaryKey("pid"))),
      TableSpec("c", 100, Seq(
        ColumnSpec("cid", "bigint", Sequence()),
        ColumnSpec("pid", "bigint", ForeignKey("p", "pid")).copy(percentNulls = 0.25),
        ColumnSpec("x", "string", Values(Seq("a", "b"))),
        ColumnSpec("h", "int", Range(1, 9, Some(1)))
          .copy(seedMode = SeedMode.FromColumns(Seq("x")))))), 7L)
    assert(PlanJson.loadJson(PlanJson.saveJson(plan)) === plan)
  }

  // ----------------------------------------------------------- fluent API

  test("fluent IOT-style spec builds with omitted hash intermediates") {
    val df = DataGenerator(spark, "iot", rows = 2000, partitions = Some(4))
      .withColumn(ColumnSpec("base", "bigint", Range(0, 99999, Some(1))).copy(omit = true))
      .withColumn(ColumnSpec("dev", "string", Expression("base")).copy(format = Some("0x%08x")))
      .withColumn(ColumnSpec("mfr", "string", Values(Seq("a", "b", "c")))
        .copy(seedMode = SeedMode.FromColumns(Seq("base"))))
      .withExprColumn("tag", "concat(mfr, '-', length(dev))", Some("string"))
      .build()
    assert(df.columns.toSeq === Seq("dev", "mfr", "tag"))
    assert(df.count() === 2000)
    assert(df.where(!col("dev").rlike("^0x[0-9a-f]{8}$")).count() === 0)
    assert(df.where(!col("tag").rlike("^[abc]-10$")).count() === 0)
  }

  // ------------------------------------------------------------- dedup

  /** Synthetic corpus: 30 base docs, each with one near-duplicate (a few
    * words changed) and unrelated filler docs. */
  private def corpus = {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    def doc(seed: Int, n: Int) =
      (0 until n).map(i => words((seed * 31 + i * 7) % words.length)).mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, doc(i, 40)))
    val nearDups = base.map { case (id, text) =>
      (id + 1000L, text.split(" ").zipWithIndex
        .map { case (w, i) => if (i % 19 == 3) "changed" else w }.mkString(" "))
    }
    val filler = (0 until 40).map(i => (5000L + i, doc(i + 900, 40)))
    spark.createDataFrame(base ++ nearDups ++ filler).toDF("id", "text")
  }

  test("minhash LSH finds planted near-duplicates without all-pairs compare") {
    val pairs = Dedup.nearDupMinHash(corpus, "id", "text",
      threshold = 0.6, numHashes = 128, bands = 32).collect()
    val planted = pairs.count(p => p.getLong(1) - p.getLong(0) == 1000L)
    assert(planted >= 27, s"recall too low: $planted/30 planted pairs found")
    // exact jaccard verification keeps precision at 1.0 for the threshold
    pairs.foreach(p => assert(p.getDouble(2) >= 0.6))
  }

  test("minhash frame signatures match the column-expression form") {
    val viaFrame = Dedup.minHashSignatures(corpus, "id", "text", numHashes = 16)
      .select("id", "sig")
    // Same hash family as the frame path: min over xxhash64(xxhash64(s), k).
    val viaCol = corpus.select(col("id"),
      transform(sequence(lit(0), lit(15)),
        k => array_min(transform(Dedup.shingles(col("text")), s => xxhash64(xxhash64(s), k))))
        .as("sig"))
    assert(viaFrame.join(viaCol, "id")
      .where(viaFrame("sig") =!= viaCol("sig")).count() === 0)
  }

  test("simhash finds planted near-duplicates via pigeonhole pieces") {
    val pairs = Dedup.nearDupSimHash(corpus, "id", "text", maxDistance = 8, pieces = 16)
      .collect()
    val planted = pairs.count(p => p.getLong(1) - p.getLong(0) == 1000L)
    assert(planted >= 20, s"simhash recall too low: $planted/30")
  }

  test("exact dedup and keep-first") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "t")
    assert(Dedup.exact(df, Seq("t")).count() === 2)
    val kept = Dedup.exactKeepFirst(df, Seq("t"), "id").orderBy("id").collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  // ---------------------------------------------------------- similarity

  private def vectors = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 50).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian())))
    // planted near-dup of vector 0 with tiny noise
    val near = (100L, base.head._2.map(_ + 0.01 * rnd.nextGaussian()))
    spark.createDataFrame(base :+ near).toDF("id", "vec")
  }

  test("aggregated hyperplane sketches match the inline expression form") {
    val df = vectors
    val viaAgg = Similarity.hyperplaneSketches(df, "id", "vec", planes = 4, probes = 3)
      .select(col("id"), col("keys"))
    val viaExpr = df.select(col("id"),
      Similarity.hyperplaneKeys(col("vec").cast("array<double>"), 4, 3, 16).as("keys"))
    assert(viaAgg.alias("a").join(viaExpr.alias("b"), "id")
      .where(col("a.keys") =!= col("b.keys")).count() === 0)
  }

  test("unrolled cosine matches the generic interpreted form") {
    val df = vectors
    val a = df.select(col("id").as("ia"), col("vec").as("va"))
    val b = df.select(col("id").as("ib"), col("vec").as("vb"))
    val both = a.crossJoin(b).limit(200)
      .select(Similarity.cosine(col("va"), col("vb"), 16).as("fast"),
        Similarity.cosineGeneric(col("va"), col("vb")).as("slow"))
    assert(both.where(abs(col("fast") - col("slow")) > 1e-9).count() === 0)
  }

  test("ivf with full probes equals brute force; lsh cosine finds the planted pair") {
    val df = vectors
    val q = df.where(col("id") < 3)
    val bf = Similarity.bruteForceTopK(df, "id", "vec", q, "id", "vec", k = 3)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    val ivf = Similarity.ivfTopK(df, "id", "vec", q, "id", "vec", k = 3,
      nCentroids = 6, nProbe = 6)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    assert(ivf === bf)
    val lsh = Dedup.nearDupCosine(df, "id", "vec", threshold = 0.99,
      planes = 6, probes = 16).collect()
    assert(lsh.exists(r => r.getLong(0) === 0L && r.getLong(1) === 100L),
      "planted near-identical vector pair not found by hyperplane LSH")
  }

  // --------------------------------------------------------- text analysis

  test("token counts, fingerprint stability, language id") {
    val df = Seq(
      (1L, "The cat and the dog sat on the mat with the hat"),
      (2L, "  The cat  and the dog   sat on the mat with the hat  "),
      (3L, "der hund und die katze ist nicht auf der matte mit einem hut"),
      (4L, ""),
      (5L, "xyzzy plugh 12345")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.languageId(col("text")).as("lang")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) === 12)
    assert(out(4L).getInt(1) === 0)
    // fingerprint ignores cosmetic whitespace
    assert(out(1L).getLong(2) === out(2L).getLong(2))
    assert(out(1L).getString(3) === "en")
    assert(out(3L).getString(3) === "de")
    assert(out(5L).getString(3) === "und")
  }

  test("quality score separates prose from junk") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and runs into the quiet forest."),
      (2L, "!!! ### $$$ %%% 111 222 333 !!!! ???? ;;;;")).toDF("id", "text")
    val scores = df.select(col("id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > 0.8)
    assert(scores(2L) < 0.6)
    assert(scores(2L) < scores(1L))
  }

  // --------------------------------------------------------- faker locales

  test("faker locales switch name pools; factory sugar binds a locale") {
    val de = graft.api.FakerTextFactory("de")
    val df = graft.engine.Generator.generate(spark, DataGenPlan(Seq(
      TableSpec("t", 500, Seq(
        ColumnSpec("n_en", "string", Faker("name")),
        ColumnSpec("n_de", "string", de("name")),
        ColumnSpec("mail_de", "string", de("email"))))), 42L))("t")
    val deNames = df.select("n_de").distinct().collect().map(_.getString(0)).toSet
    val enNames = df.select("n_en").distinct().collect().map(_.getString(0)).toSet
    assert(deNames.intersect(enNames).isEmpty, "locale pools should not overlap here")
    assert(deNames.exists(n => n.startsWith("Hans ") || n.contains("Müller") ||
      n.contains("Schmidt")), s"no German-looking names in ${deNames.take(5)}")
    // email localizes the name parts but stays ASCII
    assert(df.where(!col("mail_de").rlike("^[a-z]+\\.[a-z]+[0-9]+@[a-z.]+$")).count() === 0)
    // roundtrip keeps the locale
    val plan = DataGenPlan(Seq(TableSpec("t", 10, Seq(
      ColumnSpec("x", "string", Faker("city", 100, "fr"))))), 1L)
    assert(graft.io.PlanJson.loadJson(graft.io.PlanJson.saveJson(plan)) === plan)
  }

  // ------------------------------------------------------------ streaming

  test("streaming build: rate source generates spec columns into a memory sink") {
    val q = DataGenerator(spark, "s", rows = Long.MaxValue)
      .withColumn("v", "int", Range(1, 100, Some(1)))
      .withColumn("tag", "string", Values(Seq("a", "b")))
      .buildStream(rowsPerSecond = 500)
      .writeStream.format("memory").queryName("graft_round2_stream").start()
    try {
      var waited = 0
      while (spark.table("graft_round2_stream").isEmpty && waited < 300) {
        Thread.sleep(200); waited += 1
      }
      q.stop()
      val rows = spark.table("graft_round2_stream")
      assert(!rows.isEmpty, "no streaming rows arrived within 60s")
      assert(rows.where(!col("v").between(1, 100)).count() === 0)
      assert(rows.where(!col("tag").isin("a", "b")).count() === 0)
    } finally if (q.isActive) q.stop()
  }

  test("streaming dedup within watermark drops duplicate keys") {
    val q = Dedup.exactStreaming(
      DataGenerator(spark, "sd", rows = Long.MaxValue)
        .withColumn("k", "int", Range(1, 5, Some(1)))   // only 4 distinct keys
        .buildStream(rowsPerSecond = 1000),
      Seq("k"), "_source_timestamp", "10 minutes")
      .writeStream.format("memory").queryName("graft_stream_dedup")
      .outputMode("append").start()
    try {
      // Poll the sink: with a continuous rate source + stateful dedup,
      // processAllAvailable would chase new batches forever.
      var waited = 0
      while (spark.table("graft_stream_dedup").isEmpty && waited < 300) {
        Thread.sleep(200); waited += 1
      }
      q.stop()
      val rows = spark.table("graft_stream_dedup")
      assert(!rows.isEmpty, "no deduped streaming rows arrived within 60s")
      // within one watermark window each key appears at most once
      assert(rows.groupBy("k").count().where(col("count") > 1).count() === 0)
    } finally if (q.isActive) q.stop()
  }

  test("streaming gate: batch-only constraints are rejected under streaming") {
    val ex = intercept[SpecError] {
      DataGenerator(spark, "s2", rows = Long.MaxValue)
        .withColumn("v", "int", Range(1, 9, Some(1)))
        .withConstraint(Constraint.UniqueCombinations(Seq("v")))
        .buildStream()
    }
    assert(ex.getMessage.toLowerCase.contains("streaming"))
  }

  // ------------------------------------------------------------- analyzer

  test("analyzer scripts a working generator from a schema") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType)))
    val code = graft.analyzer.DataAnalyzer.scriptDataGeneratorFromSchema(schema, "t")
    assert(code.contains("\"a\"") && code.contains("\"b\""))
  }
}
