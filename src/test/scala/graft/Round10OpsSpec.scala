package graft

import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Chunking

/** Round-10 operator tests: the new LLM-pipeline operators added this
  * round (chunking, weighted sampling, salient terms, quantization,
  * bloom decontamination, corpus overlap). */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("chunkByTokens: layout invariants, edges, zero-shuffle plan") {
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words),                         // 40 tokens
      (2L, "a b c"),                       // shorter than one chunk
      (3L, (1 to 16).map("t" + _).mkString(" ")), // exactly one chunk
      (4L, (1 to 17).map("u" + _).mkString(" ")), // one token past: 2 chunks
      (5L, ""),                            // empty: zero chunks
      (6L, null.asInstanceOf[String])      // null: dropped
    ).toDF("doc_id", "text")
    val c = Chunking.chunkByTokens(docs, "doc_id", "text",
      chunkTokens = 16, overlapTokens = 4)
    val rows = c.orderBy("doc_id", "chunk_id").collect()

    // Doc 1: 40 tokens, stride 12 -> chunks start at 0,12,24 and the count
    // formula gives (40-16+11)//12+1 = 3; last chunk covers [24,40) = 16.
    val d1 = rows.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    assert(d1.forall(_.getLong(2) == 3L))
    assert(d1.map(_.getLong(3)).toSeq === Seq(16L, 16L, 16L))
    // Overlap: last 4 tokens of chunk i == first 4 of chunk i+1.
    val texts = d1.map(_.getString(4).split(" ").toSeq)
    assert(texts(0).takeRight(4) === texts(1).take(4))
    assert(texts(1).takeRight(4) === texts(2).take(4))
    // Every token covered, in order: chunk 0 ++ tails of later chunks.
    val reconstructed = texts(0) ++ texts.drop(1).flatMap(_.drop(4))
    assert(reconstructed === words.split(" ").toSeq)

    assert(rows.filter(_.getLong(0) == 2L).map(r => (r.getLong(2), r.getLong(3),
      r.getString(4))).toSeq === Seq((1L, 3L, "a b c")))
    assert(rows.filter(_.getLong(0) == 3L).map(_.getLong(2)).toSeq === Seq(1L))
    val d4 = rows.filter(_.getLong(0) == 4L)
    assert(d4.map(_.getLong(1)).toSeq === Seq(0L, 1L))
    // Second chunk starts at token 12: covers [12,17) = 5 tokens.
    assert(d4.map(_.getLong(3)).toSeq === Seq(16L, 5L))
    assert(rows.count(r => r.getLong(0) == 5L || r.getLong(0) == 6L) === 0)

    // Narrow operator: no Exchange anywhere in the executed plan.
    assert(PlanShape(c).exchanges.isEmpty,
      s"chunking must not shuffle:\n${c.queryExecution.executedPlan}")

    intercept[IllegalArgumentException] {
      Chunking.chunkByTokens(docs, "doc_id", "text", 8, 8)
    }
  }

  test("sampleWeightedN: size, determinism, partition independence, weight bias, top-k plan") {
    import graft.llm.Sampling
    val rows = (1L to 1000L).map(id => (id, if (id % 10 == 0) 9.0 else 1.0))
    val df = rows.toDF("id", "w")
    val sel = Sampling.sampleWeightedN(df, Seq("id"), "w", 200, seed = 11)
    val ids = sel.select("id").collect().map(_.getLong(0)).toSet
    assert(ids.size === 200)

    // Rerun and repartitioned rerun select the identical set (hash-frozen).
    val again = Sampling.sampleWeightedN(df.repartition(13), Seq("id"), "w", 200, seed = 11)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again === ids)

    // Monotone: scores are fixed per row, so top-100 is inside top-200.
    val s100 = Sampling.sampleWeightedN(df, Seq("id"), "w", 100, seed = 11)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s100.subsetOf(ids))

    // Weight bias: 100 heavy rows at w=9 vs 900 light at w=1 — the heavy
    // inclusion rate must far exceed the light rate (cross-multiplied).
    val heavyHits = ids.count(_ % 10 == 0)
    val lightHits = ids.size - heavyHits
    assert(heavyHits.toLong * 900L > 3L * lightHits.toLong * 100L,
      s"heavy=$heavyHits light=$lightHits")

    // Never a full sort: top-k plans as TakeOrderedAndProject.
    assert(PlanShape(sel).nodesOf[TakeOrderedAndProjectExec].nonEmpty,
      sel.queryExecution.executedPlan.toString)

    // Non-positive weights fail loudly, not silently.
    val bad = df.withColumn("w", when(col("id") === 500L, 0.0).otherwise(col("w")))
    val e = intercept[Exception] {
      Sampling.sampleWeightedN(bad, Seq("id"), "w", 10, seed = 11).collect()
    }
    assert(e.getMessage.contains("must be > 0"), e.getMessage)
  }

  test("salientTerms: hand-computed tf-idf ranks, tie-break, maxDfRatio, group-limit plan") {
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date"),
      (4L, "date elderberry")).toDF("doc_id", "text")
    val top = TextAnalysis.salientTerms(docs, "doc_id", "text", k = 2)
    val byDoc = top.collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getString(2)).toSeq).toMap
    // N=4; df: apple 1, banana 2, cherry 2, date 2, elderberry 1.
    // idf(df=1)=ln(2.5)+1, idf(df=2)=ln(5/3)+1.
    assert(byDoc(1L) === Seq("apple", "banana"))
    // Doc 2: banana and cherry tie exactly (tf=1, df=2) -> term asc.
    assert(byDoc(2L) === Seq("banana", "cherry"))
    assert(byDoc(3L) === Seq("cherry", "date"))
    assert(byDoc(4L) === Seq("elderberry", "date"))

    // Scores: doc 3 cherry = 3*(ln(5/3)+1).
    val cherry3 = top.where(col("doc_id") === 3L && col("term") === "cherry")
      .select("tfidf").head().getDouble(0)
    assert(math.abs(cherry3 - 3.0 * (math.log(5.0 / 3.0) + 1.0)) < 1e-12)

    // maxDfRatio 0.25 keeps only df=1 terms (stopword-grade df dropped
    // before the join).
    val rare = TextAnalysis.salientTerms(docs, "doc_id", "text", k = 3,
      maxDfRatio = 0.25)
    assert(rare.select("term").collect().map(_.getString(0)).toSet ===
      Set("apple", "elderberry"))

    // Top-k per doc runs as a group-limit, not a full per-doc sort buffer.
    assert(PlanShape(top).nodesOf[WindowGroupLimitExec].nonEmpty,
      top.queryExecution.executedPlan.toString)
  }

  test("quantizeInt8: hand values, bounds, zero/null vectors, quantized recall") {
    import graft.llm.Similarity
    val vecs = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs, "embedding").orderBy("vec_id").collect()

    // scale = 2/127; q = round(x*127/2): 63.5 -> 64 (half-up), -127, 32.
    assert(math.abs(q(0).getDouble(q(0).fieldIndex("q_scale")) - 2.0 / 127.0) < 1e-15)
    assert(q(0).getSeq[Long](q(0).fieldIndex("q_vec")) === Seq(64L, -127L, 32L))
    // All-zero vector: scale 0, all-zero codes (not NaN/div-zero).
    assert(q(1).getDouble(q(1).fieldIndex("q_scale")) === 0.0)
    assert(q(1).getSeq[Long](q(1).fieldIndex("q_vec")) === Seq(0L, 0L, 0L))
    // Null vector rides through as null.
    assert(q(2).isNullAt(q(2).fieldIndex("q_vec")))

    // Codes always within [-127, 127]; reconstruction within scale/2.
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 200L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val qc = Similarity.quantizeInt8(corpus, "embedding")
    val viol = qc.select(
      forall(col("q_vec"), x => abs(x) <= 127L).as("in_range"),
      forall(zip_with(col("q_vec"), transform(col("embedding"), _.cast("double")),
        (qi, xi) => abs(qi.cast("double") * col("q_scale") - xi) <=
          col("q_scale") / 2.0), b => b).as("recon"))
      .where(!col("in_range") || !col("recon")).count()
    assert(viol === 0L)

    // Asymmetric quantized top-k keeps high recall on random gaussians.
    val queries = corpus.where(col("vec_id") <= 3L)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall too low: $recall")

    // Fused-kernel parity: bit-identical to the higher-order-function
    // spelling on random vectors (incl. the zero and null vectors above,
    // re-keyed clear of the corpus ids so the join stays 1:1).
    val edge = vecs.withColumn("vec_id", col("vec_id") + 1000L)
    val all = corpus.unionByName(edge)
    val both = Similarity.quantizeInt8(all, "embedding")
      .select(col("vec_id"), col("q_scale").as("ks"), col("q_vec").as("kq"))
      .join(Similarity.quantizeInt8Columns(all, "embedding")
        .select(col("vec_id"), col("q_scale").as("ls"), col("q_vec").as("lq")),
        Seq("vec_id"))
    val mismatches = both.where(
      !(col("ks") <=> col("ls")) || !(col("kq") <=> col("lq"))).count()
    assert(mismatches === 0L, "kernel/lambda quantization parity")
  }

  test("LongBloomSet: no false negatives, FP near theory, null semantics, stream-safe guard") {
    import graft.functions.SetKernels
    val rnd = new scala.util.Random(3)
    val members = Array.fill(10000)(rnd.nextLong())
    val bloom = SetKernels.LongBloomSet.build(members.distinct, bitsPerKey = 20)
    // Exhaustive: every member must probe true (false negatives impossible).
    assert(members.forall(bloom.mightContain), "bloom false negative")
    // FP rate near the ~6e-5 theory at 20 bits/key: 100k non-members.
    val nonMembers = Array.fill(100000)(rnd.nextLong()).filterNot(members.contains)
    val fps = nonMembers.count(bloom.mightContain)
    assert(fps <= 30, s"false-positive rate off theory: $fps / ${nonMembers.length}")

    // Column probe with three-valued null semantics (mirrors anyInSet).
    val df = Seq(
      (1L, Seq[java.lang.Long](members(0), 12345L)),          // hit
      (2L, Seq[java.lang.Long](null, members(1))),            // hit beats null
      (3L, Seq[java.lang.Long](null)),                        // unknown
      (4L, Seq[java.lang.Long]())                             // empty: false
    ).toDF("id", "arr")
    val probed = df.select(col("id"),
      SetKernels.anyInBloom(col("arr"), members, 20).as("hit"))
      .orderBy("id").collect()
    assert(probed(0).getBoolean(1) === true)
    assert(probed(1).getBoolean(1) === true)
    assert(probed(2).isNullAt(1))
    // id 4 may rarely be a bloom FP-free false: empty array is plain false.
    assert(probed(3).getBoolean(1) === false)

    // bloomStreamDecontaminate composes with a real stream (stateless).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evalDf = Seq((1L, "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12 e13"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val guarded = graft.llm.Decontamination.bloomStreamDecontaminate(
      input.toDS().toDF("doc_id", "text"), evalDf, "doc_id", "text", n = 13)
    val query = guarded.writeStream.format("memory")
      .queryName("r10_bloom_guard").outputMode("append").start()
    try {
      input.addData(
        (10L, "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12 e13 tail"), // contaminated
        (11L, "clean words only nothing shared with the eval corpus at all"))
      query.processAllAvailable()
      val kept = spark.table("r10_bloom_guard").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(11L), s"guard must drop the contaminated doc: $kept")
    } finally query.stop()
  }

  test("CorpusStats: KMV sketch exact in-range, estimator accuracy, harness guard") {
    import graft.llm.CorpusStats
    def corpus(ids: Range, ns: String) = ids.map(i =>
      (i.toLong, (0 until 30).map(j => s"$ns-w${i % 7}-$j").mkString(" ")))
      .toDF("doc_id", "text")

    // Identical corpora: J = 1; disjoint namespaces: J = 0. Small gram
    // sets (< k) make the sketch THE set, so both are exact.
    val a = corpus(1 to 50, "x")
    assert(CorpusStats.overlapEstimate(a, corpus(1 to 50, "x"), "text") === 1.0)
    assert(CorpusStats.overlapEstimate(a, corpus(1 to 50, "y"), "text") === 0.0)

    // Estimator against planted hash sets: |A|=|B|=20000, |A∩B|=10000 ->
    // J = 1/3; k=1024 gives sigma ~ 0.015, assert within 6 sigma.
    val rnd = new scala.util.Random(5)
    val shared = Array.fill(10000)(rnd.nextLong())
    val onlyA = Array.fill(10000)(rnd.nextLong())
    val onlyB = Array.fill(10000)(rnd.nextLong())
    val k = 1024
    val skA = (shared ++ onlyA).distinct.sorted.take(k)
    val skB = (shared ++ onlyB).distinct.sorted.take(k)
    val est = CorpusStats.jaccardFromSketches(skA, skB, k)
    assert(math.abs(est - 1.0 / 3.0) < 0.09, s"KMV estimate off: $est")

    // Exact harness agrees with a hand count and refuses corpus scale.
    val half = corpus(1 to 50, "x").where(col("doc_id") <= 25)
    val (na, nb, inter) = CorpusStats.exactJaccard(a, half, "text")
    assert(inter === nb && na >= nb, s"subset must intersect fully: $na $nb $inter")
    val e = intercept[IllegalArgumentException] {
      CorpusStats.exactJaccard(a, half, "text", maxGrams = 10L)
    }
    assert(e.getMessage.contains("maxGrams"), e.getMessage)
  }

  test("sampleWeightedNPerGroup: per-group sizes, bias, determinism, group-limit plan") {
    import graft.llm.Sampling
    val df = (1L to 900L).map { id =>
      (id, s"g${id % 3}", if (id % 10 == 0) 9.0 else 1.0)
    }.toDF("id", "grp", "w")
    val sel = Sampling.sampleWeightedNPerGroup(df, Seq("id"), Seq("grp"), "w", 50, seed = 3)
    val byGroup = sel.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup === Map("g0" -> 50L, "g1" -> 50L, "g2" -> 50L))

    // Small group keeps everything.
    val tiny = Sampling.sampleWeightedNPerGroup(
      df.where(col("id") <= 10L), Seq("id"), Seq("grp"), "w", 50, seed = 3)
    assert(tiny.count() === 10L)

    // Heavy rows overrepresented within each group; rerun identical.
    val ids = sel.select("id").collect().map(_.getLong(0)).toSet
    val heavyHits = ids.count(_ % 10 == 0)
    assert(heavyHits * (900 - 90) > 3 * (ids.size - heavyHits) * 90,
      s"heavy=$heavyHits of ${ids.size}")
    val again = Sampling.sampleWeightedNPerGroup(
      df.repartition(7), Seq("id"), Seq("grp"), "w", 50, seed = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again === ids)

    assert(PlanShape(sel).nodesOf[WindowGroupLimitExec].nonEmpty,
      sel.queryExecution.executedPlan.toString)
  }

  test("graft_quantize_i8 is registered on the SQL surface") {
    graft.functions.GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT graft_quantize_i8(array(CAST(1.0 AS DOUBLE), -2.0D, 0.5D)) AS s")
      .select(col("s.q"), col("s.scale")).head()
    assert(row.getSeq[Long](0) === Seq(64L, -127L, 32L))
    assert(math.abs(row.getDouble(1) - 2.0 / 127.0) < 1e-15)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_quantize_i8(array(1.0D), 2)").collect()
    }
    assert(e.getMessage.contains("exactly 1 argument"), e.getMessage)
  }

  test("bigramNll: hand-computed smoothed NLL; short docs feed the model but get no row") {
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a c"),
      (4L, "z"),                       // 1 token: no bigrams, still in model
      (5L, null.asInstanceOf[String])  // null: fully ignored
    ).toDF("doc_id", "text")
    val nll = TextAnalysis.bigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(nll.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(nll.forall(_.getLong(1) == 1L))
    // unigrams a:3 b:2 c:1 z:1, V=4; bigrams (a,b):2 (a,c):1.
    // doc1/2: -ln((2+1)/(3+4)) = ln(7/3); doc3: -ln((1+1)/(3+4)) = ln(7/2).
    assert(math.abs(nll(0).getDouble(2) - math.log(7.0 / 3.0)) < 1e-12)
    assert(math.abs(nll(1).getDouble(2) - math.log(7.0 / 3.0)) < 1e-12)
    assert(math.abs(nll(2).getDouble(2) - math.log(7.0 / 2.0)) < 1e-12)
    // Fluent (repeated) text scores lower than the rare construction.
    assert(nll(0).getDouble(2) < nll(2).getDouble(2))
  }

  test("semanticDecontaminate: threshold semantics, unscoreable kept, guard, stream-safe") {
    import graft.llm.Decontamination
    val eval = Seq(Tuple1(Array(1.0f, 0.0f, 0.0f))).toDF("embedding")
    val train = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f)),    // parallel: cos 1.0 -> drop
      (2L, Array(0.0f, 1.0f, 0.0f)),    // orthogonal: keep
      (3L, Array(0.95f, 0.312f, 0.0f)), // cos ~0.95 -> drop at 0.9
      (4L, Array(-1.0f, 0.0f, 0.0f)),   // opposite: keep
      (5L, null.asInstanceOf[Array[Float]]) // null: keep
    ).toDF("vec_id", "embedding")
    val kept = Decontamination.semanticDecontaminate(train, eval, "embedding",
      threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 5L))

    // Ragged (wrong-dimension) rows are unscoreable and kept.
    val ragged = Seq((9L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Decontamination.semanticDecontaminate(ragged, eval, "embedding")
      .count() === 1L)

    // The driver-collect cap fails fast with the knob named.
    val e = intercept[IllegalArgumentException] {
      Decontamination.semanticDecontaminate(train,
        train.where(col("embedding").isNotNull), "embedding",
        maxEvalVectors = 2L)
    }
    assert(e.getMessage.contains("maxEvalVectors"), e.getMessage)

    // Stateless guard composes with a real stream.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, Seq[Float])]
    val guarded = Decontamination.semanticDecontaminate(
      input.toDS().toDF("vec_id", "embedding"), eval, "embedding", threshold = 0.9)
    val query = guarded.writeStream.format("memory")
      .queryName("r10_sem_guard").outputMode("append").start()
    try {
      input.addData((10L, Seq(1.0f, 0.0f, 0.0f)), (11L, Seq(0.0f, 0.0f, 1.0f)))
      query.processAllAvailable()
      val got = spark.table("r10_sem_guard").select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(got === Set(11L), s"stream guard must drop the match: $got")
    } finally query.stop()
  }

  test("Datasets navigator: dotted provider and table paths resolve; bad paths name the path") {
    import graft.datasets.Datasets
    val nav = Datasets.navigator(spark)

    // Provider path -> primary table, identical to the string registry.
    val viaNav = nav.basic.user.get(rows = 200L)
    val viaReg = Datasets.get(spark, "basic/user", rows = 200L)
    assert(viaNav.schema === viaReg.schema)
    assert(viaNav.count() === 200L)

    // Provider.table path on a multi-table provider.
    val invoices = nav.multi_table.sales_order.invoices.get(rows = 500L)
    assert(Datasets.getTables(spark, "multi_table/sales_order", rows = 500L)
      .contains("invoices"))
    assert(invoices.columns.nonEmpty && invoices.count() > 0L)

    // Unknown path and unknown table both fail with the path named.
    val e1 = intercept[Exception] { nav.basic.nonsense.get() }
    assert(e1.getMessage.contains("basic/nonsense"), e1.getMessage)
    val e2 = intercept[Exception] { nav.multi_table.sales_order.nope.get() }
    assert(e2.getMessage.contains("no table 'nope'"), e2.getMessage)
  }
}
