package graft

import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorKernels
import graft.llm.Similarity

/** Native vector-kernel tests: whole-stage-codegen and interpreted paths,
  * null/ragged/empty contracts, and bit-equality with the unrolled
  * element_at forms the pinned oracles were generated from. */
class VectorKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecs = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (2L, Seq(0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0)),   // zero norm -> cosine 0.0
    (3L, Seq(-1.5, 2.5, 0.25), Seq(3.25, -0.5, 8.0))
  ).toDF("id", "a", "b")

  test("dot and cosine: exact values on both codegen and interpreted paths") {
    for (flag <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", flag)
      try {
        val r = vecs.orderBy("id").select(
          VectorKernels.dot(col("a"), col("b")),
          VectorKernels.cosine(col("a"), col("b"))).collect()
        assert(r(0).getDouble(0) === 32.0)
        assert(math.abs(r(0).getDouble(1) - 32.0 /
          (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-15)
        assert(r(1).getDouble(0) === 0.0)
        assert(r(1).getDouble(1) === 0.0, "zero-norm cosine must be 0.0, not NaN")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("bit-equality with the unrolled element_at kernels") {
    // Deterministic pseudo-random 64-dim vectors; equality must be EXACT
    // (==), not approximate — the pinned sketch oracles depend on it.
    val df = spark.range(200).select(
      col("id"),
      transform(sequence(lit(1), lit(64)),
        i => pmod(xxhash64(col("id"), i), lit(1000)).cast("double") / 250.0 - 2.0).as("a"),
      transform(sequence(lit(1), lit(64)),
        i => pmod(xxhash64(i, col("id")), lit(1000)).cast("double") / 250.0 - 2.0).as("b"))
    val r = df.select(
      (VectorKernels.dot(col("a"), col("b")) === Similarity.dot(col("a"), col("b"), 64)).as("d"),
      (VectorKernels.norm(col("a")) === Similarity.norm(col("a"), 64)).as("n"),
      (VectorKernels.cosine(col("a"), col("b")) === Similarity.cosine(col("a"), col("b"), 64)).as("c"))
      .agg(sum(when(col("d") && col("n") && col("c"), 1L).otherwise(0L))).head().getLong(0)
    assert(r === 200L, "native kernels must be bit-identical to the unrolled forms")
  }

  test("null, ragged and empty contracts") {
    val df = Seq(
      (1L, Option(Seq(Option(1.0), Option(2.0))), Option(Seq(Option(3.0), Option(4.0)))),
      (2L, None, Option(Seq(Option(1.0), Option(2.0)))),                 // null array
      (3L, Option(Seq(Option(1.0), None)), Option(Seq(Option(1.0), Option(2.0)))), // null elem
      (4L, Option(Seq(Option(1.0))), Option(Seq(Option(1.0), Option(2.0)))),       // ragged
      (5L, Option(Seq.empty[Option[Double]]), Option(Seq.empty[Option[Double]]))   // empty
    ).toDF("id", "a", "b")
    val r = df.orderBy("id").select(
      VectorKernels.dot(col("a"), col("b")),
      VectorKernels.cosine(col("a"), col("b"))).collect()
    assert(r(0).getDouble(0) === 11.0)
    assert(r(1).isNullAt(0) && r(1).isNullAt(1))
    assert(r(2).isNullAt(0) && r(2).isNullAt(1))
    assert(r(3).isNullAt(0) && r(3).isNullAt(1))
    assert(r(4).getDouble(0) === 0.0 && r(4).getDouble(1) === 0.0)
  }

  test("SQL surface: graft_dot / graft_cosine register and evaluate") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head()
    assert(r.getDouble(0) === 11.0 && r.getDouble(1) === 1.0)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0d))").collect()
    }
    assert(err.getMessage.contains("2 arguments"), err.getMessage)

    // Sketch kernels ride the same registration.
    val sk = spark.sql(
      "SELECT graft_simhash(array('a','b','a')) AS s, " +
        "graft_shingle_sketch(array('a','b','c','d'), 3, 4).sig AS sig, " +
        "graft_hyperplane_keys(array(1.0d, -2.0d), 4, 2) AS keys").head()
    assert(sk.getLong(0) != 0L)
    assert(sk.getSeq[Long](1).length === 4)
    assert(sk.getSeq[String](2).length === 2 && sk.getSeq[String](2).head.startsWith("0#"))

    // Language-ID kernel rides the same registration (optional minHits arg).
    val lid = spark.sql(
      "SELECT graft_langid('the cat and the dog') AS a, " +
        "graft_langid('the end', 2) AS b").head()
    assert(lid.getString(0) === "en")
    assert(lid.getString(1) === "und")

    // Text-stats and quality kernels too.
    val ts = spark.sql(
      "SELECT graft_text_stats('a b\na b', 3).dup_line_count AS d, " +
        "graft_quality_stats('The cat and the dog').n_tokens AS n").head()
    assert(ts.getLong(0) === 1L)
    assert(ts.getInt(1) === 5)

    // Exact quantile kernels: decimal-literal params must coerce, and the
    // values must match the static math (Exp(1) median = ln 2).
    val q = spark.sql(
      "SELECT graft_gamma_quantile(0.5d, 1.0, 1.0) AS g, " +
        "graft_beta_quantile(0.5d, 2, 5) AS b").head()
    assert(math.abs(q.getDouble(0) - math.log(2.0)) < 1e-12)
    assert(q.getDouble(1) === graft.functions.DistKernels.betaQuantile(2.0, 5.0, 0.5))
  }

  test("float arrays upcast implicitly") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(VectorKernels.dot(col("a"), col("b"))).head().getDouble(0) === 11.0)
  }

  test("kernel stays inside whole-stage codegen (no CodegenFallback)") {
    // Not a local relation (constant-folded) and no HOF array builders
    // (transform is CodegenFallback and would evict the whole Project).
    val df = spark.range(10).select(
      array((1 to 4).map(i => (col("id") + i).cast("double")): _*).as("a"),
      array((1 to 4).map(i => (col("id") * i).cast("double")): _*).as("b"))
    val q = df.select(VectorKernels.cosine(col("a"), col("b")).as("c"))
    // `*(n)` marks operators fused into WholeStageCodegen stage n; the
    // Project evaluating the kernel must carry it (a CodegenFallback
    // expression would evict its whole Project from the stage).
    val shape = PlanShape(q)
    assert(shape.kernelInCodegen("graft_cosine") &&
      shape.kernelNodes("graft_cosine").forall(_._1.isInstanceOf[ProjectExec]),
      shape.plan.toString)
    // And the generated source actually contains the fused loop.
    val gen = org.apache.spark.sql.execution.debug.codegenString(q.queryExecution.executedPlan)
    assert(gen.contains("getDouble") && gen.contains("Math.sqrt"), gen.take(2000))
  }

  test("round-6 kernels stay inside whole-stage codegen too") {
    // langid + text-stats over a derived string column; nearest-centroid
    // over a derived vector column — all three must ride one fused Project
    // (a CodegenFallback expression would evict its Project from the stage).
    val mat = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = spark.range(10).select(
      concat(lit("the cat line one\nline "), col("id").cast("string")).as("t"),
      array(col("id").cast("double"), (col("id") * 2).cast("double")).as("v"))
    val q = df.select(
      graft.functions.LangIdKernel.languageId(col("t")).as("lang"),
      graft.functions.TextStatsKernel.stats(col("t"), 3).as("st"),
      graft.functions.CentroidKernels.nearestIndex(col("v"), mat).as("cell"))
    val carriers = Seq("graft_langid", "graft_text_stats", "graft_nearest_centroids")
      .flatMap(PlanShape(q).kernelNodes)
    assert(carriers.size === 3 && carriers.forall(_._2) &&
      carriers.map(_._1).distinct.size === 1 &&
      carriers.head._1.isInstanceOf[ProjectExec], q.queryExecution.executedPlan.toString)
    assert(q.collect().length === 10)
  }
}
