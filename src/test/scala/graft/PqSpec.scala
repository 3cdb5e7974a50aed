package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PqKernels
import graft.llm.Similarity

/** Product-quantization kernels + training + ADC top-k harness. */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Two subspaces of dim 2, two codewords each — argmins are hand-checkable.
  private val book: Array[Array[Array[Double]]] = Array(
    Array(Array(0.0, 0.0), Array(10.0, 10.0)),
    Array(Array(1.0, 1.0), Array(-1.0, -1.0)))

  test("PqEncode/PqDecode: argmin-L2 codes, roundtrip, ties and null contract") {
    val df = Seq(
      (1L, Seq(0.1, 0.2, 0.9, 0.8)),     // sub0 -> 0, sub1 -> 0
      (2L, Seq(9.0, 11.0, -2.0, -0.5)),  // sub0 -> 1, sub1 -> 1
      (3L, Seq(5.0, 5.0, 0.0, 0.0))      // sub0 tie (d2=50 both) -> 0; sub1 tie -> 0
    ).toDF("id", "v")
    val got = df.select(col("id"), PqKernels.encode(col("v"), book).as("c"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
    assert(got.toSeq === Seq(1L -> Seq(0, 0), 2L -> Seq(1, 1), 3L -> Seq(0, 0)))

    val dec = df.select(
      PqKernels.decode(PqKernels.encode(col("v"), book), book).as("d"))
      .orderBy(col("d")).collect().map(_.getSeq[Double](0).toSeq)
    assert(dec.contains(Seq(0.0, 0.0, 1.0, 1.0)))
    assert(dec.contains(Seq(10.0, 10.0, -1.0, -1.0)))

    // Ragged length, null vector -> null codes; out-of-range code -> null decode.
    val bad = Seq(Tuple1(Seq(1.0, 2.0)), Tuple1(null.asInstanceOf[Seq[Double]]))
      .toDF("v")
    assert(bad.select(PqKernels.encode(col("v"), book))
      .collect().forall(_.isNullAt(0)))
    assert(Seq(Tuple1(Seq(0, 7))).toDF("c")
      .select(PqKernels.decode(col("c"), book)).head.isNullAt(0))

    // Narrow: encoding never shuffles.
    val encoded = df.select(PqKernels.encode(col("v"), book))
    assert(PlanShape(encoded).exchanges.isEmpty,
      s"PQ encode must stay narrow:\n${encoded.queryExecution.executedPlan}")
  }

  test("pqTrain: shape, in-range codes, Lloyd refinement reduces reconstruction error") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seed = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16,
      refineIterations = 0)
    val refined = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16,
      refineIterations = 2)
    assert(seed.length === 8 && seed.forall(b => b.length === 16 && b.forall(_.length === 8)))

    def meanErr(b: Array[Array[Array[Double]]]): Double =
      Similarity.pqEncode(emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")), "v", b)
        .select(avg(graft.functions.VectorKernels.dot(
          zip_with(col("v"), PqKernels.decode(col("pq_codes"), b), (a, c) => a - c),
          zip_with(col("v"), PqKernels.decode(col("pq_codes"), b), (a, c) => a - c))))
        .head.getDouble(0)
    val e0 = meanErr(seed)
    val e2 = meanErr(refined)
    assert(e2 <= e0, s"Lloyd refinement must not increase quantization error: $e0 -> $e2")

    val codes = Similarity.pqEncode(emb, "embedding", refined)
    val bounds = codes.select(
      min(array_min(col("pq_codes"))), max(array_max(col("pq_codes")))).head
    assert(bounds.getInt(0) >= 0 && bounds.getInt(1) < 16)
  }

  test("ADC LUT: O(m) score matches decode+dot cosine, null contract, plan shape") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val books = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16, ksub = 64,
      refineIterations = 1)
    import graft.functions.VectorKernels
    val v = col("embedding").cast("array<double>")
    val q = emb.where(col("vec_id") === 3).select(v.as("qv")).head.getSeq[Double](0)
    val qlit = lit(q.toArray)
    val scored = emb.select(
      col("vec_id"),
      PqKernels.adcScore(PqKernels.encode(v, books), PqKernels.lut(qlit, books), books)
        .as("viaLut"),
      (VectorKernels.dot(qlit, PqKernels.decode(PqKernels.encode(v, books), books)) /
        VectorKernels.norm(PqKernels.decode(PqKernels.encode(v, books), books)))
        .as("viaDecode"))
    val worst = scored.select(max(abs(col("viaLut") - col("viaDecode")))).head.getDouble(0)
    assert(worst < 1e-9, s"LUT ADC diverged from decode+dot by $worst")

    // Null contract: out-of-range codes against a VALID (dim-matched) LUT
    // yield null — this exercises adcScore's range validation, not the
    // null-LUT shortcut. A dim-mismatched query also nulls the LUT itself.
    val q4 = lit(Array(1.0, 2.0, 3.0, 4.0))
    val badCodes = Seq(Tuple1(Seq(0, 7))).toDF("c")
    assert(badCodes.select(PqKernels.lut(q4, book).as("l")).head.getSeq[Double](0).length === 4)
    assert(badCodes.select(PqKernels.adcScore(col("c"),
      PqKernels.lut(q4, book), book)).head.isNullAt(0),
      "code 7 >= ksub=2 must score null")
    assert(badCodes.select(PqKernels.lut(qlit, book)).head.isNullAt(0),
      "a 64-dim query against the dim-4 fixture must null the LUT")

    // The scoring side of pqTopK carries the fused ADC kernel and NO
    // full-dim decode — the decode path must not be in the hot loop.
    val queries = emb.where(col("vec_id") < 2)
    val top = Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, m = 16, ksub = 64,
      refineIterations = 0, rerank = 2)
    val topShape = PlanShape(top)
    assert(topShape.hasKernel("graft_pq_adc"), "pqTopK must score via the ADC LUT kernel")
    assert(!topShape.hasKernel("graft_pq_decode"),
      s"pqTopK scoring must not decode candidates to full dim:\n${topShape.plan}")
    val hybrid = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 2,
      m = 16, ksub = 64, refineIterations = 0, rerank = 2)
    val hybridShape = PlanShape(hybrid)
    assert(hybridShape.hasKernel("graft_pq_adc") && !hybridShape.hasKernel("graft_pq_decode"))
  }

  test("pqTopK: recall against exact top-k on the clustered corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.count()
    // Operating-point sweep (table in IMPLEMENTATION.md): finer subspaces beat
    // more refinement; m=16 ksub=32 rerank=4 lands 0.90 on this corpus.
    for ((m, ksub, refine, rr) <- Seq((8, 16, 2, 4), (16, 16, 2, 4),
        (16, 32, 2, 4), (8, 16, 2, 8))) {
      val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, m = m, ksub = ksub,
        refineIterations = refine, rerank = rr)
        .select(col("query_id"), col("neighbor_id"))
      val overlap = exact.join(pq, Seq("query_id", "neighbor_id"), "left_semi").count()
      info(s"PQ recall@10 m=$m ksub=$ksub refine=$refine rerank=$rr: " +
        s"${overlap.toDouble / nExact} ($overlap/$nExact)")
    }
    // The query's operating point (q_ann_pq_recall): m=16, ksub=64, rerank=8.
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, m = 16, ksub = 64,
      refineIterations = 2, rerank = 8)
      .select(col("query_id"), col("neighbor_id"))
    val overlap = exact.join(pq, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = overlap.toDouble / nExact
    assert(recall >= 0.7, s"PQ recall collapsed at the pinned operating point: $recall")
  }

  test("ivfPqTopK: hybrid index recall, probe sweep") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.count()
    for (nProbe <- Seq(2, 4, 8)) {
      val hybrid = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, nCentroids = 8, nProbe = nProbe,
        m = 16, ksub = 64, refineIterations = 2, rerank = 8)
        .select(col("query_id"), col("neighbor_id"))
      val overlap = exact.join(hybrid, Seq("query_id", "neighbor_id"), "left_semi").count()
      info(s"IVF+PQ recall@10 nCells=8 nProbe=$nProbe: ${overlap.toDouble / nExact}")
      if (nProbe == 8)
        assert(overlap.toDouble >= 0.7 * nExact,
          s"full-probe hybrid recall collapsed: $overlap/$nExact")
    }
  }
}
