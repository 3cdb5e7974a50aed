package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ShingleSketch
import graft.llm.Dedup

/** The fused shingle sketch must be BIT-IDENTICAL to the explode+aggregate
  * pipeline it replaces (pinned dedup oracles depend on the signatures). */
class ShingleSketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "one two three"),                      // n == width boundary
    (3L, "solo"),                               // single token
    (4L, ""),                                   // empty text -> [""] token
    (5L, "dup dup dup dup dup"),                // repeated shingles collapse in sh
    (6L, "  padded   whitespace\ttabs\nnewlines  ")
  ).toDF("doc_id", "text")

  test("fused sketch equals the explode+aggregate pipeline bit-for-bit") {
    val old = Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 32, shingleWidth = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toList, r.getSeq[Long](2).toList))).toMap
    val toks = split(trim(lower(col("text"))), "\\s+")
    val fused = docs.where(col("text").isNotNull)
      .select(col("doc_id"), ShingleSketch.sketch(toks, 3, 32).as("sk"))
      .select(col("doc_id"), col("sk.sh"), col("sk.sig"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toList, r.getSeq[Long](2).toList))).toMap
    assert(fused.keySet === old.keySet)
    fused.keySet.foreach { id =>
      assert(fused(id)._1 === old(id)._1, s"sh mismatch for doc $id")
      assert(fused(id)._2 === old(id)._2, s"sig mismatch for doc $id")
    }
  }

  test("interpreted path agrees with codegen") {
    val toks = split(trim(lower(col("text"))), "\\s+")
    def run(): Map[Long, List[Long]] = docs
      .select(col("doc_id"), ShingleSketch.sketch(toks, 3, 16).getField("sig").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val a = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() === a)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("fused simhash equals the vote-aggregate pipeline bit-for-bit") {
    // Rebuild the legacy 64-vote aggregate inline and compare.
    val exploded = docs
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"v$b")
    }
    val legacy = exploded.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((x, y) => x.bitwiseOR(y)).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = Dedup.simHashes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused === legacy)
  }

  test("fused hyperplane keys equal the projection-aggregate pipeline bit-for-bit") {
    // Pseudo-random 16-dim vectors incl. exact zeros; planes=6, probes=4.
    val vecs = spark.range(50).select(col("id"),
      transform(sequence(lit(0), lit(15)), i =>
        when(pmod(xxhash64(col("id"), i), lit(7)) === 0, lit(0.0))
          .otherwise(pmod(xxhash64(i, col("id")), lit(1000)).cast("double") / 250.0 - 2.0))
        .as("vec"))
    val (planes, probes) = (6, 4)
    // Legacy pipeline, rebuilt inline.
    val exploded = vecs
      .select(col("id"), posexplode(col("vec").cast("array<double>")).as(Seq("pos", "x")))
    def component(p: Int, l: Int) =
      pmod(xxhash64(lit(p), lit(l), col("pos")), lit(1000000L))
        .cast("double") / 1000000.0 - 0.5
    val projAggs = for (p <- 0 until probes; l <- 0 until planes)
      yield sum(col("x") * component(p, l)).as(s"pj_${p}_$l")
    val legacy = exploded.groupBy("id").agg(projAggs.head, projAggs.tail: _*)
      .select(col("id"), array((0 until probes).map { p =>
        concat(lit(s"$p#") +: (0 until planes).map(l =>
          when(col(s"pj_${p}_$l") >= 0, lit("1")).otherwise(lit("0"))): _*)
      }: _*).as("keys"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val fused = graft.llm.Similarity.hyperplaneSketches(vecs, "id", "vec", planes, probes)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(fused === legacy)
  }

  test("dropNearDupsSimHash / dropNearDupsCosine keep the smaller id per pair") {
    val txt = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 1
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("id", "text")
    val keptTxt = Dedup.dropNearDupsSimHash(txt, "id", "text", maxDistance = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptTxt === Set(1L, 3L))

    val emb = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(1.0, 1e-9, 0.0, 0.0)),  // near-dup of 1
      (3L, Array(0.0, 0.0, 1.0, 0.0))
    ).toDF("id", "vec")
    val keptEmb = Dedup.dropNearDupsCosine(emb, "id", "vec", threshold = 0.99)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptEmb === Set(1L, 3L))
  }

  test("null text yields a null sketch; zero hash families allowed") {
    val d = Seq((1L, Option("a b c d")), (2L, Option.empty[String])).toDF("doc_id", "text")
    val toks = split(trim(lower(col("text"))), "\\s+")
    val r = d.select(col("doc_id"), ShingleSketch.sketch(toks, 3, 0).as("sk"))
      .orderBy("doc_id").collect()
    assert(!r(0).isNullAt(1))
    assert(r(0).getStruct(1).getSeq[Long](1).isEmpty, "numHashes=0 -> empty sig")
    assert(r(1).isNullAt(1))
  }

  // ----------------------------------------------- LSH band keys, jaccard

  /** The lambda spelling the native band keys replace. */
  private def lambdaBandKeys(sig: org.apache.spark.sql.Column, bands: Int,
      rowsPerBand: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), ",")))

  /** (native, lambda) band keys per id, under whole-stage codegen and
    * interpreted. */
  private def bandKeysBothWays(df: org.apache.spark.sql.DataFrame, bands: Int,
      rowsPerBand: Int): Seq[(Map[Long, Option[List[Long]]], Map[Long, Option[List[Long]]])] = {
    def run(): (Map[Long, Option[List[Long]]], Map[Long, Option[List[Long]]]) = {
      val rows = df.select(col("id"),
          ShingleSketch.bandKeys(col("sig"), bands, rowsPerBand).as("native"),
          lambdaBandKeys(col("sig"), bands, rowsPerBand).as("lambda"))
        .collect()
      def keys(i: Int) = rows.map(r => r.getLong(0) ->
        Option(r.getSeq[Long](i)).map(_.toList)).toMap
      (keys(1), keys(2))
    }
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = try run() finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    Seq(codegen, interpreted)
  }

  test("native band keys equal the lambda spelling bit for bit: random and edge signatures") {
    val rnd = new scala.util.Random(7)
    val random = (0 until 300).map(i => Seq.fill(128)(rnd.nextLong()))
    val edges = Seq(
      Seq.fill(128)(Long.MinValue),
      Seq.fill(128)(Long.MaxValue),
      Seq.fill(128)(-1L),
      Seq.fill(128)(0L),
      (0 until 128).map(k => if (k % 3 == 0) Long.MinValue else -k.toLong * 1000003L),
      (0 until 128).map(k => if (k % 2 == 0) Long.MaxValue else Long.MinValue + k),
      Seq(1L, -2L, Long.MinValue), // shorter than the banding: empty tail bands
      Seq.empty[Long])
    val df = (random ++ edges).zipWithIndex.map { case (sig, i) => (i.toLong, sig) }
      .toDF("id", "sig")
    for ((bands, r) <- Seq((16, 8), (32, 4), (128, 1), (1, 128), (5, 3))) {
      bandKeysBothWays(df, bands, r).foreach { case (native, lambda) =>
        assert(native.keySet == lambda.keySet)
        native.keySet.foreach { id =>
          assert(native(id) == lambda(id), s"band keys differ: id $id, $bands x $r")
        }
      }
    }
  }

  test("native band keys: null signatures and null elements follow the lambda spelling") {
    val df = Seq(
      (1L, Option(Seq(Option(5L), None, Option(-7L), None))),
      (2L, Option(Seq(Option.empty[Long], None, None, None))),
      (3L, Option(Seq(None, Option(Long.MinValue), Option(3L), None))),
      (4L, Option.empty[Seq[Option[Long]]]))
      .toDF("id", "sig")
    for ((bands, r) <- Seq((2, 2), (4, 1), (1, 4), (3, 2))) {
      bandKeysBothWays(df, bands, r).foreach { case (native, lambda) =>
        assert(native == lambda, s"$bands x $r")
        assert(native(4L).exists(_.size == bands), "a null signature still has keys")
      }
    }
  }

  test("sorted-merge jaccard equals Dedup.jaccard on sorted distinct arrays, empty included") {
    val rnd = new scala.util.Random(11)
    def set(universe: Int): Seq[Long] =
      Seq.fill(rnd.nextInt(40))(rnd.nextInt(universe).toLong - universe / 2)
        .distinct.sorted
    val extremes = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)
    val random = (0 until 400).map(_ => (set(60), set(60)))
    val fixed = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(3L), Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (extremes, extremes.drop(2)),
      (extremes, Seq(Long.MinValue, Long.MaxValue)))
    val df = (random ++ fixed).zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b")
    def run(): Array[(Long, Double, Double)] = df.select(col("id"),
        ShingleSketch.sortedJaccard(col("a"), col("b")),
        Dedup.jaccard(col("a"), col("b")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = try run() finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    for ((id, merged, sets) <- codegen ++ interpreted)
      assert(java.lang.Double.doubleToRawLongBits(merged) ==
        java.lang.Double.doubleToRawLongBits(sets), s"row $id: $merged vs $sets")
    val byId = codegen.map(x => x._1 -> x._2).toMap
    assert(byId(random.size.toLong) == 1.0, "two empty sets score 1.0")
    assert(byId(random.size + 1L) == 0.0)
    assert(byId(random.size + 3L) == 1.0)
    val nulls = Seq((1L, Option(Seq(1L)), Option.empty[Seq[Long]])).toDF("id", "a", "b")
      .select(ShingleSketch.sortedJaccard(col("a"), col("b"))).collect()
    assert(nulls.head.isNullAt(0), "a null side gives null")
  }
}
