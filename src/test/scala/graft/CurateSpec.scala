package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextStatsKernel
import graft.llm.{Dedup, Pipeline, TextAnalysis}

/** `Pipeline.curate`'s stages: near-dup with native band keys and the
  * sorted-merge jaccard returns the pairs the lambda spelling returned; the
  * quality filter evaluates its kernel once per row; the default
  * configuration stays within a job budget. */
class CurateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // The Round18Spec curate plant: 38 docs on one template with a distinct
  // marker per id, one exact copy (36 of 0) and one +1-token near copy
  // (37 of 1), plus an eval doc equal to doc 3.
  private def enGood(i: Long) =
    s"w${i}a the quick brown fox jumps over the lazy dog w${i}b " +
      s"it was good that it is here and now w${i}c"
  private lazy val plant: DataFrame = (0L until 38L).map { i =>
    (i, if (i == 36) enGood(0) else if (i == 37) enGood(1) + " extra" else enGood(i))
  }.toDF("id", "text")
  private lazy val evalDocs = Seq((100L, enGood(3))).toDF("id", "text")

  // ------------------------------------------------ near-dup pair set

  /** The spelling `nearDupMinHash` had before its native kernels:
    * signatures through the lambda band keys, the bucket cap, the banded
    * self-join, then a second sketch of every candidate document for
    * verification with `array_intersect`/`array_union` jaccard. */
  private def lambdaPairs(df: DataFrame, threshold: Double, bands: Int,
      maxBucket: Int, onCap: (Long, Long) => Unit): DataFrame = {
    val rowsPerBand = 128 / bands
    def keys(sig: Column) = transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), ",")))
    val banded = Dedup.minHashSignatures(df, "id", "text", 128, 3)
      .select(col("id"), explode(keys(col("sig"))).as("bandkey"))
    val oversized = banded.groupBy("bandkey").agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket)
    val r = oversized.agg(count(lit(1)), coalesce(sum("n"), lit(0L))).collect()(0)
    onCap(r.getLong(0), r.getLong(1))
    val bucketed = banded.join(oversized.select("bandkey"), Seq("bandkey"), "left_anti")
    val candidates = bucketed.select(col("bandkey"), col("id").as("id_a"))
      .join(bucketed.select(col("bandkey"), col("id").as("id_b")), Seq("bandkey"))
      .where(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    val ids = candidates.select(col("id_a").as("id"))
      .unionByName(candidates.select(col("id_b").as("id"))).distinct()
    val sets = Dedup.minHashSignatures(df.join(ids, Seq("id"), "left_semi"), "id", "text", 128, 3)
      .select("id", "sh")
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .toSet

  test("near-dup pair set and cap accounting are unchanged on the Round18Spec plant") {
    // Threshold 0.8 is the curate default (one planted pair); 0.3 also
    // verifies the template-mates, so the set holds many jaccard values.
    // maxBucket 5 makes the cap drop the template's shared buckets.
    for ((threshold, bands, maxBucket) <- Seq((0.8, 16, 1000), (0.3, 16, 1000),
        (0.3, 32, 1000), (0.3, 32, 5))) {
      var capNew = (-1L, -1L)
      var capOld = (-1L, -1L)
      val got = pairSet(Dedup.nearDupMinHash(plant, "id", "text", threshold, 128, bands, 3,
        maxBucket, onCapDrops = (k, r) => capNew = (k, r)))
      val want = pairSet(lambdaPairs(plant, threshold, bands, maxBucket,
        (k, r) => capOld = (k, r)))
      assert(got == want, s"threshold $threshold, $bands bands, maxBucket $maxBucket")
      assert(capNew == capOld, s"cap accounting at maxBucket $maxBucket")
      if (threshold == 0.8 && maxBucket == 1000) assert(got.map(p => (p._1, p._2)) == Set((0L, 36L), (1L, 37L)))
      if (threshold == 0.3 && maxBucket == 1000) assert(got.size > 100, s"only ${got.size} pairs")
      if (maxBucket == 5) assert(capNew._1 > 0L, "the cap must bite at maxBucket 5")
    }
  }

  // ------------------------------------------------- quality filter

  private def qualityNodes(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e.collect { case q: TextStatsKernel.QualityStats => q }.size

  test("quality filter: the optimized condition holds exactly one quality-kernel node") {
    val cfg = Pipeline.Config()
    // Not a local relation: the optimizer would evaluate the filter away.
    val docs = spark.range(38).select(col("id"),
      concat(lit("w"), col("id"), lit("a the quick brown fox jumps over the lazy dog")).as("text"))
    val filters = Pipeline.qualityFilter(docs, "text", cfg)
      .queryExecution.optimizedPlan.collect { case f: Filter => f }
    assert(filters.size == 1)
    assert(qualityNodes(filters.head.condition) == 1, filters.head.condition.toString)
    // The two-Column spelling reads several features, each one a kernel
    // call in a filter: the check above tells the two apart.
    val twoColumn = docs.where(TextAnalysis.qualityScore(col("text")) >= cfg.minQuality &&
      TextAnalysis.tokenCount(col("text")) >= cfg.minTokens)
    val old = twoColumn.queryExecution.optimizedPlan.collect { case f: Filter => f }
    assert(old.map(f => qualityNodes(f.condition)).sum > 1)
  }

  test("qualityKeep equals the qualityScore/tokenCount spelling on varied texts") {
    val rnd = new scala.util.Random(3)
    val words = Seq("the", "a", "cat", "sat", "on", "it", "mat", "is", "and", "x",
      "!!!", "...", "42", "Über", "naïve", "ÀÉ", "zzzzzzzzzzzzzzz", "-", "*")
    val random = (0 until 300).map { _ =>
      val n = rnd.nextInt(25)
      Seq.fill(n)(words(rnd.nextInt(words.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  \t")
    }
    val fixed = Seq("", " ", "word", "one two three four five",
      "the it was " + Seq("!", "?", "@").map(_ * 20).mkString(" "),
      enGood(1), enGood(2) + "\n" + enGood(2), "a " * 200)
    val texts = (random ++ fixed).map(Option(_)) :+ Option.empty[String]
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val t = col("text")
    // score values are k/7: 5/7 makes some documents sit exactly on the bar.
    for ((minQ, minTok) <- Seq((0.7, 5), (5.0 / 7, 5), (0.0, 0), (1.0, 3), (6.0 / 7, 30))) {
      val rows = df.select(col("id"), TextAnalysis.qualityScore(t),
          TextAnalysis.qualityKeep(t, minQ, minTok),
          TextAnalysis.qualityScore(t) >= minQ && TextAnalysis.tokenCount(t) >= minTok)
        .collect()
      rows.foreach { r =>
        val keep = Option(r.get(2)).exists(_ == true)
        val want = Option(r.get(3)).exists(_ == true)
        assert(keep == want, s"keep differs for id ${r.getLong(0)} at ($minQ, $minTok)")
      }
      if (minQ == 5.0 / 7) assert(rows.exists(r => r.get(1) == 5.0 / 7),
        "no document on the bar")
    }
  }

  // --------------------------------------------------- job budget

  test("default Pipeline.curate stays within its job budget, with the planted survivors and stats") {
    val group = s"curate-budget-${System.nanoTime()}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val groupOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) groupOf.put(e.jobId, g)
        if (g == group) started.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (groupOf.get(e.jobId) == marker) markerDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val r = try {
      sc.setJobGroup(group, "curate job budget")
      val res = Pipeline.curate(plant, "id", "text", Some(evalDocs))
      res.stats.collect() // the stats frame is local: no job
      // Listener events arrive in order: once the marker job's end is
      // seen, every curate job start has been counted.
      sc.setJobGroup(marker, "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener did not drain")
      res
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // On a 40k-doc corpus a default curate ran 54 jobs when every stage
    // counted with its own aggregate job and 33 once stats rode the
    // checkpoint jobs. The budget leaves room for the adaptive planner
    // choosing a different join on this small plant.
    assert(started.get() <= 36, s"default curate ran ${started.get()} jobs")
    val all = (0L until 38L).toSet
    val kept = all -- Set(36L, 37L, 3L)
    assert(r.docs.select("id").collect().map(_.getLong(0)).toSet == kept,
      "exact copy, near copy and the eval doc are dropped")
    // Planted (rows, tokens) per stage; the near copy carries one extra token.
    def planted(ids: Set[Long]) = (ids.size.toLong, ids.toSeq.map(i => if (i == 37L) 22L else 21L).sum)
    val want = Seq("input", "fix_encoding", "html_extract", "langid_filter",
      "quality_filter", "line_dedup").map(_ -> planted(all)) ++ Seq(
      "exact_dedup" -> planted(all - 36L), "near_dedup" -> planted(all -- Set(36L, 37L)),
      "decontaminate" -> planted(kept))
    val got = r.stats.orderBy("ord").collect()
      .map(s => s.getString(1) -> (s.getLong(2), s.getLong(3))).toSeq
    assert(got == want)
    assert(r.stats.collect().forall(_.getLong(5) == 0L), "no bucket was capped")
  }
}
