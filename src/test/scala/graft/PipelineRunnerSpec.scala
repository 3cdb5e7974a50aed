package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Pipeline

/** The stage runner the three `Pipeline` curators share: the stats it
  * observes on a checkpoint's own materialize job equal the aggregate over
  * that checkpoint (the fallback, and the exact reference the planted
  * stats tests lean on); a curation call leaves only its result's
  * checkpoint persisted, never a caller's frame; and the interleaved
  * curator runs `curate`'s whole text chain. */
class PipelineRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def enGood(i: Long) =
    s"w${i}a the quick brown fox jumps over the lazy dog w${i}b " +
      s"it was good that it is here and now w${i}c"

  /** The observed row, which must arrive, and the fallback aggregate over
    * the same checkpoint. */
  private def observedAndAggregate(df: DataFrame, aggs: Seq[Column],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER): (Row, Row) = {
    val (ckpt, o) = Pipeline.observedCheckpoint(df, aggs, level)
    try {
      val obs = Pipeline.awaitObs(o)
      assert(obs.isDefined, "the observation did not arrive")
      (obs.get, Pipeline.aggregate(ckpt, aggs))
    } finally org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(ckpt)
      .foreach(_.unpersist(blocking = true))
  }

  test("observed stats equal the aggregate over the same checkpoint: rows, token sums, byte sums, slot sums, max slot index") {
    val rows = (0L until 57L).map { i =>
      val text = if (i % 11 == 0) None else Some(enGood(i) + " x" * (i % 5).toInt)
      val img = if (i % 7 == 0) None else Some(Array.fill((i * 13 % 97).toInt)(i.toByte))
      (i, text, img, (i % 4).toInt, (i % 3).toInt)
    }
    val df = rows.toDF("id", "text", "bin", "__n_image", "__n_audio").repartition(5)
    val cases = Seq(
      "text" -> Pipeline.textAggs("text"),
      "bytes" -> Pipeline.byteAggs("bin"),
      "slots" -> Pipeline.slotAggs(Seq("__n_image", "__n_audio")))
    for ((name, aggs) <- cases; frame <- Seq(df, df.where(col("id") < 0))) {
      val (obs, agg) = observedAndAggregate(frame, aggs)
      assert(obs == agg, s"$name: observed $obs, aggregate $agg")
    }
    // Non-trivial values on the full frame, checked against the driver.
    val (t, _) = observedAndAggregate(df, Pipeline.textAggs("text"))
    val texts = rows.flatMap(_._2)
    assert(t == Row(57L, texts.map(_.trim.split("\\s+").length.toLong).sum))
    val (b, _) = observedAndAggregate(df, Pipeline.byteAggs("bin"))
    assert(b == Row(57L, rows.flatMap(_._3).map(_.length.toLong).sum))
    val (s, _) = observedAndAggregate(df, Pipeline.slotAggs(Seq("__n_image", "__n_audio")))
    assert(s == Row(57L, rows.map(_._4.toLong).sum, rows.map(_._5.toLong).sum))
    // Max slot index of an exploded frame, at the payload level too.
    val exploded = df.select(col("id").as("__doc"),
      posexplode(array_repeat(lit(1), col("__n_image"))).as(Seq("__idx", "__media")))
    for (level <- Seq(StorageLevel.MEMORY_AND_DISK_SER, StorageLevel.DISK_ONLY)) {
      val (e, agg) = observedAndAggregate(exploded, Pipeline.explodeAggs, level)
      assert(e == agg)
      assert(e == Row(rows.map(_._4.toLong).sum, 2))
    }
  }

  test("Pipeline.curate leaves only its result's checkpoint persisted; caller frames keep theirs") {
    val sc = spark.sparkContext
    // Near-dup pairs (so the near-dup stage builds its banded frame,
    // candidate pairs and verify shingles) and an eval doc.
    val docs = (0L until 60L).map { i =>
      (i, if (i >= 50) enGood(i - 50) + " extra" else enGood(i))
    }.toDF("id", "text").localCheckpoint(true)
    val ev = Seq((100L, enGood(3))).toDF("id", "text").localCheckpoint(false)
    def rddOf(df: DataFrame) =
      org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(df).get.id
    val before = sc.getPersistentRDDs.keySet
    val r = Pipeline.curate(docs, "id", "text", Some(ev))
    val created = sc.getPersistentRDDs.keySet -- before
    assert(created == Set(rddOf(r.docs)),
      s"persisted RDDs left by curate: $created, result ${rddOf(r.docs)}")
    assert(sc.getPersistentRDDs.keySet.contains(rddOf(docs)))
    assert(sc.getPersistentRDDs.keySet.contains(rddOf(ev)))
    val byStage = r.stats.collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(byStage("near_dedup") == 50L && byStage("decontaminate") == 49L, byStage.toString)
    assert(r.docs.count() == 49L) // the result checkpoint still reads
  }

  test("curateImages and curateInterleavedMm leave only their result's checkpoint persisted") {
    val M = graft.llm.Multimodal
    val sc = spark.sparkContext
    def rddOf(df: DataFrame) =
      org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(df).get.id
    val imgs = (0L until 8L).map { i =>
      (i, if (i == 5L) M.encodeBlockImage(0L) else M.encodeBlockImage(i))
    }.toDF("id", "img")
    val before = sc.getPersistentRDDs.keySet
    val ri = Pipeline.curateImages(imgs, "id", "img", Pipeline.ImageConfig(maxDistance = 2))
    assert(sc.getPersistentRDDs.keySet -- before == Set(rddOf(ri.docs)))
    // Video profile dedup: connected components and the profile pairs
    // checkpoint inside the stage.
    def vid(fam: Long, reenc: Boolean) = {
      val sizes =
        if (reenc) M.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L)
        else M.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L)
      M.encodeMp4Media(if (reenc) fam * 700L else fam * 100L, sizes,
        Seq.fill(10)(64))
    }
    val mm = (0L until 6L).map { i =>
      (i, enGood(i), Seq(M.encodeBlockImage(i % 4)),
        Seq(if (i == 4L) vid(1L, reenc = true) else vid(i, reenc = false)))
    }.toDF("doc_id", "text", "images", "videos")
    val before2 = sc.getPersistentRDDs.keySet
    val rm = Pipeline.curateInterleavedMm(mm, "doc_id", "text",
      Seq("image" -> "images", "video" -> "videos"),
      Pipeline.InterleavedConfig(image = Pipeline.ImageConfig(maxDistance = 2)),
      videoCfg = Pipeline.MediaConfig(maxDistance = 4, pieces = 8, profilePairs = true))
    assert(sc.getPersistentRDDs.keySet -- before2 == Set(rddOf(rm.docs)))
    val slots = rm.stats.collect().map(x => x.getString(1) -> x.getLong(3)).toMap
    // 12 slots; image 4 and 5 copy images 0 and 1, video 4 re-encodes video 1.
    assert(slots("img_exact_dedup") == 10L && slots("vid_profile_dedup") == 9L, slots.toString)
  }

  test("curateInterleavedMm runs curate's whole text chain: a token budget keeps the same documents") {
    val docs = (0L until 40L).map { i =>
      (i, if (i == 39) enGood(0) else enGood(i) + " more" * (i % 4).toInt)
    }.toDF("doc_id", "text")
    val cfg = Pipeline.Config(budgetTokens = 400L)
    val plain = Pipeline.curate(docs, "doc_id", "text", cfg = cfg)
    val mm = Pipeline.curateInterleavedMm(
      docs.withColumn("images", array().cast("array<binary>")), "doc_id", "text",
      Seq("image" -> "images"), Pipeline.InterleavedConfig(text = cfg))
    def ids(r: Pipeline.Result) = r.docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(plain).size < 39, "the budget trims the corpus")
    assert(ids(mm) == ids(plain))
    def rows(r: Pipeline.Result) = r.stats.orderBy("ord").collect()
      .map(x => x.getString(1) -> x.getLong(2)).toSeq
    // The text stages report the same rows in both curators.
    assert(rows(mm).filter(x => rows(plain).map(_._1).contains(x._1)) == rows(plain))
    assert(rows(mm).map(_._1).contains("token_budget"))
  }
}
