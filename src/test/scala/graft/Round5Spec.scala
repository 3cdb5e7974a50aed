package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Generator
import graft.io.PlanJson
import graft.llm.Similarity
import graft.spec._

/** Round-5 component tests: the generic-id / fail-fast contract of the
  * exact cosine harness (ADVICE r4 #1 and #4), and the legacy random=True
  * column mode (the last missing SURVEY §2.2 row). */
class Round5Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def randomPlan(method: RandomSeedMethod) = DataGenPlan(Seq(TableSpec(
    "t", 5000, Seq(
      ColumnSpec("pk", "bigint", ColumnStrategy.Sequence(0, 1)),
      ColumnSpec("r", "bigint", ColumnStrategy.Range(0, 999, Some(BigDecimal(1))))
        .copy(random = true)),
    partitions = Some(4))), 7L, method)

  test("random mode: arbitrary seed method differs across builds") {
    def vals = Generator.generate(spark, randomPlan(RandomSeedMethod.Arbitrary))("t")
      .orderBy("pk").collect().map(_.getLong(1)).toSeq
    assert(vals != vals, "two rand() builds agreeing on all 5000 rows is a seed collision")
  }

  test("random mode: fixed seed method is repeatable and in-bounds") {
    def vals = Generator.generate(spark, randomPlan(RandomSeedMethod.Fixed))("t")
      .orderBy("pk").collect().map(_.getLong(1)).toSeq
    val a = vals
    assert(a === vals)
    assert(a.forall(v => v >= 0 && v <= 999))
    assert(a.distinct.length > 500, "5000 draws over 1000 values must spread")
  }

  test("random mode: distribution shaping still applies to random columns") {
    // A Zipf random column must still favor low indexes: value 0's share
    // dwarfs a mid-lattice value's share.
    val plan = DataGenPlan(Seq(TableSpec("t", 20000, Seq(
      ColumnSpec("z", "bigint", ColumnStrategy.Range(0, 99, Some(BigDecimal(1)),
        distribution = Distribution.Zipf(1.5))).copy(random = true)),
      partitions = Some(4))), 7L)
    val counts = Generator.generate(spark, plan)("t")
      .groupBy("z").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(0L, 0L) > 10 * counts.getOrElse(50L, 0L).max(1))
  }

  test("random mode and seed method round-trip through plan JSON") {
    val plan = randomPlan(RandomSeedMethod.Fixed)
    val back = PlanJson.loadJson(PlanJson.saveJson(plan))
    assert(back === plan)
    val defaulted = PlanJson.loadJson(PlanJson.saveJson(randomPlan(RandomSeedMethod.HashFieldName)))
    assert(defaulted.randomSeedMethod === RandomSeedMethod.HashFieldName)
    assert(defaulted.tables.head.columns.map(_.random) === Seq(false, true))
  }

  test("exactCosinePairs: string ids pair lexicographically and survive intact") {
    val df = Seq(
      ("doc-b", Array(1.0, 0.0)),
      ("doc-a", Array(1.0, 0.0)),
      ("doc-c", Array(0.0, 1.0))).toDF("doc_id", "emb")
    val got = Dedup5TestUtil.sortedPairs(
      Similarity.exactCosinePairs(df, "doc_id", "emb", threshold = 0.99))
    assert(got === Seq(("doc-a", "doc-b", 1.0)))
  }

  test("exactCosinePairs: long ids unchanged (regression vs the cast-based path)") {
    val df = Seq(
      (3L, Array(1.0, 1.0)),
      (1L, Array(1.0, 0.0)),
      (2L, Array(2.0, 0.0))).toDF("id", "emb")
    val got = Similarity.exactCosinePairs(df, "id", "emb", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(math.abs(got.head._3 - 1.0) < 1e-12)
    // id_a < id_b strictly — no self pairs, no reversed duplicates.
    assert(got.forall(p => p._1 < p._2))
  }

  test("exactCosinePairs: duplicate ids fail fast instead of emitting ambiguous pairs") {
    val df = Seq((1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("id", "emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.exactCosinePairs(df, "id", "emb", threshold = 0.0)
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("exactCosinePairs: ragged vector dimensions fail fast, not truncated dot") {
    val df = Seq((1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0, 0.0))).toDF("id", "emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.exactCosinePairs(df, "id", "emb", threshold = 0.0)
    }
    assert(e.getMessage.contains("dimension"))
  }

  test("exactCosinePairs: row guard still rejects oversized corpora") {
    val df = (1L to 10L).map(i => (i, Array(i.toDouble))).toDF("id", "emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.exactCosinePairs(df, "id", "emb", threshold = 0.0, maxRows = 5)
    }
    assert(e.getMessage.contains("maxRows"))
  }

  // ---------------------------------------------- ILText batched word draws

  private def iltextPlan(p: (Int, Int), s: (Int, Int), w: (Int, Int), rows: Long = 200) =
    DataGenPlan(Seq(TableSpec("t", rows, Seq(
      ColumnSpec("pk", "bigint", ColumnStrategy.Sequence(0, 1)),
      ColumnSpec("txt", "string", ColumnStrategy.ILText(p, s, w))),
      partitions = Some(2))), 11L)

  test("ILText: wide config (3-5 paragraphs, 4-8 sentences, 8-12 words) respects all bounds") {
    val rows = Generator.generate(spark, iltextPlan((3, 5), (4, 8), (8, 12)))("t")
      .select("txt").collect().map(_.getString(0))
    assert(rows.length === 200)
    val pool = graft.columns.ILTextCompiler.LoremWords.toSet
    rows.foreach { t =>
      val paras = t.split("\n\n")
      assert(paras.length >= 3 && paras.length <= 5, s"paragraph count ${paras.length}")
      paras.foreach { para =>
        val sents = para.split("\\.").map(_.trim).filter(_.nonEmpty)
        assert(sents.length >= 4 && sents.length <= 8, s"sentence count ${sents.length}")
        sents.foreach { sent =>
          val words = sent.split(" ")
          assert(words.length >= 8 && words.length <= 12, s"word count ${words.length}")
          words.foreach(wd => assert(pool.contains(wd.toLowerCase), s"word '$wd' not in pool"))
        }
      }
    }
  }

  test("ILText: batched draws stay deterministic across builds and varied across rows") {
    def build = Generator.generate(spark, iltextPlan((1, 2), (2, 3), (3, 6), rows = 500))("t")
      .orderBy("pk").select("txt").collect().map(_.getString(0)).toSeq
    val a = build
    assert(a === build)
    assert(a.distinct.length > 490, "500 rows of >= 2^35 word sequences must be near-all distinct")
  }

  test("ILText: plan-size guard rejects configs above the 6000-term cap") {
    val e = intercept[IllegalArgumentException] {
      Generator.generate(spark, iltextPlan((10, 10), (30, 30), (21, 21)))("t").collect()
    }
    assert(e.getMessage.contains("6000"))
  }

  test("incremental dedup: batch near-dups of the corpus are flagged, fresh rows survive") {
    import graft.llm.Dedup
    // Corpus: two documents with disjoint vocabularies. Batch: a near-copy
    // of corpus doc 10 (same 12 words minus the last), one near-copy of the
    // OTHER batch row (intra-batch dup — must NOT be flagged: the contract
    // is batch-vs-corpus only), and one fresh doc.
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (11L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("id", "text")
    val nearCopy = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val batch = Seq(
      (20L, nearCopy),
      (21L, nearCopy + " nu"),
      (22L, "red orange yellow green blue indigo violet cyan magenta white black grey"))
      .toDF("id", "text")

    val pairs = Dedup.nearDupMinHashAgainst(batch, corpus, "id", "text",
      threshold = 0.5, numHashes = 32, bands = 16)
      .select("batch_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((20L, 10L), (21L, 10L)),
      "both near-copies must hit corpus doc 10 and nothing else")

    val kept = Dedup.dropNearDupsMinHashAgainst(batch, corpus, "id", "text",
      threshold = 0.5, numHashes = 32, bands = 16)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(22L), "only the fresh doc survives the corpus filter")
  }

  test("repetition signals: duplicate lines/3-grams, bullets and ellipses count exactly") {
    import graft.llm.TextAnalysis._
    import org.apache.spark.sql.functions.col
    val doc = Seq(
      // 4 lines, "same line" repeated twice -> 1 dup; one bullet; one ellipsis.
      "same line\nsame line\n- a bullet item\nto be continued ...",
      // "a b c d a b c d a b c": 9 3-grams, distinct {abc,bcd,cda,dab} = 4 -> 5 dups.
      "a b c d a b c d a b c",
      // <= 3 tokens: single full shingle, zero dups.
      "tiny doc").toDF("text")
    val r = doc.select(
      duplicateLineCount(col("text")).as("dl"),
      duplicateNgramCount(col("text"), 3).as("dg"),
      bulletLineCount(col("text")).as("bl"),
      ellipsisLineCount(col("text")).as("el")).collect()
    assert(r(0).getInt(0) === 1 && r(0).getInt(2) === 1 && r(0).getInt(3) === 1)
    assert(r(1).getInt(1) === 5, "9 3-grams with 4 distinct = 5 duplicates")
    assert(r(2).getInt(1) === 0, "short docs have one full-text shingle, no dups")
  }

  test("sampling: deterministic, key-consistent, and disjoint splits cover everything") {
    import graft.llm.Sampling
    import org.apache.spark.sql.functions.col
    val rows = (0L until 2000L).map(i => (i, s"doc$i")).toDF("id", "payload")
    val s1 = Sampling.sample(rows, Seq("id"), 0.3, seed = 7).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.sample(rows, Seq("id"), 0.3, seed = 7).collect().map(_.getLong(0)).toSet
    assert(s1 === s2, "same seed must reproduce the same sample")
    assert(math.abs(s1.size - 600) <= 6 * math.sqrt(2000 * 0.3 * 0.7),
      s"sample size ${s1.size} outside 6-sigma of 600")
    val s3 = Sampling.sample(rows.repartition(13), Seq("id"), 0.3, seed = 7)
      .collect().map(_.getLong(0)).toSet
    assert(s3 === s1, "sample must be partition-independent")

    val split = Sampling.assignSplits(rows, Seq("id"),
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), seed = 7)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(split.size === 2000 && split.values.forall(Set("train", "val", "test")))
    // Key-consistency: duplicate keys land in the same split.
    val dup = (0L until 500L).flatMap(i => Seq((i, "a"), (i, "b"))).toDF("id", "payload")
    val perKey = Sampling.assignSplits(dup, Seq("id"),
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), seed = 7)
      .collect().groupBy(_.getLong(0)).values
    assert(perKey.forall(_.map(_.getString(2)).toSet.size == 1),
      "rows sharing a key must share a split")
    // Same hash, same cuts: the 2000-row frame and the dup frame agree.
    val dupMap = Sampling.assignSplits(dup, Seq("id"),
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), seed = 7)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(dupMap.forall { case (k, v) => split(k) == v })
  }

  test("sampleN: exact size, deterministic, monotone in n, TakeOrdered plan") {
    import graft.llm.Sampling
    val rows = (0L until 5000L).map(i => (i, s"p$i")).toDF("id", "payload")
    val s100 = Sampling.sampleN(rows, Seq("id"), 100, seed = 3)
      .collect().map(_.getLong(0)).toSet
    val s50 = Sampling.sampleN(rows, Seq("id"), 50, seed = 3)
      .collect().map(_.getLong(0)).toSet
    assert(s100.size === 100 && s50.size === 50)
    assert(s50.subsetOf(s100), "hash-ordered samples must be monotone in n")
    val again = Sampling.sampleN(rows.repartition(13), Seq("id"), 100, seed = 3)
      .collect().map(_.getLong(0)).toSet
    assert(again === s100, "sample must be partition-independent")
    val sampled = Sampling.sampleN(rows, Seq("id"), 100)
    assert(PlanShape(sampled).nodesOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]
      .nonEmpty, sampled.queryExecution.executedPlan.toString)
  }

  test("mixCorpora: exact integer epochs, banded fractional epoch, tags correct") {
    import graft.llm.Sampling
    import org.apache.spark.sql.functions.col
    val a = (0L until 300L).map(i => (i, "a")).toDF("id", "payload")
    val b = (1000L until 1400L).map(i => (i, "b")).toDF("id", "payload")
    val mixed = Sampling.mixCorpora(Seq(("a", a, 2.5), ("b", b, 1.0)), Seq("id"), seed = 11)
      .collect()
    val byTag = mixed.groupBy(r => (r.getString(2), r.getLong(3)))
      .view.mapValues(_.map(_.getLong(0)).toSeq).toMap
    assert(byTag(("a", 0L)).sorted === (0L until 300L))
    assert(byTag(("a", 1L)).sorted === (0L until 300L))
    val fracIds = byTag(("a", 2L))
    assert(fracIds.distinct.length === fracIds.length)
    assert(math.abs(fracIds.length - 150) <= 6 * math.sqrt(300 * 0.25),
      s"fractional epoch ${fracIds.length} outside 6-sigma of 150")
    assert(byTag(("b", 0L)).sorted === (1000L until 1400L))
    assert(!byTag.contains(("b", 1L)))
    // Deterministic on rerun.
    val again = Sampling.mixCorpora(Seq(("a", a, 2.5), ("b", b, 1.0)), Seq("id"), seed = 11)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(again === mixed.map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet)
  }

  test("stopwordHitsText regex path counts exactly like the token-filter form") {
    import graft.llm.TextAnalysis
    import org.apache.spark.sql.functions.{col, lower}
    val docs = Seq(
      "the quick brown fox and the lazy dog",   // 3 en hits (the, and, the)
      "the the the",                            // adjacent repeats all count
      "The,  and\tof\nto",                      // "the," is one token: no hit; ws variety
      "der die das und der",                    // de hits incl. repeat
      "für sich auf",                           // non-ascii stopword
      "  padded   spaces  ",
      "",
      "no stop word here x y z").toDF("text")
    for (lang <- TextAnalysis.Stopwords.keys) {
      val rows = docs.select(
        TextAnalysis.stopwordHits(TextAnalysis.tokens(lower(col("text"))), lang).as("old"),
        TextAnalysis.stopwordHitsText(col("text"), lang).as("neu")).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(0) === r.getInt(1), s"lang=$lang doc=$i")
      }
    }
  }

  test("text cleaning: PII redaction, whitespace normalization, boilerplate strip") {
    import graft.llm.TextAnalysis._
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Seq(
      "mail a.b+c@x-corp.co.uk now",
      "see https://x.io/a?b=1#c and http://y.z/2 end",
      "call +1 (555) 010-7788 or 555-010-9999 done",
      "host 192.168.0.1 up",
      "no pii here",
      "head\nbody\nhead\ntail\nbody"
    ).toDF("text")
    val r = docs.select(
      redactPii(col("text")).as("red"),
      cleanText(lit(" a\t\tbc  d ")).as("cl"),
      removeRepeatedLines(col("text")).as("nl")).collect()
    assert(r(0).getString(0) === "mail <EMAIL> now")
    assert(r(1).getString(0) === "see <URL> and <URL> end")
    assert(r(2).getString(0) === "call <PHONE> or <PHONE> done")
    assert(r(3).getString(0) === "host <IP> up")
    assert(r(4).getString(0) === "no pii here")
    assert(r(0).getString(1) === "a bc d")
    assert(r(5).getString(2) === "head\nbody\ntail")
  }

  test("repetitionSignals frame path agrees with the Column forms per doc") {
    import graft.llm.TextAnalysis
    import graft.llm.TextAnalysis._
    import org.apache.spark.sql.functions.{col, size}
    val docs = Seq(
      (1L, "same line\nsame line\n- a bullet item\nto be continued ..."),
      (2L, "a b c d a b c d a b c"),
      (3L, "tiny doc"),
      (4L, "* x\n* x\n* x\n...\n..."),
      (5L, "")).toDF("doc_id", "text")
    val expected = docs.select(col("doc_id"),
      size(lines(col("text"))).cast("long").as("n_lines"),
      duplicateLineCount(col("text")).cast("long").as("dup_line_count"),
      bulletLineCount(col("text")).cast("long").as("bullet_line_count"),
      ellipsisLineCount(col("text")).cast("long").as("ellipsis_line_count"),
      size(graft.llm.Dedup.shingles(col("text"), 3)).cast("long").as("ngram_total"),
      duplicateNgramCount(col("text"), 3).cast("long").as("ngram_dup_count"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val got = TextAnalysis.repetitionSignals(docs, "doc_id", "text", 3)
      .select("doc_id", "n_lines", "dup_line_count", "bullet_line_count",
        "ellipsis_line_count", "ngram_total", "ngram_dup_count")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got === expected)
  }
}

private object Dedup5TestUtil {
  def sortedPairs(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Double)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
}
