package graft

import org.scalatest.funsuite.AnyFunSuite

/** Doc-extraction spec, round 18 — extends Round17DocSpec's discipline
  * (VERDICT r17 #5) with the pinned END-TO-END example README links:
  * a generation plan arrives as JSON, the generated corpus runs the
  * curation pipeline, and the curated survivors build a queryable BM25
  * index — three pillars in one flowing snippet. The snippet text is
  * asserted verbatim against README.md and executed here. */
class Round18DocSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val readme = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")

  private def pinned(snippet: String): Unit =
    assert(readme.contains(snippet.stripMargin.trim),
      "README.md end-to-end section drifted from the executed snippet:\n" +
        snippet.stripMargin.trim)

  test("end to end: plan JSON -> generation -> curation -> retrieval runs and is pinned in README") {
    val queries = Seq((1L, "quick brown fox")).toDF("q_id", "q_text")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft_e2e_bm25"))
    // SNIPPET (verbatim in README.md)
    import graft.io.PlanJson
    import graft.engine.Generator
    import graft.llm.{Pipeline, Retrieval}

    val plan = PlanJson.loadJson("""{
      "tables": [{
        "name": "documents", "rows": 2000,
        "columns": [
          { "name": "doc_id", "gen": { "strategy": "sequence", "start": 0, "step": 1 } },
          { "name": "base", "dtype": "string", "omit": true, "gen": { "strategy": "values",
            "values": ["the quick brown fox jumps over the lazy dog it was good here",
                       "it was the best of times it was the worst of times for all",
                       "the cat sat on the mat and it was here and it is there",
                       "we are done and now it is here and it was good that day"] } },
          { "name": "text", "dtype": "string",
            "gen": { "strategy": "expression", "sql": "concat('w', doc_id, 'a ', base, ' w', doc_id, 'b end')" } }
        ]
      }]
    }""")
    val docs = Generator.generate(spark, plan)("documents")
    val curated = Pipeline.curate(docs, "doc_id", "text",
      cfg = Pipeline.Config())
    Retrieval.buildAndWriteIndex(curated.docs, "doc_id", "text",
      "/tmp/graft_e2e_bm25", nBuckets = 8)
    val hits = Retrieval.scores(Retrieval.loadIndex(spark, "/tmp/graft_e2e_bm25"),
      queries, "q_id", "q_text")
    // END SNIPPET
    // Every generated doc is unique (id markers), English, stopword-rich:
    // the pipeline keeps all 2000; the query hits exactly the quick-fox
    // base class (one of the four values, cycled by the seed hash).
    assert(curated.docs.count() == 2000L)
    val stats = curated.stats.orderBy("ord").collect()
      .map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(stats("near_dedup") == 2000L, stats.toString)
    val hitIds = hits.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hitIds.nonEmpty, "the quick-brown-fox class must score")
    val foxDocs = docs.where(org.apache.spark.sql.functions.col("text")
      .contains("quick brown fox")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(hitIds == foxDocs,
      s"BM25 must hit exactly the fox-class docs: ${hitIds.size} vs ${foxDocs.size}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft_e2e_bm25"))
    val q3 = "\"\"\"" // a triple quote cannot be escaped inside a triple-quoted literal
    pinned(s"""
      |import graft.io.PlanJson
      |import graft.engine.Generator
      |import graft.llm.{Pipeline, Retrieval}
      |
      |val plan = PlanJson.loadJson($q3{
      |  "tables": [{
      |    "name": "documents", "rows": 2000,
      |    "columns": [
      |      { "name": "doc_id", "gen": { "strategy": "sequence", "start": 0, "step": 1 } },
      |      { "name": "base", "dtype": "string", "omit": true, "gen": { "strategy": "values",
      |        "values": ["the quick brown fox jumps over the lazy dog it was good here",
      |                   "it was the best of times it was the worst of times for all",
      |                   "the cat sat on the mat and it was here and it is there",
      |                   "we are done and now it is here and it was good that day"] } },
      |      { "name": "text", "dtype": "string",
      |        "gen": { "strategy": "expression", "sql": "concat('w', doc_id, 'a ', base, ' w', doc_id, 'b end')" } }
      |    ]
      |  }]
      |}$q3)
      |val docs = Generator.generate(spark, plan)("documents")
      |val curated = Pipeline.curate(docs, "doc_id", "text",
      |  cfg = Pipeline.Config())
      |Retrieval.buildAndWriteIndex(curated.docs, "doc_id", "text",
      |  "/tmp/graft_e2e_bm25", nBuckets = 8)
      |val hits = Retrieval.scores(Retrieval.loadIndex(spark, "/tmp/graft_e2e_bm25"),
      |  queries, "q_id", "q_text")""")
  }
}
