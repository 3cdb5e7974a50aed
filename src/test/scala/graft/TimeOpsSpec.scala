package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ts.{StreamSessionize, TimeOps}

/** Component tests for the time-series operator family (graft.ts): as-of
  * join, bin-bucketed range join, batch sessionization, and the stateful
  * streaming sessionizer.
  */
class TimeOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  // ------------------------------------------------------------ asofJoin

  private def quotes = Seq(
    (1L, t("2024-01-01 10:00:00"), 100.0),
    (1L, t("2024-01-01 10:05:00"), 101.0),
    (1L, t("2024-01-01 10:10:00"), 102.0),
    (2L, t("2024-01-01 10:03:00"), 200.0)
  ).toDF("user_id", "qts", "price")

  private def trades = Seq(
    (10L, 1L, t("2024-01-01 10:04:00")), // -> 100.0 (10:00)
    (11L, 1L, t("2024-01-01 10:05:00")), // -> 101.0 (exact tie: >= matches)
    (12L, 1L, t("2024-01-01 11:00:00")), // -> 102.0 (latest)
    (13L, 2L, t("2024-01-01 10:00:00")), // -> null  (nothing at-or-before)
    (14L, 3L, t("2024-01-01 10:00:00"))  // -> null  (no such key)
  ).toDF("trade_id", "user_id", "tts")

  test("asofJoin: latest at-or-before match, ties match, unmatched null") {
    val got = TimeOps.asofJoin(trades, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"),
      rightTimeAs = Some("quote_ts"))
      .select("trade_id", "price")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(
      10L -> Some(100.0), 11L -> Some(101.0), 12L -> Some(102.0),
      13L -> None, 14L -> None))
  }

  test("asofJoin: tolerance drops stale matches but keeps the row") {
    val got = TimeOps.asofJoin(trades, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"),
      tolerance = Some(expr("INTERVAL 10 MINUTES")))
      .select("trade_id", "price")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // trade 12 (11:00) is 50 min after the last quote (10:10) -> nulled out.
    assert(got === Map(
      10L -> Some(100.0), 11L -> Some(101.0), 12L -> None,
      13L -> None, 14L -> None))
  }

  test("asofJoin: null left keys/times survive with null matches") {
    val l = Seq(
      (1L, Option(1L), Option(t("2024-01-01 10:04:00"))),
      (2L, None, Option(t("2024-01-01 10:04:00"))),
      (3L, Option(1L), None)
    ).toDF("row_id", "user_id", "tts")
    val got = TimeOps.asofJoin(l, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"))
      .select("row_id", "price")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(1L -> Some(100.0), 2L -> None, 3L -> None))
  }

  test("asofJoin: single shuffle — one Exchange, no join operator in the plan") {
    val asof = TimeOps.asofJoin(trades, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"))
    val shape = PlanShape(asof)
    assert(shape.exchanges.size === 1 && shape.hashKeys.size === 1, shape.plan.toString)
    assert(shape.joins.isEmpty, shape.plan.toString)
  }

  test("asofJoin forward: earliest at-or-after, ties match, unmatched null") {
    val got = TimeOps.asofJoin(trades, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"),
      direction = "forward")
      .select("trade_id", "price")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(
      10L -> Some(101.0), // 10:04 -> next quote 10:05
      11L -> Some(101.0), // equal ts matches
      12L -> None,        // nothing after 11:00
      13L -> Some(200.0), // 10:00 -> 10:03 quote on key 2
      14L -> None))
  }

  test("asofJoin nearest: closer side wins, equal distance resolves backward") {
    val l = Seq(
      (1L, 1L, t("2024-01-01 10:04:00")), // back 10:00 (4m) vs fwd 10:05 (1m) -> fwd
      (2L, 1L, t("2024-01-01 10:01:00")), // back 10:00 (1m) vs fwd 10:05 (4m) -> back
      (3L, 1L, t("2024-01-01 10:07:30")), // 2.5m each way -> tie -> backward (10:05)
      (4L, 1L, t("2024-01-01 09:00:00")), // only forward exists
      (5L, 1L, t("2024-01-01 12:00:00"))  // only backward exists
    ).toDF("row_id", "user_id", "tts")
    val got = TimeOps.asofJoin(l, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"),
      direction = "nearest")
      .select("row_id", "price")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(
      1L -> Some(101.0), 2L -> Some(100.0), 3L -> Some(101.0),
      4L -> Some(100.0), 5L -> Some(102.0)))
  }

  test("asofJoin nearest: tolerance bounds the absolute distance") {
    val l = Seq(
      (1L, 1L, t("2024-01-01 10:04:00")),  // nearest fwd at 1m -> kept
      (2L, 1L, t("2024-01-01 11:00:00"))   // nearest back at 50m -> dropped
    ).toDF("row_id", "user_id", "tts")
    val got = TimeOps.asofJoin(l, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"),
      direction = "nearest", tolerance = Some(expr("INTERVAL 10 MINUTES")))
      .select("row_id", "price")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(1L -> Some(101.0), 2L -> None))
  }

  test("asofJoin forward: null left time stays unmatched (guarded frame)") {
    val l = Seq(
      (1L, Option(1L), Option(t("2024-01-01 10:04:00"))),
      (2L, Option(1L), Option.empty[Timestamp])
    ).toDF("row_id", "user_id", "tts")
    val got = TimeOps.asofJoin(l, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"),
      direction = "forward")
      .select("row_id", "price")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(1L -> Some(101.0), 2L -> None))
  }

  test("asofJoin nearest: still a single Exchange") {
    val asof = TimeOps.asofJoin(trades, quotes, Seq("user_id"),
      leftTime = "tts", rightTime = "qts", rightCols = Seq("price"),
      direction = "nearest")
    val shape = PlanShape(asof)
    assert(shape.exchanges.size === 1 && shape.hashKeys.size === 1, shape.plan.toString)
    assert(shape.joins.isEmpty, shape.plan.toString)
  }

  test("asofJoin: plain numeric time columns work (generic ordering + subtraction)") {
    val l = Seq((1L, 1L, 100L), (2L, 1L, 205L)).toDF("row_id", "k", "t")
    val r = Seq((1L, 90L, "a"), (1L, 200L, "b"), (1L, 300L, "c")).toDF("k", "rt", "tag")
    val got = TimeOps.asofJoin(l, r, Seq("k"), "t", "rt", Seq("tag"),
      tolerance = Some(lit(10L)))
      .select("row_id", "tag")
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    // row 1: backward match rt=90, distance 10 <= 10 -> kept;
    // row 2: backward match rt=200, distance 5 -> kept.
    assert(got === Map(1L -> Some("a"), 2L -> Some("b")))
    val nearest = TimeOps.asofJoin(l, r, Seq("k"), "t", "rt", Seq("tag"),
      direction = "nearest")
      .select("row_id", "tag")
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    // row 1: |100-90|=10 vs |200-100|=100 -> backward; row 2: |205-200|=5 vs |300-205|=95 -> backward.
    assert(nearest === Map(1L -> Some("a"), 2L -> Some("b")))
  }

  // ------------------------------------------------------ rangeJoinPoint

  private def intervals = Seq(
    (100L, 1L, t("2024-01-01 10:00:00"), t("2024-01-01 11:00:00")),
    (101L, 1L, t("2024-01-01 10:30:00"), t("2024-01-01 10:40:00")),
    (102L, 2L, t("2024-01-01 10:00:00"), t("2024-01-01 11:00:00"))
  ).toDF("iv_id", "user_id", "start", "end")

  private def points = Seq(
    (200L, 1L, t("2024-01-01 10:00:00")), // boundary: start inclusive
    (201L, 1L, t("2024-01-01 10:35:00")), // in both 100 and 101
    (202L, 1L, t("2024-01-01 11:00:00")), // boundary: end inclusive
    (203L, 1L, t("2024-01-01 11:00:01")), // just outside
    (204L, 2L, t("2024-01-01 10:35:00")), // key 2 -> only 102
    (205L, 3L, t("2024-01-01 10:35:00"))  // no such interval key
  ).toDF("pt_id", "user_id", "pts")

  test("rangeJoinPoint: inclusive bounds, per-key, exactly-once pairs") {
    val got = TimeOps.rangeJoinPoint(intervals, points, Seq("user_id"),
      startCol = "start", endCol = "end", pointTime = "pts",
      binSeconds = 600)
      .select("iv_id", "pt_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set(
      (100L, 200L), (100L, 201L), (100L, 202L),
      (101L, 201L),
      (102L, 204L)))
  }

  test("rangeJoinPoint: same pairs at a bin width larger than every interval") {
    val got = TimeOps.rangeJoinPoint(intervals, points, Seq("user_id"),
      startCol = "start", endCol = "end", pointTime = "pts",
      binSeconds = 86400)
      .select("iv_id", "pt_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === 5)
  }

  test("rangeJoinPoint: oversized interval fails fast instead of fanning out") {
    val wide = Seq((1L, 1L, t("2024-01-01 00:00:00"), t("2024-03-01 00:00:00")))
      .toDF("iv_id", "user_id", "start", "end")
    val ex = intercept[Exception] {
      TimeOps.rangeJoinPoint(wide, points, Seq("user_id"),
        "start", "end", "pts", binSeconds = 60, maxBinsPerInterval = 100).collect()
    }
    assert(ex.getMessage.contains("rangeJoinPoint"), ex.getMessage)
  }

  test("rangeJoinPoint: equi-join plan, no nested-loop/cartesian") {
    val joined = TimeOps.rangeJoinPoint(intervals, points, Seq("user_id"),
      "start", "end", "pts", binSeconds = 600)
    val shape = PlanShape(joined)
    assert(shape.nodesOf[BroadcastNestedLoopJoinExec].isEmpty &&
      shape.nodesOf[CartesianProductExec].isEmpty, shape.plan.toString)
  }

  // ---------------------------------------------------------- sessionize

  private def evts = Seq(
    (1L, t("2024-01-01 10:00:00"), 1.0),
    (1L, t("2024-01-01 10:10:00"), 2.0),  // same session (10 min gap)
    (1L, t("2024-01-01 11:30:00"), 3.0),  // new session (80 min gap)
    (2L, t("2024-01-01 09:00:00"), 4.0)
  ).toDF("user_id", "ts", "value")

  test("sessionize: gap splits sessions per key, 1-based sequence") {
    val got = TimeOps.sessionize(evts, Seq("user_id"), "ts",
      expr("INTERVAL 30 MINUTES"))
      .select("user_id", "ts", "session_seq")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, t("2024-01-01 10:00:00"), 1L),
      (1L, t("2024-01-01 10:10:00"), 1L),
      (1L, t("2024-01-01 11:30:00"), 2L),
      (2L, t("2024-01-01 09:00:00"), 1L)))
  }

  test("sessions: aggregates bounds, counts and extras per session") {
    val got = TimeOps.sessions(evts, Seq("user_id"), "ts",
      expr("INTERVAL 30 MINUTES"),
      extraAggs = Seq(sum(col("value")).as("sum_value")))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getTimestamp(2), r.getTimestamp(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got === Map(
      (1L, 1L) -> ((t("2024-01-01 10:00:00"), t("2024-01-01 10:10:00"), 2L, 3.0)),
      (1L, 2L) -> ((t("2024-01-01 11:30:00"), t("2024-01-01 11:30:00"), 1L, 3.0)),
      (2L, 1L) -> ((t("2024-01-01 09:00:00"), t("2024-01-01 09:00:00"), 1L, 4.0))))
  }

  test("sessionize: one Exchange for both windows") {
    val sessions = TimeOps.sessionize(evts, Seq("user_id"), "ts",
      expr("INTERVAL 30 MINUTES"))
    val shape = PlanShape(sessions)
    assert(shape.exchanges.size === 1 && shape.hashKeys.size === 1, shape.plan.toString)
  }

  test("streaming ingest dedup: foreachBatch + batch-vs-corpus near-dup filter") {
    // The incremental dedup operator IS the streaming ingest path: each
    // microbatch is filtered against the accumulated corpus before being
    // appended. Two microbatches: the first carries a fresh doc plus a
    // near-copy of the corpus; the second carries a near-copy of a doc
    // ACCEPTED IN BATCH 1 (must be dropped — the corpus grew) and one
    // fresh doc.
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Dedup
    val corpusSeed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("id", "text")
    var corpus = corpusSeed
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()

    val input = MemoryStream[(Long, String)]
    val query = input.toDS().toDF("id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = Dedup.dropNearDupsMinHashAgainst(batch, corpus, "id", "text",
          threshold = 0.5, numHashes = 32, bands = 16)
        val keptRows = kept.collect()
        accepted ++= keptRows.map(_.getLong(0))
        corpus = corpus.unionByName(kept.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(keptRows: _*)), kept.schema))
      }
      .start()
    try {
      input.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
        (11L, "one two three four five six seven eight nine ten eleven twelve"))
      query.processAllAvailable()
      assert(accepted.toSet === Set(11L), "corpus near-copy dropped, fresh doc kept")

      input.addData(
        (20L, "one two three four five six seven eight nine ten eleven"),
        (21L, "red orange yellow green blue indigo violet cyan magenta white"))
      query.processAllAvailable()
      assert(accepted.toSet === Set(11L, 21L),
        "near-copy of a batch-1 acceptance must be dropped against the grown corpus")
    } finally query.stop()
  }

  // ------------------------------------------------- streaming sessionize

  test("streaming sessionize: sessions close via gap and via watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamSessionize.Event]
    val sessions = StreamSessionize(input.toDS(), gapSeconds = 600,
      watermarkDelay = "1 minute")
    val query = sessions.writeStream.format("memory")
      .queryName("timeops_sessions").outputMode("append").start()
    try {
      // Batch 1: user 1 has two events 5 min apart (one open session);
      // user 2 has one event.
      input.addData(
        StreamSessionize.Event(1L, t("2024-01-01 10:00:00"), 1.0),
        StreamSessionize.Event(1L, t("2024-01-01 10:05:00"), 2.0),
        StreamSessionize.Event(2L, t("2024-01-01 10:00:00"), 5.0))
      query.processAllAvailable()
      assert(spark.table("timeops_sessions").count() === 0,
        "no session may close before the watermark passes end+gap")

      // Batch 2: user 1 event two hours later — closes user 1's first
      // session by gap, and pushes the watermark far enough that user 2's
      // session times out.
      input.addData(StreamSessionize.Event(1L, t("2024-01-01 12:00:00"), 3.0))
      query.processAllAvailable()
      // Timeout processing runs in the batch where the watermark advances;
      // one more empty-ish batch lets the user-2 timeout fire if the
      // engine deferred it.
      input.addData(StreamSessionize.Event(9L, t("2024-01-01 12:00:01"), 0.0))
      query.processAllAvailable()

      val got = spark.table("timeops_sessions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(got === Set(
        (1L, t("2024-01-01 10:00:00"), t("2024-01-01 10:05:00"), 2L, 3.0),
        (2L, t("2024-01-01 10:00:00"), t("2024-01-01 10:00:00"), 1L, 5.0)))
    } finally query.stop()
  }
}
