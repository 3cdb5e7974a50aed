package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Time-series relational operators Spark lacks natively: as-of join,
  * range (interval containment) join, and inactivity-gap sessionization.
  *
  * These are beyond-reference surface (the reference generates event
  * tables — `dbldatagen/datasets/basic_process_historian.py`,
  * `basic_telematics.py` — but offers nothing to join or segment them);
  * a training-data pipeline needs all three the moment logs, snapshots
  * and labels meet. Every operator here is built for the 100-TB shape:
  *
  *  - `asofJoin` does NOT join at all — it unions both sides and takes one
  *    shuffle on the join keys plus one running `last(...)` window, so the
  *    cost is a single Exchange + Sort of left+right regardless of how many
  *    right rows precede each left row. The naive formulation (theta-join
  *    on `l.t >= r.t` + max) is a BroadcastNestedLoopJoin that melts at
  *    scale; the union trick is the standard distributed as-of shape.
  *  - `rangeJoinPoint` buckets time into fixed-width bins and equi-joins on
  *    (keys, bin): the interval side fans out only to the bins it overlaps
  *    (bounded by `maxBinsPerInterval` — fail fast, never a silent
  *    explosion), the point side lands in exactly one bin, so every
  *    qualifying pair is produced exactly once with no post-join dedup and
  *    Catalyst plans a plain shuffled hash/sort-merge join, never a
  *    nested-loop over the inequality.
  *  - `sessionize` is the gaps-and-islands rewrite: one window (lag +
  *    running sum) over a single shuffle on the session keys.
  */
object TimeOps {

  /** As-of (point-in-time) join: for every left row, attach the single most
    * recent right row with `right(rightTime) <= left(leftTime)` and equal
    * join keys — the "latest snapshot at or before" lookup (market quotes
    * at trade time, feature state at label time). Left rows always survive
    * (left-outer semantics); unmatched rows carry nulls.
    *
    * Implementation: tag and union both sides, shuffle once on `on`, sort
    * by (time, side) within each key, and propagate the latest right-side
    * payload with a running `last(ignoreNulls)` window. Right rows sort
    * before left rows at equal timestamps, so equality matches (the ASOF
    * `>=` contract). The right payload travels as ONE struct — a per-column
    * `last` would skip over legitimately-null values in the newest match
    * and resurrect older rows column-by-column.
    *
    * Ties: if several right rows share (keys, rightTime) exactly, the
    * winner is decided by a deterministic hash of the right payload —
    * stable across runs/partitionings, but data-dependent; supply unique
    * (keys, time) on the right for fully specified semantics.
    *
    * Time columns may be timestamps or plain numerics — anything ordered
    * that supports subtraction. `tolerance` (same units as `leftTime -
    * rightTime`: a `DayTimeIntervalType` literal such as
    * `expr("INTERVAL 30 MINUTES")` for timestamps, a numeric literal for
    * numeric times) drops matches older than the window.
    *
    * Directions: `"backward"` (default — latest right at-or-before),
    * `"forward"` (earliest right at-or-after, the symmetric window with a
    * running `first` instead of `last`), `"nearest"` (whichever of the two
    * is closer in time; equal distance resolves backward). All three share
    * ONE Exchange; nearest pays a second in-partition Sort (opposite tie
    * order), never a second shuffle.
    *
    * @param rightCols   right columns to attach; must not collide with left
    *                    column names (rename before the call).
    * @param rightTimeAs when set, also emits the matched right timestamp
    *                    under this name.
    * @param tolerance   max |leftTime - rightTime| for a match to count.
    *                    Filters CANDIDATES before the nearest comparison
    *                    (pandas merge_asof semantics); since the nearest
    *                    pick is the min-distance side this coincides with
    *                    filtering after, but the implementation keeps the
    *                    candidate-filter form so the equivalence is
    *                    structural.
    */
  def asofJoin(left: DataFrame, right: DataFrame, on: Seq[String],
      leftTime: String, rightTime: String, rightCols: Seq[String],
      rightTimeAs: Option[String] = None,
      tolerance: Option[Column] = None,
      direction: String = "backward"): DataFrame = {
    require(on.nonEmpty, "asofJoin needs at least one equi-join key")
    require(Set("backward", "forward", "nearest")(direction),
      s"asofJoin direction must be backward|forward|nearest, got '$direction'")
    val collisions = rightCols.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"asofJoin right columns collide with left: ${collisions.mkString(", ")} — rename first")

    val rtType = right.schema(right.schema.fieldIndex(rightTime)).dataType
    val rpayType = StructType(
      right.schema(rightTime).copy(name = "__rt") +:
        rightCols.map(c => right.schema(c.toString)))

    // Right rows with a null key or null time can never match (SQL equi +
    // >= semantics); drop them before the union so the window never sees
    // them. Null-keyed/timed LEFT rows still flow through — they simply
    // find no match (nulls sort first, so no right row precedes them, and
    // a null key only shares its partition with other left rows).
    val r = right
      .where(on.map(col(_).isNotNull).reduce(_ && _) && col(rightTime).isNotNull)
      .select(on.map(col) ++ Seq(
        col(rightTime).as("__t"),
        lit(0).as("__side"),
        struct(col(rightTime).as("__rt") +: rightCols.map(col): _*).as("__rpay")): _*)
    val l = left.select(on.map(col) ++ Seq(
      col(leftTime).as("__t"),
      lit(1).as("__side"),
      lit(null).cast(rpayType).as("__rpay"),
      struct(left.columns.map(col): _*).as("__lpay")): _*)
    val unioned = l.unionByName(r.withColumn("__lpay",
      lit(null).cast(l.schema("__lpay").dataType)))

    // Backward: latest right at or before the row — right rows sort BEFORE
    // left rows at equal times (__side asc, right=0) so `>=` ties match,
    // and a running last(ignoreNulls) over the preceding frame carries the
    // newest right payload forward. Forward is the mirror: left rows sort
    // first at equal times (__side desc), and a running first(ignoreNulls)
    // over the following frame pulls the earliest right payload back.
    def matchedCol(dir: String): Column = dir match {
      case "backward" =>
        val w = Window.partitionBy(on.map(col): _*)
          .orderBy(col("__t").asc, col("__side").asc, xxhash64(col("__rpay")).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        last(col("__rpay"), ignoreNulls = true).over(w)
      case "forward" =>
        val w = Window.partitionBy(on.map(col): _*)
          .orderBy(col("__t").asc, col("__side").desc, xxhash64(col("__rpay")).asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        first(col("__rpay"), ignoreNulls = true).over(w)
    }
    // A left row with a null time must not match: it sorts first (nulls
    // first), so the backward frame is naturally empty but the FORWARD
    // frame would span everything — guard explicitly for both.
    def guarded(m: Column): Column = when(col("__t").isNotNull, m)

    val matched = (direction match {
      case "nearest" =>
        val b0 = guarded(matchedCol("backward"))
        val f0 = guarded(matchedCol("forward"))
        // Tolerance filters CANDIDATES before the nearest comparison
        // (pandas merge_asof semantics): a side whose match is out of
        // tolerance is nulled here, so the opposite in-tolerance side can
        // still win — pick-then-filter would wrongly emit null for such
        // rows. Distances are one-signed per direction (backward match is
        // at-or-before, forward at-or-after).
        def gate(m: Column, dist: Column): Column = tolerance match {
          case Some(t) => when(dist <= t, m)
          case None => m
        }
        val b = gate(b0, col("__t") - b0.getField("__rt"))
        val f = gate(f0, f0.getField("__rt") - col("__t"))
        // Closer side wins; ties and one-sided matches resolve backward.
        val db = col("__t") - b.getField("__rt")
        val df_ = f.getField("__rt") - col("__t")
        unioned.withColumn("__m",
          when(b.isNull, f).when(f.isNull, b).when(df_ < db, f).otherwise(b))
      case dir =>
        unioned.withColumn("__m", guarded(matchedCol(dir)))
    }).where(col("__side") === 1)

    val inWindow = tolerance match {
      case Some(t) =>
        val diff = col("__t") - col("__m.__rt")
        val dist = when(diff < col("__m.__rt") - col("__t"), col("__m.__rt") - col("__t"))
          .otherwise(diff)
        col("__m").isNotNull && dist <= t
      case None => col("__m").isNotNull
    }
    val out = left.columns.map(c => col(s"__lpay.$c").as(c)) ++
      rightTimeAs.map(n => when(inWindow, col("__m.__rt")).cast(rtType).as(n)) ++
      rightCols.map(c => when(inWindow, col(s"__m.$c")).as(c))
    matched.select(out: _*)
  }

  /** Range (interval containment) join: pair every interval row
    * `[startCol, endCol]` with every point row whose `pointTime` falls
    * inside it (bounds inclusive), matching on equi-keys `on`. Inner-join
    * semantics: null keys/times never match.
    *
    * Both sides are bucketed into `binSeconds`-wide time bins; intervals
    * fan out to each bin they overlap, points land in exactly one, and the
    * pair is produced by a plain equi-join on (keys, bin) plus the exact
    * range filter — so each qualifying pair appears exactly once (a pair
    * only meets in the point's own bin) and no dedup pass is needed. Pick
    * `binSeconds` near the typical interval length: much smaller multiplies
    * the interval fan-out, much larger packs unrelated rows into one bin.
    *
    * Intervals spanning more than `maxBinsPerInterval` bins fail fast at
    * runtime (a single year-long interval at 60s bins would silently fan
    * out 500k rows — that is a config error, not a query).
    *
    * Column names must be disjoint across the two inputs apart from the
    * `on` keys (rename first). Time columns must be timestamps.
    */
  def rangeJoinPoint(intervals: DataFrame, points: DataFrame, on: Seq[String],
      startCol: String, endCol: String, pointTime: String,
      binSeconds: Long, maxBinsPerInterval: Int = 1024): DataFrame = {
    require(on.nonEmpty, "rangeJoinPoint needs at least one equi-join key")
    require(binSeconds > 0, "binSeconds must be positive")
    val collisions = intervals.columns.toSet.intersect(points.columns.toSet) -- on
    require(collisions.isEmpty,
      s"rangeJoinPoint column collision: ${collisions.mkString(", ")} — rename first")

    val binMicros = binSeconds * 1000000L
    // Cast normalizes TIMESTAMP_NTZ inputs (parquet with isAdjustedToUTC=
    // false reads as NTZ, which unix_micros rejects); applied uniformly to
    // both sides and the fan-out guard, so binning stays self-consistent.
    def binOf(t: Column): Column =
      floor(unix_micros(t.cast(org.apache.spark.sql.types.TimestampType)) / binMicros)

    val nBins = binOf(col(endCol)) - binOf(col(startCol)) + 1
    val i = intervals
      .where(on.map(col(_).isNotNull).reduce(_ && _) &&
        col(startCol).isNotNull && col(endCol).isNotNull && col(startCol) <= col(endCol))
      // assert_true evaluates to NULL when the guard holds; coalesce turns
      // that into TRUE, and a violating interval raises instead of fanning
      // out unboundedly. Living in a filter keeps it un-prunable.
      .where(coalesce(assert_true(nBins <= maxBinsPerInterval,
        concat(lit(s"rangeJoinPoint: interval spans more than $maxBinsPerInterval bins of " +
          s"$binSeconds s (from "), col(startCol), lit(" to "), col(endCol),
          lit(s"); raise binSeconds or maxBinsPerInterval"))), lit(true)))
      .withColumn("__bin", explode(sequence(binOf(col(startCol)), binOf(col(endCol)))))
    val p = points
      .where(on.map(col(_).isNotNull).reduce(_ && _) && col(pointTime).isNotNull)
      .withColumn("__bin", binOf(col(pointTime)))

    i.join(p, on :+ "__bin")
      .where(col(pointTime) >= col(startCol) && col(pointTime) <= col(endCol))
      .drop("__bin")
  }

  /** Inactivity-gap sessionization (gaps-and-islands): appends a
    * `session_seq` column — a 1-based per-key session index — where a new
    * session starts whenever the gap since the key's previous event exceeds
    * `gap` (same units as `timeCol` subtraction; e.g.
    * `expr("INTERVAL 30 MINUTES")`).
    *
    * One shuffle on `on`, one window (lag + running sum). Rows with equal
    * timestamps can never open a session (their gap is zero), so the
    * assignment is deterministic even with duplicate times.
    */
  def sessionize(events: DataFrame, on: Seq[String], timeCol: String,
      gap: Column): DataFrame = {
    require(on.nonEmpty, "sessionize needs at least one key column")
    val w = Window.partitionBy(on.map(col): _*).orderBy(col(timeCol).asc)
    val prev = lag(col(timeCol), 1).over(w)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Two Window ops, but same partitioning + ordering: one Exchange, one
    // Sort — the second window rides the first one's layout.
    events
      .withColumn("__open", when(prev.isNull || (col(timeCol) - prev) > gap, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("__open")).over(run))
      .drop("__open")
  }

  /** Sessionize and aggregate: one row per (keys, session) with
    * `session_start`, `session_end`, `n_events` plus any caller aggregates.
    * The groupBy keys (keys, session_seq) are a superset of the window's
    * hash partitioning, so Catalyst inserts NO second exchange — the whole
    * sessionize-and-aggregate pipeline is one shuffle end-to-end.
    */
  def sessions(events: DataFrame, on: Seq[String], timeCol: String,
      gap: Column, extraAggs: Seq[Column] = Nil): DataFrame = {
    val tagged = sessionize(events, on, timeCol, gap)
    val aggs = Seq(
      min(col(timeCol)).as("session_start"),
      max(col(timeCol)).as("session_end"),
      count(lit(1)).as("n_events")) ++ extraAggs
    tagged.groupBy((on :+ "session_seq").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
