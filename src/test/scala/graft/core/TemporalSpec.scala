package graft.core

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class TemporalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin attaches the latest right row at-or-before each left ts") {
    val left = Seq(
      (10L, 1L, ts("2024-01-01 10:00:00")),  // after q2 → q2
      (11L, 1L, ts("2024-01-01 09:00:00")),  // exactly at q1 → q1 (inclusive)
      (12L, 1L, ts("2024-01-01 08:00:00")),  // before any quote → null
      (13L, 2L, ts("2024-01-01 12:00:00")))  // other key, one quote
      .toDF("purchase_id", "user_id", "ts")
    val right = Seq(
      (100L, 1L, ts("2024-01-01 09:00:00")),
      (101L, 1L, ts("2024-01-01 09:30:00")),
      (200L, 2L, ts("2024-01-01 11:00:00")))
      .toDF("view_id", "user_id", "vts")
      .withColumn("ts", col("vts"))
      .select("user_id", "ts", "view_id", "vts")
    val out = Temporal.asofJoin(left, right, Seq("user_id"), "ts",
        Seq("view_id", "vts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out === Map(
      10L -> Some(101L), 11L -> Some(100L), 12L -> None, 13L -> Some(200L)))
  }

  test("asofJoin carries the latest right ROW atomically under null payload values") {
    val left = Seq((1L, 7L, ts("2024-01-01 10:00:00")))
      .toDF("l_id", "user_id", "ts")
    val right = Seq(
      (7L, ts("2024-01-01 09:00:00"), Some("a"), Some("x")),
      // latest right row: v is NULL — it must surface as null, not
      // back-fill from the older row (and w must come from THIS row)
      (7L, ts("2024-01-01 09:30:00"), None: Option[String], Some("y")))
      .toDF("user_id", "ts", "v", "w")
    val r = Temporal.asofJoin(left, right, Seq("user_id"), "ts", Seq("v", "w"))
      .collect().head
    assert(r.isNullAt(r.fieldIndex("v")))
    assert(r.getAs[String]("w") === "y")
  }

  test("ohlcBars: open/close by exact (ts, id) order, high/low exact, per bucket") {
    val ev = Seq(
      (1L, 7L, ts("2024-01-01 09:00:00"), 5.0),
      (2L, 7L, ts("2024-01-01 10:00:00"), 9.0),   // high
      (3L, 7L, ts("2024-01-01 11:00:00"), 1.0),   // low
      (4L, 7L, ts("2024-01-01 23:59:59"), 4.0),   // close of day 1
      (5L, 7L, ts("2024-01-02 00:00:01"), 2.0),   // next bucket
      (6L, 8L, ts("2024-01-01 09:00:00"), 3.0),   // tie ts with id 7 below
      (7L, 8L, ts("2024-01-01 09:00:00"), 8.0))   // same ts, higher id → close
      .toDF("event_id", "user_id", "ts", "value")
    val out = graft.core.Temporal.ohlcBars(ev, "user_id", "ts", "value",
        "event_id", bucket = "day")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
      .toMap
    assert(out((7L, "2024-01-01 00:00:00.0")) === ((5.0, 9.0, 1.0, 4.0, 4L)))
    assert(out((7L, "2024-01-02 00:00:00.0")) === ((2.0, 2.0, 2.0, 2.0, 1L)))
    // exact-ts tie: open = lower id (6 → 3.0), close = higher id (7 → 8.0)
    assert(out((8L, "2024-01-01 00:00:00.0")) === ((3.0, 8.0, 3.0, 8.0, 2L)))
  }

  test("intervalOverlapPairs: overlaps found across bins, each exactly once") {
    def iv(id: Long, u: Long, s: String, e: String) = (id, u, ts(s), ts(e))
    val left = Seq(
      iv(1L, 7L, "2024-01-01 10:00:00", "2024-01-01 13:00:00"),  // 3h — spans bins
      iv(2L, 7L, "2024-01-01 15:00:00", "2024-01-01 15:30:00"),
      iv(3L, 8L, "2024-01-01 10:00:00", "2024-01-01 11:00:00"))
      .toDF("lid", "user_id", "ls", "le")
    val right = Seq(
      iv(10L, 7L, "2024-01-01 12:30:00", "2024-01-01 14:00:00"), // overlaps 1 (30min)
      iv(11L, 7L, "2024-01-01 13:00:00", "2024-01-01 13:10:00"), // touches 1's end → no (half-open)
      iv(12L, 7L, "2024-01-01 15:10:00", "2024-01-01 15:20:00"), // inside 2
      iv(13L, 9L, "2024-01-01 10:30:00", "2024-01-01 10:40:00")) // other user
      .toDF("rid", "user_id", "rs", "re")
    val out = graft.core.Temporal.intervalOverlapPairs(left, right,
        Seq("user_id"), "lid", "ls", "le", "rid", "rs", "re",
        binSeconds = 3600L)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(out === Map(
      (1L, 10L) -> (30L * 60 * 1000000),
      (2L, 12L) -> (10L * 60 * 1000000)))
  }

  test("dedupWithin: keeps each gap-burst's first event, ties collapse to lowest id") {
    val ev = Seq(
      (1L, 7L, "c", ts("2024-01-01 10:00:00")),  // burst start → keep
      (2L, 7L, "c", ts("2024-01-01 10:20:00")),  // 20min after e1 → drop
      (3L, 7L, "c", ts("2024-01-01 10:40:00")),  // 20min after e2 (80 after e1) → drop
      (4L, 7L, "c", ts("2024-01-01 12:00:00")),  // 80min after e3 → keep
      (5L, 7L, "c", ts("2024-01-01 12:00:00")),  // exact tie with e4 → drop
      (6L, 7L, "d", ts("2024-01-01 10:10:00")),  // other type → its own stream
      (7L, 8L, "c", ts("2024-01-01 10:10:00")))  // other user
      .toDF("event_id", "user_id", "event_type", "ts")
    val kept = graft.core.Temporal.dedupWithin(ev,
        Seq("user_id", "event_type"), "ts", "event_id", gapSeconds = 3600L)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 6L, 7L))
  }

  test("asofJoinDirected: forward picks the earliest at-or-after row, inclusive ties") {
    val left = Seq(
      (10L, 1L, ts("2024-01-01 09:10:00")),  // between views → v101 (next one)
      (11L, 1L, ts("2024-01-01 09:30:00")),  // exactly at v101 → v101 (inclusive)
      (12L, 1L, ts("2024-01-01 11:00:00")),  // after every view → null
      (13L, 2L, ts("2024-01-01 10:00:00")))  // other key
      .toDF("purchase_id", "user_id", "ts")
    val right = Seq(
      (100L, 1L, ts("2024-01-01 09:00:00")),
      (101L, 1L, ts("2024-01-01 09:30:00")),
      (200L, 2L, ts("2024-01-01 11:00:00")))
      .toDF("view_id", "user_id", "ts")
      .withColumn("vts", col("ts"))
    val out = Temporal.asofJoinDirected(left, right, Seq("user_id"), "ts",
        Seq("view_id", "vts"), Temporal.AsofDirection.Forward)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out === Map(
      10L -> Some(101L), 11L -> Some(101L), 12L -> None, 13L -> Some(200L)))
  }

  test("asofJoinDirected: nearest takes the closer side, exact ties go backward") {
    val left = Seq(
      (10L, 1L, ts("2024-01-01 10:00:00")),  // back 60min, fwd 30min → fwd
      (11L, 1L, ts("2024-01-01 09:15:00")),  // back 15min, fwd 75min → back
      (12L, 1L, ts("2024-01-01 09:45:00")),  // back 45min, fwd 45min TIE → back
      (13L, 3L, ts("2024-01-01 10:00:00")))  // no right rows → null
      .toDF("purchase_id", "user_id", "ts")
    val right = Seq(
      (100L, 1L, ts("2024-01-01 09:00:00")),
      (101L, 1L, ts("2024-01-01 10:30:00")))
      .toDF("view_id", "user_id", "ts")
      .withColumn("vts", col("ts"))
    val out = Temporal.asofJoinDirected(left, right, Seq("user_id"), "ts",
        Seq("view_id", "vts"), Temporal.AsofDirection.Nearest)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out === Map(
      10L -> Some(101L), 11L -> Some(100L), 12L -> Some(100L), 13L -> None))
  }

  test("asofJoinDirected: tolerance rejects far matches but keeps the left row") {
    val left = Seq(
      (10L, 1L, ts("2024-01-01 10:00:00")),  // back gap 10min ≤ tol → match
      (11L, 1L, ts("2024-01-01 12:00:00")))  // back gap 130min > tol → null
      .toDF("purchase_id", "user_id", "ts")
    val right = Seq((100L, 1L, ts("2024-01-01 09:50:00")))
      .toDF("view_id", "user_id", "ts")
      .withColumn("vts", col("ts"))
    val out = Temporal.asofJoinDirected(left, right, Seq("user_id"), "ts",
        Seq("view_id", "vts"), Temporal.AsofDirection.Backward,
        toleranceMicros = Some(30L * 60 * 1000000))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out === Map(10L -> Some(100L), 11L -> None))
  }

  test("asofJoinDirected: backward equals a latest-prior lookup") {
    val ev = graft.core.Tables(spark, "/root/testdata/sf0.001").events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
      .withColumn("vts", col("ts"))
    val got = Temporal.asofJoinDirected(purchases, views, Seq("user_id"), "ts",
        Seq("view_id", "vts"), Temporal.AsofDirection.Backward)
      .select(col("purchase_id").cast("long"), col("view_id").cast("long"))
      .as[(Long, Option[Long])].collect().toMap
    // reference (PropertySpec's shape): per purchase, the view of the
    // same user with the latest ts at or before it; no view → None
    def micros(df: org.apache.spark.sql.DataFrame, c: String*) =
      df.select(c.map(col(_).cast("long")) :+
          unix_micros(col("ts")).as("us"): _*)
        .as[(Long, Long, Option[Long])].collect()
    val viewsByUser = micros(views, "view_id", "user_id")
      .collect { case (v, u, Some(t)) => (u, t, v) }.groupBy(_._1)
    val expected = micros(purchases, "purchase_id", "user_id").map {
      case (p, u, t) =>
        p -> t.flatMap(pt => viewsByUser.getOrElse(u, Array.empty)
          .filter(_._2 <= pt).maxByOption(_._2).map(_._3))
    }.toMap
    assert(expected.values.exists(_.isDefined) &&
      expected.values.exists(_.isEmpty), "fixture must cover match and miss")
    assert(got === expected)
  }

  test("as-of null timestamps: right never matches, left gets null payload") {
    import org.apache.spark.sql.DataFrame
    import Temporal.AsofDirection.{Backward, Forward, Nearest}
    val left = Seq(
      (1L, 7L, Some(ts("2024-01-01 10:01:40"))),
      (2L, 7L, None: Option[Timestamp]))
      .toDF("l_id", "user_id", "ts")
    val nullRow = (7L, None: Option[Timestamp], 1L)
    val both = Seq(nullRow, (7L, Some(ts("2024-01-01 10:01:00")), 60L))
      .toDF("user_id", "ts", "r_sec")
    val nullOnly = Seq(nullRow).toDF("user_id", "ts", "r_sec")
    // asofJoin and every direction × tolerance of asofJoinDirected
    def faces(right: DataFrame): Seq[(String, DataFrame)] =
      ("asofJoin", Temporal.asofJoin(left, right, Seq("user_id"), "ts", Seq("r_sec"))) +:
        (for (d <- Seq(Backward, Forward, Nearest);
              tol <- Seq(None, Some(3600L * 1000000))) yield
          (s"$d tol=$tol", Temporal.asofJoinDirected(left, right,
            Seq("user_id"), "ts", Seq("r_sec"), d, tol)))
    def got(df: DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    faces(both).foreach { case (name, out) =>
      // the 10:01:00 row precedes l_id 1: every face but forward matches it
      val want = if (name.startsWith("Forward")) None else Some(60L)
      assert(got(out) === Map(1L -> want, 2L -> None), name)
    }
    faces(nullOnly).foreach { case (name, out) =>
      assert(got(out) === Map(1L -> None, 2L -> None), name)
    }
  }

  test("rangePairs emits each in-gap pair exactly once with exact gaps") {
    val clicks = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00")),
      (2L, 7L, ts("2024-01-01 10:59:30")),   // straddles a bin boundary
      (3L, 8L, ts("2024-01-01 10:00:00")))   // other user
      .toDF("click_id", "user_id", "ts")
      .select("user_id", "click_id", "ts")
    val errors = Seq(
      (50L, 7L, ts("2024-01-01 10:30:00")),  // 1800s after click 1
      (51L, 7L, ts("2024-01-01 11:00:10")),  // 40s after click 2 (next bin)
      (52L, 7L, ts("2024-01-01 10:00:00")),  // ties click 1 → excluded (> not >=)
      (53L, 9L, ts("2024-01-01 10:10:00")))  // user with no clicks
      .toDF("error_id", "user_id", "ts")
      .select("user_id", "error_id", "ts")
    val out = Temporal.rangePairs(clicks, errors, Seq("user_id"), "ts",
      "click_id", "error_id", gapSeconds = 3600L)
    val rows = out.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    // (1,51) is 3610s apart — just OVER the gap, excluded even though
    // binning makes it a candidate
    assert(rows === Map(
      (1L, 50L) -> 1800000000L,
      (2L, 51L) -> 40000000L))
    // each pair exactly once even when candidates span two bins
    assert(out.count() === out.distinct().count())
  }

  test("rangePairs bins pre-1970 timestamps with floor semantics") {
    // left at 1969-12-31 23:59:59 (−1s), right at 1970-01-01 00:00:01
    // (+1s): under truncating `div` both land in bin 0 and the pair is
    // found by luck, but a left fully inside negative time (−7200s)
    // with right at −3601s truncates into the WRONG bin pair — floor
    // division is what makes every case line up.
    val left = Seq(
      (1L, 7L, -1L),      // 1s before epoch
      (2L, 7L, -7200L),   // 2h before epoch
      (3L, 7L, -3700L))   // 99s before error 51 → pair
      .toDF("click_id", "user_id", "sec")
      .select(col("user_id"), col("click_id"),
        timestamp_seconds(col("sec")).as("ts"))
    val right = Seq(
      (50L, 7L, 1L),      // 2s after click 1 → pair
      (51L, 7L, -3601L),  // 3599s after click 2 → pair
      (52L, 7L, -7300L))  // before everything → no pair
      .toDF("error_id", "user_id", "sec")
      .select(col("user_id"), col("error_id"),
        timestamp_seconds(col("sec")).as("ts"))
    val got = Temporal.rangePairs(left, right, Seq("user_id"), "ts",
        "click_id", "error_id", gapSeconds = 3600L)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got === Map(
      (1L, 50L) -> 2000000L,
      (2L, 51L) -> 3599000000L,
      (3L, 51L) -> 99000000L))
  }

  test("funnel: steps chain in order within the window; breaks stay broken") {
    val ev = Seq(
      // user 1: view → click (+1h) → purchase (+2h): full funnel
      (1L, 1L, "view", ts("2024-01-01 10:00:00")),
      (2L, 1L, "click", ts("2024-01-01 11:00:00")),
      (3L, 1L, "purchase", ts("2024-01-01 13:00:00")),
      // user 2: click BEFORE the first view → step 2 unmatched, and its
      // purchase (in window of nothing) must not count either
      (4L, 2L, "click", ts("2024-01-01 08:00:00")),
      (5L, 2L, "view", ts("2024-01-01 10:00:00")),
      (6L, 2L, "purchase", ts("2024-01-01 11:00:00")),
      // user 3: view → click, but outside the 6h window
      (7L, 3L, "view", ts("2024-01-01 00:00:00")),
      (8L, 3L, "click", ts("2024-01-01 12:00:00")),
      // user 4: never views → no funnel row at all
      (9L, 4L, "click", ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Temporal.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSeconds = 6 * 3600L)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
  }

  test("sequenceMatch: negation breaks a gap; overall window binds; cap drops bot tail") {
    val ev = Seq(
      // user 1: a(10:00) → b(11:00) → c(12:00), clean → matched
      (1L, "a", ts("2024-01-01 10:00:00")),
      (1L, "b", ts("2024-01-01 11:00:00")),
      (1L, "c", ts("2024-01-01 12:00:00")),
      // user 2: x strictly between a and first b → gap 1 broken; the c
      // after must NOT count (propagation)
      (2L, "a", ts("2024-01-01 10:00:00")),
      (2L, "x", ts("2024-01-01 10:30:00")),
      (2L, "b", ts("2024-01-01 11:00:00")),
      (2L, "c", ts("2024-01-01 12:00:00")),
      // user 3: b only OUTSIDE the overall 3h window from t1
      (3L, "a", ts("2024-01-01 10:00:00")),
      (3L, "b", ts("2024-01-01 14:00:00")),
      // user 4: x at exactly t2 (not strictly between) → still clean
      (4L, "a", ts("2024-01-01 10:00:00")),
      (4L, "x", ts("2024-01-01 11:00:00")),
      (4L, "b", ts("2024-01-01 11:00:00")),
      (4L, "c", ts("2024-01-01 11:30:00")))
      .toDF("user_id", "step", "ts")
    val out = Temporal.sequenceMatch(ev, "user_id", "ts", "step",
        Seq("a", "b", "c"), windowSeconds = 3 * 3600L,
        negations = Map(1 -> Seq("x")))
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    assert(out === Map(
      1L -> (3L, true), 2L -> (1L, false), 3L -> (1L, false),
      4L -> (3L, true)))

    // bot cap: user 5's 'a' is beyond the first 3 events in (ts, step)
    // order, so the capped run never sees a step-1 event for it
    val bot = Seq(
      (5L, "x", ts("2024-01-01 09:00:00")),
      (5L, "x", ts("2024-01-01 09:10:00")),
      (5L, "x", ts("2024-01-01 09:20:00")),
      (5L, "a", ts("2024-01-01 10:00:00")),
      (5L, "b", ts("2024-01-01 10:30:00")),
      (6L, "a", ts("2024-01-01 10:00:00")),
      (6L, "b", ts("2024-01-01 10:30:00")),
      (6L, "c", ts("2024-01-01 10:45:00")))
      .toDF("user_id", "step", "ts")
    val capped = Temporal.sequenceMatch(bot, "user_id", "ts", "step",
        Seq("a", "b", "c"), windowSeconds = 3600L,
        negations = Map(1 -> Seq("x")), maxEventsPerEntity = Some(3))
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(capped === Map(6L -> true)) // user 5 filtered entirely
  }

  test("cohortRetention: cohorts by first week, exact week offsets") {
    val ev = Seq(
      // user 1 first active week of Jan 1 (Mon), returns 2 weeks later
      (1L, ts("2024-01-02 10:00:00")),
      (1L, ts("2024-01-16 10:00:00")),
      // user 2 same cohort, active only that week (two events, one week)
      (2L, ts("2024-01-03 10:00:00")),
      (2L, ts("2024-01-04 10:00:00")),
      // user 3 joins the following week
      (3L, ts("2024-01-09 10:00:00")))
      .toDF("user_id", "ts")
    val rows = Temporal.cohortRetention(ev, "user_id", "ts")
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows === Map(
      ("2024-01-01", 0L) -> 2L,
      ("2024-01-01", 2L) -> 1L,
      ("2024-01-08", 0L) -> 1L))
  }

  test("sequenceMatch first-match semantics: a later-gap negation judges the GREEDY chain") {
    // a@0, b@1, x@3, b@5, c@10 with "no x between b and c": the greedy
    // chain picks t2=b@1, and x@3 ∈ (1,10) breaks it — even though the
    // (b@5, c@10) chain is clean. This IS the documented first-match
    // rule (existential backtracking is out of contract); the DuckDB
    // oracle and SequenceStream implement the same rule, so all three
    // faces agree. If this test starts failing, the semantics changed —
    // update the scaladoc, the oracle, and the streaming face together.
    def t(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      (1L, "a", t(0)), (1L, "b", t(1)), (1L, "x", t(3)),
      (1L, "b", t(5)), (1L, "c", t(10)))
      .toDF("user_id", "step", "ts")
    val out = Temporal.sequenceMatch(ev, "user_id", "ts", "step",
        Seq("a", "b", "c"), windowSeconds = 100L,
        negations = Map(2 -> Seq("x")))
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    assert(out === Map(1L -> (2L, false)))
  }

  test("sequenceMatch plans as equi joins, not BroadcastNestedLoop") {
    val ev = Seq((1L, "a", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "step", "ts")
    val plan = Temporal.sequenceMatch(ev, "user_id", "ts", "step",
        Seq("a", "b", "c"), 3600L, Map(1 -> Seq("x")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"sequence joins must ride the entity equi key:\n$plan")
  }

  test("rangePairs plans as an equi join, not BroadcastNestedLoop") {
    val evs = Seq((1L, 7L, ts("2024-01-01 10:00:00")))
      .toDF("id", "user_id", "ts")
    val plan = Temporal.rangePairs(evs.withColumnRenamed("id", "click_id"),
        evs.withColumnRenamed("id", "error_id"),
        Seq("user_id"), "ts", "click_id", "error_id", 3600L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join must stay an equi join:\n$plan")
  }

  test("ewmaFixed matches the driver-side integer recurrence exactly") {
    val rnd = new scala.util.Random(11)
    val ev = (1 to 300).map { i =>
      (rnd.nextInt(4).toLong, i.toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(10000) * 1000L),
        rnd.nextInt(50000) / 100.0) // positive 2-decimal values
    }
    val df = ev.toDF("user_id", "event_id", "ts", "value")
    val got = Temporal.ewmaFixed(df, "user_id", "ts", "event_id", "value",
        alphaNum = 2L, alphaDen = 10L)
      .select(col("user_id").cast("long"), col("event_id"), col("ewma_millis"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, id, e) => (u, id) -> e }.toMap
    val want = ev.groupBy(_._1).flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._3.getTime, e._2))
      var acc = -1L
      sorted.map { e =>
        val vm = math.round(e._4 * 1000)
        acc = if (acc < 0) vm else (2L * vm + 8L * acc) / 10L
        (u, e._2) -> acc
      }
    }
    assert(got === want) // exact — no tolerance
  }

  test("cusumFixed replays the integer Page recurrence exactly and alarms on shift") {
    val vals = Seq(10.0, 10.5, 9.5, 14.0, 14.0, 14.0, 14.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (1L, ts(f"2024-01-01 00:00:${i}%02d"), i.toLong, v) }
      .toDF("user_id", "ts", "event_id", "value")
    val got = Temporal.cusumFixed(ev, "user_id", "ts", "event_id", "value",
        targetMillis = 10000L, slackMillis = 1000L, thresholdMillis = 5000L)
      .orderBy("event_id")
      .collect().map(r => (r.getLong(4), r.getLong(5), r.getBoolean(6)))
    var hi = 0L; var lo = 0L
    val want = vals.map { v =>
      val vm = math.round(v * 1000)
      hi = math.max(0L, hi + (vm - 10000L - 1000L))
      lo = math.max(0L, lo + (10000L - vm - 1000L))
      (hi, lo, hi > 5000L || lo > 5000L)
    }
    assert(got.toSeq === want)
    assert(!got(2)._3 && got(5)._3)
  }

  test("scd2: an entity's initial NULL-attribute run is a real version, " +
       "and an all-null entity still appears") {
    // regression: lag()'s no-predecessor NULL used to compare <=>-equal
    // to a null first attribute and silently drop the run
    val t0 = 1700000000000L
    val ev = Seq(
      (1L, 1L, new Timestamp(t0), None: Option[String]), // null first run
      (1L, 2L, new Timestamp(t0 + 1000), Some("A")),
      (3L, 7L, new Timestamp(t0), None: Option[String]), // null throughout
      (3L, 8L, new Timestamp(t0 + 1000), None: Option[String]))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = Temporal.scd2(ev, "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "version")
      .select("user_id", "event_type", "version", "is_current")
      .as[(Long, Option[String], Int, Boolean)].collect().toSeq
    assert(got === Seq(
      (1L, None, 1, false), (1L, Some("A"), 2, true),
      (3L, None, 1, true)))
  }

  test("scd2 collapses attribute runs into tiling validity intervals") {
    // user 1: A A B A  -> A[v1], B[v2], A[v3]; user 2: single run
    val t0 = 1700000000000L
    val ev = Seq(
      (1L, 1L, new Timestamp(t0), "A"),
      (1L, 2L, new Timestamp(t0 + 1000), "A"),
      (1L, 3L, new Timestamp(t0 + 2000), "B"),
      (1L, 4L, new Timestamp(t0 + 3000), "A"),
      (2L, 5L, new Timestamp(t0), "X"),
      (2L, 6L, new Timestamp(t0 + 500), "X"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = Temporal.scd2(ev, "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "version")
      .select("user_id", "event_type", "version", "eff_from", "eff_to", "is_current")
      .as[(Long, String, Int, Timestamp, Option[Timestamp], Boolean)].collect()
    assert(got.map(r => (r._1, r._2, r._3, r._6)).toSeq === Seq(
      (1L, "A", 1, false), (1L, "B", 2, false), (1L, "A", 3, true),
      (2L, "X", 1, true)))
    // intervals tile: each eff_to equals the next version's eff_from
    got.groupBy(_._1).foreach { case (_, rows) =>
      rows.sortBy(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a._5.contains(b._4))
        case _ =>
      }
      assert(rows.maxBy(_._3)._5.isEmpty)
    }
  }

  test("timeWeightedAvg matches brute force; zero-span entity falls back to mean") {
    val rnd = new scala.util.Random(11)
    val t0 = 1700000000000L
    val ev = (1 to 200).map { i =>
      (rnd.nextInt(5).toLong, i.toLong,
        new Timestamp(t0 + rnd.nextInt(100000) * 37L),
        math.round(rnd.nextDouble() * 10000) / 100.0)
    } ++ Seq((99L, 901L, new Timestamp(t0), 4.25),
             (99L, 902L, new Timestamp(t0), 7.75)) // zero span
    val df = ev.toDF("user_id", "event_id", "ts", "value")
    val got = Temporal.timeWeightedAvg(df, "user_id", "ts", "event_id", "value")
      .select(col("user_id").cast("long"), col("n_events"), col("twa"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val want = ev.groupBy(_._1).map { case (u, evs) =>
      val s = evs.sortBy(e => (e._3.getTime, e._2))
      val span = (s.last._3.getTime - s.head._3.getTime) * 1000L
      val twa =
        if (span == 0) s.map(_._4).sum / s.size
        else s.sliding(2).map { case Seq(a, b) =>
          a._4 * (b._3.getTime - a._3.getTime) * 1000L
        }.sum / span
      u -> (s.size.toLong, twa)
    }
    assert(got.size === want.size)
    want.foreach { case (u, (n, w)) =>
      assert(got(u)._1 === n)
      assert(math.abs(got(u)._2 - w) < 1e-9, s"user $u: ${got(u)._2} vs $w")
    }
    assert(math.abs(got(99L)._2 - 6.0) < 1e-12)
  }

  test("interArrival: exact gaps, single-event entities excluded") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L), (1L, ts("2024-01-01 00:00:01"), 2L),
      (1L, ts("2024-01-01 00:00:04"), 3L),
      (2L, ts("2024-01-01 00:00:00"), 4L)) // single event → no gaps
      .toDF("user_id", "ts", "event_id")
    val got = Temporal.interArrival(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got === Map(1L -> (2L, 1000000L, 3000000L, 2000000.0)))
  }

  test("resampleDaily: contiguous per-entity grid, silent days zero-filled") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 2.0), (1L, ts("2024-01-01 11:00:00"), 3.0),
      (1L, ts("2024-01-04 09:00:00"), 7.0),
      (2L, ts("2024-01-02 08:00:00"), 1.0))
      .toDF("user_id", "ts", "value")
    val got = Temporal.resampleDaily(ev, "user_id", "ts", "value")
      .orderBy("user_id", "day")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(
      (1L, "2024-01-01", 2L, 5.0), (1L, "2024-01-02", 0L, 0.0),
      (1L, "2024-01-03", 0L, 0.0), (1L, "2024-01-04", 1L, 7.0),
      (2L, "2024-01-02", 1L, 1.0)))
  }

  test("locf carries last non-null forward per entity; leading nulls stay") {
    val df = Seq(
      (1L, 1, Option.empty[Double]), (1L, 2, Some(5.0)), (1L, 3, None),
      (1L, 4, Some(2.0)), (1L, 5, None),
      (2L, 1, None), (2L, 2, None))
      .toDF("user_id", "d", "v")
    val got = Temporal.locf(df, "user_id", "d", Seq("v"))
      .orderBy("user_id", "d")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got === Seq(
      (1L, 1, None), (1L, 2, Some(5.0)), (1L, 3, Some(5.0)),
      (1L, 4, Some(2.0)), (1L, 5, Some(2.0)),
      (2L, 1, None), (2L, 2, None)))
  }

  test("rollingActive counts trailing-window distinct entities per observed day") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-03 10:00:00")),
      (3L, ts("2024-01-09 10:00:00")))
      .toDF("user_id", "ts")
    val got = Temporal.rollingActive(ev.withColumn("value", lit(0.0)),
        "user_id", "ts", windowDays = 3)
      .orderBy("day")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toSeq
    // observed days: 01 (u1,u2), 03 (u1 + u1,u2 from day 01), 09 (u3 only)
    assert(got === Seq("2024-01-01" -> 2L, "2024-01-03" -> 2L,
      "2024-01-09" -> 1L))
  }

  test("seasonalDecompose: additive identity holds exactly; a constant " +
    "series has zero seasonal and residual; silent days zero-fill") {
    // entity a: constant 2.0/day over 10 days with one silent day
    val ev = (0 until 10).filter(_ != 4).map { d =>
      (1L, ts(f"2024-01-${d + 1}%02d 10:00:00"), 2.0)
    }.toDF("user_id", "ts", "value")
    val got = Temporal.seasonalDecompose(ev, "user_id", "ts", "value",
        period = 7, halfWindow = 3)
      .orderBy("day")
      .as[(Long, java.sql.Date, Long, Long, Long, Long)].collect().toSeq
    assert(got.size === 10)            // grid spans the silent day too
    // the decomposition identity is exact in integer units, every row
    got.foreach { case (_, d, v, t, s, r) =>
      assert(v === t + s + r, s"identity broken at $d")
    }
    // silent day present with value 0
    assert(got.count(_._3 == 0L) === 1)
    // edge frames divide by their true count: day 1's frame is days
    // 1-4 (all 2.0) → trend exactly 2e6; the silent day drags the
    // full 7-row frames to 12e6 div 7
    assert(got.head._4 === 2000000L)
    assert(got(4)._4 === 12000000L / 7)   // the silent day itself
  }

  test("embargoSplit: exact boundary, embargo dropped rows labeled, all assigned") {
    // 10 rows at micros 1..10: 70th pct rank = ceil(7.0) = 7 -> T = 7;
    // embargo 2 -> rows 8,9 embargo; 10 test
    val df = (1L to 10L).map(t => Tuple1(t)).toDF("ts")
    val m = graft.core.Temporal.embargoSplit(df, "ts", 700, 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 7L).forall(m(_) == "train"))
    assert(m(8L) == "embargo" && m(9L) == "embargo")
    assert(m(10L) == "test")
    intercept[IllegalArgumentException] {
      graft.core.Temporal.embargoSplit(df, "ts", 0, 2L)
    }
  }
}

class AdoptionCurveSpec extends graft.SparkSpec {
  import spark.implicits._
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("adoptionCurve: first touch counts once per (group, entity); " +
    "cumulative runs per group") {
    val ev = Seq(
      ("click", 1L, ts("2024-01-01 10:00:00")),
      ("click", 1L, ts("2024-01-02 10:00:00")), // repeat: not new again
      ("click", 2L, ts("2024-01-02 10:00:00")),
      ("click", 3L, ts("2024-01-02 11:00:00")),
      ("view", 1L, ts("2024-01-03 10:00:00")))  // same user, new group
      .toDF("event_type", "user_id", "ts")
    val got = Temporal.adoptionCurve(ev, "user_id", "ts", "event_type")
      .orderBy("event_type", "day")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      ("click", "2024-01-01", 1L, 1L),
      ("click", "2024-01-02", 2L, 3L),
      ("view", "2024-01-03", 1L, 1L)))
  }
}

class CoalesceIntervalsSpec extends graft.SparkSpec {
  import spark.implicits._

  test("coalesceIntervals: overlap and touch merge, gaps split, " +
    "containment absorbs, entities independent") {
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 12L),    // overlap → one island [0,12]
      (1L, 12L, 20L),                  // touching: still island 1 → [0,20]
      (1L, 25L, 30L), (1L, 26L, 27L),  // gap then contained → [25,30]
      (2L, 0L, 100L))                  // other entity untouched
      .toDF("user_id", "s", "e")
    val got = Temporal.coalesceIntervals(iv, "user_id", "s", "e")
      .orderBy("user_id", "island")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 0L, 20L, 3L),
      (1L, 2L, 25L, 30L, 2L),
      (2L, 1L, 0L, 100L, 1L)))
  }

  test("coverageGaps: threshold filters small gaps; last island has no gap") {
    val iv = Seq(
      (1L, 0L, 10L), (1L, 12L, 20L),   // gap [10,12) = 2 — below threshold 5
      (1L, 40L, 50L),                  // gap [20,40) = 20 — reported
      (2L, 0L, 5L))                    // single island: nothing follows
      .toDF("user_id", "s", "e")
    val got = Temporal.coverageGaps(iv, "user_id", "s", "e", minGap = 5L)
      .select("user_id", "island", "gap_start", "gap_end", "gap_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 20L, 40L, 20L)))
  }
}

class TransitionMatrixSpec extends graft.SparkSpec {
  import spark.implicits._
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("transitionMatrix: per-entity chronological pairs, ties broken " +
    "deterministically, terminal events drop") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 1L),
      (1L, ts("2024-01-01 11:00:00"), "b", 2L),
      (1L, ts("2024-01-01 12:00:00"), "a", 3L),   // a→b, b→a
      (2L, ts("2024-01-01 10:00:00"), "a", 4L),
      (2L, ts("2024-01-01 10:00:00"), "b", 5L),   // same ts: id order → a→b
      (3L, ts("2024-01-01 10:00:00"), "c", 6L))   // singleton: no pair
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = Temporal.transitionMatrix(ev, "user_id", "ts",
        "event_type", "event_id")
      .orderBy("from_type", "to_type")
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("a", "b", 2L), ("b", "a", 1L)))
  }
}

class TrendLineSpec extends graft.SparkSpec {
  import spark.implicits._
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("trendLine recovers an exact linear series; single-point entity " +
    "gets NULL slope, not a crash") {
    // entity 1: y = 3 + 2x over days 0..4 (values in units) → slope_u
    // exactly 2e6, intercept_u exactly 3e6; entity 2: one observation
    val ev = (0 until 5).map { d =>
      (1L, ts(f"2024-02-${d + 1}%02d 09:00:00"), 3.0 + 2.0 * d)
    } :+ ((2L, ts("2024-02-01 09:00:00"), 9.0))
    val got = Temporal.trendLine(ev.toDF("user_id", "ts", "value"),
        "user_id", "ts", "value")
      .orderBy("user_id")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq
    assert(got(0) === ((1L, 5L, 100000000L, 50L,
      Some(2000000L), Some(3000000L))))
    assert(got(1)._4 === 0L)               // den = 0
    assert(got(1)._5 === None && got(1)._6 === None)
  }

  test("trendLine: multiple events per day sum before fitting; x is " +
    "rebased per entity") {
    // two events on day 0 (1.0 + 2.0 = 3.0), one on day 2 (7.0):
    // points (0, 3e6), (2, 7e6) → slope = 2e6/day regardless of the
    // entity starting mid-month
    val ev = Seq(
      (1L, ts("2024-03-15 08:00:00"), 1.0),
      (1L, ts("2024-03-15 18:00:00"), 2.0),
      (1L, ts("2024-03-17 12:00:00"), 7.0)).toDF("user_id", "ts", "value")
    val got = Temporal.trendLine(ev, "user_id", "ts", "value")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().head
    assert(got._2 === 2L)
    assert(got._5 === Some(2000000L))
    assert(got._6 === Some(3000000L))
  }
}
