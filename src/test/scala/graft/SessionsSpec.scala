package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Sessions

/** Pins the load-bearing session-window semantics (SURVEY.md §7.5.1-3). */
class SessionsSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: (String, Long, Double)*) =
    rows.toDF("t", "user_id", "value")
      .select(to_timestamp($"t").as("ts"), $"user_id", $"value")

  test("exact-boundary: event at previous + gap MERGES (closed interval)") {
    // Spark's session_window merges at diff == gap — same as Flink's
    // `gap <= g` rule; the DuckDB oracle's `diff > gap ⇒ new session`
    // convention is pinned here.
    val df = events(
      ("2024-01-01 00:00:00", 1L, 1.0),
      ("2024-01-01 00:00:30", 1L, 2.0)) // exactly 30 s later
    val out = Sessions.sessionAgg(df, lit("30 seconds")).collect()
    assert(out.length == 1, "30s-apart events merge under a 30s gap")
    assert(out.head.getAs[java.sql.Timestamp]("session_end") == ts("2024-01-01 00:01:00"))
    // one microsecond past the gap splits
    val df2 = events(
      ("2024-01-01 00:00:00", 1L, 1.0),
      ("2024-01-01 00:00:30.000001", 1L, 2.0))
    assert(Sessions.sessionAgg(df2, lit("30 seconds")).count() == 2)
  }

  test("sub-gap chain merges transitively (0s, 29s, 58s)") {
    val df = events(
      ("2024-01-01 00:00:00", 1L, 1.0),
      ("2024-01-01 00:00:29", 1L, 2.0),
      ("2024-01-01 00:00:58", 1L, 3.0))
    val out = Sessions.sessionAgg(df, lit("30 seconds")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("event_count") == 3)
    assert(r.getAs[Double]("session_sum") == 6.0)
    // session_end = last event + gap
    assert(r.getAs[java.sql.Timestamp]("session_end") == ts("2024-01-01 00:01:28"))
    // the same chain on a derived clock (the ingest-time variant): hours
    // apart in `ts`, but the clock column (0 s, 29 s, 58 s) is what
    // sessionizes
    val ingest = events(
      ("2024-01-01 00:00:00", 1L, 1.0),
      ("2024-01-01 05:00:00", 1L, 2.0),
      ("2024-01-01 10:00:00", 1L, 3.0))
      .withColumn("ingest_ts",
        timestamp_seconds(lit(1704067200L) + ($"value" - 1).cast("long") * 29))
    val byClock = Sessions.sessionAggBy(ingest, lit("30 seconds"), $"ingest_ts").collect()
    assert(byClock.map(_.getAs[Long]("event_count")).toSeq == Seq(3L))
    assert(Sessions.sessionAgg(ingest, lit("30 seconds")).count() == 3)
  }

  test("rounding: avg at a half-cent boundary rounds half-up") {
    // sum = 0.05, count = 2 → avg 2.5 cents → 0.03 (half-up), not 0.02
    val df = events(
      ("2024-01-01 00:00:00", 1L, 0.02),
      ("2024-01-01 00:00:01", 1L, 0.03))
    val out = Sessions.sessionAgg(df, lit("30 seconds")).collect()
    assert(out.head.getAs[Double]("session_avg") == 0.03)
  }

  test("bigCustomers keeps only the FIRST qualifying session per user") {
    val df = events(
      ("2024-01-01 00:00:00", 1L, 500.0), // qualifying session 1
      ("2024-01-01 10:00:00", 1L, 600.0), // qualifying session 2 (later)
      ("2024-01-01 20:00:00", 2L, 10.0))  // non-qualifying
    val out = Sessions.bigCustomers(
      Sessions.sessionAgg(df, lit("30 seconds")), 300.0).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("user_id") == 1L)
    assert(out.head.getAs[java.sql.Timestamp]("session_start") == ts("2024-01-01 00:00:00"))
  }

  test("saltedSessionAgg: slice-boundary chains equal the one-shot fold") {
    // 60 s slices against a 30 s gap so every interesting case crosses a
    // slice edge: (a) exact-boundary merge ACROSS slices (00:00:50 →
    // 00:01:20, diff == gap); (b) a chain bridging an entirely EMPTY
    // slice (gap 120 s variant below); (c) a split across slices
    // (diff = gap + 1 µs); (d) a second user interleaved.
    val df = events(
      ("2024-01-01 00:00:50", 1L, 1.0),
      ("2024-01-01 00:01:20", 1L, 2.0),          // merges: diff == 30 s
      ("2024-01-01 00:02:20.000001", 1L, 4.0),   // splits: 60 s + 1 µs
      ("2024-01-01 00:00:10", 2L, 8.0),
      ("2024-01-01 00:00:39", 2L, 16.0))         // merges within slice
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"user_id", $"session_start").collect().toSeq
    assert(sorted(Sessions.saltedSessionAgg(df, 30L, 60L)) ==
      sorted(Sessions.sessionAgg(df, lit("30 seconds"))))
    // bridge over an empty slice: 00:00:59 → 00:02:58 is 119 s ≤ 120 s gap,
    // with slice 1 (00:01..00:02) holding no events at all — the running
    // max(end) island rule must still chain them
    val bridge = events(
      ("2024-01-01 00:00:59", 7L, 1.0),
      ("2024-01-01 00:02:58", 7L, 2.0))
    assert(sorted(Sessions.saltedSessionAgg(bridge, 120L, 60L)) ==
      sorted(Sessions.sessionAgg(bridge, lit("120 seconds"))))
    assert(Sessions.saltedSessionAgg(bridge, 120L, 60L).count() == 1)
  }

  test("saltedSessionAgg: pseudo-random corpus parity incl. a hot key") {
    // deterministic skewed corpus: 2000 events, ~90% on user 4 (the
    // generator1.py:51 phase-4 shape), spacing driven by a hash so
    // sessions split/merge irregularly across slice edges
    val df = spark.range(2000).selectExpr(
      "timestamp_micros(1704067200000000 + (id * 17 + pmod(hash(id), 45)) * 1000000) as ts",
      "CASE WHEN pmod(id, 10) < 9 THEN 4 ELSE pmod(id, 7) END as user_id",
      "cast(pmod(hash(id * 31), 10000) as double) / 100.0 as value")
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"user_id", $"session_start").collect().toSeq
    val salted = sorted(Sessions.saltedSessionAgg(df, 30L, 60L))
    val oneShot = sorted(Sessions.sessionAgg(df, lit("30 seconds")))
    assert(salted.nonEmpty && salted == oneShot)
  }

  test("saltedSessionAgg edge parity: null values, null users, empty input") {
    // null `value` rows count toward event_count but contribute no cents —
    // an all-null session carries null sum/avg in BOTH spellings; null
    // user/ts rows drop (P2) in both
    val df = Seq(
      (Some("2024-01-01 00:00:00"), Some(1L), None: Option[Double]),
      (Some("2024-01-01 00:00:10"), Some(1L), None),
      (Some("2024-01-01 00:05:00"), Some(1L), Some(2.0)),
      (None, Some(2L), Some(5.0)),
      (Some("2024-01-01 00:00:00"), None, Some(5.0)))
      .toDF("t", "user_id", "value")
      .select(to_timestamp($"t").as("ts"), $"user_id", $"value")
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"user_id", $"session_start").collect().toSeq
    assert(sorted(Sessions.saltedSessionAgg(df, 30L, 60L)) ==
      sorted(Sessions.sessionAgg(df, lit("30 seconds"))))
    assert(Sessions.saltedSessionAgg(df.limit(0), 30L, 60L).count() == 0L)
  }

  test("saltedSessionAgg plans exactly two operator shuffles") {
    // designed shape: Exchange on (user, slice) for the pre-fold, Exchange
    // on user for the merge — the island aggregate REUSES the merge
    // window's user_id partitioning (no third shuffle). A regression here
    // (e.g. a grouping change that breaks partitioning reuse) would
    // silently re-shuffle the partial-session frame.
    val df = spark.range(200).selectExpr(
      "timestamp_micros(1704067200000000 + id * 20000000) as ts",
      "pmod(id, 5) as user_id", "cast(id as double) as value")
    val plan = graft.operators.Sessions.saltedSessionAgg(df, 30L, 60L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange (hashpartitioning|rangepartitioning)".r
      .findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 operator shuffles, got $exchanges:\n$plan")
  }

  test("saltedDynamicSessionAgg: per-user bands equal the one-shot fold") {
    // users across all four reference bands, spacings chosen so merges and
    // splits land differently per band AND cross 60 s slice edges; plus a
    // bridge over an empty slice for the widest band
    val df = events(
      ("2024-01-01 00:00:50", 9999L, 1.0),  // 5 min band: 00:05:49 merges
      ("2024-01-01 00:05:49", 9999L, 2.0),  //   (diff 299 s < 300 s)
      ("2024-01-01 00:10:49.000001", 9999L, 4.0), // splits (300 s + 1 µs)
      ("2024-01-01 00:00:59", 5L, 1.0),     // 2 min band bridging slice 1
      ("2024-01-01 00:02:58", 5L, 2.0),     //   (119 s, empty middle slice)
      ("2024-01-01 00:00:50", 150L, 1.0),   // 60 s band: exact boundary
      ("2024-01-01 00:01:50", 150L, 2.0),   //   merge across the slice edge
      ("2024-01-01 00:00:10", 42L, 8.0),    // 30 s band: split within slice
      ("2024-01-01 00:00:45", 42L, 16.0))
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"user_id", $"session_start").collect().toSeq
    val salted = sorted(
      Sessions.saltedDynamicSessionAgg(df, Sessions.referenceDynamicGap, 60L))
    val oneShot = sorted(Sessions.sessionAgg(df, Sessions.referenceDynamicGap))
    assert(salted.nonEmpty && salted == oneShot)
    // counts pin the band semantics themselves, not just parity
    val counts = salted.groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.size).toMap
    assert(counts == Map(9999L -> 2, 5L -> 1, 150L -> 1, 42L -> 2))
  }

  test("saltedDynamicSessionAgg: skewed pseudo-random corpus parity") {
    // hot user 4 (~90% of events) in the 30 s band, plus banded users
    // 9999 / 5 / 150 interleaved — the generator1.py:51 phase-4 shape
    // under the reference band policy
    val df = spark.range(2000).selectExpr(
      "timestamp_micros(1704067200000000 + (id * 17 + pmod(hash(id), 45)) * 1000000) as ts",
      "CASE WHEN pmod(id, 10) < 9 THEN 4 WHEN pmod(id, 40) = 19 THEN 9999 " +
        "WHEN pmod(id, 40) = 29 THEN 5 ELSE 150 END as user_id",
      "cast(pmod(hash(id * 31), 10000) as double) / 100.0 as value")
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"user_id", $"session_start").collect().toSeq
    val salted = sorted(
      Sessions.saltedDynamicSessionAgg(df, Sessions.referenceDynamicGap, 60L))
    assert(salted.nonEmpty &&
      salted == sorted(Sessions.sessionAgg(df, Sessions.referenceDynamicGap)))
  }

  test("dynamic gaps follow the reference's user-id bands") {
    // 90 s spacing: merges for users with gap > 90 s (9999→5min, 2..9→2min),
    // splits for users with gap <= 90 s (100..200→60s, else→30s)
    val spacing = Seq("2024-01-01 00:00:00", "2024-01-01 00:01:30")
    val users = Seq(9999L, 5L, 150L, 42L)
    val df = events(users.flatMap(u => spacing.map(t => (t, u, 1.0))): _*)
    val out = Sessions.sessionAgg(df, Sessions.referenceDynamicGap)
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    assert(out(9999L) == 1, "5 min gap merges 90s spacing")
    assert(out(5L) == 1, "2 min gap merges 90s spacing")
    assert(out(150L) == 2, "60 s gap splits 90s spacing")
    assert(out(42L) == 2, "30 s gap splits 90s spacing")
  }
}
