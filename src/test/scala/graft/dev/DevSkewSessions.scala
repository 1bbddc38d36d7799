package graft

// Hot-key sessionization audit — measures the core session operator's one
// named 100 TB risk (Sessions.scala scaladoc): a user holding ~90% of all
// events (generator1.py:51's phase-4 shape, a 100k burst on user "4",
// taken to 10M). Plain groupBy(user_id, session_window) funnels the hot
// key through ONE reducer; this runner prices that straggler against the
// two-phase saltedSessionAgg fold and (optionally) the timer machine.
//
//   builtin  — Sessions.sessionAgg (MergingSessionsExec, one reducer for
//              the hot key)
//   salted   — Sessions.saltedSessionAgg (pre-fold per (user, slice) →
//              island merge over partial sessions)
//   timer    — TimerSessions bounded-disorder replay (pass "timer" to run;
//              the streaming machine keys by user too, so the hot key is
//              one task there as well)
//
// Results must agree exactly — the runner asserts salted ≡ builtin before
// printing timings. Args: [nEvents] [hotPermille] ["timer"] ["stream"]
import org.apache.spark.sql.functions._

object DevSkewSessions {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val hotPermille = args.drop(1).headOption.map(_.toInt).getOrElse(900)
    val spark = SparkEntry.session()
    // hotPermille/1000 of events on user 4, the rest across 50k users
    val ev = ScaleCorpus.stored(ScaleCorpus.eventTable(ScaleCorpus.events(spark, n,
        when(pmod(xxhash64(col("id") + 3), lit(1000)) < hotPermille, lit(4L))
          .otherwise(ScaleCorpus.uniformUser(50000L))), lit("view")),
      s"/tmp/skew_sess_events_${n}_$hotPermille", reuse = true)
    val prof = graft.operators.Sketches.skewProfile(ev).head()
    println(s"[skewsess] n=$n hot=${hotPermille}‰ skew_ratio=${prof.getAs[Double]("skew_ratio")} " +
      s"max_key_rows=${prof.getAs[Long]("max_key_rows")} needs_salting=${prof.getAs[Boolean]("needs_salting")}")
    def time(name: String)(f: => Long): Unit = {
      ScaleCorpus.time(name, n, "events")(f)
      ScaleCorpus.freeCached()
    }
    // 30 s gap on a 90%-hot 10M/30-day corpus ⇒ the hot user's mean
    // spacing (~0.29 s) keeps it in a handful of giant sessions — the
    // worst case for the one-reducer fold and exactly the phase-4 burst
    // shape; the salted fold's merge frame is span/slice ≈ 720 partials.
    val gapSec = 30L
    // warmups (codegen + scheduler)
    val warm = ev.filter(col("event_id") % 100 === 0)
    graft.operators.Sessions.sessionAgg(warm, lit(s"$gapSec seconds")).count()
    graft.operators.Sessions.saltedSessionAgg(warm, gapSec).count()
    // parity gate before any timing claim
    val a = graft.operators.Sessions.sessionAgg(ev, lit(s"$gapSec seconds"))
    val b = graft.operators.Sessions.saltedSessionAgg(ev, gapSec)
    val diff = a.unionAll(b)
      .groupBy(col("user_id"), col("session_start"), col("session_end"),
        col("event_count"), col("session_sum"), col("session_avg"))
      .count().filter(col("count") =!= 2).count()
    require(diff == 0, s"salted/builtin mismatch: $diff rows")
    println("[skewsess] parity: salted == builtin")
    time("builtin")(graft.operators.Sessions
      .sessionAgg(ev, lit(s"$gapSec seconds")).queryExecution.toRdd.count())
    time("salted_1h")(graft.operators.Sessions
      .saltedSessionAgg(ev, gapSec, 3600L).queryExecution.toRdd.count())
    time("salted_10m")(graft.operators.Sessions
      .saltedSessionAgg(ev, gapSec, 600L).queryExecution.toRdd.count())
    if (args.contains("timer"))
      time("timer_replay")(graft.streaming.TimerSessions
        .replayTimerSessions(ev, gapSec).queryExecution.toRdd.count())
    // streaming twins under the bounded-disorder replay harness (4 slices
    // ≈ 2.5M-event micro-batches at 10M): builtin session_window streams
    // the hot key through ONE state-store partition per micro-batch;
    // the salted foreachBatch loop pre-folds per (user, slice) and
    // island-merges against the open-partials table. Parity is asserted
    // against the batch fold before the salted timing claim.
    if (args.contains("stream")) {
      // fixed harness cost both streaming rows pay: render the 4 replay
      // slices (one 10M-row write) + read them back once
      time("replay_render")({
        val r = graft.streaming.StreamingSessions
          .writeReplaySlices(ev, 300L * 1000000, 4)
        val nr = spark.read.parquet(r.resolve("in").toString).count()
        graft.streaming.StreamingSessions.deleteRecursively(r)
        nr
      })
      val saltedStream = graft.streaming.SaltedSessionStream
        .replaySaltedSessions(ev, lit(s"$gapSec seconds"), slices = 4)
      val sdiff = a.unionAll(saltedStream)
        .groupBy(col("user_id"), col("session_start"), col("session_end"),
          col("event_count"), col("session_sum"), col("session_avg"))
        .count().filter(col("count") =!= 2).count()
      require(sdiff == 0, s"salted-stream/builtin mismatch: $sdiff rows")
      println("[skewsess] parity: salted_stream == builtin batch")
      time("salted_stream")(graft.streaming.SaltedSessionStream
        .replaySaltedSessions(ev, lit(s"$gapSec seconds"), slices = 4).count())
      time("builtin_stream")(graft.streaming.StreamingSessions
        .replayOutOfOrder(ev, lit(s"$gapSec seconds"), slices = 4).count())
    }
    spark.stop()
  }
}
