package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Sessions
import graft.streaming.{StreamingSessions, StreamingSketches}

case class Ev(ts: java.sql.Timestamp, user_id: Long, value: Double)

/** [[Ev]] with a nullable value — the null-sum session contract. */
case class EvOpt(ts: java.sql.Timestamp, user_id: Long, value: Option[Double])

/** Event keyed by id — the dedup operators' wire shape. */
case class Ev2(event_id: Long, ts: java.sql.Timestamp, value: Double)

/** Typed event for funnel streams. */
case class EvT(ts: java.sql.Timestamp, user_id: Long, event_type: String)

/** Streaming ≡ batch for the session engine (SURVEY.md §5.2 property). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    Ev(ts("2024-01-01 00:00:00"), 1L, 10.0),
    Ev(ts("2024-01-01 00:00:20"), 1L, 5.0),   // merges (gap 30s)
    Ev(ts("2024-01-01 00:01:00"), 1L, 2.0),   // new session (40s later)
    Ev(ts("2024-01-01 00:00:05"), 2L, 400.0), // user 2, one big session
    Ev(ts("2024-01-01 00:02:00"), 2L, 500.0)) // second qualifying session

  test("memory-source streaming session agg equals batch sessionAgg") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val streamed = StreamingSessions.sessionAggStream(mem.toDF(), lit("30 seconds"))
    val q = streamed.writeStream.format("memory")
      .queryName("sess_out").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
      val want = Sessions.sessionAgg(rows.toDF(), lit("30 seconds"))
        .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
      assert(got == want)
      assert(got.length == 4)
    } finally q.stop()
  }

  test("streaming drift monitor: artifact after N batches equals one-shot build") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val streamed = StreamingSketches.replayHistDaily(events, nBatches = 3)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Sketches.valueHistDailyState(events)
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot,
      "incrementally-maintained day-keyed histogram artifact must equal " +
        "the whole-corpus build (integer vector add is associative)")
    // and the drift readout from the streamed artifact == batch monitor
    val gotDrift = graft.operators.Sketches
      .valueDriftFromState(StreamingSketches.replayHistDaily(events, 4))
      .collect().map(_.toSeq).toSeq
    val wantDrift = graft.operators.Sketches.valueDriftDaily(events)
      .collect().map(_.toSeq).toSeq
    assert(gotDrift == wantDrift)
  }

  test("streamed q-digest equals merge(build(A), build(B)) and keeps the rank bound") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val streamed = StreamingSketches.replayQDigest(events)
      .collect().map(_.toSeq).toSet
    val direct = graft.operators.Sketches.qdigestUpdate(
      graft.operators.Sketches.qdigestState(
        events.filter(pmod(col("event_id"), lit(2)) === 0)),
      events.filter(pmod(col("event_id"), lit(2)) === 1))
      .collect().map(_.toSeq).toSet
    assert(streamed == direct,
      "the foreachBatch fold must land on the two-phase merge artifact " +
        "(first fold re-compresses build(batch0) idempotently)")
    graft.operators.Sketches.qdigestGateStreamed(
      StreamingSketches.replayQDigest(events), events).collect().foreach { r =>
      assert(r.getBoolean(6) && r.getBoolean(7),
        s"streamed artifact breaks the 2t rank bound at q=${r.getLong(0)}")
    }
  }

  test("streamed count-min maintenance is bit-identical to the one-shot build") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val streamed = StreamingSketches.replayCmSketch(docs, nBatches = 3)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Sketches.cmsketchState(docs)
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot,
      "CM vector-add maintenance must reproduce every cell exactly")
  }

  test("persisted CM artifact survives a mid-stream crash: kill + restart, bit-identical") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    withTempRoot("graft_cmrec_") { root =>
      // run 1: injected crash AFTER batch 2's artifact write but BEFORE its
      // offset commit — the replayed batch must overwrite v2 idempotently
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingSketches.replayCmSketchPersisted(docs, root, nBatches = 3,
          failAfterBatch = 2)
      }
      assert(ex.getMessage.contains("injected crash"),
        s"unexpected failure mode: ${ex.getMessage.take(200)}")
      // the crash left v0..v2 on disk and batch 1 uncommitted
      assert(java.nio.file.Files.exists(root.resolve("artifact/v2")))
      assert(!java.nio.file.Files.exists(root.resolve("artifact/v3")))
      // run 2: same root, same checkpoint — resumes at the uncommitted
      // batch, replays it against the PERSISTED v1, finishes the stream
      val recovered = StreamingSketches.replayCmSketchPersisted(docs, root,
        nBatches = 3).collect().map(_.toSeq).toSet
      val oneShot = graft.operators.Sketches.cmsketchState(docs)
        .collect().map(_.toSeq).toSet
      assert(recovered == oneShot,
        "crash-recovered persisted artifact must equal the one-shot build cell-for-cell")
      // resume guard: the same root resumed with a DIFFERENT nBatches must
      // fail fast — the stored input split and checkpoint belong to 3
      assert(intercept[IllegalArgumentException] {
        StreamingSketches.replayCmSketchPersisted(docs, root, nBatches = 4)
      }.getMessage.contains("nBatches"))
    }
  }

  test("persisted MG artifact survives a mid-stream crash: kill + restart, bit-identical") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    withTempRoot("graft_hhrec_") { root =>
      // run 1: injected crash AFTER batch 2's artifact write but BEFORE its
      // offset commit — the replayed batch must overwrite v2 idempotently
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingSketches.replayHeavyHittersPersisted(docs, root, nBatches = 3,
          failAfterBatch = 2)
      }
      assert(ex.getMessage.contains("injected crash"),
        s"unexpected failure mode: ${ex.getMessage.take(200)}")
      assert(java.nio.file.Files.exists(root.resolve("artifact/v2")))
      assert(!java.nio.file.Files.exists(root.resolve("artifact/v3")))
      // run 2: same root, same checkpoint — resumes at the uncommitted batch,
      // replays it against the PERSISTED v1, finishes the stream. MG counter
      // values depend on the batching, so the reference is the LOCALLY-HELD
      // fold over the same 3-way split (replayHeavyHitters), which the
      // recovered persisted run must reproduce row-for-row
      val recovered = StreamingSketches.replayHeavyHittersPersisted(docs, root,
        nBatches = 3).collect().map(_.toSeq).toSet
      val uninterrupted = StreamingSketches.replayHeavyHitters(docs, nBatches = 3)
        .collect().map(_.toSeq).toSet
      assert(recovered == uninterrupted,
        "crash-recovered persisted MG artifact must equal the uninterrupted fold")
      // and the theorem gate over it matches the one-shot gate (the
      // batching-independent contract the vocab_hh_persist oracle relies on)
      val gatePersist = withTempRoot("graft_hhrec2_") { root2 =>
        graft.operators.Sketches
          .heavyHitterGateFrom(StreamingSketches.replayHeavyHittersPersisted(
            docs, root2), docs)
          .collect().map(_.toSeq).toSeq
      }
      val gateOneShot = graft.operators.Sketches.heavyHitterGate(docs)
        .collect().map(_.toSeq).toSeq
      assert(gatePersist == gateOneShot,
        "MG gate over the persisted artifact must be batching-independent")
    }
  }

  test("persisted q-digest artifact survives a mid-stream crash and keeps the rank bound") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    withTempRoot("graft_qdrec_") { root =>
      // run 1: injected crash AFTER batch 1's artifact write but BEFORE its
      // offset commit — the replayed batch must overwrite v1 idempotently
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingSketches.replayQDigestPersisted(events, root,
          failAfterBatch = 1)
      }
      assert(ex.getMessage.contains("injected crash"),
        s"unexpected failure mode: ${ex.getMessage.take(200)}")
      assert(java.nio.file.Files.exists(root.resolve("artifact/v1")))
      assert(!java.nio.file.Files.exists(root.resolve("artifact/v2")))
      // run 2: same root, same checkpoint — resumes at the uncommitted
      // batch, replays it against the PERSISTED v0, finishes the stream.
      // The deterministic split + compression walk make recovery exact: the
      // recovered artifact equals the in-memory streamed fold node-for-node
      val recovered = StreamingSketches.replayQDigestPersisted(events, root)
      assert(recovered.collect().map(_.toSeq).toSet ==
        StreamingSketches.replayQDigest(events).collect().map(_.toSeq).toSet,
        "crash-recovered persisted q-digest must equal the uninterrupted fold")
      // and — the property that distinguishes this sketch's contract — the
      // recovered artifact still satisfies the merged 2t-per-node rank-slack
      // gate (bound-equivalence, not value-exactness, is what q-digest ships)
      graft.operators.Sketches.qdigestGateStreamed(recovered, events)
        .collect().foreach { r =>
          assert(r.getBoolean(6) && r.getBoolean(7),
            s"recovered artifact breaks the 2t rank bound at q=${r.getLong(0)}")
        }
    }
  }

  test("persisted SQ8 code table survives a mid-stream crash, equals the one-shot encode") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    withTempRoot("graft_sqrec_") { root =>
      // run 1: crash AFTER batch 1 appends its encodes but BEFORE the
      // offset commit — the replayed batch must overwrite v1 idempotently
      // (the append fold is a pure function of (stored table, batch slice))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingSketches.replaySqEncodePersisted(emb, root, failAfterBatch = 1)
      }
      assert(ex.getMessage.contains("injected crash"),
        s"unexpected failure mode: ${ex.getMessage.take(200)}")
      assert(java.nio.file.Files.exists(root.resolve("artifact/v1")))
      assert(!java.nio.file.Files.exists(root.resolve("artifact/v2")))
      // run 2: same root + checkpoint — the recovered code table must equal
      // the one-shot incremental encode row-for-row (frozen bounds make
      // every code batch-order-independent)
      val recovered = StreamingSketches.replaySqEncodePersisted(emb, root)
      assert(recovered.collect().map(_.toSeq).toSet ==
        graft.operators.Similarity.sqEncodeIncremental(emb)
          .collect().map(_.toSeq).toSet,
        "crash-recovered SQ8 code table must equal the one-shot encode")
    }
  }

  test("streamed HLL vocab artifact estimates exactly match the one-shot build") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val streamed = graft.operators.Sketches.vocabSketchEstimates(
      StreamingSketches.replayVocabSketch(docs, nBatches = 3))
      .collect().map(_.toSeq).toSeq
    val oneShot = graft.operators.Sketches.vocabSketchEstimates(
      graft.operators.Sketches.vocabSketchState(docs))
      .collect().map(_.toSeq).toSeq
    assert(streamed == oneShot,
      "register-wise-max union must make any batching land on the same sketch")
  }

  test("streamed Misra–Gries artifact keeps the MG theorems per source") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    graft.operators.Sketches.heavyHitterGateFrom(
      StreamingSketches.replayHeavyHitters(docs, nBatches = 3), docs)
      .collect().foreach { r =>
        assert(r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5) &&
          r.getBoolean(6),
          s"${r.getString(0)}: an MG bound broke under streamed maintenance")
      }
  }

  test("session windows support append + complete; update mode is rejected at analysis") {
    // output-mode contract pin: Spark's session-window streaming
    // aggregation supports Append (emit on close — the reference's
    // behavior) and Complete (dashboard snapshot, covered above), and
    // REJECTS Update, because a merged session can't be keyed back to
    // the row it updates. A library user should hit a clear analysis
    // error, not silent misbehavior — this pins the error class.
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      StreamingSessions.sessionAggStream(mem.toDF(), lit("30 seconds"))
        .writeStream.format("memory").queryName("upd_sess")
        .outputMode("update").start()
    }
    assert(e.getCondition == "STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION",
      s"unexpected error class: ${e.getCondition}")
  }

  test("streaming dynamic-gap sessions equal batch (reference bands)") {
    implicit val sc = spark.sqlContext
    // 90s spacing: merges for users 9999 (5min) and 5 (2min), splits for
    // 150 (60s) and 42 (30s) — same fixture as the batch SessionsSpec
    val dynRows = Seq(9999L, 5L, 150L, 42L).flatMap(u => Seq(
      Ev(ts("2024-01-01 00:00:00"), u, 1.0),
      Ev(ts("2024-01-01 00:01:30"), u, 2.0)))
    val mem = MemoryStream[Ev]
    val streamed = StreamingSessions.sessionAggStream(
      mem.toDF(), Sessions.referenceDynamicGap)
    val q = streamed.writeStream.format("memory")
      .queryName("dyn_sess").outputMode("complete").start()
    try {
      mem.addData(dynRows: _*)
      q.processAllAvailable()
      val got = spark.table("dyn_sess")
        .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
      val want = Sessions.sessionAgg(dynRows.toDF(), Sessions.referenceDynamicGap)
        .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
      assert(got == want)
      assert(got.length == 6) // 1 + 1 + 2 + 2 sessions
    } finally q.stop()
  }

  test("watermark: closed sessions emit once; later-than-watermark data is dropped") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val streamed = StreamingSessions.sessionAggStream(
      mem.toDF(), lit("2 hours"), delay = "10 minutes")
    val q = streamed.writeStream.format("memory")
      .queryName("wm_sess").outputMode("append").start()
    try {
      // batch 1: user 1's session + a far-future event to advance the
      // watermark past that session's close (end 02:10 < wm 05:50)
      mem.addData(
        Ev(ts("2024-01-01 00:00:00"), 1L, 1.0),
        Ev(ts("2024-01-01 00:10:00"), 1L, 2.0),
        Ev(ts("2024-01-01 06:00:00"), 99L, 1.0))
      q.processAllAvailable()
      // batch 2: a late event for user 1, far behind the watermark —
      // must NOT reopen or duplicate the already-emitted session
      mem.addData(Ev(ts("2024-01-01 00:05:00"), 1L, 50.0))
      q.processAllAvailable()
      val u1 = spark.table("wm_sess").filter(col("user_id") === 1L).collect()
      assert(u1.length == 1, "session emitted exactly once in append mode")
      assert(u1.head.getAs[Long]("event_count") == 2L, "late event dropped")
      assert(u1.head.getAs[Double]("session_sum") == 3.0)
    } finally q.stop()
  }

  test("out-of-order replay with watermark reproduces batch sessionization") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val got = StreamingSessions.replayOutOfOrder(events, lit("30 seconds"))
      .collect().map(_.toSeq).toSeq
    val want = Sessions.sessionAgg(events, lit("30 seconds"))
      .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("out-of-order replay of sliding windows reproduces the batch rollup") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val got = StreamingSessions.replaySlidingOutOfOrder(events)
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.Relational.slidingActivity(events)
      .orderBy("w_start").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("out-of-order replay of keyed tumbling windows reproduces batch") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val got = StreamingSessions.replayTumblingByTypeOutOfOrder(events)
      .collect().map(_.toSeq).toSeq
    val want = events.groupBy(date_trunc("day", col("ts")).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (round(sum(col("value")) * 100, 0) / 100.0).as("sum_value"))
      .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("replay does not drop rows whose jitter key is null") {
    import spark.implicits._
    // a null event_id (or ts) nulls the replay key; the range split must
    // still ship the row (slice 1), not shunt it into a Hive default
    // partition the file mover ignores — the downstream watermark stage,
    // not the harness, decides its fate (sessionAgg keeps null event_id)
    val base = (1L to 10L).map(i =>
      (Some(i), ts(f"2024-01-01 00:00:${i}%02d"), 7L, "view", 1.0, "{}"))
    val events = (base :+ ((Option.empty[Long],
      ts("2024-01-01 00:00:30"), 7L, "view", 5.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = StreamingSessions.replayOutOfOrder(events, lit("2 minutes"))
      .collect().map(_.toSeq).toSeq
    val want = Sessions.sessionAgg(events, lit("2 minutes"))
      .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
    assert(got == want)
    // the null-event_id row's value must be inside the session: 11 events
    // summing 15.0 (10 x 1.0 + the null-keyed 5.0)
    assert(got.exists(r => r.contains(11L) && r.contains(15.0)),
      s"null-keyed row lost from the replayed session: $got")
  }

  test("checkpoint recovery: restart resumes session state, no dup/lost sessions") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    withTempRoot("graft_ckpt_") { root =>
      val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
      val ckpt = root.resolve("ckpt").toString
      val dataCols = events.columns.map(col)
      val sliced = events.withColumn("slice",
        ntile(4).over(Window.orderBy(col("ts"), col("event_id"))))
      // a fault-tolerant (file) sink: the memory sink rejects checkpoint
      // recovery by design, the parquet sink's transaction log is what
      // gives exactly-once across restarts — the property under test
      val outDir = root.resolve("out").toString
      def runOnce(): Unit = {
        val src = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        val q = StreamingSessions.sessionAggStream(src, lit("30 seconds"))
          .writeStream.format("parquet").outputMode("append")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // phase 1: two slices, then the query STOPS (AvailableNow drains)
      (1 to 2).foreach(i => StreamingSessions.appendReplayFile(
        sliced.filter(col("slice") === i).select(dataCols: _*), inDir, i))
      runOnce()
      val part1 = spark.read.parquet(outDir).collect().map(_.toSeq).toSet
      // phase 2: remaining slices + watermark flush sentinels, RESTART from
      // the same checkpoint — offsets, watermark, and open-session state
      // must all resume
      val maxTs = events.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      (3 to 4).foreach(i => StreamingSessions.appendReplayFile(
        sliced.filter(col("slice") === i).select(dataCols: _*), inDir, i))
      (1 to 2).foreach(i => StreamingSessions.appendReplayFile(
        StreamingSessions.flushFrame(events, maxTs, i), inDir, 4 + i))
      runOnce()
      val part2 = spark.read.parquet(outDir).collect().map(_.toSeq).toSet -- part1
      assert(part1.nonEmpty && part2.nonEmpty, "both runs should emit sessions")
      assert((part1 & part2).isEmpty, "restart must not re-emit sessions")
      val got = (part1 | part2).filter(_.head != StreamingSessions.FlushUser)
      val want = Sessions.sessionAgg(events, lit("30 seconds"))
        .collect().map(_.toSeq).toSet
      assert(got == want, "union across restart must equal batch sessionization")
    }
  }

  test("stream-stream interval join equals the batch range join") {
    import org.apache.spark.sql.streaming.Trigger
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    withTempRoot("graft_ssj_") { root =>
      val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
      // two slice files -> the join must match across micro-batches too
      val sliced = events.withColumn("slice",
        ntile(2).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
      val dataCols = events.columns.map(col)
      (1 to 2).foreach(i => StreamingSessions.appendReplayFile(
        sliced.filter(col("slice") === i).select(dataCols: _*), inDir, i))
      val src = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      spark.catalog.dropTempView("ssj_out")
      val q = StreamingSessions.purchaseErrorPairsStream(src)
        .writeStream.format("memory").queryName("ssj_out").outputMode("append")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("ssj_out").collect().map(_.toSeq).toSet
      val want = graft.operators.Relational.purchaseErrorPairs(events)
        .collect().map(_.toSeq).toSet
      assert(got.nonEmpty)
      assert(got == want, "stream-stream interval join must equal batch")
    }
  }

  test("stream-static enrichment replay under disorder equals the batch rollup") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    val got = StreamingSessions
      .replayEnrichedSegmentsOutOfOrder(events, customer)
      .collect().map(_.toSeq).toSeq
    val want = events.filter(col("ts").isNotNull)
      .join(customer.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment")), "user_id")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        (sum(expr("cast(round(value * 100, 0) as bigint)")) / 100.0)
          .as("sum_value"))
      .select(col("day"), col("segment"), col("n_events"), col("sum_value"))
      .orderBy(col("day"), col("segment"))
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want, "stream-static join replay must equal the batch join")
  }

  test("stream-stream interval join under bounded disorder equals batch") {
    // the full W3/W4 replay harness (jittered arrival < watermark delay):
    // join state eviction must never race a delayed partner row
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val got = StreamingSessions.replayIntervalJoinOutOfOrder(events)
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.Relational.purchaseErrorPairs(events)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want,
      "disordered replay must reproduce the ordered batch pair list")
  }

  test("streaming big-customer alert fires once per user (keep-first)") {
    // the dedup operator is driven by a stream of closed sessions (in the
    // full pipeline the upstream session agg emits those on window close)
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[SessRow]
    val alerts = StreamingSessions.bigCustomerAlertStream(mem.toDF(), 300.0)
    val q = alerts.writeStream.format("memory")
      .queryName("alert_out").outputMode("append").start()
    try {
      mem.addData(
        SessRow(2L, 400.0), SessRow(1L, 10.0))
      q.processAllAvailable()
      mem.addData(SessRow(2L, 500.0)) // second qualifying session, later batch
      q.processAllAvailable()
      val got = spark.table("alert_out").collect()
      assert(got.length == 1, "exactly one alert despite two qualifying sessions")
      assert(got.head.getAs[Long]("user_id") == 2L)
      assert(got.head.getAs[Double]("session_sum") == 400.0, "first session wins")
    } finally q.stop()
  }
}

case class SessRow(user_id: Long, session_sum: Double)

/** Explicit keyed-state alert (flatMapGroupsWithState) + report render. */
class StatefulAlertSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.{AlertInput, StreamingSessions}

  test("alertOnceStateful: one alert per user, suppressed repeats counted") {
    implicit val sc = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AlertInput]
    val q = StreamingSessions.alertOnceStateful(mem.toDS(), 300.0)
      .writeStream.format("memory").queryName("state_alerts")
      .outputMode("append").start()
    try {
      mem.addData(AlertInput(1L, 400.0), AlertInput(2L, 10.0))
      q.processAllAvailable()
      mem.addData(AlertInput(1L, 999.0), AlertInput(2L, 350.0))
      q.processAllAvailable()
      val got = spark.table("state_alerts").orderBy("user_id").collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(got.head.getAs[Double]("first_qualifying_sum") == 400.0)
    } finally q.stop()
  }

  test("alertOnceTws: transformWithState emission-parity with flatMapGroupsWithState") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AlertInput]
    val q = StreamingSessions.alertOnceTws(mem.toDS(), 300.0)
      .writeStream.format("memory").queryName("tws_alerts")
      .outputMode("append").start()
    try {
      // the SAME batches the flatMapGroupsWithState test feeds — the two
      // APIs must be emission-for-emission identical
      mem.addData(AlertInput(1L, 400.0), AlertInput(2L, 10.0))
      q.processAllAvailable()
      mem.addData(AlertInput(1L, 999.0), AlertInput(2L, 350.0))
      q.processAllAvailable()
      // a third batch re-qualifying both users must emit nothing at all
      mem.addData(AlertInput(1L, 500.0), AlertInput(2L, 500.0))
      q.processAllAvailable()
      val got = spark.table("tws_alerts").orderBy("user_id").collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L),
        "one alert per user, ever — across three micro-batches")
      assert(got.head.getAs[Double]("first_qualifying_sum") == 400.0)
      assert(got.head.getAs[Long]("n_suppressed") == 0L,
        "user 1's first batch had exactly one qualifying session")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("replayAlertTws: streamed transformWithState alert set equals the batch rule") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val streamed = StreamingSessions
      .replayAlertTws(ev, lit("2 hours"), 300.0)
      .collect().map(_.getLong(0)).toSet
    val batch = graft.operators.Sessions.sessionAgg(ev, lit("2 hours"))
      .filter(col("session_sum") >= 300.0)
      .select(col("user_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"alert sets must coincide (${streamed.size} vs ${batch.size})")
    assert(batch.nonEmpty, "fixture must actually produce alerts")
  }

  test("watermark-bounded dedup: in-window duplicates drop, evicted keys re-admit") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev2]
    val q = StreamingSessions.dedupWithinWatermark(mem.toDF(), "10 seconds")
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      mem.addData(Ev2(1L, ts("2024-01-01 00:00:00"), 1.0))
      q.processAllAvailable()
      // same event_id redelivered within the watermark window: dropped
      mem.addData(Ev2(1L, ts("2024-01-01 00:00:02"), 1.0))
      q.processAllAvailable()
      assert(spark.table("wm_dedup").count() == 1,
        "in-window duplicate must be dropped")
      // push the watermark far past event 1's eviction point...
      mem.addData(Ev2(2L, ts("2024-01-01 01:00:00"), 1.0))
      q.processAllAvailable()
      // ...then redeliver id 1 with a fresh in-window timestamp: state was
      // evicted, so it re-admits — the documented retention trade
      mem.addData(Ev2(1L, ts("2024-01-01 01:00:01"), 1.0))
      q.processAllAvailable()
      val ids = spark.table("wm_dedup").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 1L, 2L),
        s"post-eviction redelivery re-admits (got $ids)")
    } finally q.stop()
  }

  test("TTL retention dedup: admit once per window, expiry re-admits across restart") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import graft.streaming.RetentionDedup
    // ProcessingTime mode schedules batches continuously, so
    // processAllAvailable never quiesces — each step is one bounded
    // Trigger.Once run against a shared checkpoint (which also proves the
    // TTL clock and state survive a restart); the memory sink can't
    // recover a checkpoint, so admissions append to parquet via
    // foreachBatch
    def run(mem: MemoryStream[Long], retention: java.time.Duration,
            out: java.nio.file.Path, ckpt: java.nio.file.Path): Long = {
      val q = RetentionDedup.admitOncePer(mem.toDS(), retention)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[graft.streaming.Admission],
                       id: Long) =>
          df.write.mode("append").parquet(out.toString))
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      q.awaitTermination()
      spark.read.parquet(out.toString).count()
    }
    try withTempRoot("graft_ttl_") { root =>
      // long retention: once-ever across batches and a restart
      val memA = MemoryStream[Long]
      val ckA = java.nio.file.Files.createDirectories(root.resolve("a"))
      val outA = java.nio.file.Files.createDirectories(root.resolve("a_out"))
      memA.addData(7L, 7L, 8L)
      assert(run(memA, java.time.Duration.ofHours(1), outA, ckA) == 2L)
      val first = spark.read.parquet(outA.toString).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(first == Map(7L -> 2L, 8L -> 1L),
        s"one admission per key, batch counts exact (got $first)")
      memA.addData(7L, 8L)
      assert(run(memA, java.time.Duration.ofHours(1), outA, ckA) == 2L,
        "unexpired keys stay suppressed across the restart (no new rows)")
      // tiny retention: the key re-admits once the state store expired it
      val memB = MemoryStream[Long]
      val ckB = java.nio.file.Files.createDirectories(root.resolve("b"))
      val outB = java.nio.file.Files.createDirectories(root.resolve("b_out"))
      memB.addData(7L)
      assert(run(memB, java.time.Duration.ofMillis(1), outB, ckB) == 1L)
      Thread.sleep(300) // safely past the 1 ms TTL
      memB.addData(7L)
      assert(run(memB, java.time.Duration.ofMillis(1), outB, ckB) == 2L,
        "expired key must re-admit in the next retention window")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("funnel coverage (MapState): completes once across batches, equals batch rule") {
    implicit val sc = spark.sqlContext
    import graft.streaming.{FunnelCoverage, StepEvent}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[StepEvent]
    val q = FunnelCoverage.coverageStream(mem.toDF()
        .withColumnRenamed("step", "event_type"), Seq("view", "cart", "buy"))
      .writeStream.format("memory").queryName("funnel_done")
      .outputMode("append").start()
    try {
      // batch 1: user 1 does view+cart; user 2 only view; user 3 does all
      // three plus an off-funnel step that must not count
      mem.addData(StepEvent(1L, "view"), StepEvent(1L, "cart"),
        StepEvent(2L, "view"), StepEvent(3L, "view"), StepEvent(3L, "cart"),
        StepEvent(3L, "buy"), StepEvent(3L, "refund"))
      q.processAllAvailable()
      assert(spark.table("funnel_done").collect().map(_.getLong(0)).toSeq == Seq(3L),
        "only user 3 has covered the funnel after batch 1")
      // batch 2: user 1 completes (cross-batch state); user 3 repeats a
      // full pass — no re-emission
      mem.addData(StepEvent(1L, "buy"), StepEvent(3L, "view"),
        StepEvent(3L, "cart"), StepEvent(3L, "buy"))
      q.processAllAvailable()
      val got = spark.table("funnel_done").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 3L), s"one completion per user ever (got $got)")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    // replay on the real fixture == the batch unordered-coverage rule
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val steps = Seq("view", "click", "purchase")
    val streamed = FunnelCoverage.replayCoverage(ev, steps)
      .collect().map(_.getLong(0)).toSet
    val batch = ev.filter(col("user_id").isNotNull &&
        col("event_type").isin(steps.map(lit): _*))
      .groupBy(col("user_id"))
      .agg(count_distinct(col("event_type")).as("n"))
      .filter(col("n") === steps.size)
      .collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"completion set must equal batch coverage (${streamed.size} vs ${batch.size})")
  }

  test("ordered funnel: a late earlier first-step event rewrites the chain") {
    implicit val sc = spark.sqlContext
    import graft.streaming.TimerFunnel
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EvT]
    val q = TimerFunnel.orderedFunnelStream(mem.toDF(),
        Seq("view", "click", "purchase"), 1800L, "1 hour")
      .writeStream.format("memory").queryName("funnel_rewrite")
      .outputMode("append").start()
    try {
      // user 1 arrives steps-first: click+purchase land BEFORE any view —
      // nothing to chain from yet. user 2 looks like depth 2 (view 10:00,
      // click 10:05 within the 30 min window).
      mem.addData(
        EvT(ts("2024-01-01 10:00:00"), 1L, "click"),
        EvT(ts("2024-01-01 10:10:00"), 1L, "purchase"),
        EvT(ts("2024-01-01 10:00:00"), 2L, "view"),
        EvT(ts("2024-01-01 10:05:00"), 2L, "click"))
      q.processAllAvailable()
      // late batch, still inside the 1 h watermark delay: user 1's view
      // at 09:50 CREATES a depth-3 chain; user 2's EARLIER view at 09:00
      // becomes the greedy t1 and BREAKS the chain (10:05 is outside
      // (09:00, 09:30]) — depth drops from the apparent 2 to 1
      mem.addData(
        EvT(ts("2024-01-01 09:50:00"), 1L, "view"),
        EvT(ts("2024-01-01 09:00:00"), 2L, "view"))
      q.processAllAvailable()
      assert(spark.table("funnel_rewrite").count() == 0,
        "nothing is final while the watermark can still admit rewrites")
      // watermark push: 13:00 − 1 h = 12:00, past both deadlines
      mem.addData(EvT(ts("2024-01-01 13:00:00"), 9L, "signup"))
      q.processAllAvailable()
      val got = spark.table("funnel_rewrite")
        .filter(col("user_id") < 9).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 3L, 2L -> 1L),
        s"late views must rewrite both chains (got $got)")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("ordered funnel (timers): replayed chain depths equal the batch windowFunnel") {
    import graft.streaming.TimerFunnel
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // 48 h step window: the fixture's median per-user gap is ~7.4 h, so
    // the default 30 min would leave every user at depth 1 and never
    // exercise the chaining (or the late-event chain-rewrite) logic
    val wSec = 172800L
    val got = TimerFunnel.replayOrderedFunnel(ev, stepWithinSec = wSec)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.operators.Relational.windowFunnel(ev, stepWithinSec = wSec)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty && want.keySet.size > 1,
      "fixture must exercise more than one funnel depth")
    assert(got == want,
      s"streamed funnel histogram must equal batch greedy chaining " +
        s"(got $got, want $want)")
  }

  test("timer sessions: replayed transformWithState timers reproduce batch sessionization") {
    import graft.streaming.TimerSessions
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val got = TimerSessions.replayTimerSessions(ev, 30L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.get(4), r.get(5))).toSet
    val want = graft.operators.Sessions.sessionAgg(ev, lit("30 seconds"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.get(4), r.get(5))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"timer-built sessions must equal gap-and-islands batch " +
        s"(${got.size} vs ${want.size}; missing=${(want -- got).take(3)}; " +
        s"extra=${(got -- want).take(3)})")
  }

  test("timer sessions: all-null-value session surfaces a null sum, like batch sum()") {
    import graft.streaming.TimerSessions
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EvOpt]
    val q = TimerSessions.timerSessionStream(mem.toDF(), 30L, "0 seconds")
      .writeStream.format("memory").queryName("timer_null_sessions")
      .outputMode("append").start()
    try {
      // user 1: two null values (the fixture has none — this is the case
      // where a naive 0-cents fold would diverge from batch sum() = null);
      // user 2: one real + one null value (null still counts, adds nothing)
      mem.addData(
        EvOpt(ts("2024-01-01 00:00:00"), 1L, None),
        EvOpt(ts("2024-01-01 00:00:10"), 1L, None),
        EvOpt(ts("2024-01-01 00:00:00"), 2L, Some(1.0)),
        EvOpt(ts("2024-01-01 00:00:10"), 2L, None))
      q.processAllAvailable()
      // far-future row pushes the watermark past both session ends
      mem.addData(EvOpt(ts("2024-01-02 00:00:00"), 9L, Some(0.0)))
      q.processAllAvailable()
      val got = spark.table("timer_null_sessions")
        .filter(col("user_id") < 9).orderBy("user_id").collect()
      assert(got.length == 2, s"both sessions must close; got ${got.length}")
      assert(got(0).getLong(0) == 1L && got(0).isNullAt(4) && got(0).isNullAt(5),
        "all-null session: sum and avg must be NULL")
      assert(got(0).getLong(3) == 2L, "null-value events still count")
      assert(got(1).getLong(0) == 2L && got(1).getDouble(4) == 1.0
        && got(1).getDouble(5) == 0.5,
        "mixed session: sum 1.0 over 2 events, half-up avg 0.50")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("timer sessions: dynamic per-user gap bands reproduce the batch W2 result") {
    import graft.streaming.TimerSessions
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val got = TimerSessions.replayTimerSessionsDynamic(ev)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.get(4), r.get(5))).toSet
    val want = graft.operators.Sessions.sessionAgg(ev,
        graft.operators.Sessions.referenceDynamicGap)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.get(4), r.get(5))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"dynamic timer sessions must equal builtin dynamic session_window " +
        s"(${got.size} vs ${want.size}; missing=${(want -- got).take(3)}; " +
        s"extra=${(got -- want).take(3)})")
  }

  test("heavy hitters: one crossing per key across batches, equals batch HAVING") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingSessions.heavyHittersStream(mem.toDF(), 3L)
      .writeStream.format("memory").queryName("heavy_hits")
      .outputMode("append").start()
    try {
      // batch 1: user 1 twice, user 2 once — nobody crosses
      mem.addData(Ev(ts("2024-01-01 00:00:00"), 1L, 1.0),
        Ev(ts("2024-01-01 00:00:01"), 1L, 1.0),
        Ev(ts("2024-01-01 00:00:02"), 2L, 1.0))
      q.processAllAvailable()
      assert(spark.table("heavy_hits").count() == 0)
      // batch 2: user 1 crosses exactly at 3; user 2 reaches 2
      mem.addData(Ev(ts("2024-01-01 00:01:00"), 1L, 1.0),
        Ev(ts("2024-01-01 00:01:01"), 2L, 1.0))
      q.processAllAvailable()
      // batch 3: user 1 keeps going (no re-emit); user 2 overshoots 2->4
      mem.addData(Ev(ts("2024-01-01 00:02:00"), 1L, 1.0),
        Ev(ts("2024-01-01 00:02:01"), 2L, 1.0),
        Ev(ts("2024-01-01 00:02:02"), 2L, 1.0))
      q.processAllAvailable()
      val got = spark.table("heavy_hits").orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq((1L, 3L), (2L, 4L)),
        s"exact crossing for 1, overshoot count for 2; got ${got.toSeq}")
    } finally q.stop()
    // batch twin on the real fixture: streamed crossing set == HAVING rule
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val expected = ev.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).count().filter(col("count") >= 100)
      .collect().map(_.getLong(0)).toSet
    val mem2 = MemoryStream[Ev]
    val q2 = StreamingSessions.heavyHittersStream(mem2.toDF(), 100L)
      .writeStream.format("memory").queryName("heavy_hits_real")
      .outputMode("append").start()
    try {
      val all = ev.select(col("ts"), col("user_id"), col("value"))
        .collect().map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      val (a, b) = all.splitAt(all.length / 2)
      mem2.addData(a.toSeq); q2.processAllAvailable()
      mem2.addData(b.toSeq); q2.processAllAvailable()
      val streamed = spark.table("heavy_hits_real").collect()
        .map(_.getLong(0)).toSet
      assert(streamed == expected,
        s"streamed crossings must equal batch HAVING (${streamed.size} vs ${expected.size})")
    } finally q2.stop()
  }

  test("report sink renders the reference's fixed-width rows") {
    val df = Seq((4L, 120.5, 40.17)).toDF("user_id", "session_sum", "session_avg")
    val line = graft.sinks.ReportSink.fixedWidth(df).collect().head.getString(0)
    assert(line == "4          120.5           40.17          ")
  }
}

/** File-source twin of S1: a parquet directory drives the same session
  * pipeline that the Kafka topic would.
  */
class FileSourceSpec extends SparkSpec {

  test("parquet file stream through session agg equals the batch result") {
    import org.apache.spark.sql.functions._
    withTempRoot("graft-stream") { root =>
      val dir = root.toString
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
      ev.coalesce(1).write.mode("overwrite").parquet(dir)
      val streamed = graft.streaming.StreamingSessions.sessionAggStream(
        graft.sources.EventSource.parquetStream(spark, dir), lit("2 hours"))
      val q = streamed.writeStream.format("memory")
        .queryName("file_sess").outputMode("complete").start()
      try {
        q.processAllAvailable()
        val got = spark.table("file_sess").count()
        val want = graft.operators.Sessions.sessionAgg(ev, lit("2 hours")).count()
        assert(got == want)
        assert(got > 0)
      } finally q.stop()
    }
  }

  test("streaming exact admission across micro-batches equals whole-corpus dedup") {
    import spark.implicits._
    withTempRoot("graft-stream-dedup") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      // three micro-batches with internal AND cross-batch duplicates
      val batches = Seq(
        Seq((0L, "alpha"), (1L, "beta"), (2L, "alpha")),
        Seq((10L, "beta"), (11L, "gamma"), (12L, "gamma")),
        Seq((20L, "alpha"), (21L, "delta")))
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamingSessions.appendReplayFile(
          b.toDF("doc_id", "text"), in, i)
      }
      graft.streaming.StreamingDedup.exactAdmissionStream(spark,
        in.toString, root.resolve("keys").toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      val got = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      // contract: identical to whole-corpus exact dedup over the union
      val all = batches.flatten.toDF("doc_id", "text")
      val canon = graft.operators.Dedup.exactDedup(all)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val keyOf = all.select(col("doc_id"), md5(col("text")).as("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = batches.flatten.map(_._1).sorted.map { id =>
        (id, canon(keyOf(id)), canon(keyOf(id)) == id)
      }
      assert(got == want)
      // the persisted key table holds exactly the four canonicals
      val keys = spark.read.parquet(root.resolve("keys").toString)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(keys == canon.toSet)
    }
  }

  test("replay-duplicated key table stays bounded: admission joins never fan out") {
    import spark.implicits._
    withTempRoot("graft-stream-replay") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val keys = root.resolve("keys")
      StreamingSessions.appendReplayFile(
        Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text"), in, 0)
      graft.streaming.StreamingDedup.exactAdmissionStream(spark,
        in.toString, keys.toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      // simulate a replayed micro-batch: every key-table file appended twice
      val keyFiles = java.nio.file.Files.list(keys).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
      assert(keyFiles.nonEmpty)
      keyFiles.foreach { f =>
        java.nio.file.Files.copy(f,
          f.resolveSibling("replayed-" + f.getFileName.toString))
      }
      // a later batch joining the corrupted table must still emit exactly
      // one row per batch doc, with the original canonicals
      StreamingSessions.appendReplayFile(
        Seq((10L, "alpha"), (11L, "gamma")).toDF("doc_id", "text"), in, 1)
      graft.streaming.StreamingDedup.exactAdmissionStream(spark,
        in.toString, keys.toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      val out = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .filter(col("doc_id") >= 10L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(out == Seq((10L, 0L, false), (11L, 11L, true)))
    }
  }

  test("exact admission: full replay is a no-op; out-of-order input fails loudly") {
    import spark.implicits._
    withTempRoot("graft-stream-exact-replay") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      Seq(Seq((0L, "alpha"), (1L, "beta")), Seq((10L, "alpha"), (11L, "gamma")))
        .zipWithIndex.foreach { case (bt, i) =>
          StreamingSessions.appendReplayFile(bt.toDF("doc_id", "text"), in, i)
        }
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.exactAdmissionStream(spark,
          in.toString, root.resolve("keys").toString,
          root.resolve("out").toString, root.resolve(ckpt).toString)
      run("ckpt")
      def readOut() = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      val got = readOut()
      assert(got == Seq((0L, 0L, true), (1L, 1L, true),
        (10L, 0L, false), (11L, 11L, true)))
      // replaying the whole stream with a fresh checkpoint (the lost-
      // checkpoint disaster case) previously wedged on the monotone-id
      // guard; with the frontier filter it is a no-op
      run("ckpt2")
      assert(readOut() == got)
      // a genuinely out-of-order batch — an old id with an UNKNOWN text —
      // must fail loudly, not be silently dropped
      StreamingSessions.appendReplayFile(
        Seq((2L, "zeta")).toDF("doc_id", "text"), in, 2)
      val ex = intercept[Exception] { run("ckpt3") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("out-of-order")))
    }
  }

  test("batch-id-keyed output: a replayed batch never duplicates its rows") {
    import spark.implicits._
    withTempRoot("graft-stream-idem") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def run(): Unit = graft.streaming.StreamingDedup.exactAdmissionStream(
        spark, in.toString, root.resolve("keys").toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      StreamingSessions.appendReplayFile(
        Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text"), in, 0)
      run()
      // the crash window the old append-mode writer could NOT survive:
      // batch 1's first attempt committed its output, then died before
      // the key append and the checkpoint commit. Simulate the committed
      // dir, then let the stream process batch 1 "for the first time" —
      // the idempotent writer must keep exactly ONE copy of the rows,
      // not append a duplicate next to them.
      Seq((10L, 0L, false), (11L, 11L, true))
        .toDF("doc_id", "canonical_id", "admitted")
        .write.mode("overwrite")
        .parquet(root.resolve("out").resolve("batch=1").toString)
      StreamingSessions.appendReplayFile(
        Seq((10L, "alpha"), (11L, "gamma")).toDF("doc_id", "text"), in, 1)
      run() // same checkpoint: the next micro-batch id is 1
      val rows = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(rows == Seq((0L, 0L, true), (1L, 1L, true),
        (10L, 0L, false), (11L, 11L, true)),
        s"duplicated or lost output rows: $rows")
      // a crash mid-write leaves an uncommitted (no _SUCCESS) orphan dir;
      // readers skip it — its batch has not committed and will replay
      java.nio.file.Files.createDirectories(
        root.resolve("out").resolve("batch=99"))
      assert(graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString).count() == 4)
    }
  }

  test("partial replay (frontier below batch max) keeps committed output rows") {
    import spark.implicits._
    // the window a naive overwrite writer would corrupt: the crashed
    // attempt's KEY append landed (frontier advanced) but the checkpoint
    // commit did not, and the batch's max-id doc is a duplicate — the
    // replay's effective batch is a nonempty strict subset, so rewriting
    // the batch dir from the subset would destroy the below-frontier
    // docs' committed rows; the committed dir must be kept verbatim
    withTempRoot("graft-stream-partial") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def run(): Unit = graft.streaming.StreamingDedup.exactAdmissionStream(
        spark, in.toString, root.resolve("keys").toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      StreamingSessions.appendReplayFile(
        Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text"), in, 0)
      run()
      // crashed attempt of batch 1 = (10,'gamma') new, (11,'alpha') dup:
      // output committed with the true rows, gamma's key appended, no
      // checkpoint commit
      Seq((10L, 10L, true), (11L, 0L, false))
        .toDF("doc_id", "canonical_id", "admitted")
        .write.mode("overwrite")
        .parquet(root.resolve("out").resolve("batch=1").toString)
      Seq(("gamma", 10L)).toDF("text", "canonical_id")
        .select(md5(col("text")).as("text_key"), col("canonical_id"))
        .write.mode("append").parquet(root.resolve("keys").toString)
      StreamingSessions.appendReplayFile(
        Seq((10L, "gamma"), (11L, "alpha")).toDF("doc_id", "text"), in, 1)
      run() // frontier = 10 -> eff = {11} only
      val rows = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(rows == Seq((0L, 0L, true), (1L, 1L, true),
        (10L, 10L, true), (11L, 0L, false)),
        s"partial replay lost or corrupted rows: $rows")
    }
  }

  test("near-dup partial replay keeps below-frontier output rows") {
    import spark.implicits._
    withTempRoot("graft-stream-nd-partial") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def block(p: String, n: Int) = (0 until n).map(i => s"$p$i")
      val t0 = block("a", 100).mkString(" ")
      val index = root.resolve("index")
      def run(): Unit = graft.streaming.StreamingDedup.nearDupAdmissionStream(
        spark, in.toString, index.toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      StreamingSessions.appendReplayFile(
        Seq((0L, t0), (1L, block("b", 100).mkString(" ")))
          .toDF("doc_id", "text"), in, 0)
      run()
      // crashed attempt of batch 1 = (10, near-dup of doc 0) + (11, a
      // shingle-less doc): EVERY write landed (output, label snapshot,
      // sigs, shingles) except the checkpoint commit. The shingle
      // frontier is 10, so the replay's effective batch is {11} — doc
      // 10's committed row must survive the replay untouched.
      val b1 = Seq((10L, t0), (11L, "x")).toDF("doc_id", "text")
      val bSh = graft.operators.NearDup.shingled(b1)
      graft.operators.NearDup.minhashSignatures(bSh).write.mode("append")
        .parquet(index.resolve("sigs").toString)
      bSh.write.mode("append").parquet(index.resolve("shingles").toString)
      Seq((10L, 0L)).toDF("doc_id", "cluster_id").write.mode("overwrite")
        .parquet(index.resolve("labels").resolve("batch=1").toString)
      Seq((10L, 0L, false), (11L, 11L, true))
        .toDF("doc_id", "cluster_id", "admitted")
        .write.mode("overwrite")
        .parquet(root.resolve("out").resolve("batch=1").toString)
      StreamingSessions.appendReplayFile(b1, in, 1)
      run()
      val rows = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(rows == Seq((0L, 0L, true), (1L, 1L, true),
        (10L, 0L, false), (11L, 11L, true)),
        s"near-dup partial replay lost or corrupted rows: $rows")
    }
  }

  test("near-dup output is replay-idempotent through the same crash window") {
    import spark.implicits._
    withTempRoot("graft-stream-nd-idem") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def block(p: String, n: Int) = (0 until n).map(i => s"$p$i")
      val t0 = block("a", 100).mkString(" ")
      def run(): Unit = graft.streaming.StreamingDedup.nearDupAdmissionStream(
        spark, in.toString, root.resolve("index").toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      StreamingSessions.appendReplayFile(
        Seq((0L, t0), (1L, block("b", 100).mkString(" ")))
          .toDF("doc_id", "text"), in, 0)
      run()
      // orphaned output from batch 1's crashed first attempt (output
      // landed; label snapshot / sigs / shingles did not; no commit)
      Seq((10L, 0L, false), (11L, 11L, true))
        .toDF("doc_id", "cluster_id", "admitted")
        .write.mode("overwrite")
        .parquet(root.resolve("out").resolve("batch=1").toString)
      StreamingSessions.appendReplayFile(
        Seq((10L, t0), (11L, block("c", 100).mkString(" ")))
          .toDF("doc_id", "text"), in, 1)
      run()
      val rows = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(rows == Seq((0L, 0L, true), (1L, 1L, true),
        (10L, 0L, false), (11L, 11L, true)),
        s"duplicated or lost output rows: $rows")
    }
  }

  test("streaming near-dup admission: cross-batch bridge merges reach later batches") {
    import spark.implicits._
    withTempRoot("graft-stream-neardup") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def block(p: String, n: Int) = (0 until n).map(i => s"$p$i")
      val A = block("a", 150); val B = block("b", 150)
      val M = block("m", 150); val F = block("f", 75)
      // batch 0: two far-apart docs (J≈0.33 — below threshold, both admitted)
      // batch 1: a BRIDGE doc similar to both — merges them into cluster 0
      // batch 2: a satellite similar only to doc 5 — must still label 0,
      //          which requires batch 1's merge to have re-pointed 5's
      //          stored label (the cross-batch bridge case)
      val batches = Seq(
        Seq((0L, (A ++ M).mkString(" ")), (5L, (B ++ M).mkString(" "))),
        Seq((10L, (A.drop(50) ++ M ++ B.take(100)).mkString(" "))),
        Seq((11L, (B ++ M.take(75) ++ F).mkString(" "))))
      batches.zipWithIndex.foreach { case (bt, i) =>
        StreamingSessions.appendReplayFile(bt.toDF("doc_id", "text"), in, i)
      }
      val index = root.resolve("index")
      graft.streaming.StreamingDedup.nearDupAdmissionStream(spark,
        in.toString, index.toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      def readOut() = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      val got = readOut()
      assert(got == Seq((0L, 0L, true), (5L, 5L, true),
        (10L, 0L, false), (11L, 0L, false)))
      // per-batch parity with the batch operator run sequentially
      val folded = batches.indices.flatMap { i =>
        val idx = batches.take(i).flatten
        val want =
          if (idx.isEmpty)
            graft.operators.NearDup.nearDupClusters(
              batches(i).toDF("doc_id", "text")) // no index yet; all pairs internal
          else graft.operators.NearDup.incrementalNearDups(
            idx.toDF("doc_id", "text"), batches(i).toDF("doc_id", "text"))
        val m = want.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        batches(i).map(_._1).map(id =>
          (id, m.getOrElse(id, id), m.getOrElse(id, id) == id))
      }.sortBy(_._1)
      assert(got == folded)
      // final label snapshot: sparse store = non-canonical members only;
      // old snapshots pruned (at most two committed versions retained)
      def committedLabelDirs() = java.nio.file.Files
        .list(index.resolve("labels")).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.startsWith("batch=") &&
          java.nio.file.Files.exists(p.resolve("_SUCCESS")))
      assert(committedLabelDirs().size <= 2)
      val lastLab = committedLabelDirs()
        .maxBy(_.getFileName.toString.stripPrefix("batch=").toLong)
      val store = spark.read.parquet(lastLab.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(store == Set((5L, 0L), (10L, 0L), (11L, 0L)))
      // a crash mid-snapshot leaves an UNCOMMITTED higher-numbered dir
      // (no _SUCCESS); readers must ignore it rather than resurrect an
      // empty label store
      val fake = index.resolve("labels").resolve("batch=99")
      java.nio.file.Files.createDirectories(fake)
      // full replay with a fresh checkpoint: every batch falls below the
      // artifact frontier -> empty effective batches, output unchanged
      graft.streaming.StreamingDedup.nearDupAdmissionStream(spark,
        in.toString, index.toString,
        root.resolve("out").toString, root.resolve("ckpt2").toString)
      assert(readOut() == got)
      // the replayed latest committed store still carries the bridge merge
      val store2 = spark.read.parquet(committedLabelDirs()
          .maxBy(_.getFileName.toString.stripPrefix("batch=").toLong).toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(store2 == store)
      // genuinely out-of-order input — an old id with an unknown text —
      // fails loudly instead of being silently dropped
      StreamingSessions.appendReplayFile(
        Seq((1L, block("z", 50).mkString(" "))).toDF("doc_id", "text"), in, 3)
      val ex = intercept[Exception] {
        graft.streaming.StreamingDedup.nearDupAdmissionStream(spark,
          in.toString, index.toString,
          root.resolve("out").toString, root.resolve("ckpt3").toString)
      }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("out-of-order")))
    }
  }

  test("streaming semantic admission: bridge merges, replay no-op, param pin") {
    import spark.implicits._
    withTempRoot("graft-stream-semantic") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      // dim-16 basis vectors on dims 4 and 8: those two dims share the
      // same 6-plane sign pattern in the deterministic plane family, so
      // e4, e8, their normalized sum (the bridge), and a 0.1·e4+0.995·e8
      // satellite all land in ONE LSH bucket — candidate recall is by
      // construction, the test asserts semantics not luck
      def basis(d: Int, x: Double) = Seq.tabulate(16)(i => if (i == d) x else 0.0)
      def add(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x + y }
      val e4 = basis(4, 1.0); val e8 = basis(8, 1.0)
      val bridge = add(basis(4, 0.7071), basis(8, 0.7071))
      val satellite = add(basis(4, 0.1), basis(8, 0.995))
      // batch 0: two orthogonal vectors (cos 0 — both admitted)
      // batch 1: the bridge (cos ≈ .707 to both ≥ .7) merges them
      // batch 2: the satellite (cos ≈ .995 to e8 only among the index)
      //          must still label 0 — requires batch 1's merge to have
      //          re-pointed vec 5's stored label (cross-batch bridge)
      val batches = Seq(
        Seq((0L, e4), (5L, e8)),
        Seq((10L, bridge)),
        Seq((11L, satellite)))
      batches.zipWithIndex.foreach { case (bt, i) =>
        StreamingSessions.appendReplayFile(bt.toDF("vec_id", "embedding"), in, i)
      }
      val index = root.resolve("index")
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.semanticAdmissionStream(spark,
          in.toString, index.toString, root.resolve("out").toString,
          root.resolve(ckpt).toString, 0.7, 6)
      run("ckpt")
      def readOut() = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      val got = readOut()
      assert(got == Seq((0L, 0L, true), (5L, 5L, true),
        (10L, 0L, false), (11L, 0L, false)))
      // per-batch parity with whole-corpus semanticDedup over each prefix
      // union, restricted to the batch — the incremental operator's
      // documented equivalence, now carried by the stream
      val folded = batches.indices.flatMap { i =>
        val union = batches.take(i + 1).flatten.toDF("vec_id", "embedding")
        val ids = batches(i).map(_._1).toSet
        graft.operators.Similarity.semanticDedup(union, 0.7, 6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
          .filter(t => ids(t._1))
      }.sortBy(_._1).toSeq
      assert(got == folded)
      // sparse label store: non-canonical members only, bridge re-point
      // included; snapshots pruned to at most two committed versions
      def committedLabelDirs() = java.nio.file.Files
        .list(index.resolve("labels")).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.startsWith("batch=") &&
          java.nio.file.Files.exists(p.resolve("_SUCCESS")))
      assert(committedLabelDirs().size <= 2)
      val store = spark.read.parquet(committedLabelDirs()
          .maxBy(_.getFileName.toString.stripPrefix("batch=").toLong).toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(store == Set((5L, 0L), (10L, 0L), (11L, 0L)))
      // full replay with a fresh checkpoint: every vector falls below the
      // bucket-artifact frontier -> empty effective batches, output and
      // artifact stores unchanged (duplicate-append absorbed)
      run("ckpt2")
      assert(readOut() == got)
      // parameter drift is refused loudly: same index, different threshold
      val drift = intercept[Exception] { graft.streaming.StreamingDedup
        .semanticAdmissionStream(spark, in.toString, index.toString,
          root.resolve("out").toString, root.resolve("ckpt3").toString,
          0.8, 6) }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(drift).exists(m => m != null && m.contains("parameter drift")))
      // genuinely out-of-order input — an old id never admitted — fails
      // loudly instead of being silently dropped
      StreamingSessions.appendReplayFile(
        Seq((1L, basis(0, 1.0))).toDF("vec_id", "embedding"), in, 3)
      val ex = intercept[Exception] { run("ckpt4") }
      assert(causes(ex).exists(m => m != null && m.contains("out-of-order")))
    }
  }

  test("streaming perceptual admission: parity, replay no-op, param pin") {
    import spark.implicits._
    withTempRoot("graft-stream-perc") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      // batches carry only doc_id — the audio fingerprint fixtures derive
      // entirely from the id. 7 is the planted gain-twin of 0, 17 of 10.
      val batches = Seq(Seq(0L, 1L), Seq(7L, 10L), Seq(17L, 21L))
      batches.zipWithIndex.foreach { case (ids, i) =>
        StreamingSessions.appendReplayFile(ids.toDF("doc_id"), in, i)
      }
      val index = root.resolve("index")
      def run(ckpt: String, r: Int = 3): Unit =
        graft.streaming.StreamingDedup.perceptualAdmissionStream(spark,
          in.toString, index.toString, root.resolve("out").toString,
          root.resolve(ckpt).toString,
          graft.operators.Multimodal.audioFingerprints, "afp", 8, r)
      run("ckpt")
      def readOut() = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      val got = readOut()
      // both planted twins refused against their earlier-batch source
      assert(got.find(_._1 == 7L).get == ((7L, 0L, false)))
      assert(got.find(_._1 == 17L).get == ((17L, 10L, false)))
      // per-batch parity with the BATCH operator on the same prefix split
      val mm = graft.operators.Multimodal
      val folded = batches.indices.flatMap { i =>
        mm.fingerprintAdmission(
          mm.audioFingerprints(batches.take(i).flatten.toDF("doc_id")),
          mm.audioFingerprints(batches(i).toDF("doc_id")), "afp", 8)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      }.sortBy(_._1).toSeq
      assert(got == folded)
      // full replay with a fresh checkpoint: every doc falls below the
      // fingerprint-artifact frontier -> empty effective batches, output
      // unchanged, duplicate artifact appends absorbed by dedupe-on-read
      run("ckpt2")
      assert(readOut() == got)
      val fpCnt = spark.read.parquet(index.resolve("fps").toString)
        .groupBy(col("doc_id")).count().collect()
        .map(r => r.getLong(1)).distinct.sorted
      assert(fpCnt.forall(_ <= 2)) // at most the original + one replay
      // parameter drift (different radius) is refused loudly
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      val drift = intercept[Exception] { run("ckpt3", r = 2) }
      assert(causes(drift).exists(m => m != null && m.contains("parameter drift")))
      // genuinely out-of-order input fails loudly, not silently dropped
      StreamingSessions.appendReplayFile(Seq(2L).toDF("doc_id"), in, 3)
      val ex = intercept[Exception] { run("ckpt4") }
      assert(causes(ex).exists(m => m != null && m.contains("out-of-order")))
    }
  }

  test("perceptual admission detects a torn fingerprint append on replay") {
    import spark.implicits._
    withTempRoot("graft-stream-perc-torn") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val index = root.resolve("index")
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.perceptualAdmissionStream(spark,
          in.toString, index.toString, root.resolve("out").toString,
          root.resolve(ckpt).toString,
          graft.operators.Multimodal.audioFingerprints, "afp", 8)
      StreamingSessions.appendReplayFile(Seq(10L, 11L).toDF("doc_id"), in, 0)
      run("ckpt")
      // simulate the tear: doc 10's fingerprint row vanishes, max (11)
      // stays — its future twins would silently admit; replay must fail
      val fps = index.resolve("fps").toString
      val kept = spark.read.parquet(fps).filter(col("doc_id") =!= 10L)
        .localCheckpoint().collect()
      val schema = spark.read.parquet(fps).schema
      StreamingSessions.deleteRecursively(java.nio.file.Paths.get(fps))
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema)
        .write.parquet(fps)
      val ex = intercept[Exception] { run("ckpt2") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m =>
        m != null && m.contains("torn fingerprint append")))
    }
  }

  test("semantic admission survives the emb-appended/buckets-missing crash window") {
    // a crash between the vector-store append and the bucket (frontier)
    // append leaves the batch's vectors in emb but not in buckets: the
    // frontier still excludes the batch, so it replays in full — the
    // duplicate emb rows must be absorbed by dedupe-on-read, and the
    // stray batch ids in the index vector store must not perturb
    // admission (index membership is decided by the BUCKET table)
    import spark.implicits._
    withTempRoot("graft-stream-sem-crashwin") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val index = root.resolve("index")
      def basis(d: Int, x: Double) = Seq.tabulate(16)(i => if (i == d) x else 0.0)
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.semanticAdmissionStream(spark,
          in.toString, index.toString, root.resolve("out").toString,
          root.resolve(ckpt).toString, 0.7, 6)
      val b0 = Seq((0L, basis(4, 1.0)), (1L, basis(9, 1.0)))
      // vec 10 near-dups vec 0 (same direction, same bucket by the
      // collision construction); vec 11 is a fresh direction
      val b1 = Seq((10L, basis(4, 0.9)), (11L, basis(13, 1.0)))
      StreamingSessions.appendReplayFile(b0.toDF("vec_id", "embedding"), in, 0)
      run("ckpt")
      // simulate batch 1 crashing after its emb append, before buckets
      val b1df = b1.toDF("vec_id", "embedding")
      b1df.select(col("vec_id"), col("embedding").cast("array<double>"))
        .write.mode("append").parquet(index.resolve("emb").toString)
      StreamingSessions.appendReplayFile(b1df, in, 1)
      run("ckpt") // continues from the checkpoint; batch 1 reprocesses
      val got = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(got == Seq((0L, 0L, true), (1L, 1L, true),
        (10L, 0L, false), (11L, 11L, true)))
      // artifacts healed: buckets carry each vector once; emb tolerates
      // the duplicate rows (at most twice) without propagating them
      val bkCnt = spark.read.parquet(index.resolve("buckets").toString)
        .groupBy(col("vec_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bkCnt == Map(0L -> 1L, 1L -> 1L, 10L -> 1L, 11L -> 1L))
      val embCnt = spark.read.parquet(index.resolve("emb").toString)
        .groupBy(col("vec_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(embCnt == Map(0L -> 1L, 1L -> 1L, 10L -> 2L, 11L -> 2L))
    }
  }

  test("semantic admission detects a torn bucket append on replay") {
    // the frontier lives in the bucket artifact's max(vec_id); a torn
    // append that lost a NON-max vector's bucket row would silently
    // never probe that vector again — the artifact-membership layer
    // must fail loudly on the vector's replay
    import spark.implicits._
    withTempRoot("graft-stream-sem-torn") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val index = root.resolve("index")
      def basis(d: Int, x: Double) = Seq.tabulate(16)(i => if (i == d) x else 0.0)
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.semanticAdmissionStream(spark,
          in.toString, index.toString, root.resolve("out").toString,
          root.resolve(ckpt).toString, 0.7, 6)
      StreamingSessions.appendReplayFile(
        Seq((10L, basis(4, 1.0)), (11L, basis(9, 1.0)))
          .toDF("vec_id", "embedding"), in, 0)
      run("ckpt")
      // simulate the tear: vec 10's bucket row vanishes; max stays 11
      val bk = index.resolve("buckets").toString
      val kept = spark.read.parquet(bk).filter(col("vec_id") =!= 10L)
        .localCheckpoint().collect()
      val schema = spark.read.parquet(bk).schema
      StreamingSessions.deleteRecursively(java.nio.file.Paths.get(bk))
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema)
        .write.parquet(bk)
      val ex = intercept[Exception] { run("ckpt2") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("torn bucket append")))
    }
  }

  test("near-dup admission survives the sigs-appended/shingles-missing crash window") {
    import spark.implicits._
    withTempRoot("graft-stream-crashwin") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def block(p: String, n: Int) = (0 until n).map(i => s"$p$i")
      val t0 = block("a", 100).mkString(" ")
      val b0 = Seq((0L, t0), (1L, block("b", 100).mkString(" ")))
      val b1 = Seq((10L, t0), (11L, block("c", 100).mkString(" ")))
      StreamingSessions.appendReplayFile(b0.toDF("doc_id", "text"), in, 0)
      val index = root.resolve("index")
      def run(): Unit = graft.streaming.StreamingDedup.nearDupAdmissionStream(
        spark, in.toString, index.toString,
        root.resolve("out").toString, root.resolve("ckpt").toString)
      run()
      // simulate batch 1 crashing between its two artifact appends: sigs
      // landed, shingles (the frontier artifact) did not — then the batch
      // replays. The frontier still excludes batch 1, the monotone guard
      // checks the shingle artifact (still clean), and the duplicate sig
      // rows are absorbed by the distinct'd candidate join.
      val b1df = b1.toDF("doc_id", "text")
      graft.operators.NearDup
        .minhashSignatures(graft.operators.NearDup.shingled(b1df))
        .write.mode("append").parquet(index.resolve("sigs").toString)
      StreamingSessions.appendReplayFile(b1df, in, 1)
      run() // continues from the checkpoint; batch 1 reprocesses in full
      val got = graft.streaming.StreamingDedup
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(got == Seq((0L, 0L, true), (1L, 1L, true),
        (10L, 0L, false), (11L, 11L, true)))
      // the artifacts healed: shingles carry each doc once, sigs at most
      // twice (the duplicate is tolerated, not propagated further)
      val shCnt = spark.read.parquet(index.resolve("shingles").toString)
        .groupBy(col("doc_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(shCnt == Map(0L -> 1L, 1L -> 1L, 10L -> 1L, 11L -> 1L))
    }
  }

  test("streaming sequence packing equals whole-corpus packSequences") {
    import spark.implicits._
    withTempRoot("graft-stream-pack") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      // token counts chosen so batch boundaries fall mid-sequence (L=8):
      // batch 0 ends at token 11, batch 1 at 21 — both continue a
      // partially-filled sequence
      val batches = Seq(
        Seq((0L, "a b c d e"), (1L, "f g h i j k")),
        Seq((10L, "l m n"), (11L, "o p q r s t u")),
        Seq((20L, "v w x y z")))
      batches.zipWithIndex.foreach { case (bt, i) =>
        StreamingSessions.appendReplayFile(bt.toDF("doc_id", "text"), in, i)
      }
      def run(ckpt: String): Unit =
        graft.streaming.StreamingPack.packAdmissionStream(spark,
          in.toString, root.resolve("state").toString,
          root.resolve("out").toString, root.resolve(ckpt).toString, 8L)
      run("ckpt")
      def readOut() = graft.streaming.StreamingPack
        .readOutput(spark, root.resolve("out").toString)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(r => (r._1, r._2)).toSeq
      val got = readOut()
      val whole = graft.operators.Curation
        .packSequences(batches.flatten.toDF("doc_id", "text"), 8L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      assert(got == whole, "streamed placements differ from the union pack")
      // a batch really continued a mid-sequence boundary
      assert(whole.exists(r => r._2 == 10L && r._4 > 0L))
      // persisted state equals a fresh packState over the union
      val st = graft.streaming.StreamingPack
        .readState(spark, root.resolve("state").toString)
      // 5 docs; max id 20; tokens = 5+6+3+7+5 = 26 (whitespace split)
      assert((st.getLong(0), st.getLong(1), st.getLong(2)) == (5L, 20L, 26L))
      assert(st.getLong(3) == 11L) // frontier before the last batch
      // lost-checkpoint full replay is a no-op: same rows, same state
      run("ckpt2")
      assert(readOut() == got)
      // genuinely out-of-order input (id at or below prev_max) fails
      // loudly instead of silently losing a doc's placement
      StreamingSessions.appendReplayFile(
        Seq((5L, "zz yy")).toDF("doc_id", "text"), in, 3)
      val ex = intercept[Exception] { run("ckpt3") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("out-of-order")))
    }
  }

  test("exact admission detects a torn key append on replay") {
    // a crash mid-job-commit of the key append can advance the frontier
    // while some canonical's key row never became visible; the committed-
    // output check alone cannot see it (the replayed doc HAS an output
    // row) — the key-membership layer must fail loudly
    import spark.implicits._
    withTempRoot("graft-stream-exact-torn") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val keys = root.resolve("keys").toString
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.exactAdmissionStream(spark,
          in.toString, keys, root.resolve("out").toString,
          root.resolve(ckpt).toString)
      StreamingSessions.appendReplayFile(
        Seq((10L, "alpha"), (11L, "beta")).toDF("doc_id", "text"), in, 0)
      run("ckpt")
      // simulate the torn append: doc 10's key row vanishes, the
      // frontier (max canonical 11) stays advanced
      val kept = spark.read.parquet(keys)
        .filter(org.apache.spark.sql.functions.col("canonical_id") =!= 10L)
        .collect()
      StreamingSessions.deleteRecursively(java.nio.file.Paths.get(keys))
      import org.apache.spark.sql.types._
      spark.createDataFrame(java.util.Arrays.asList(kept: _*),
        StructType(Seq(StructField("text_key", StringType),
          StructField("canonical_id", LongType))))
        .write.parquet(keys)
      val ex = intercept[Exception] { run("ckpt2") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("torn key append")))
    }
  }

  test("near-dup admission detects a torn shingle append on replay") {
    // the frontier lives in the shingle artifact's max(doc_id); a torn
    // append that lost a NON-max doc's shingle rows would silently miss
    // every future near-dup against that doc — the artifact-membership
    // layer must fail loudly on the doc's replay
    import spark.implicits._
    withTempRoot("graft-stream-ndup-torn") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val index = root.resolve("index")
      def block(w: String, n: Int) = Seq.fill(n)(w)
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.nearDupAdmissionStream(spark,
          in.toString, index.toString,
          root.resolve("out").toString, root.resolve(ckpt).toString)
      StreamingSessions.appendReplayFile(
        Seq((10L, block("a", 50).mkString(" ")),
          (11L, block("b", 50).mkString(" "))).toDF("doc_id", "text"), in, 0)
      run("ckpt")
      // simulate the tear: doc 10's shingle rows vanish; max stays 11
      val sh = index.resolve("shingles").toString
      val kept = spark.read.parquet(sh)
        .filter(org.apache.spark.sql.functions.col("doc_id") =!= 10L)
        .localCheckpoint().collect()
      val schema = spark.read.parquet(sh).schema
      StreamingSessions.deleteRecursively(java.nio.file.Paths.get(sh))
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema)
        .write.parquet(sh)
      val ex = intercept[Exception] { run("ckpt2") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("torn shingle append")))
    }
  }

  test("exact admission rejects an out-of-order doc sharing text with an indexed one") {
    // key-level discrimination would wave this through (its text IS in
    // the key table, via a different doc); whole-corpus dedup would have
    // made the LOWER id canonical, so silently dropping it diverges —
    // only the per-doc committed-output check catches it
    import spark.implicits._
    withTempRoot("graft-stream-exact-samekey") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.exactAdmissionStream(spark,
          in.toString, root.resolve("keys").toString,
          root.resolve("out").toString, root.resolve(ckpt).toString)
      StreamingSessions.appendReplayFile(
        Seq((10L, "alpha"), (11L, "beta")).toDF("doc_id", "text"), in, 0)
      run("ckpt")
      // doc 3 duplicates indexed text "alpha" but was never processed
      StreamingSessions.appendReplayFile(
        Seq((3L, "alpha")).toDF("doc_id", "text"), in, 1)
      val ex = intercept[Exception] { run("ckpt2") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("out-of-order")))
    }
  }

  test("near-dup admission rejects an out-of-order shingle-less doc") {
    // a doc too short to shingle carries no signature, so the old
    // signature-membership check could not see it — but it still owes
    // the corpus an admission row, and must fail loudly when dropped
    import spark.implicits._
    withTempRoot("graft-stream-ndup-short") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val index = root.resolve("index")
      def block(w: String, n: Int) = Seq.fill(n)(w)
      def run(ckpt: String): Unit =
        graft.streaming.StreamingDedup.nearDupAdmissionStream(spark,
          in.toString, index.toString,
          root.resolve("out").toString, root.resolve(ckpt).toString)
      StreamingSessions.appendReplayFile(
        Seq((10L, block("a", 50).mkString(" ")),
          (11L, block("b", 50).mkString(" "))).toDF("doc_id", "text"), in, 0)
      run("ckpt")
      // doc 2 is one word (shingle-less) and below the frontier: never
      // admitted, no signature to check — only the output check sees it
      StreamingSessions.appendReplayFile(
        Seq((2L, "solo")).toDF("doc_id", "text"), in, 1)
      val ex = intercept[Exception] { run("ckpt2") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("out-of-order")))
    }
  }

  test("streaming pack rejects an unseen id inside the last batch's window") {
    // an out-of-order NEW doc whose id lands BETWEEN the previous
    // frontier and the current one pattern-matches a crash-window replay
    // by id range alone — only the committed-placement check can tell it
    // apart, so it must fail loudly, not silently drop
    import spark.implicits._
    withTempRoot("graft-stream-pack-win") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def run(ckpt: String): Unit =
        graft.streaming.StreamingPack.packAdmissionStream(spark,
          in.toString, root.resolve("state").toString,
          root.resolve("out").toString, root.resolve(ckpt).toString, 8L)
      StreamingSessions.appendReplayFile(
        Seq((10L, "a b c"), (20L, "d e")).toDF("doc_id", "text"), in, 0)
      StreamingSessions.appendReplayFile(
        Seq((25L, "f g"), (30L, "h i j")).toDF("doc_id", "text"), in, 1)
      run("ckpt")
      // state now: frontier 30, prev_max 20; id 22 sits inside (20, 30]
      // but was never packed
      StreamingSessions.appendReplayFile(
        Seq((22L, "zz")).toDF("doc_id", "text"), in, 2)
      val ex = intercept[Exception] { run("ckpt2") }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("out-of-order")
        && m.contains("22")))
    }
  }

  test("streaming pack replays the output-committed/state-missing crash window") {
    import spark.implicits._
    withTempRoot("graft-stream-pack-crash") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      def run(): Unit =
        graft.streaming.StreamingPack.packAdmissionStream(spark,
          in.toString, root.resolve("state").toString,
          root.resolve("out").toString, root.resolve("ckpt").toString, 8L)
      StreamingSessions.appendReplayFile(
        Seq((0L, "a b c d e")).toDF("doc_id", "text"), in, 0)
      run()
      // crashed attempt of batch 1: output dir committed, state snapshot
      // and checkpoint both lost — the replay must keep the committed dir
      // verbatim (it re-derives identical rows) and then land the state
      val crashRows = graft.operators.Curation.packSequencesWith(
        graft.operators.Curation.packState(Seq((0L, "a b c d e"))
          .toDF("doc_id", "text")),
        Seq((10L, "f g h i j k")).toDF("doc_id", "text"), 8L)
      crashRows.write.mode("overwrite")
        .parquet(root.resolve("out").resolve("batch=1").toString)
      StreamingSessions.appendReplayFile(
        Seq((10L, "f g h i j k")).toDF("doc_id", "text"), in, 1)
      run()
      val got = graft.streaming.StreamingPack
        .readOutput(spark, root.resolve("out").toString)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(r => (r._1, r._2)).toSeq
      val whole = graft.operators.Curation.packSequences(
        Seq((0L, "a b c d e"), (10L, "f g h i j k")).toDF("doc_id", "text"), 8L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      assert(got == whole, s"crash-window replay duplicated or lost rows: $got")
      val st = graft.streaming.StreamingPack
        .readState(spark, root.resolve("state").toString)
      assert((st.getLong(0), st.getLong(1), st.getLong(2)) == (2L, 10L, 11L))
    }
  }

  test("CSV-line stream parses through the same permissive stage as batch") {
    import org.apache.spark.sql.functions._
    withTempRoot("graft-csv-stream") { dir =>
      import spark.implicits._
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
      val lines = graft.operators.CsvIngest.renderCsv(ev)
        .union(graft.operators.CsvIngest.malformedFixtures.toDF("value"))
      lines.coalesce(1).write.mode("overwrite").text(dir.toString)
      val q = graft.sources.EventSource.csvLineStream(spark, dir.toString)
        .writeStream.format("memory").queryName("csv_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("csv_stream").orderBy(col("transaction_id"))
          .collect().map(_.toSeq).toSeq
        val want = graft.operators.CsvIngest.parsePermissive(lines)
          .orderBy(col("transaction_id")).collect().map(_.toSeq).toSeq
        assert(got == want, "streaming parse differs from batch parse")
        assert(got.nonEmpty)
      } finally q.stop()
    }
  }

  test("synthetic rate workload: bursty tenants, reference payload rule") {
    // S2 twin: can't pin row counts (rate source is wall-clock-driven),
    // so assert the generator INVARIANTS on whatever arrived — tenant id
    // derives from the event id's burst window and payload = tenant*10,
    // the reference generator's rule (generator1.py:20)
    val q = graft.sources.EventSource.syntheticStream(spark, 500)
      .writeStream.format("memory").queryName("synth_stream")
      .outputMode("append").start()
    try {
      Thread.sleep(2500)
      q.processAllAvailable()
      val rows = spark.table("synth_stream").collect()
      assert(rows.nonEmpty, "rate source produced no rows in the window")
      rows.foreach { r =>
        val id = r.getLong(0); val tenant = r.getLong(2)
        assert(tenant == (id / graft.sources.EventSource.BurstLength) % 15)
        assert(r.getDouble(4) == tenant * 10.0)
        assert(r.getString(3) == "view")
      }
    } finally q.stop()
  }

  test("streamed importance admission equals the incremental operator; replay is a no-op") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cut = docs.agg(expr("(max(doc_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val pool = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut)
      .select(col("doc_id"), col("text"))
    withTempRoot("graft-imp-stream") { root =>
      val (wt, thr) = graft.operators.Curation.importanceArtifacts(pool)
      wt.write.parquet(s"$root/art/weights")
      thr.write.parquet(s"$root/art/thr")
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      (0 until 3).foreach { i =>
        StreamingSessions.appendReplayFile(
          batch.filter(pmod(col("doc_id"), lit(3)) === i), in, i)
      }
      def run(ckpt: String): Unit =
        graft.streaming.StreamingPack.importanceAdmissionStream(spark,
          in.toString, s"$root/art", root.resolve("out").toString,
          root.resolve(ckpt).toString)
      run("ckpt")
      def readOut() = graft.streaming.StreamingPack
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val got = readOut()
      val inc = graft.operators.Curation
        .importanceSampleIncremental(pool, batch)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == inc,
        "the streamed admission must equal the single-shot incremental call")
      assert(got.nonEmpty)
      // lost-checkpoint full replay: stateless loop + idempotent writer
      // leave the committed output verbatim
      run("ckpt2")
      assert(readOut() == got)
    }
  }

  test("streamed decontamination screen equals the frozen-artifact single shot") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = docs.filter(col("doc_id") % 2 === 1 &&
        graft.operators.Curation.sampleBucket(col("doc_id")) >= 1000)
      .select(col("doc_id"), col("text"))
    withTempRoot("graft-decon-stream") { root =>
      graft.operators.Curation.evalNgramArtifact(docs)
        .write.parquet(s"$root/art/eval_ngrams")
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      (0 until 3).foreach { i =>
        StreamingSessions.appendReplayFile(
          batch.filter(pmod(col("doc_id"), lit(3)) === i), in, i)
      }
      def run(ckpt: String): Unit =
        graft.streaming.StreamingPack.decontaminationScreenStream(spark,
          in.toString, s"$root/art", root.resolve("out").toString,
          root.resolve(ckpt).toString)
      run("ckpt")
      def readOut() = graft.streaming.StreamingPack
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val got = readOut()
      assert(got.nonEmpty, "fixture slice must contain contamination")
      val single = graft.operators.Curation.decontaminateWith(
        spark.read.parquet(s"$root/art/eval_ngrams"), batch)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == single,
        "streamed screening must equal the single-shot artifact screen")
      run("ckpt2") // lost-checkpoint replay is a no-op
      assert(readOut() == got)
    }
  }

  test("streamed cluster-balanced admission: per-batch picks, evolving quota, replay no-op") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = mx * 4 / 5
    val e1 = cut + (mx - cut) / 3
    val e2 = cut + 2 * (mx - cut) / 3
    withTempRoot("graft-cbal-stream") { root =>
      val idx = emb.filter(col("vec_id") < cut)
      val cents = graft.operators.Similarity.clusterArtifacts(idx)
      cents.write.parquet(s"$root/art/centroids")
      val quota0 = graft.operators.Similarity.clusterBalancedSample(idx)
        .select(col("vec_id"), col("cell"))
      quota0.withColumn("max_vec_id", lit(cut - 1))
        .write.parquet(s"$root/art/quota")
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      val slices = Seq((cut, e1), (e1, e2), (e2, mx + 1))
      slices.zipWithIndex.foreach { case ((lo, hi), i) =>
        StreamingSessions.appendReplayFile(
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi), in, i)
      }
      def run(ckpt: String): Unit =
        graft.streaming.StreamingPack.clusterAdmissionStream(spark,
          in.toString, s"$root/art", s"$root/state",
          root.resolve("out").toString, root.resolve(ckpt).toString)
      run("ckpt")
      def readOut() = graft.streaming.StreamingPack
        .readOutput(spark, root.resolve("out").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val got = readOut()
      assert(got.nonEmpty)
      // equals iterating the frozen-artifact admit per batch with the
      // quota evolving through clusterQuotaAfter — same state machine
      var quota = quota0
      val want = slices.flatMap { case (lo, hi) =>
        val b = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        val admitted = graft.operators.Similarity
          .clusterBalancedAdmitWith(cents, quota, b)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        quota = graft.operators.Similarity.clusterQuotaAfter(cents, quota, b)
          .localCheckpoint()
        admitted
      }.sortBy(_._1)
      assert(got == want)
      // the final persisted state IS the whole-so-far pick under the
      // frozen centroids (sample recoverable from state alone,
      // independent of batching) — one-shot: admit the whole corpus
      // against an empty quota
      val st = graft.streaming.StreamingPack
        .readClusterQuota(spark, s"$root/state", s"$root/art")
      val wholePick = graft.operators.Similarity
        .clusterQuotaAfter(cents, quota0.filter(lit(false)), emb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(st.select(col("vec_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        == wholePick)
      // lost-checkpoint full replay: frontier makes every batch
      // effective-empty, committed output and state stay verbatim
      run("ckpt2")
      assert(readOut() == got)
    }
  }

  test("streamed fuzzy and semantic screens equal their frozen-artifact single shots") {
    // fuzzy: doc batches against the persisted band/shingle artifacts
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dBatch = docs.filter(
        graft.operators.Curation.sampleBucket(col("doc_id")) >= 1000)
      .select(col("doc_id"), col("text"))
    withTempRoot("graft-screen-streams") { root =>
      val (bands, shingles) = graft.operators.Curation.evalFuzzyArtifacts(docs)
      bands.write.parquet(s"$root/fa/bands")
      shingles.write.parquet(s"$root/fa/shingles")
      val fIn = root.resolve("fin"); java.nio.file.Files.createDirectories(fIn)
      (0 until 3).foreach { i =>
        StreamingSessions.appendReplayFile(
          dBatch.filter(pmod(col("doc_id"), lit(3)) === i), fIn, i)
      }
      graft.streaming.StreamingPack.fuzzyScreenStream(spark, fIn.toString,
        s"$root/fa", s"$root/fout", s"$root/fckpt")
      val fGot = graft.streaming.StreamingPack.readOutput(spark, s"$root/fout")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val fSingle = graft.operators.Curation.decontaminateFuzzyWith(
          spark.read.parquet(s"$root/fa/bands"),
          spark.read.parquet(s"$root/fa/shingles"), dBatch)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(fGot.nonEmpty && fGot == fSingle)
      // semantic: vector batches against the persisted bucket artifacts
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      val evalSide = emb.filter(
        graft.operators.Curation.sampleBucket(col("vec_id")) < 1000)
      evalSide.write.parquet(s"$root/sa/eval_emb")
      graft.operators.Similarity.bucketTable(evalSide)
        .write.parquet(s"$root/sa/buckets")
      val vBatch = emb.filter(
        graft.operators.Curation.sampleBucket(col("vec_id")) >= 1000)
      val sIn = root.resolve("sin"); java.nio.file.Files.createDirectories(sIn)
      (0 until 3).foreach { i =>
        StreamingSessions.appendReplayFile(
          vBatch.filter(pmod(col("vec_id"), lit(3)) === i), sIn, i)
      }
      graft.streaming.StreamingPack.semanticScreenStream(spark, sIn.toString,
        s"$root/sa", s"$root/sout", s"$root/sckpt")
      val sGot = graft.streaming.StreamingPack.readOutput(spark, s"$root/sout")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val sSingle = graft.operators.Similarity.decontaminateSemanticWith(
          evalSide, graft.operators.Similarity.bucketTable(evalSide), vBatch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(sGot.nonEmpty && sGot == sSingle)
    }
  }
}
