package graft.streaming

import scala.jdk.CollectionConverters.IteratorHasAsScala

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TTLConfig, TimeMode, Trigger}

/** Input row for the stateful alert operator. */
case class AlertInput(user_id: Long, session_sum: Double)

/** One heavy-hitter crossing: emitted the first time a key's running
  * event count reaches the threshold; `n_at_crossing` is the exact count
  * at that moment (≥ threshold when one micro-batch overshoots).
  */
case class HeavyHit(user_id: Long, n_at_crossing: Long)

/** Emitted alert (at most one per user, ever). */
case class Alert(user_id: Long, first_qualifying_sum: Double, n_suppressed: Long)

/** Structured Streaming twins of the batch session operators — the
  * reference's actual deployment shape (Kafka → keyed session windows →
  * continuous sink; `flink_stream_task1.py:44-85`).
  *
  * The SAME aggregation plan as [[graft.operators.Sessions.sessionAgg]]
  * wrapped in a watermarked stream: Spark's `session_window` is
  * streaming-native (state store backed, `MergingSessionsExec`), so batch
  * and streaming results coincide — asserted in `StreamingSpec` by running
  * one frame through a memory-source stream and comparing to batch.
  *
  * Watermark: the reference uses monotonous timestamps = zero allowed
  * lateness (`flink_stream_task1.py:41`, SURVEY.md §1.4); `delay`
  * parameterizes `forBoundedOutOfOrderness` semantics for out-of-order
  * feeds. No Kafka jar ships in this env (SURVEY.md §7.5.6), so sources
  * are file/memory/rate — the operators only require a streaming
  * DataFrame with (ts, user_id, value).
  */
object StreamingSessions {

  /** W1/W2 + A2 + P3 streaming twin. `outputMode` must be Append (emit on
    * window close, the Flink behavior) or Complete downstream.
    */
  def sessionAggStream(events: DataFrame, gap: Column,
                       delay: String = "0 seconds"): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        // same per-event integer-cents convention as the batch twin
        sum(expr("cast(round(value * 100, 0) as bigint)")).as("sum_cents"),
        count(lit(1)).as("event_count"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("event_count"),
        (col("sum_cents") / 100.0).as("session_sum"),
        (floor(col("sum_cents") / col("event_count") + 0.5) / 100.0).as("session_avg"))

  /** Sentinel user id for [[replayOutOfOrder]] flush events. */
  val FlushUser = 999999999L

  /** Out-of-order replay harness: renders `events` as a file stream with
    * BOUNDED disorder and returns the final watermarked streaming
    * sessionization as a batch frame — the `forBoundedOutOfOrderness`
    * twin, made oracle-checkable (the DuckDB gap-and-islands oracle is
    * order-insensitive, so streaming-with-late-data must reproduce the
    * batch answer exactly).
    *
    * Mechanics:
    *  - disorder: each event's replay key is `ts + (xxhash64(event_id)
    *    mod jitter)` — deterministic, and an event can arrive behind
    *    events up to `jitter` later than it, never more, so a watermark
    *    `delay > jitter` must lose nothing;
    *  - the keyed rows are RANGE-split on the replay key into `slices`
    *    contiguous files replayed one per micro-batch
    *    (`maxFilesPerTrigger=1`, explicit increasing file mtimes pin the
    *    source's processing order). Equal key ranges, not equal row
    *    counts: every key in file k precedes every key in file k+1 —
    *    the arrival-order contract — without the single-partition
    *    global `ntile` sort an equal-count split would need, and all
    *    slices are written by ONE `partitionBy("slice")` job;
    *  - one far-future [[FlushUser]] sentinel row rides in the LAST
    *    slice: its batch's max event time raises the watermark, and
    *    `AvailableNow` runs one final (empty) batch under that advanced
    *    watermark, which emits every remaining real session (append mode
    *    emits a session only once a later batch's watermark passes its
    *    end — the final empty batch is that later batch). In-batch
    *    position is irrelevant (watermarks advance at batch boundaries),
    *    so folding the sentinel into the last data batch saves a whole
    *    micro-batch of fixed planning/commit cost per replay;
    *  - the memory-sink table, minus the sentinel user, is the result.
    *
    * `streamTransform` appends extra STREAM-side operators between the
    * session aggregation and the sink (e.g. the big-customer alert's
    * threshold + keyed dedup), so downstream stateful semantics are
    * replay-tested too, not just the aggregation.
    */
  def replayOutOfOrder(events: DataFrame, gap: Column,
                       delay: String = "10 minutes",
                       jitterUs: Long = 300L * 1000000, // 5 minutes
                       slices: Int = 2,
                       streamTransform: DataFrame => DataFrame = identity,
                       useRocksDb: Boolean = true,
                       statePartitions: Int = 4): DataFrame =
    replayStageOutOfOrder(events,
      src => streamTransform(sessionAggStream(src, gap, delay)),
      jitterUs, slices, useRocksDb, statePartitions)

  /** The replay harness with an arbitrary watermarked stateful stage:
    * everything [[replayOutOfOrder]] documents (bounded-disorder slicing,
    * mtime-pinned file order, the watermark-flush sentinel) with the
    * stage in place of the session aggregation. The stage receives the
    * raw event stream INCLUDING the [[FlushUser]] sentinel row, which
    * must reach watermark tracking for the final windows to emit in
    * append mode — and note that a `user_id != FlushUser` FILTER placed
    * after `withWatermark` does NOT guarantee that: its predicate is
    * ts-free, so Catalyst pushes it below the `EventTimeWatermark` node
    * and the watermark stalls. Exclude the sentinel inside the
    * aggregation (a keyed groupBy that the harness post-filters, as the
    * session stage does, or sentinel-null `when` aggregates, as
    * [[replaySlidingOutOfOrder]] does). A `user_id` output column, if
    * present, is sentinel-filtered by the harness as before.
    */
  /** Render `events` as a bounded-disorder replay input: `slices`
    * mtime-ordered parquet files under `<returned root>/in`, keyed by
    * `ts + (xxhash64(event_id) mod jitterUs)` and RANGE-split so every
    * key in file k precedes every key in file k+1 (the arrival-order
    * contract [[replayStageOutOfOrder]] documents), with one far-future
    * [[FlushUser]] sentinel row riding in the last slice. The caller
    * owns — and must delete — the returned temp root.
    */
  private[graft] def writeReplaySlices(events: DataFrame, jitterUs: Long,
                                       slices: Int): java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_ooo_")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val okey = unix_micros(col("ts")) +
      pmod(xxhash64(col("event_id")), lit(jitterUs))
    // one scan for every bound the split needs
    val bounds = events.agg(max(col("ts")), min(okey), max(okey)).head()
    val maxTs = bounds.getTimestamp(0)
    // null-okey rows (null ts or event_id) take slice 1 — the downstream
    // watermark stage decides their fate, the harness must not silently
    // drop them (partitionBy would shunt a null slice into a Hive default
    // dir the move loop never ships); an all-null corpus degenerates to
    // one slice
    val sliceExpr =
      if (bounds.isNullAt(1)) lit(1)
      else {
        val minK = bounds.getLong(1)
        val span = bounds.getLong(2) - minK + 1
        coalesce((((okey - minK) * slices) / span).cast("int") + 1, lit(1))
      }
    val sliced = events
      .withColumn("slice", sliceExpr)
      .union(flushFrame(events, maxTs, 1).withColumn("slice", lit(slices)))
    // one job writes every slice file (repartition by slice -> one file
    // per slice dir), then the files are pinned into mtime order
    val stage = root.resolve("stage")
    sliced.repartition(slices, col("slice"))
      .write.partitionBy("slice").parquet(stage.toString)
    (1 to slices).foreach { i =>
      val dir = stage.resolve(s"slice=$i")
      if (java.nio.file.Files.isDirectory(dir)) stageReplayFile(dir, inDir, i)
    }
    root
  }

  def replayStageOutOfOrder(events: DataFrame,
                            statefulStage: DataFrame => DataFrame,
                            jitterUs: Long = 300L * 1000000,
                            slices: Int = 2,
                            useRocksDb: Boolean = true,
                            statePartitions: Int = 4): DataFrame = {
    val spark = events.sparkSession
    val root = writeReplaySlices(events, jitterUs, slices)
    // state-store commit cost is per (partition x micro-batch) and the
    // per-batch volume here is small: scope the stateful query to a few
    // state partitions (the setting is baked into the fresh checkpoint,
    // so it is per-replay; a production deployment sizes this to
    // sustained throughput instead).
    //  - merge.sessions.in.local.partition: pre-merge sessions map-side;
    //  - noDataMicroBatches: load-bearing for the single-sentinel design —
    //    the final sessions emit in the no-data micro-batch AvailableNow
    //    runs after the sentinel raised the watermark. Default true, but
    //    a session that disabled it would silently drop the append-mode
    //    tail — pin it;
    //  - RocksDB state store: halves replay wall-clock vs the HDFS-backed
    //    provider here (per-batch delta-file commit overhead dominates at
    //    micro-batch sizes), and is the provider a production deployment
    //    of large session state runs anyway. Exception: chained stateful
    //    operators (session agg → streaming dedup) trip a RocksDB provider
    //    assertion in Spark 4.1 ("Can only upgrade readStore to writeStore
    //    with the same stateStoreId") when two stateful exec nodes share a
    //    task — those callers keep the session's provider.
    val conf = Seq(
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition" -> "true",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") ++
      (if (useRocksDb) Seq(StateStoreProvider -> RocksDbProvider) else Nil)
    val sunk = replayToMemory(spark, root, "graft_ooo_sink", conf) {
      statefulStage(spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(root.resolve("in").toString))
    }
    // a stage whose output keeps no user_id column has already excluded
    // the sentinel itself (see the replayStageOutOfOrder contract)
    val result =
      if (sunk.columns.contains("user_id"))
        sunk.filter(!(col("user_id") <=> lit(FlushUser)))
      else sunk
    // deterministic order over whatever schema the stage left
    result.orderBy(Seq("user_id", "session_start", "w_start", "day", "event_type")
      .filter(result.columns.contains).map(col): _*)
  }

  private[streaming] val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"
  private[streaming] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The memory-sink runner behind the replay harnesses: build the
    * replay query with `conf` set on the caller's session, start it into
    * the memory sink `sinkName`, and restore the conf as soon as
    * `start()` returns — the query keeps the session it cloned at
    * construction, so a concurrent query on the caller's session sees
    * the replay's settings only while this one is being built, never for
    * its drain. Drains (`Trigger.AvailableNow`, checkpoint under `root`),
    * then snapshots the sink rows — they live on the driver — into a
    * local frame and deletes `root` (input files + checkpoint).
    */
  private[streaming] def replayToMemory(spark: org.apache.spark.sql.SparkSession,
      root: java.nio.file.Path, sinkName: String, conf: Seq[(String, String)])(
      query: => DataFrame): DataFrame =
    try {
      spark.catalog.dropTempView(sinkName)
      val snapshot = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      val q =
        try {
          conf.foreach { case (k, v) => spark.conf.set(k, v) }
          query.writeStream
            .format("memory").queryName(sinkName).outputMode("append")
            .option("checkpointLocation", root.resolve("ckpt").toString)
            .trigger(Trigger.AvailableNow())
            .start()
        } finally snapshot.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      q.awaitTermination()
      spark.table(sinkName).localCheckpoint()
    } finally deleteRecursively(root)

  /** Sliding-window replay twin of
    * [[graft.operators.Relational.slidingActivity]] (1-day windows every
    * 6 h): the tumbling/sliding window family under the same
    * bounded-disorder + watermark contract the session family carries —
    * jitter < delay, so the streamed result must equal the batch rollup
    * exactly and the batch DuckDB oracle applies unchanged.
    *
    * Sentinel handling is subtler than a filter: a post-watermark
    * `user_id != FlushUser` filter LOOKS right, but its predicate does
    * not reference the event-time column, so Catalyst pushes it below
    * the `EventTimeWatermark` node — the sentinel then never reaches
    * watermark tracking, the watermark stalls at max-real-ts − delay,
    * and every window ending after it is silently never emitted (the
    * replay's whole final day vanished in testing). Instead the sentinel
    * flows THROUGH the watermark into the aggregation and is excluded
    * inside the aggregates (`count`/`sum` over a sentinel-null `when`),
    * with sentinel-only windows — necessarily `n_events = 0`, since the
    * sentinel sits a full day past every real event — dropped by a
    * post-aggregation filter. Null-safe comparison: a null user_id row
    * is data, not sentinel. Sum parity with the batch twin holds because
    * cents rounding happens once on the final per-window sum.
    */
  def replaySlidingOutOfOrder(events: DataFrame,
                              delay: String = "10 minutes"): DataFrame = {
    // separate counter and summand: a real row with a NULL value must
    // still count (the batch twin counts rows, not values)
    val isReal = !(col("user_id") <=> lit(FlushUser))
    replayStageOutOfOrder(events, src =>
      src.withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 day", "6 hours"))
        .agg(count(when(isReal, lit(1))).as("n_events"),
          (round(sum(when(isReal, col("value"))) * 100, 0) / 100.0).as("sum_value"))
        .select(col("window.start").as("w_start"), col("n_events"),
          col("sum_value"))
        .filter(col("n_events") > 0))
  }

  /** KEYED tumbling-window replay — the remaining window shape after
    * sessions (keyed, data-driven bounds) and unkeyed sliding: per-key
    * fixed windows, the most common production windowing pattern. Daily
    * per-event-type rollups under the same bounded-disorder + watermark
    * contract; same sentinel-in-aggregate construction as
    * [[replaySlidingOutOfOrder]] (the sentinel's own (window, 'flush')
    * group is all-sentinel by construction and drops at the
    * post-aggregation filter). Epoch-aligned `window(ts, '1 day').start`
    * equals `date_trunc('day', ts)`, so the batch GROUP BY oracle
    * applies unchanged.
    */
  def replayTumblingByTypeOutOfOrder(events: DataFrame,
                                     delay: String = "10 minutes"): DataFrame = {
    val isReal = !(col("user_id") <=> lit(FlushUser))
    replayStageOutOfOrder(events, src =>
      src.withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(when(isReal, lit(1))).as("n_events"),
          (round(sum(when(isReal, col("value"))) * 100, 0) / 100.0).as("sum_value"))
        .select(col("window.start").as("day"), col("event_type"),
          col("n_events"), col("sum_value"))
        .filter(col("n_events") > 0))
  }

  /** A3 replay twin: the big-customer alert (threshold filter + keyed
    * "alert once" dedup) running INSIDE the out-of-order replay stream —
    * chained stateful operators (session aggregation → streaming
    * deduplication) under a real watermark. The output is the alert SET
    * (one row per alerted user): which qualifying session row is
    * delivered first is an artifact of emission order within a
    * micro-batch, so the oracle-checkable contract is set equality with
    * the batch threshold rule — the reference's own alert semantics
    * (`flink_stream_task2.py:85-90`) are likewise set-shaped.
    */
  def replayAlertOutOfOrder(events: DataFrame, gap: Column,
                            threshold: Double): DataFrame =
    replayOutOfOrder(events, gap, streamTransform = s =>
      s.filter(col("session_sum") >= threshold)
        .select(col("user_id"))
        .dropDuplicates("user_id"),
      useRocksDb = false)

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(p)) {
      val stream = java.nio.file.Files.walk(p)
      try stream.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally stream.close() // walk() holds open DirectoryStreams
    }
  }

  /** Write `df` into the stream input dir as one parquet file
    * `<seq>.parquet` with an increasing mtime — a deterministic "one more
    * batch of offsets" for the file source (which orders by mtime).
    */
  def appendReplayFile(df: DataFrame, inDir: java.nio.file.Path, seq: Int): Unit = {
    val tmpDir = inDir.resolveSibling(s"stage_$seq")
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    stageReplayFile(tmpDir, inDir, seq)
  }

  /** Move the one parquet part file written under `partDir` to
    * `inDir/<seq>.parquet` and pin its mtime to `seq` minutes, the order
    * the file source replays it in.
    */
  private def stageReplayFile(partDir: java.nio.file.Path,
                              inDir: java.nio.file.Path, seq: Int): Unit = {
    val part = java.nio.file.Files.list(partDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    val dest = inDir.resolve(f"$seq%05d.parquet")
    java.nio.file.Files.move(part, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dest.toFile.setLastModified(seq * 60000L)
  }

  /** Write the `nBatches` slices of `df` (`split(i, nBatches)`) as
    * mtime-ordered replay files under `inDir`, one micro-batch each.
    */
  private[streaming] def writeSplit(df: DataFrame, inDir: java.nio.file.Path,
                                    nBatches: Int, split: (Int, Int) => Column): Unit = {
    java.nio.file.Files.createDirectories(inDir)
    (0 until nBatches).foreach { i =>
      appendReplayFile(df.filter(split(i, nBatches)), inDir, i + 1)
    }
  }

  /** `xxhash64(cols) mod n` — the default deterministic batch split. */
  private[streaming] def hashSplit(cols: String*)(i: Int, n: Int): Column =
    pmod(xxhash64(cols.map(col): _*), lit(n)) === i

  /** The replay runner of the `transformWithState` twins: `input` split
    * two ways by `xxhash64(splitCols)`, streamed file-per-micro-batch
    * through `stage` on the RocksDB provider with 4 state partitions, and
    * returned as the sorted `user_id` completion set.
    */
  private[streaming] def replayTwoWay(input: DataFrame, name: String,
      splitCols: String*)(stage: DataFrame => DataFrame): DataFrame = {
    val spark = input.sparkSession
    val root = java.nio.file.Files.createTempDirectory(s"graft_${name}_")
    val inDir = root.resolve("in")
    writeSplit(input, inDir, 2, hashSplit(splitCols: _*))
    replayToMemory(spark, root, s"graft_${name}_sink", Seq(
      StateStoreProvider -> RocksDbProvider,
      "spark.sql.shuffle.partitions" -> "4")) {
      stage(spark.readStream.schema(input.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString))
    }.select(col("user_id")).orderBy(col("user_id"))
  }

  /** The `i`-th far-future [[FlushUser]] watermark-flush event (one row,
    * `maxTs + i` days), schema-compatible with `events`.
    */
  def flushFrame(events: DataFrame, maxTs: java.sql.Timestamp, i: Int): DataFrame = {
    val ts = new java.sql.Timestamp(maxTs.getTime + i * 86400000L)
    events.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        -i.toLong, ts, FlushUser, "flush", 0.0, "{}")),
      events.schema)
  }

  /** Stream-stream interval self-join twin of
    * [[graft.operators.Relational.purchaseErrorPairs]]: purchases joined
    * to same-user errors within ±2 h, both sides watermarked so the
    * engine can bound join state (a side's rows are droppable once the
    * other side's watermark passes the interval edge — without the time
    * bounds the state store would grow forever). Inner-join semantics:
    * pairs emit as soon as both rows have arrived; the time-range
    * predicate plus watermarks make that exactly-once and state-bounded.
    * `StreamingSpec` pins stream ≡ batch on the real corpus.
    */
  def purchaseErrorPairsStream(events: DataFrame, delay: String = "10 minutes"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    val e = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("error_user"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", delay)
    p.join(e, col("user_id") === col("error_user") &&
        col("error_ts") >= col("purchase_ts") - expr("INTERVAL 2 HOURS") &&
        col("error_ts") <= col("purchase_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("error_id"), col("error_ts"))
  }

  /** W3/W4 contract for the stream-stream interval join: bounded-disorder
    * replay (jitter < watermark delay) must reproduce the batch
    * [[graft.operators.Relational.purchaseErrorPairs]] result exactly.
    * Inner-join pairs emit eagerly as both sides arrive — the watermarks
    * exist to BOUND state, and the delay ≥ jitter margin guarantees no
    * qualifying row is evicted before its partner shows up. The flush
    * sentinel rides through both type filters ('flush' matches neither
    * side) — no sentinel special-casing needed, unlike the aggregation
    * stages.
    */
  def replayIntervalJoinOutOfOrder(events: DataFrame,
                                   delay: String = "10 minutes"): DataFrame =
    replayStageOutOfOrder(events,
      src => purchaseErrorPairsStream(src, delay))
      .orderBy(col("purchase_id"), col("error_id"))

  /** Stream-STATIC enrichment: the event stream broadcast-joined to a
    * batch dimension (customer segments) and rolled up per (day,
    * segment) under a watermark — the remaining Structured Streaming
    * join mode after stream-stream ([[purchaseErrorPairsStream]]). The
    * static side re-plans per micro-batch but never shuffles the stream
    * (broadcast hash join below the windowed aggregation); the watermark
    * sits UPSTREAM of the join so the flush sentinel (whose synthetic
    * user matches no dimension row and is dropped by the inner join)
    * still advances event time before it disappears.
    */
  def enrichedSegmentStream(events: DataFrame, customer: DataFrame,
                            delay: String = "10 minutes"): DataFrame = {
    val dim = broadcast(customer
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")))
    events
      .filter(col("ts").isNotNull)
      .withWatermark("ts", delay)
      .join(dim, "user_id")
      .groupBy(window(col("ts"), "1 day"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))
      .select(col("window.start").as("day"), col("segment"),
        col("n_events"), (col("cents") / 100.0).as("sum_value"))
  }

  /** W3/W4 replay for the stream-static join: bounded-disorder arrival
    * must reproduce the batch join + daily rollup exactly.
    */
  def replayEnrichedSegmentsOutOfOrder(events: DataFrame,
                                       customer: DataFrame): DataFrame =
    replayStageOutOfOrder(events,
      src => enrichedSegmentStream(src, customer))
      .orderBy(col("day"), col("segment"))

  /** A3 streaming twin (task 2's "alert once per user",
    * `flink_stream_task2.py:72,85-90`): threshold filter then streaming
    * `dropDuplicates` on user_id. State note (SURVEY.md §7.5.7): without a
    * watermark column in the dedup key the keep-first state is unbounded —
    * correct "once ever per user" semantics cost O(distinct users) state,
    * the same trade the reference's global set makes.
    */
  def bigCustomerAlertStream(sessionized: DataFrame, threshold: Double): DataFrame =
    sessionized
      .filter(col("session_sum") >= threshold)
      .dropDuplicates("user_id")

  /** The same "once ever per user" semantics via explicit keyed state
    * (`flatMapGroupsWithState`) — the engine-state form of the reference's
    * global `printed_users` set (`flink_stream_task2.py:72,85-90`), which
    * is only correct at parallelism 1; here the state is partitioned by
    * key, fault-tolerant (state store), and additionally counts suppressed
    * repeat alerts, which plain `dropDuplicates` cannot express.
    *
    * State is one boolean+counter per alerted user — O(distinct alerted
    * users), the same bound the reference's in-memory set has.
    */
  def alertOnceStateful(sessions: Dataset[AlertInput], threshold: Double): Dataset[Alert] = {
    import sessions.sparkSession.implicits._
    def fn(userId: Long, rows: Iterator[AlertInput],
           state: GroupState[(Double, Long)]): Iterator[Alert] = {
      val qualifying = rows.filter(_.session_sum >= threshold).toSeq
      if (qualifying.isEmpty) Iterator.empty
      else if (state.exists) {
        val (first, suppressed) = state.get
        state.update((first, suppressed + qualifying.size))
        Iterator.empty // already alerted — suppress, keep counting
      } else {
        state.update((qualifying.head.session_sum, qualifying.size - 1L))
        Iterator.single(Alert(userId, qualifying.head.session_sum, qualifying.size - 1L))
      }
    }
    sessions.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming heavy-hitters: per-key running event count with ONE
    * emission the instant the count crosses `threshold` — the continuous
    * form of `HAVING count(*) >= k`, for "this tenant just became hot"
    * alerting without re-scanning history. Exactly-once per key across
    * micro-batches and restarts: the count lives in the keyed state store,
    * whose versioned checkpointing means a replayed batch re-runs against
    * the same pre-batch state version and deterministically re-derives the
    * SAME emission rows — end-to-end exactly-once then needs the sink to
    * be idempotent per batch id (memory/file sinks are; see
    * `StreamingDedup` for the batch-id-keyed pattern). The before/after
    * comparison only guarantees at most one crossing per key per lineage,
    * not replay dedup by itself.
    *
    * State is one long per key — O(distinct keys), fixed-width; keys
    * whose count stays below the threshold still hold their counter
    * (frequency must be remembered to be crossable). A deployment that
    * only cares about recent heat bounds state with a
    * `GroupStateTimeout.ProcessingTimeTimeout` + `state.setTimeoutDuration`
    * eviction; the unbounded form here matches the batch oracle exactly.
    */
  def heavyHittersStream(events: DataFrame, threshold: Long): Dataset[HeavyHit] = {
    import events.sparkSession.implicits._
    require(threshold > 0, "threshold must be positive")
    def fn(userId: Long, rows: Iterator[Long],
           state: GroupState[Long]): Iterator[HeavyHit] = {
      val before = state.getOption.getOrElse(0L)
      val after = before + rows.size
      state.update(after)
      if (before < threshold && after >= threshold)
        Iterator.single(HeavyHit(userId, after))
      else Iterator.empty
    }
    events.filter(col("user_id").isNotNull)
      .select(col("user_id").cast("long")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Event-time-bounded streaming dedup — the state-evictable middle
    * ground the unbounded forms ([[bigCustomerAlertStream]]'s
    * `dropDuplicates`, the alert processors' "once ever") deliberately
    * don't take. `dropDuplicatesWithinWatermark` keeps a key only until
    * the watermark passes its event time: duplicates arriving within the
    * disorder bound (the at-least-once-delivery case — Kafka redelivery,
    * replayed files — where duplicates cluster near the original) are
    * dropped, and state is EVICTED afterward, so total state is
    * O(keys per watermark window), not O(keys ever). The trade is
    * explicit: a duplicate arriving after eviction is re-admitted —
    * `StatefulAlertSpec` pins both directions (in-window drop, a
    * post-eviction re-admission) rather than hiding the second one.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .filter(col("event_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** [[alertOnceStateful]] on the `transformWithState` API (Spark 4's
    * successor to `flatMapGroupsWithState`): identical "alert once per
    * user, count suppressed repeats" semantics, expressed as a
    * [[AlertOnceProcessor]] with a named, schema-evolvable `ValueState`.
    * What the new API buys at production scale over the closure form:
    * per-state TTL (`TTLConfig`) for bounded retention without hand-rolled
    * timeout plumbing, multiple independent state variables per key, and
    * timers — none of which the alert itself needs, which is exactly why
    * it makes a good parity pin between the two APIs (`StatefulAlertSpec`
    * asserts emission-for-emission equality against
    * [[alertOnceStateful]]).
    *
    * Requires the RocksDB state store provider (a `transformWithState`
    * engine requirement, and the provider a large-state deployment runs
    * anyway); callers that own the session set
    * `spark.sql.streaming.stateStore.providerClass` — the replay harness
    * [[replayAlertTws]] does so with snapshot/restore.
    */
  def alertOnceTws(sessions: Dataset[AlertInput], threshold: Double): Dataset[Alert] = {
    import sessions.sparkSession.implicits._
    sessions.groupByKey(_.user_id)
      .transformWithState(new AlertOnceProcessor(threshold),
        TimeMode.None(), OutputMode.Append())
  }

  /** Oracle-checkable replay for [[alertOnceTws]]: batch-sessionize the
    * fixture (the stage under test is the ALERT state machine, not the
    * session window — [[replayAlertOutOfOrder]] already covers the
    * chained form), write the per-session rows as two mtime-ordered
    * parquet files, and stream them file-per-micro-batch through the
    * `transformWithState` alert so every user's sessions can straddle a
    * batch boundary. Output is the alert SET (one `user_id` per alerted
    * user, sorted): which qualifying session arrives first is a batch
    * artifact, but whether a user alerts at all is not — the same
    * set-shaped contract as `t2_alert_outoforder`, so the same DuckDB
    * oracle applies.
    */
  def replayAlertTws(events: DataFrame, gap: Column, threshold: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // sessionAgg emits NULL session_sum for all-null-value sessions; the
    // batch twin's `session_sum >= threshold` silently excludes those, so
    // drop them BEFORE deserializing into the non-nullable AlertInput —
    // otherwise a fixture with such a session crashes the replay
    val sessions = graft.operators.Sessions.sessionAgg(events, gap)
      .filter(col("session_sum").isNotNull)
      .select(col("user_id"), col("session_sum"))
    // deterministic two-way split so ~half of each user's sessions land
    // in the second micro-batch (exercises the suppress path cross-batch)
    replayTwoWay(sessions, "tws", "user_id", "session_sum") { src =>
      alertOnceTws(src.as[AlertInput], threshold).toDF()
    }
  }
}

/** Per-user alert state for [[StreamingSessions.alertOnceTws]]. */
case class AlertState(first_qualifying_sum: Double, n_suppressed: Long)

/** One admission from [[RetentionDedupProcessor]]: the key plus how many
  * rows of it the admitting micro-batch carried.
  */
case class Admission(key: Long, n_in_batch: Long)

/** Keyed admit-once-per-retention-window dedup: the WALL-CLOCK-bounded
  * third point on the dedup retention spectrum ("once ever" /
  * event-time-window / processing-time TTL). The state is one
  * `ValueState` per key under a real `TTLConfig`: the store expires it
  * `retention` after the ADMITTING write, and the processor deliberately
  * does NOT touch the state on suppressed repeats — touching it would
  * reset the TTL and turn "re-admit every retention period" into "never
  * re-admit while traffic continues", the classic cache-refresh bug,
  * here pinned by the spec instead of shipped. TTL requires
  * `TimeMode.ProcessingTime` (wall clock is what retention policies like
  * "a user may trigger this path at most once a day" are written
  * against); the event-time twin is [[StreamingSessions.dedupWithinWatermark]].
  *
  * Operational note (measured, not assumed): in ProcessingTime mode the
  * engine schedules micro-batches CONTINUOUSLY — `processAllAvailable`
  * never quiesces and even `Trigger.AvailableNow` does not terminate.
  * Drive this operator with a long-lived query, or with bounded
  * `Trigger.Once` runs against a shared checkpoint (the TTL clock and
  * state survive restarts; a memory sink cannot recover a checkpoint —
  * use `foreachBatch`/file sinks). The spec exercises exactly that
  * restart shape.
  */
class RetentionDedupProcessor(retention: java.time.Duration)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, Admission] {
  @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Long]("seen",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig(retention))

  override def handleInputRows(key: Long, rows: Iterator[Long],
                               timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[Admission] = {
    if (seen.exists()) Iterator.empty // suppressed; no write, TTL keeps aging
    else {
      seen.update(1L)
      Iterator.single(Admission(key, rows.size.toLong))
    }
  }
}

/** One funnel step observed for a user. */
case class StepEvent(user_id: Long, step: String)

/** A user whose observed step set first covered the whole funnel. */
case class FunnelDone(user_id: Long)

/** Streaming funnel COVERAGE on `transformWithState` `MapState` — the
  * per-key keyed sub-map the other state types can't express without
  * serializing a whole map through one value: `MapState[step → count]`
  * updates only the entries a batch touches (point writes against the
  * state store, not read-modify-write of a blob), which is the difference
  * between O(touched steps) and O(all steps) I/O per batch when the step
  * alphabet is wide. A user emits exactly once: on the batch where their
  * observed step set first covers all of `steps`. Which EVENT completed
  * the funnel is a batch artifact, so (like the alert operators) the
  * deterministic contract is the completion SET — the batch twin is the
  * unordered `GROUP BY user HAVING every step present` rule, which the
  * replay pins (the ORDERED variant is the batch `windowFunnel`).
  */
class FunnelCoverageProcessor(steps: Seq[String])
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StepEvent, FunnelDone] {
  require(steps.nonEmpty, "funnel needs at least one step")
  @transient private var seen: org.apache.spark.sql.streaming.MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getMapState[String, Long]("steps_seen",
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong,
      TTLConfig.NONE)

  override def handleInputRows(userId: Long, rows: Iterator[StepEvent],
                               timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[FunnelDone] = {
    val wasComplete = steps.forall(seen.containsKey)
    for (e <- rows if steps.contains(e.step)) {
      val n = if (seen.containsKey(e.step)) seen.getValue(e.step) else 0L
      seen.updateValue(e.step, n + 1L)
    }
    if (!wasComplete && steps.forall(seen.containsKey))
      Iterator.single(FunnelDone(userId))
    else Iterator.empty
  }
}

/** Companion wrapper for [[FunnelCoverageProcessor]]. */
object FunnelCoverage {

  /** Streaming coverage over an event frame (needs `user_id`,
    * `event_type`); RocksDB provider required (transformWithState).
    */
  def coverageStream(events: DataFrame, steps: Seq[String]): Dataset[FunnelDone] = {
    import events.sparkSession.implicits._
    events.filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type").as("step"))
      .as[StepEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelCoverageProcessor(steps),
        TimeMode.None(), OutputMode.Append())
  }

  /** Oracle-checkable replay: stream the fixture file-per-micro-batch
    * (deterministic hash split, so a user's steps straddle the batch
    * boundary) and return the completion set, sorted — equal by contract
    * to the batch unordered-coverage rule.
    */
  def replayCoverage(events: DataFrame, steps: Seq[String]): DataFrame = {
    StreamingSessions.replayTwoWay(
      events.select(col("user_id"), col("event_type"), col("event_id")),
      "funnel", "event_id")(coverageStream(_, steps).toDF())
  }
}

/** Companion wrapper for [[RetentionDedupProcessor]]. */
object RetentionDedup {
  def admitOncePer(keys: org.apache.spark.sql.Dataset[Long],
                   retention: java.time.Duration): org.apache.spark.sql.Dataset[Admission] = {
    import keys.sparkSession.implicits._
    keys.groupByKey(identity)
      .transformWithState(new RetentionDedupProcessor(retention),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}

/** The "alert once per user" state machine as a Spark 4
  * `StatefulProcessor` (the reference's global `printed_users` set,
  * `flink_stream_task2.py:72,85-90`, as partitioned fault-tolerant engine
  * state). One named `ValueState[AlertState]` per user — O(distinct
  * alerted users), fixed width; `TTLConfig.NONE` because the contract is
  * "once EVER", matching the reference (a retention-bounded deployment
  * would pass a TTL here and accept re-alerts after expiry).
  */
class AlertOnceProcessor(threshold: Double)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AlertInput, Alert] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[AlertState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[AlertState]("alert_once",
      org.apache.spark.sql.Encoders.product[AlertState], TTLConfig.NONE)

  override def handleInputRows(userId: Long, rows: Iterator[AlertInput],
                               timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[Alert] = {
    val qualifying = rows.filter(_.session_sum >= threshold).toSeq
    if (qualifying.isEmpty) Iterator.empty
    else if (st.exists()) {
      val s = st.get()
      st.update(AlertState(s.first_qualifying_sum, s.n_suppressed + qualifying.size))
      Iterator.empty // already alerted — suppress, keep counting
    } else {
      st.update(AlertState(qualifying.head.session_sum, qualifying.size - 1L))
      Iterator.single(Alert(userId, qualifying.head.session_sum, qualifying.size - 1L))
    }
  }
}
