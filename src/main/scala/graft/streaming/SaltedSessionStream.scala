package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

/** Skew-defended STREAMING sessionization — the streaming twin of
  * [[graft.operators.Sessions.saltedSessionAgg]], closing the one gap the
  * batch fold left: the reference's actual deployment shape is a
  * continuous keyed stream (`flink_stream_task1.py:44-85`), and both
  * engine-state session paths funnel a hot key through ONE task —
  * `session_window`'s state store partitioning by key
  * ([[StreamingSessions.sessionAggStream]]) and the timer machine alike
  * (measured at 10M events / 90% on one user: 28–44 s single-task folds
  * vs 4.9 s salted batch — ARCHITECTURE r13/r14).
  *
  * Shape: an [[ArtifactLoop]] step with a versioned state snapshot, NOT
  * a stateful-operator query — precisely so the per-batch work runs
  * as ordinary parallel batch plans instead of key-partitioned state-store
  * tasks:
  *
  *  1. each micro-batch PRE-FOLDS into partial sessions per
  *     `(user, time-slice)` via [[graft.operators.Sessions.slicePartials]]
  *     — the hot key's events spread over `batch span / sliceSeconds`
  *     reducers, the identical expressions (and identical integer-cents
  *     arithmetic) as the batch fold;
  *  2. the batch partials union the persisted OPEN partials and merge via
  *     [[graft.operators.Sessions.mergeIslands]] — per-user windows over
  *     PARTIAL SESSIONS (state opens + batch slices), never events;
  *  3. the watermark advances to `max event time seen − delay`; merged
  *     sessions with `session_end < watermark` are CLOSED — no
  *     in-contract future event can reach them (see the safety argument
  *     below) — and emit exactly once to the batch-id-keyed idempotent
  *     output; the rest persist as the next open-partials snapshot.
  *
  * Safety under bounded disorder (the [[StreamingSessions]] replay
  * contract, `jitter < delay`): an arriving event's timestamp is at least
  * `max ts seen so far − jitter ≥ watermark + (delay − jitter) ≥
  * watermark`, and merging into a session requires `ts ≤ session_end`,
  * so a session with `session_end < watermark` is unreachable — closing
  * it early loses nothing. Open islands re-merge with later batches
  * through [[graft.operators.Sessions.mergeIslands]]'s idempotence.
  *
  * State is O(open sessions) ≈ O(currently-active users) partial rows —
  * the same bound the engine's session state store carries — persisted as
  * `_SUCCESS`-gated `stateDir/batch=N` snapshots (N = cumulative events
  * processed, strictly monotone per effective batch; latest committed
  * wins, two retained). One marker row (`user_id IS NULL`) carries the
  * watermark, the last processed micro-batch id and the event counter, so
  * an all-closed state still persists its clock.
  *
  * Replay contract: output commits BEFORE the marker-bearing snapshot; a
  * batch whose id is at or below the marker's `last_batch_id` has fully
  * committed (output AND state) and skips — the crash window in between
  * replays the batch against the identical pre-batch snapshot,
  * re-deriving byte-identical output (kept verbatim by the idempotent
  * writer) and the identical next snapshot. Batch ids are only monotone
  * within one checkpoint lineage, so the loop requires a fresh
  * `stateDir` per lineage — unlike the id-frontier admission loops there
  * is no monotone event-id to discriminate cross-lineage replays
  * (events legitimately arrive out of id order).
  */
object SaltedSessionStream {

  private val partialFields = Seq(
    StructField("user_id", LongType),
    StructField("s", TimestampType), StructField("e", TimestampType),
    StructField("sum_cents", LongType), StructField("n", LongType))

  private val stateSchema = StructType(partialFields ++ Seq(
    StructField("wm_us", LongType), StructField("last_batch_id", LongType),
    StructField("n_total", LongType)))

  private def partialCols = partialFields.map(f => col(f.name))

  /** Defend a micro-batch against SERIAL file reads — the
    * [[StreamingPack.widened]] lesson applied to the session loop: a
    * replay file under `maxPartitionBytes` arrives as one or two scan
    * partitions, serializing the pre-fold's map side behind a core or
    * two (measured at 10M/4 slices: ~3.5 s/batch of single-task read).
    * Repartition only when the batch is genuinely serial (< a quarter of
    * the cores): the pre-fold's own groupBy exchange redistributes
    * anyway, so a moderately-split scan needs no extra shuffle, while a
    * 1–2-partition scan amortizes the round-robin against every
    * downstream consumer. Row placement cannot change results.
    */
  private def widened(batch: DataFrame): DataFrame = {
    val cores = batch.sparkSession.sparkContext.defaultParallelism
    if (batch.rdd.getNumPartitions * 4 < cores) batch.repartition(cores)
    else batch
  }

  /** Latest committed snapshot under `stateDir`:
    * (open partials, watermark µs, last batch id, events processed). */
  private[streaming] def readState(spark: SparkSession, stateDir: String)
      : (DataFrame, Long, Long, Long) =
    ArtifactLoop.latestCommitted(spark, stateDir, stateSchema) match {
      case Some(df) =>
        val m = df.filter(col("user_id").isNull)
          .select(col("wm_us"), col("last_batch_id"), col("n_total")).head()
        (df.filter(col("user_id").isNotNull).select(partialCols: _*),
          m.getLong(0), m.getLong(1), m.getLong(2))
      case None =>
        (ArtifactLoop.emptyFrame(spark, StructType(partialFields)),
          Long.MinValue, -1L, 0L)
    }

  /** Merge one effective micro-batch's pre-folded partials into the open
    * state, emit closed sessions, and persist the next snapshot — the
    * body of the admission loop once the replay-skip and empty-batch
    * guards have passed. `partials` arrives persisted (the caller owns
    * its lifecycle) in the [[graft.operators.Sessions.slicePartialsWithMax]]
    * schema.
    */
  private def foldBatch(sess: SparkSession, opens: DataFrame, wmUs: Long,
                        nTotal: Long, partials: DataFrame,
                        nBatch: Long, batchMaxUs: Long, batchId: Long,
                        stateDir: String, outDir: String,
                        delayUs: Long): Unit = {
    val wmNew = math.max(wmUs,
      if (batchMaxUs == Long.MinValue) Long.MinValue
      else batchMaxUs - delayUs)
    // pre-fold + island merge with the batch fold's own operators —
    // persisted so the closed/open split doesn't re-run the merge
    val merged = graft.operators.Sessions.mergeIslands(
      opens.unionAll(partials.select(partialCols: _*)))
      .persist()
    try {
      val closed = merged.filter(unix_micros(col("e")) < wmNew)
      ArtifactLoop.writeOutputBatch(
        graft.operators.Sessions.finalizePartials(closed), outDir, batchId)
      // marker-bearing snapshot LAST (replay-safety contract),
      // named by the cumulative event count — strictly monotone
      // per effective batch, so the retention prune can never
      // delete the newest snapshot
      val open = merged.filter(unix_micros(col("e")) >= wmNew)
      val marker = sess.createDataFrame(
        java.util.Arrays.asList(Row(null, null, null, null, null,
          wmNew, batchId, nTotal + nBatch)),
        stateSchema)
      ArtifactLoop.commitSnapshot(open
        .withColumn("wm_us", lit(null).cast(LongType))
        .withColumn("last_batch_id", lit(null).cast(LongType))
        .withColumn("n_total", lit(null).cast(LongType))
        .unionAll(marker), stateDir, nTotal + nBatch)
    } finally merged.unpersist()
  }

  /** Run the salted session loop over parquet files appearing in `inDir`
    * (one file per micro-batch, mtime order) until drained. Closed
    * sessions append under `outDir` in the [[graft.operators.Sessions
    * .sessionAgg]] output schema; open-partials snapshots live under
    * `stateDir`. `gap` must be a static duration or a per-user-constant
    * band expression (the [[graft.operators.Sessions
    * .saltedDynamicSessionAgg]] precondition); `delayUs` must exceed the
    * input's disorder bound for the early-close rule to be lossless.
    */
  def run(spark: SparkSession, inDir: String, stateDir: String,
          outDir: String, ckptDir: String, schema: StructType, gap: Column,
          delayUs: Long, sliceSeconds: Long = 3600L): Unit = {
    require(delayUs >= 0, s"delayUs must be non-negative, got $delayUs")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      // ONE scan of the batch per micro-batch: the pre-fold computes the
      // partials AND the batch stats — `nBatch` (count of sessionizable
      // rows) and the watermark candidate (max event time) derive from
      // the persisted PARTIALS (O(users × slices) rows), not a second
      // full aggregate over the events (guide §1.2/§2.3 — r14 shipped
      // every batch through two scans; the partials already carry the
      // evidence). Rows the P2 null filter drops (null user/ts) no
      // longer count or advance the watermark: a lower watermark only
      // closes LESS eagerly, and the replay's sentinel flush closes
      // every real session regardless, so the emitted sessions are
      // unchanged (the null rows never sessionize either way).
      val b = widened(batch)
      val sess = b.sparkSession
      val (opens, wmUs, lastBatchId, nTotal) = readState(sess, stateDir)
      // fully-committed replay (output + snapshot landed, checkpoint
      // didn't): reprocessing against the POST-batch state would fold
      // the events twice — skip, the idempotent output already holds
      // this batch's sessions
      if (batchId > lastBatchId) {
        val partials = graft.operators.Sessions
          .slicePartialsWithMax(b, gap, sliceSeconds).persist()
        try {
          val r = partials
            .agg(coalesce(sum(col("n")), lit(0L)), max(col("mx_us"))).head()
          val (nBatch, batchMaxUs) =
            (r.getLong(0), if (r.isNullAt(1)) Long.MinValue else r.getLong(1))
          if (nBatch > 0)
            foldBatch(sess, opens, wmUs, nTotal,
              partials, nBatch, batchMaxUs, batchId, stateDir, outDir,
              delayUs)
        } finally partials.unpersist()
      }
    }
  }

  /** Oracle-checkable bounded-disorder replay — the salted loop under the
    * exact [[StreamingSessions.replayStageOutOfOrder]] arrival contract
    * (deterministic jitter < `delaySeconds`, range-split mtime-ordered
    * slices, the far-future [[StreamingSessions.FlushUser]] sentinel in
    * the last slice). The sentinel's batch advances the watermark a day
    * past every real event, so every real session closes and emits; the
    * sentinel's own island stays open forever and is additionally
    * filtered on read. Result: the closed-session table, equal by the
    * gap-and-islands oracle to batch [[graft.operators.Sessions
    * .sessionAgg]] over the same events.
    */
  def replaySaltedSessions(events: DataFrame, gap: Column,
                           delaySeconds: Long = 600L,
                           jitterUs: Long = 300L * 1000000,
                           slices: Int = 3,
                           sliceSeconds: Long = 3600L): DataFrame = {
    require(delaySeconds * 1000000L > jitterUs,
      s"watermark delay ${delaySeconds}s must exceed the disorder bound " +
        s"${jitterUs}µs for the early-close rule to be lossless")
    val spark = events.sparkSession
    val root = StreamingSessions.writeReplaySlices(events, jitterUs, slices)
    try {
      run(spark, root.resolve("in").toString, root.resolve("state").toString,
        root.resolve("out").toString, root.resolve("ckpt").toString,
        events.schema, gap, delaySeconds * 1000000L, sliceSeconds)
      ArtifactLoop.readOutput(spark, root.resolve("out").toString)
        .filter(!(col("user_id") <=> lit(StreamingSessions.FlushUser)))
        .orderBy(col("user_id"), col("session_start"))
        .localCheckpoint()
    } finally StreamingSessions.deleteRecursively(root)
  }
}
