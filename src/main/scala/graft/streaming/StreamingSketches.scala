package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.streaming.StreamingSessions.{hashSplit, writeSplit}

/** Streaming twin of the day-over-day drift monitor
  * ([[graft.operators.Sketches.valueDriftDaily]]): a `foreachBatch` loop
  * maintains the day-keyed histogram artifact table incrementally
  * ([[graft.operators.Sketches.valueHistDailyUpdate]] — O(micro-batch)
  * scan + O(types · days · bins) merge per trigger), and the drift alarm
  * reads PURELY from artifacts
  * ([[graft.operators.Sketches.valueDriftFromState]]).
  *
  * `foreachBatch` is the right Spark shape: the fold is an arbitrary
  * batch join/aggregate against driver-held state, not a keyed
  * per-row update — every fold here is an [[ArtifactLoop]] step, like
  * the admission loops. Because the merge is an exactly-associative
  * integer vector add, ANY batching of the input lands on the same
  * artifact — `StreamingSpec` pins artifact-after-N-batches ≡ one-shot
  * build, and the drift readout therefore shares `value_drift_daily`'s
  * DuckDB oracle verbatim.
  *
  * At 100 TB the artifact table is O(types · days · 128·octaves) rows —
  * KBs per day — so the per-trigger merge cost is the micro-batch scan;
  * a production deployment checkpoints the artifact to a table instead
  * of `localCheckpoint` (same two-line swap as the dedup key store).
  */
object StreamingSketches {

  /** Replay `events` through the incremental histogram maintainer:
    * deterministic `nBatches`-way split on `xxhash64(event_id)`, each
    * batch folded into the artifact with
    * [[graft.operators.Sketches.valueHistDailyUpdate]] ([[replayDocFold]]).
    */
  def replayHistDaily(events: DataFrame, nBatches: Int = 4): DataFrame =
    replayDocFold(events, nBatches, Sketches.valueHistDailyState,
      Sketches.valueHistDailyUpdate, hashSplit("event_id"))

  /** The streaming drift monitor end-to-end: incremental artifact
    * maintenance over the replay, then the artifact-only drift readout —
    * result-identical to the one-shot [[graft.operators.Sketches.valueDriftDaily]]
    * by merge associativity, hence oracle-shared.
    */
  def replayDriftMonitor(events: DataFrame, nBatches: Int = 4): DataFrame =
    Sketches.valueDriftFromState(replayHistDaily(events, nBatches))

  /** Streamed q-digest maintenance: two micro-batches split on the
    * engine-portable `event_id % 2`, each folded with
    * [[graft.operators.Sketches.qdigestUpdate]] (sketch the batch, merge
    * artifacts under the combined `t`). Because the first fold against
    * the empty state re-compresses `build(batch0)` idempotently, the
    * final artifact is EXACTLY `merge(build(A), build(B))` — the shape
    * the `quantile_qdigest_stream` oracle replays two-phase; the rank
    * theorem holds at the merged 2t-per-node slack.
    */
  def replayQDigest(events: DataFrame, nBatches: Int = 2,
                    sigma: Int = 256): DataFrame = {
    // the downstream gate (`qdigestGateStreamed`) prices exactly ONE merge
    // of stored nodes (slack = 2t per node); every additional fold can
    // coalesce a pushed group (< t) onto a node already holding up to 2t,
    // eroding the bound — so the 2-batch shape is a contract, not a default
    require(nBatches == 2,
      s"replayQDigest is gate-priced for exactly 2 batches, got $nBatches")
    replayDocFold(events, nBatches, Sketches.qdigestState(_, sigma),
      Sketches.qdigestUpdate(_, _, sigma), modSplit("event_id"))
  }

  /** `idCol mod n` — the engine-portable split the q-digest oracle and
    * the SQ8 maintainer replay.
    */
  private def modSplit(idCol: String)(i: Int, n: Int): Column =
    pmod(col(idCol), lit(n)) === i

  /** Generic in-memory fold: split `documents` into `nBatches`
    * deterministic micro-batches and fold each into an artifact with
    * `step` — the shared harness behind the drift, q-digest, Count-Min,
    * Misra–Gries and HLL streamed maintainers. `empty` maps an empty
    * input frame to the empty artifact. The state is built from the
    * first batch's own frame, so every fold runs on the stream's session
    * ([[ArtifactLoop]]), and `localCheckpoint` per fold keeps lineage
    * O(1) in the number of batches. The result is materialized, so the
    * temp root (input split + checkpoint) is deleted before returning;
    * it stays on the stream's session, so readouts rooted on it run at
    * the fold partition count too.
    */
  private def replayDocFold(documents: DataFrame, nBatches: Int,
                            empty: DataFrame => DataFrame,
                            step: (DataFrame, DataFrame) => DataFrame,
                            split: (Int, Int) => Column = hashSplit("doc_id")): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_fold_")
    try {
      writeSplit(documents, root.resolve("in"), nBatches, split)
      var state: Option[DataFrame] = None
      ArtifactLoop.run(documents.sparkSession.readStream.schema(documents.schema)
        .option("maxFilesPerTrigger", "1").parquet(root.resolve("in").toString),
        root.resolve("ckpt").toString) { (batch, _) =>
        val prev = state.getOrElse(empty(batch.limit(0)))
        state = Some(step(prev, batch).localCheckpoint())
      }
      state.getOrElse(empty(documents.limit(0)).localCheckpoint())
    } finally StreamingSessions.deleteRecursively(root)
  }

  /** Streamed Misra–Gries maintenance: per-batch summaries folded with
    * the value-based artifact merge
    * ([[graft.operators.Sketches.heavyHitterUpdate]]). Counter values
    * vary with batching; the MG theorems the gate checks do not.
    */
  def replayHeavyHitters(documents: DataFrame, nBatches: Int = 3,
                         k: Int = 8): DataFrame =
    replayDocFold(documents, nBatches, Sketches.heavyHitterState(_, k),
      Sketches.heavyHitterUpdate(_, _, k))

  /** Streamed HLL vocabulary maintenance: per-batch sketches folded with
    * `hll_union_agg` ([[graft.operators.Sketches.vocabSketchUpdate]]) —
    * register-wise max, so the streamed artifact is bit-identical to the
    * one-shot build (`StreamingSpec` pins it).
    */
  def replayVocabSketch(documents: DataFrame, nBatches: Int = 3): DataFrame =
    replayDocFold(documents, nBatches, Sketches.vocabSketchState,
      Sketches.vocabSketchUpdate)

  /** Streamed Count-Min maintenance: fold each document micro-batch into
    * the (row, col, cnt) artifact with
    * [[graft.operators.Sketches.cmsketchUpdate]]. CM merge is an EXACT
    * vector add, so the final artifact is bit-identical to the one-shot
    * build — `StreamingSpec` pins that cell-for-cell, and the gate read
    * from the streamed artifact shares `vocab_cmsketch`'s oracle.
    */
  def replayCmSketch(documents: DataFrame, nBatches: Int = 3): DataFrame =
    replayDocFold(documents, nBatches, Sketches.cmsketchState(_),
      Sketches.cmsketchUpdate(_, _))

  /** Count-Min maintenance with the artifact PERSISTED to a parquet table
    * per micro-batch — the production shape the `localCheckpoint`
    * maintainers above document, proven here with crash recovery instead
    * of asserted.
    *
    * Layout: `root/artifact/v{n}` holds the artifact after `n` folded
    * batches (`v0` = the empty sketch, written before the stream starts).
    * The fold for micro-batch id `b` reads `v{b}` and OVERWRITES
    * `v{b+1}` — a pure function of (stored artifact, batch slice), never
    * of driver memory. Spark's file source + streaming checkpoint replay
    * a failed micro-batch with the SAME id and the SAME input slice, so:
    * a crash BEFORE the write re-runs the fold; a crash AFTER the write
    * (before the offset commit) re-derives and overwrites a bit-identical
    * `v{b+1}`. Either way a restart on the same `checkpointLocation`
    * resumes at the first uncommitted batch and the final artifact equals
    * the uninterrupted run's — which, CM merge being an exact vector add,
    * equals the one-shot build cell-for-cell (`StreamingSpec` kills the
    * stream mid-flight and pins exactly this).
    *
    * `failAfterBatch` injects a crash after batch `b`'s artifact write
    * (1-based count, -1 = never) — test plumbing for the recovery proof.
    * Preparation (input split, `v0`) is idempotent so a caller can re-run
    * the same `root` to resume.
    */
  def replayCmSketchPersisted(documents: DataFrame,
                              root: java.nio.file.Path,
                              nBatches: Int = 3,
                              failAfterBatch: Int = -1): DataFrame =
    replayDocFoldPersisted(documents, root, nBatches, failAfterBatch,
      Sketches.cmsketchState(_), Sketches.cmsketchUpdate(_, _))

  /** Misra–Gries maintenance with the artifact persisted per micro-batch —
    * the [[replayCmSketchPersisted]] pattern ported to the second
    * value-mergeable maintainer: each fold reads `v{b}` and overwrites
    * `v{b+1}` as a pure function of (stored artifact, batch slice), so a
    * crash anywhere around the write re-derives a bit-identical table on
    * restart (MG counter VALUES depend on the batching, but the batching
    * — the deterministic split + checkpointed replay — is itself fixed,
    * so recovery is exact; the THEOREMS the gate checks hold for any
    * batching regardless). `StreamingSpec` kills and restarts it like the
    * CM twin.
    */
  def replayHeavyHittersPersisted(documents: DataFrame,
                                  root: java.nio.file.Path,
                                  nBatches: Int = 3, k: Int = 8,
                                  failAfterBatch: Int = -1): DataFrame =
    replayDocFoldPersisted(documents, root, nBatches, failAfterBatch,
      Sketches.heavyHitterState(_, k), Sketches.heavyHitterUpdate(_, _, k))

  /** q-digest maintenance with the artifact persisted per micro-batch —
    * the versioned-parquet crash-recovery pattern ported to the one
    * streamed sketch whose fold is BOUND-equivalent rather than
    * value-exact vs the one-shot build. Recovery itself is still exact:
    * the split (`event_id % 2`, [[replayQDigest]]'s contract batching),
    * the per-batch build, and the compression walk are all deterministic
    * functions of (stored artifact, batch slice), so a replayed batch
    * overwrites a bit-identical `v{b+1}` — and the recovered artifact
    * must additionally satisfy the 2t-per-node rank-slack gate
    * ([[graft.operators.Sketches.qdigestGateStreamed]]), the property
    * that distinguishes this sketch's contract. `StreamingSpec` kills and
    * restarts it like the CM/MG twins and checks BOTH.
    *
    * Keeps [[replayQDigest]]'s exactly-2-batches contract: the gate
    * prices ONE artifact merge (2t slack per node); more folds erode the
    * bound.
    */
  def replayQDigestPersisted(events: DataFrame,
                             root: java.nio.file.Path,
                             sigma: Int = 256,
                             failAfterBatch: Int = -1): DataFrame =
    replayDocFoldPersisted(events, root, nBatches = 2, failAfterBatch,
      Sketches.qdigestState(_, sigma), Sketches.qdigestUpdate(_, _, sigma),
      modSplit("event_id"))

  /** Streaming SQ8 index maintenance: the code TABLE as the persisted
    * artifact — bounds freeze over the stored corpus (first 4/5 of
    * vec_ids, [[graft.operators.Similarity.sqEncodeIncremental]]'s cut),
    * then each arriving micro-batch of embeddings encodes map-only
    * against them and APPENDS to the versioned table
    * (`v{b+1} = v{b} ∪ encode(batch)` — a pure function of (stored
    * artifact, batch slice), so the CM/MG/q-digest crash contract holds
    * verbatim and the recovered table is bit-identical). The final
    * artifact equals the one-shot incremental encode row-for-row, which
    * is exactly what the shared `ann_sq_encode_inc` oracle asserts.
    */
  def replaySqEncodePersisted(embeddings: DataFrame,
                              root: java.nio.file.Path,
                              nBatches: Int = 2,
                              failAfterBatch: Int = -1): DataFrame = {
    import graft.operators.Similarity
    val cut = embeddings.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val (mins, maxs) =
      Similarity.sqTrainBounds(embeddings.filter(col("vec_id") < cut))
    replayDocFoldPersisted(embeddings.filter(col("vec_id") >= cut),
      root, nBatches, failAfterBatch,
      Similarity.sqEncodeWithBounds(_, mins, maxs),
      (st, b) => st.unionByName(Similarity.sqEncodeWithBounds(b, mins, maxs)),
      modSplit("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** The shared versioned-parquet fold behind the `*Persisted`
    * maintainers. Layout: `root/artifact/v{n}` = artifact after `n`
    * folded batches (`v0` = empty, written before the stream starts);
    * batch `b` reads `v{b}`, overwrites `v{b+1}`. Spark's file source +
    * streaming checkpoint replay a failed micro-batch with the same id
    * and input slice, so a crash before OR after the write converges to
    * the same `v{b+1}` on restart.
    *
    * Resume contract: the `nbatches` marker is written LAST during
    * preparation. A root whose `in/` exists is resumable ONLY when the
    * marker exists and matches this call's `nBatches` — a missing marker
    * means a crash mid-preparation (partial input split), and a mismatch
    * means the checkpoint/split belong to a different batch count or
    * corpus slice; both fail fast instead of silently folding the wrong
    * replay ([[graft]] ADVICE r10).
    *
    * `failAfterBatch` injects a crash after batch `b`'s artifact write
    * (1-based, -1 = never) — test plumbing for the recovery proof.
    */
  private def replayDocFoldPersisted(documents: DataFrame,
                                     root: java.nio.file.Path,
                                     nBatches: Int, failAfterBatch: Int,
                                     empty: DataFrame => DataFrame,
                                     step: (DataFrame, DataFrame) => DataFrame,
                                     split: (Int, Int) => Column = hashSplit("doc_id")): DataFrame = {
    val spark = documents.sparkSession
    val inDir = root.resolve("in")
    val artDir = root.resolve("artifact")
    val marker = root.resolve("nbatches")
    if (!java.nio.file.Files.exists(inDir)) {
      writeSplit(documents, inDir, nBatches, split)
      java.nio.file.Files.write(marker, nBatches.toString.getBytes("UTF-8"))
    } else {
      val stored =
        if (java.nio.file.Files.exists(marker))
          new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
        else "<absent: preparation did not complete>"
      require(stored == nBatches.toString,
        s"replay root $root was prepared with nBatches=$stored but resumed " +
          s"with nBatches=$nBatches — the stored input split and checkpoint " +
          "would not match this run; use a fresh root")
    }
    if (!java.nio.file.Files.exists(artDir.resolve("v0")))
      empty(documents.limit(0)).write.mode("overwrite")
        .parquet(artDir.resolve("v0").toString)
    ArtifactLoop.run(spark.readStream.schema(documents.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString),
      root.resolve("ckpt").toString) { (batch, bid) =>
      val prev = batch.sparkSession.read.parquet(artDir.resolve(s"v$bid").toString)
      step(prev, batch)
        .write.mode("overwrite")
        .parquet(artDir.resolve(s"v${bid + 1}").toString)
      // injected crash AFTER the artifact write, BEFORE the offset
      // commit — the harder recovery case: the replayed batch must
      // overwrite v{bid+1} with a bit-identical table
      if (bid + 1 == failAfterBatch)
        throw new IllegalStateException(
          s"injected crash after persisting v${bid + 1}")
    }
    spark.read.parquet(artDir.resolve(s"v$nBatches").toString)
  }
}
