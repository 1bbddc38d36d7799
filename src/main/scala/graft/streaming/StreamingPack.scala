package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Streaming sequence packing — the continuous form of
  * [[graft.operators.Curation.packSequencesWith]]: documents arrive as
  * micro-batches and each batch's (sequence, document) placement rows are
  * appended as the exact continuation of the already-packed token stream,
  * so the placement table grows append-only while every sequence boundary
  * lands where whole-corpus [[graft.operators.Curation.packSequences]]
  * over everything-so-far would put it (spec-pinned equality).
  *
  * State is the one-row [[graft.operators.Curation.packState]] artifact,
  * persisted as versioned `stateDir/batch=N` snapshots (N = the batch's
  * doc-id frontier, monotone across checkpoint lineages; `_SUCCESS`-gated
  * reads, latest committed wins, two retained) and extended per batch by
  * [[graft.operators.Curation.packStateAfter]] — O(batch) per micro-batch,
  * nothing ever rescans the packed corpus.
  *
  * Replay safety is [[ArtifactLoop]]'s frontier contract: the batch is
  * filtered to ids above the state frontier (`max_doc_id`); the
  * frontier-bearing state snapshot is the LAST write of the step, so a
  * replayed batch either reprocesses in full against the identical
  * pre-batch state (re-deriving byte-identical placements; the
  * batch-id-keyed idempotent output writer keeps the committed dir
  * verbatim) or sees an empty effective batch. Every dropped id must
  * already hold a committed placement — in the crash window (output
  * committed, state missing) the old frontier keeps the batch effective
  * rather than dropped — so an UNPLACED id at or below the frontier is
  * genuinely out-of-order input that fails loudly instead of silently
  * losing a document's placement. No torn-append layer: the state
  * snapshot is an atomic `_SUCCESS`-gated versioned dir, not an append.
  * Each snapshot still records `prev_max_doc_id`, the frontier before its
  * own batch, as a replay-window diagnostic.
  *
  * The sibling screens below are stateless loops on the same runner and
  * output writer.
  */
object StreamingPack {

  private val stateSchema = StructType(Seq(
    StructField("n_docs", LongType), StructField("max_doc_id", LongType),
    StructField("total_tokens", LongType),
    StructField("prev_max_doc_id", LongType)))

  /** Static schema for embedding-batch streams (the `embeddings` table
    * shape) — declared like [[StreamingDedup.docSchema]] so a stream can
    * start against an `inDir` that has no files yet; an eager
    * schema-inference read would throw on the empty dir.
    */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Defend a micro-batch against under-partitioned file reads: a replay
    * file smaller than `maxPartitionBytes` arrives as ONE partition, which
    * serializes the whole screen's explode+hash map side behind a single
    * core (measured 21 s/batch at 500k docs, `DevScaleCuration` r12) —
    * a harness/small-batch artifact, but the operator should not depend on
    * upstream file sizing. When the batch has fewer partitions than the
    * session's parallelism, round-robin repartition to the core count; a
    * production-sized batch (files already split by the source) passes
    * through untouched. Safe for the stateless screens: their reports are
    * per-doc pure functions of the frozen artifacts, so row placement
    * cannot change results, and replays skip via the `_SUCCESS`-gated
    * writer rather than relying on byte-identical files.
    */
  private def widened(batch: DataFrame): DataFrame = {
    val cores = batch.sparkSession.sparkContext.defaultParallelism
    if (batch.rdd.getNumPartitions < cores) batch.repartition(cores) else batch
  }

  /** Latest committed pack state under `stateDir`, or the empty-corpus
    * state. Returned as (n_docs, max_doc_id, total_tokens,
    * prev_max_doc_id) — a single driver-side row (the artifact is one
    * row by construction).
    */
  def readState(spark: SparkSession, stateDir: String): Row =
    ArtifactLoop.latestCommitted(spark, stateDir, stateSchema).map(_.head())
      .getOrElse(Row(0L, -1L, 0L, -1L))

  /** Committed placement rows across all batch dirs. */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    ArtifactLoop.readOutput(spark, outDir)

  /** Run the packing loop over parquet files appearing in `inDir` (one
    * file per micro-batch, mtime order) until drained. Placement rows
    * append under `outDir` (batch-id-keyed, idempotent); the pack-state
    * snapshots live under `stateDir`.
    */
  def packAdmissionStream(spark: SparkSession, inDir: String,
                          stateDir: String, outDir: String, ckptDir: String,
                          seqLen: Long): Unit = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val stream = spark.readStream.schema(StreamingDedup.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val b = batch.persist()
      try {
        val sess = b.sparkSession
        val st = readState(sess, stateDir)
        val frontier = st.getLong(1)
        // the empty-corpus frontier (-1) still runs the dropped-are-
        // replays check: it drops only ids at or below -1
        val eff = ArtifactLoop.aboveFrontier(b, Some(frontier), outDir,
          "packAdmissionStream")
        if (!eff.isEmpty) {
          val stateDf = sess.createDataFrame(
            java.util.Arrays.asList(
              Row(st.getLong(0), st.getLong(1), st.getLong(2))),
            StructType(stateSchema.fields.take(3)))
          val placements = graft.operators.Curation
            .packSequencesWith(stateDf, eff, seqLen).persist()
          try {
            ArtifactLoop.writeOutputBatch(placements, outDir, batchId)
            // frontier-bearing snapshot LAST (replay-safety contract),
            // named by the NEW FRONTIER (see ArtifactLoop)
            val newFrontier = eff.agg(max(col("doc_id"))).head().getLong(0)
            ArtifactLoop.commitSnapshot(graft.operators.Curation
              .packStateAfter(stateDf, eff)
              .withColumn("prev_max_doc_id", lit(frontier)), stateDir, newFrontier)
          } finally placements.unpersist()
        }
      } finally b.unpersist()
    }
  }

  /** Streamed exact-n-gram decontamination — the continuous form of
    * [[graft.operators.Curation.decontaminateWith]]: arriving training
    * batches are screened against the FROZEN
    * [[graft.operators.Curation.evalNgramArtifact]] posting table under
    * `artifactDir/eval_ngrams`, and each batch's contamination report
    * rows land in the batch-id-keyed idempotent output. Stateless for
    * the same reason as [[importanceAdmissionStream]] (the artifact is
    * read-only and a doc's report is a pure function of it), so replay
    * is a byte-identical no-op; per-batch cost is the batch's own
    * shingle explode + one join against the benchmark-sized artifact.
    */
  def decontaminationScreenStream(spark: SparkSession, inDir: String,
                                  artifactDir: String, outDir: String,
                                  ckptDir: String, n: Int = 8): Unit = {
    val stream = spark.readStream.schema(StreamingDedup.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val art = batch.sparkSession.read.parquet(s"$artifactDir/eval_ngrams")
      ArtifactLoop.writeOutputBatch(
        graft.operators.Curation.decontaminateWith(art, widened(batch), n),
        outDir, batchId)
    }
  }

  /** Streamed fuzzy decontamination — the continuous form of
    * [[graft.operators.Curation.decontaminateFuzzyWith]]: batches are
    * band-joined + exact-verified against the FROZEN
    * [[graft.operators.Curation.evalFuzzyArtifacts]] pair
    * (`artifactDir/bands`, `artifactDir/shingles`). Stateless; same
    * replay contract as the sibling loops.
    */
  def fuzzyScreenStream(spark: SparkSession, inDir: String,
                        artifactDir: String, outDir: String,
                        ckptDir: String): Unit = {
    val stream = spark.readStream.schema(StreamingDedup.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val sess = batch.sparkSession
      ArtifactLoop.writeOutputBatch(
        graft.operators.Curation.decontaminateFuzzyWith(
          sess.read.parquet(s"$artifactDir/bands"),
          sess.read.parquet(s"$artifactDir/shingles"), widened(batch)),
        outDir, batchId)
    }
  }

  /** Streamed semantic decontamination — the continuous form of
    * [[graft.operators.Similarity.decontaminateSemanticWith]]: batches
    * probe the FROZEN eval bucket table + vectors
    * (`artifactDir/eval_emb`, `artifactDir/buckets`) with the bucket ∪
    * hamming-1 set and exact cosine verify. Stateless; the artifact's
    * plane count is pinned by the caller exactly as in the stored-bucket
    * dedup path.
    */
  def semanticScreenStream(spark: SparkSession, inDir: String,
                           artifactDir: String, outDir: String,
                           ckptDir: String, threshold: Double = 0.4,
                           numPlanes: Int =
                             graft.operators.Similarity.NumPlanes): Unit = {
    val stream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val sess = batch.sparkSession
      ArtifactLoop.writeOutputBatch(
        graft.operators.Similarity.decontaminateSemanticWith(
          sess.read.parquet(s"$artifactDir/eval_emb"),
          sess.read.parquet(s"$artifactDir/buckets"),
          widened(batch), threshold, numPlanes),
        outDir, batchId)
    }
  }

  private val quotaSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType),
    StructField("max_vec_id", LongType)))

  /** Latest committed cluster-quota state under `stateDir`, falling back
    * to the frozen seed quota under `artifactDir/quota` (the standing
    * corpus's own pick + its id frontier) when the stream has not
    * committed a snapshot yet. Bounded: ≤ cells × perCell rows.
    */
  def readClusterQuota(spark: SparkSession, stateDir: String,
                       artifactDir: String): DataFrame =
    ArtifactLoop.latestCommitted(spark, stateDir, quotaSchema)
      .getOrElse(spark.read.schema(quotaSchema).parquet(s"$artifactDir/quota"))

  /** Streamed cluster-balanced diversity sampling — the continuous form
    * of [[graft.operators.Similarity.clusterBalancedSampleIncremental]]:
    * embedding batches are cell-assigned against the FROZEN
    * [[graft.operators.Similarity.clusterArtifacts]] centroids
    * (`artifactDir/centroids`) and admitted through the evolving
    * per-cell quota, whose state is the ≤ cells × perCell key table
    * persisted as `_SUCCESS`-gated `stateDir/batch=N` snapshots (seeded
    * from `artifactDir/quota` — `(vec_id, cell, max_vec_id)`, the
    * standing corpus's pick plus its id frontier). Each batch's
    * admissions are EXACTLY the whole-so-far-corpus pick restricted to
    * the batch ([[graft.operators.Similarity.clusterBalancedAdmitWith]]'s
    * merge argument), and the state after any prefix of batches IS the
    * whole-so-far pick — the current sample, independent of batching.
    *
    * Replay contract ([[ArtifactLoop]]'s frontier rule): the batch
    * filters to ids above the state frontier; output commits BEFORE the
    * frontier-bearing snapshot, so the crash window replays the full
    * batch against the identical pre-batch state (byte-identical
    * admissions; the idempotent writer keeps the committed dir) and a
    * fully-committed batch replays as effective-empty. Unlike the pack
    * loop there is no dropped-are-replays guard: a non-admitted doc
    * legitimately has no output row, so below-frontier NEW ids are
    * indistinguishable from replays without a corpus-sized seen-set —
    * the loop therefore REQUIRES id-ordered input batches (the
    * vec_id-ordered shard convention the frontier admission loops
    * share).
    *
    * Per-batch cost: one broadcast-centroid assignment pass over the
    * batch + a rank over batch ∪ quota rows — O(batch), the corpus never
    * rescans.
    */
  def clusterAdmissionStream(spark: SparkSession, inDir: String,
                             artifactDir: String, stateDir: String,
                             outDir: String, ckptDir: String,
                             perCell: Int = 8): Unit = {
    val stream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val b = batch.persist()
      try {
        val sess = b.sparkSession
        // plain read, no checkpoint: the quota table is ≤ cells×perCell
        // rows and consumed twice (frontier agg, pick) — re-reading a
        // 128-row parquet beats an eager checkpoint job per micro-batch
        // whose cached blocks leak for the stream's lifetime (the r12
        // importance-loop lesson)
        val st = readClusterQuota(sess, stateDir, artifactDir)
        val frontier = st.agg(coalesce(max(col("max_vec_id")), lit(-1L)))
          .head().getLong(0)
        val fresh = b.filter(col("vec_id") > frontier)
        // ONE stats action (count + new frontier) BEFORE the centroid read
        // and the assignment: an effective-empty (replayed) batch skips both
        val effStats = fresh
          .agg(count(lit(1)), coalesce(max(col("vec_id")), lit(-1L))).head()
        if (effStats.getLong(0) > 0) {
          // ONE assignment and ONE pick over quota ∪ batch per batch,
          // checkpointed: the output rows and the quota snapshot are both
          // projections of it
          val pick = graft.operators.Similarity.clusterPickAssigned(
            st.select(col("vec_id"), col("cell")),
            graft.operators.Similarity.assignCells(
              sess.read.parquet(s"$artifactDir/centroids"), widened(fresh)),
            perCell).localCheckpoint()
          ArtifactLoop.writeOutputBatch(
            graft.operators.Similarity.clusterBalancedAdmitAssigned(pick),
            outDir, batchId)
          // frontier-bearing snapshot LAST (replay-safety contract),
          // named by the frontier (see ArtifactLoop): fresh is filtered to
          // ids above the old frontier, so each effective batch's name
          // strictly increases, and a replayed batch re-derives the same
          // name with identical content (idempotent overwrite)
          val newFrontier = effStats.getLong(1)
          ArtifactLoop.commitSnapshot(graft.operators.Similarity
            .clusterQuotaAfterAssigned(pick)
            .withColumn("max_vec_id", lit(math.max(frontier, newFrontier))),
            stateDir, newFrontier)
        }
      } finally b.unpersist()
    }
  }

  /** Streamed importance admission — the continuous form of
    * [[graft.operators.Curation.importanceSampleIncremental]]: documents
    * arrive as micro-batches and each batch is scored against the FROZEN
    * [[graft.operators.Curation.importanceArtifacts]] (weights under
    * `artifactDir/weights`, the one-row threshold under
    * `artifactDir/thr`), admitting `w_avg_milli ≥ thr` rows to the
    * batch-id-keyed idempotent output.
    *
    * Unlike the dedup admission loops this one is STATELESS — the
    * artifacts are read-only and a doc's verdict is a pure function of
    * them (the incremental operator's spec-pinned purity) — so replay
    * safety needs no frontier guard: a replayed batch re-derives
    * byte-identical admissions and the `_SUCCESS`-gated writer keeps the
    * committed dir verbatim. Per-batch cost is one broadcast join
    * against the ≤buckets-row weight table plus a partial-aggregated
    * groupBy — O(batch), the artifacts never rescan.
    */
  def importanceAdmissionStream(spark: SparkSession, inDir: String,
                                artifactDir: String, outDir: String,
                                ckptDir: String,
                                buckets: Int = 4096): Unit = {
    val stream = spark.readStream.schema(StreamingDedup.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val sess = batch.sparkSession
      // plain read, no checkpoint: the weight table is consumed exactly
      // once per batch (the scoring join), so materializing it would add
      // an eager job per micro-batch and leak cached blocks across the
      // stream's lifetime
      val wt = sess.read.parquet(s"$artifactDir/weights")
      val thr = sess.read.parquet(s"$artifactDir/thr")
        .collect().headOption.map(_.getLong(0)) // 1-row artifact
      val wide = widened(batch)
      val admitted = thr match {
        case None => // empty pool trained no threshold: admit nothing
          graft.operators.Curation.importanceScores(wide, wt, buckets)
            .filter(org.apache.spark.sql.functions.lit(false))
        case Some(t) =>
          graft.operators.Curation.importanceScores(wide, wt, buckets)
            .filter(org.apache.spark.sql.functions.col("w_avg_milli") >= t)
      }
      ArtifactLoop.writeOutputBatch(admitted, outDir, batchId)
    }
  }
}
