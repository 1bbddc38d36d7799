package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming document ingest with exact-dedup admission — the production
  * loop a training-data pipeline runs continuously: documents arrive as
  * micro-batches, each batch is admitted against the PERSISTED canonical
  * key table ([[graft.operators.Dedup.incrementalExact]]'s supplied-table
  * path, so per-batch work is O(batch) + one key-table join), and the
  * table is extended with the batch's newly-admitted keys before the next
  * batch fires. The near-dup, perceptual and semantic loops below extend
  * the same shape to their own artifact tables.
  *
  * `foreachBatch` is the right Spark shape here: admission needs a join
  * against mutable on-disk state AND a write-back to it, which the pure
  * streaming operators (`dropDuplicates` state store) cannot express
  * across restarts of different queries sharing one index. Batch-local
  * dedup, index join, and the append are all the engine's own relational
  * operators.
  *
  * The loop protocol — runner, batch-id-keyed idempotent output,
  * versioned snapshots, the replay-frontier guard — is
  * [[ArtifactLoop]]'s; each loop here is its step. The KEY table absorbs
  * replayed appends by canonicalize-on-read (min canonical_id per
  * text_key) — a replayed append can duplicate key rows on disk, but
  * later batches still see one row per key, so their admission joins
  * never fan out. The admission LOGIC is unchanged either way, which is
  * what the spec pins (stream ≡ whole-corpus batch dedup).
  */
object StreamingDedup {

  /** Committed admission output across all batch dirs
    * ([[ArtifactLoop.readOutput]]).
    */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    ArtifactLoop.readOutput(spark, outDir)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val keySchema: StructType = StructType(Seq(
    StructField("text_key", StringType), StructField("canonical_id", LongType)))

  /** Run the ingest-admission loop over parquet files appearing in `inDir`
    * (one file per micro-batch, mtime order) until drained
    * (`Trigger.AvailableNow`). Admissions append to `outDir`; the
    * canonical key table lives (and persists across calls) in `keyDir`.
    */
  def exactAdmissionStream(spark: SparkSession, inDir: String, keyDir: String,
                           outDir: String, ckptDir: String): Unit = {
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val b = batch.persist()
      try {
        // canonicalize on read: a replayed append may have written a key
        // twice; min(canonical_id) per key keeps admission joins
        // one-row-per-key regardless (min of duplicates == the value)
        val idx = ArtifactLoop.readOrEmpty(b.sparkSession, keyDir, keySchema)
          .groupBy(col("text_key"))
          .agg(min(col("canonical_id")).as("canonical_id"))
          .persist()
        try {
          // replay frontier: a batch whose key append already landed (crash
          // before the checkpoint commit) would trip the monotone-id guard
          // on its own stored canonicals. Dropped docs are checked per DOC
          // against the committed output — a key-level check alone would
          // wave through an out-of-order NEW doc sharing its text with an
          // indexed one (whole-corpus dedup would have made the lower id
          // canonical) — and per KEY against the key table (torn append).
          val eff = ArtifactLoop.aboveFrontier(b,
            ArtifactLoop.frontierOf(idx, "canonical_id"), outDir,
            "exactAdmissionStream", torn = Some(ArtifactLoop.TornCheck("key",
              _.select(md5(col("text")).as("text_key")),
              idx.select(col("text_key")),
              "rebuild the key table from whole-corpus dedup")))
          val admitted = graft.operators.Dedup
            .incrementalExact(eff.limit(0), eff, indexKeys = Some(idx))
            .persist()
          try {
            ArtifactLoop.writeOutputBatch(admitted, outDir, batchId)
            // extend the index with this batch's newly-admitted canonicals
            admitted.filter(col("admitted")).join(eff, "doc_id")
              .select(md5(col("text")).as("text_key"),
                col("doc_id").as("canonical_id"))
              .write.mode("append").parquet(keyDir)
          } finally admitted.unpersist()
        } finally idx.unpersist()
      } finally b.unpersist()
    }
  }

  private val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shingles", org.apache.spark.sql.types.ArrayType(StringType))))
  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", org.apache.spark.sql.types.ArrayType(LongType))))
  private val labelSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("cluster_id", LongType)))

  /** Streaming NEAR-dup admission — the continuous form of
    * [[graft.operators.NearDup.incrementalNearDupsIndexed]]: each
    * micro-batch is admitted against the persisted artifact tables
    * (`indexDir/shingles`, `indexDir/sigs`, `indexDir/labels/batch=N`),
    * then the artifacts are extended — shingles/signatures append
    * (map-only over the batch), and the label table is snapshotted under
    * the batch's id frontier (its max doc_id — monotone across
    * checkpoint lineages, unlike the streaming batch id).
    *
    * Replay safety, by construction rather than by luck:
    *  - the batch is filtered to ids ABOVE the SHINGLE artifact's frontier
    *    (`max(doc_id)` — parquet footer stats), and the shingle append is
    *    the LAST write of the step, so the frontier artifact commits only
    *    after everything else: a replayed micro-batch either reprocesses
    *    in full (artifacts at most duplicate-appended, which the admission
    *    joins absorb — candidates are `distinct`ed, propagation takes
    *    minima) or sees an empty effective batch;
    *  - dropped below-frontier docs are checked per DOC against the
    *    COMMITTED OUTPUT (which commits before every artifact append, so
    *    a legitimate replay's ids always hold admission rows): a dropped
    *    doc with no committed admission row — shingled or not — is
    *    genuinely out-of-order input, which fails loudly instead of
    *    silently losing its admission;
    *  - label snapshots are versioned `batch=N` (N = the batch's max
    *    doc_id) with Spark's `_SUCCESS` marker required at read — a
    *    crash mid-snapshot leaves an
    *    uncommitted dir the next read ignores; snapshot math is idempotent
    *    (labels only decrease; union + min per doc) and the snapshot is
    *    written before the artifact appends, so every crash point replays
    *    to the same state; old snapshots are pruned (latest two kept);
    *  - the output write is batch-id-keyed and idempotent
    *    ([[ArtifactLoop.writeOutputBatch]]): a replayed batch overwrites its own
    *    `batch=N` dir with the identical re-derived rows, so no crash
    *    point can duplicate OUTPUT rows.
    */
  def nearDupAdmissionStream(spark: SparkSession, inDir: String,
                             indexDir: String, outDir: String,
                             ckptDir: String): Unit = {
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val labRoot = s"$indexDir/labels"
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val b = batch.persist()
      try {
        val sess = b.sparkSession
        val idxLab = ArtifactLoop.latestCommitted(sess, labRoot, labelSchema)
          .getOrElse(ArtifactLoop.emptyFrame(sess, labelSchema))
        val idxSigs = ArtifactLoop.readOrEmpty(sess, s"$indexDir/sigs", sigSchema)
        val idxSh = ArtifactLoop.readOrEmpty(sess, s"$indexDir/shingles", shingleSchema)
        // replay frontier from the SHINGLE artifact — the last write of
        // this step, so by the time a doc is at-or-below the frontier,
        // every other write for its batch has landed; reprocessing it
        // would trip the monotone-id guard and double-index it. Dropped
        // docs are checked per DOC against the committed output (a
        // shingle-less out-of-order doc carries no signature yet still
        // owes the corpus an admission row) and per SHINGLED doc against
        // the shingle artifact (torn append: future admissions would
        // silently miss near-dups against the lost rows).
        val eff = ArtifactLoop.aboveFrontier(b,
          ArtifactLoop.frontierOf(idxSh, "doc_id"), outDir,
          "nearDupAdmissionStream", torn = Some(ArtifactLoop.TornCheck(
            "shingle", graft.operators.NearDup.shingled(_).select(col("doc_id")),
            idxSh.select(col("doc_id")),
            "rebuild the artifacts from whole-corpus dedup"))).persist()
        try {
          // an effective-empty batch (full replay) mutates nothing: the
          // re-derived snapshot would equal the latest committed one, and
          // writing it under a fresh name would only churn the retention
          // window — skip the whole mutation block
          // ONE stats action: emptiness and the snapshot name together
          val effStats = eff.agg(count(lit(1)), max(col("doc_id"))).head()
          if (effStats.getLong(0) > 0) {
            // snapshot name = the batch's own id frontier (max doc_id),
            // NOT the streaming batch id (see ArtifactLoop): eff ids are
            // above the artifact frontier, and a replay re-derives the
            // same name with identical content
            val effMax = effStats.getLong(1)
            // batch shingles are shared between admission and the artifact
            // append — shingling is the hottest dedup stage, don't pay it 2×
            val bSh = graft.operators.NearDup.shingled(eff).persist()
            try {
              val (admissions, newLabels) = graft.operators.NearDup
                .incrementalNearDupsIndexed(idxSh, idxSigs, idxLab, eff,
                  batchShingles = Some(bSh))
              ArtifactLoop.writeOutputBatch(admissions, outDir, batchId)
              // snapshot labels BEFORE the artifact appends: if an append
              // crashes, the replayed batch re-derives the identical snapshot
              // (ignored-extra label rows + min-idempotence), never stale.
              // newLabels is localCheckpointed (materialized), so overwriting
              // or pruning the very snapshot it was read from is safe.
              ArtifactLoop.commitSnapshot(newLabels, labRoot, effMax)
              // extend the artifacts: sigs first, the frontier-bearing
              // shingle table LAST (see replay-safety contract above)
              graft.operators.NearDup.minhashSignatures(bSh).write.mode("append")
                .parquet(s"$indexDir/sigs")
              bSh.write.mode("append").parquet(s"$indexDir/shingles")
            } finally bSh.unpersist()
          }
        } finally eff.unpersist()
      } finally b.unpersist()
    }
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))
  private val bucketSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("bucket", LongType)))
  private val semLabelSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cluster_id", LongType)))

  /** Streaming PERCEPTUAL admission — the continuous form of
    * [[graft.operators.Multimodal.fingerprintAdmission]], closing the
    * streaming admission family (exact / near-dup / semantic /
    * perceptual): media documents arrive as micro-batches, each batch is
    * fingerprinted ONCE (the only decode pass), admitted against the
    * persisted fingerprint artifact via the 4-band Hamming search, and
    * the artifact is extended. `fingerprint` maps a batch of documents to
    * `(doc_id, <fpCol>)` — pass `Multimodal.imageHashes` /
    * `audioFingerprints` for the shipped modalities; media bytes never
    * reach the artifact, the join, or the output.
    *
    * Crash safety is the single-artifact special case of the
    * [[ArtifactLoop]] frontier contract: the fingerprint table is the
    * frontier-bearing artifact and the ONLY artifact, written after the
    * batch-id-keyed output commit — a crash between them replays the
    * batch in full and [[ArtifactLoop.writeOutputBatch]] keeps the committed rows; a
    * torn fingerprint append (max row landed, others lost) is detected
    * per replayed doc and fails loudly, because a silently absent
    * fingerprint would never refuse that doc's future twins. The
    * direct-neighbor admission rule needs no label store — admission is
    * order-free within a batch — so there is no snapshot machinery here.
    * Parameter drift (`hexLen`, `maxHamming`) is pinned in
    * `indexDir/params` exactly as in the semantic loop: bands probed at
    * a different geometry or radius are a different dedup relation.
    */
  def perceptualAdmissionStream(spark: SparkSession, inDir: String,
                                indexDir: String, outDir: String,
                                ckptDir: String,
                                fingerprint: DataFrame => DataFrame,
                                fpCol: String, hexLen: Int,
                                maxHamming: Int = 3): Unit = {
    val inSchema = spark.read.parquet(inDir).schema
    require(inSchema.fieldNames.contains("doc_id"),
      s"perceptualAdmissionStream: input $inDir must carry doc_id")
    val fpSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField(fpCol, StringType)))
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val bfp = fingerprint(batch)
        .select(col("doc_id").cast("long").as("doc_id"), col(fpCol))
        .persist()
      try {
        val sess = bfp.sparkSession
        // dedupe-on-read: a crashed-then-replayed append may have written
        // a fingerprint twice; duplicates are bit-identical
        val idxFps = ArtifactLoop.readOrEmpty(sess, s"$indexDir/fps", fpSchema)
          .dropDuplicates("doc_id")
        ArtifactLoop.pinParams(sess, indexDir, "perceptualAdmissionStream",
          Seq("hex_len" -> hexLen, "max_hamming" -> maxHamming))
        // replay frontier from the fingerprint artifact — the last (and
        // only) artifact write, so a frontier-covered doc's batch landed
        val eff = ArtifactLoop.aboveFrontier(bfp,
          ArtifactLoop.frontierOf(idxFps, "doc_id"), outDir,
          "perceptualAdmissionStream", torn = Some(ArtifactLoop.TornCheck(
            "fingerprint", _.select(col("doc_id")), idxFps.select(col("doc_id")),
            "rebuild the index by re-running the batch fingerprint " +
              "extraction over the corpus"))).persist()
        try {
          val admissions = graft.operators.Multimodal.fingerprintAdmission(
            idxFps, eff, fpCol, hexLen, maxHamming)
          ArtifactLoop.writeOutputBatch(admissions, outDir, batchId)
          // frontier-bearing artifact append LAST (contract above)
          if (!eff.isEmpty)
            eff.write.mode("append").parquet(s"$indexDir/fps")
        } finally eff.unpersist()
      } finally bfp.unpersist()
    }
  }

  /** Streaming SEMANTIC (embedding-space) admission — the continuous form
    * of [[graft.operators.Similarity.semanticDedupIncremental]], closing
    * the streaming column of the dedup matrix (exact ✓, text near-dup ✓,
    * embedding ✓): each micro-batch of `(vec_id, embedding)` rows is
    * admitted against the persisted artifact tables (`indexDir/emb` — the
    * vector store for exact-cosine verify, `indexDir/buckets` — the LSH
    * bucket table, `indexDir/labels/batch=N` — sparse label snapshots),
    * then the artifacts are extended.
    *
    * The crash-safety construction is the [[ArtifactLoop]] frontier
    * contract with the BUCKET table as the frontier-bearing artifact
    * (written LAST): a replayed micro-batch either reprocesses in full
    * (the vector-store append may duplicate rows — absorbed by
    * dedupe-on-read, duplicates are bit-identical) or sees an empty
    * effective batch; dropped below-frontier vectors are checked per
    * VECTOR against the committed output (legitimate replay) and against
    * the bucket artifact (torn bucket append detection); label snapshots
    * are `_SUCCESS`-gated and idempotent to re-derive; the output write
    * is batch-id-keyed.
    *
    * Parameter drift is a silent-corruption risk unique to this loop: a
    * bucket table probed at a different plane count lives in a different
    * bit space (near-dup pairs silently vanish), and labels admitted
    * under a different threshold are a different equivalence relation —
    * both are pinned in a one-row `indexDir/params` artifact on first
    * run and `require`d to match on every later one.
    */
  def semanticAdmissionStream(spark: SparkSession, inDir: String,
                              indexDir: String, outDir: String,
                              ckptDir: String, threshold: Double,
                              numPlanes: Int): Unit = {
    // footer-probed input schema: accepts the fixtures' array<float>
    // layout and an upstream pipeline's array<double> alike; the step
    // normalizes to array<double> (the artifact layout) either way
    val inSchema = spark.read.parquet(inDir).schema
    require(inSchema.fieldNames.contains("vec_id") &&
      inSchema.fieldNames.contains("embedding"),
      s"semanticAdmissionStream: input $inDir must carry (vec_id, embedding)")
    val stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val labRoot = s"$indexDir/labels"
    ArtifactLoop.run(stream, ckptDir) { (batch, batchId) =>
      val b = batch.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding")).persist()
      try {
        val sess = b.sparkSession
        // parameter pin (see scaladoc): one bounded read per batch
        ArtifactLoop.pinParams(sess, indexDir, "semanticAdmissionStream",
          Seq("num_planes" -> numPlanes, "threshold" -> threshold))
        // dedupe-on-read: a crashed-then-replayed append may have written
        // a vector (or bucket row) twice; duplicates are bit-identical,
        // so any-one-per-key restores the exactly-once view
        val idxEmb = ArtifactLoop.readOrEmpty(sess, s"$indexDir/emb", embSchema)
          .dropDuplicates("vec_id")
        val idxBuckets = ArtifactLoop
          .readOrEmpty(sess, s"$indexDir/buckets", bucketSchema).distinct()
        val idxLab = ArtifactLoop.latestCommitted(sess, labRoot, semLabelSchema)
          .getOrElse(ArtifactLoop.emptyFrame(sess, semLabelSchema))
        // replay frontier from the BUCKET artifact — the last write of the
        // step, so a frontier-covered vector's batch has fully landed; a
        // replayed vector absent from it exposes a torn bucket append
        // (rows future admissions would silently never probe)
        val eff = ArtifactLoop.aboveFrontier(b,
          ArtifactLoop.frontierOf(idxBuckets, "vec_id"), outDir,
          "semanticAdmissionStream", idCol = "vec_id",
          torn = Some(ArtifactLoop.TornCheck("bucket", _.select(col("vec_id")),
            idxBuckets.select(col("vec_id")),
            "rebuild the index from whole-corpus semanticDedup"))).persist()
        try {
          // effective-empty batch (full replay): nothing to admit and the
          // re-derived label snapshot would equal the committed one — skip
          // the mutation block (same reasoning as the near-dup loop)
          val effStats = eff.agg(count(lit(1)), max(col("vec_id"))).head()
          if (effStats.getLong(0) > 0) {
            // snapshot name = the batch's id frontier, not the streaming
            // batch id (see the near-dup loop)
            val effMax = effStats.getLong(1)
            val (admissions, newLabels) = graft.operators.Similarity
              .semanticDedupIncremental(idxEmb, idxBuckets, idxLab, eff,
                threshold, numPlanes)
            ArtifactLoop.writeOutputBatch(admissions, outDir, batchId)
            // snapshot labels BEFORE the artifact appends (same idempotence
            // argument as the near-dup loop; newLabels is localCheckpointed,
            // so overwriting the snapshot it was read from is safe)
            ArtifactLoop.commitSnapshot(newLabels, labRoot, effMax)
            // extend the artifacts: vector store first, the frontier-
            // bearing bucket table LAST (replay-safety contract above)
            eff.write.mode("append").parquet(s"$indexDir/emb")
            graft.operators.Similarity.bucketTable(eff, numPlanes)
              .write.mode("append").parquet(s"$indexDir/buckets")
          }
        } finally eff.unpersist()
      } finally b.unpersist()
    }
  }
}
