package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one `foreachBatch` loop behind every artifact-maintaining stream —
  * the admission loops ([[StreamingDedup]], [[StreamingPack]]), the
  * salted session fold ([[SaltedSessionStream]]) and the sketch folds
  * ([[StreamingSketches]]). Each of those is a STEP `(batch, batchId)`;
  * this object owns the protocol the steps share:
  *
  *  1. '''Runner''' ([[run]]): start the step as a `Trigger.AvailableNow`
  *     `foreachBatch` query and drain it. Every job a step runs inherits
  *     the shuffle partitioning of the session its frames live on, and a
  *     micro-batch is a fraction of the corpus: at the bench SFs a sub-MB
  *     batch across 32 session partitions paid 32 near-empty tasks per
  *     exchange plus a 32-file output/state write per batch (r15: the
  *     salted session replay read 15.2 s at local[32] vs 6.0 s at 4
  *     partitions — the cost tracked the partition count, not the data).
  *     The runner therefore sets [[FoldPartitions]] on
  *     `batch.sparkSession`: the session the query cloned from the caller
  *     when it was constructed (Structured Streaming gives each query its
  *     own session), which the batch frame is built on. The caller's
  *     session is never written, so a concurrent query on it keeps its
  *     own partitioning. A step roots its work on the batch session —
  *     reads go through `batch.sparkSession`, and state a step carries
  *     across batches is built from the batch's own frames.
  *  2. '''Versioned `batch=N` store''': the batch-id-keyed idempotent
  *     output ([[writeOutputBatch]] / [[readOutput]]) and the `_SUCCESS`-
  *     gated snapshot store ([[latestCommitted]] / [[commitSnapshot]],
  *     latest committed wins, two retained). A snapshot is named by a
  *     value monotone across checkpoint lineages (an id frontier or an
  *     event count), never by the streaming batch id, which restarts with
  *     a fresh checkpoint — a lower-numbered snapshot landing below the
  *     retained ones would let the prune delete the newest state.
  *  3. '''Replay-frontier guard''' ([[aboveFrontier]]): the crash-safety
  *     rule of the id-frontier loops. A step writes output first, then
  *     its snapshots, then the frontier-bearing artifact LAST, so a
  *     replayed micro-batch either reprocesses in full against the
  *     identical pre-batch state (the idempotent writer keeps the
  *     committed output verbatim) or sees its ids at or below the
  *     frontier. Those dropped ids must each hold a committed output row
  *     — a legitimate replay's always do, out-of-order NEW input never
  *     does — and, where the frontier artifact is an append, must each be
  *     present in it (a torn append advances the frontier while losing
  *     rows). Both checks run only on a batch that drops something. One
  *     aggregate over the artifact's ids ∪ the batch's ids
  *     ([[frontierBounds]]) gives the frontier, the batch's min id
  *     (whether anything drops) and its max id (emptiness and the
  *     snapshot name), so a steady-state batch pays one job for all
  *     three, and the batch a loop admits is above the artifact's max id
  *     by construction — the monotone-id precondition of the indexed
  *     dedup operators, whose guard-less cores the loops call.
  *
  * Exactly-once output is Structured Streaming's idempotent-sink rule:
  * a failed micro-batch replays with the same id and the same input
  * slice, and the sink keys its effect by that id.
  */
object ArtifactLoop {

  /** Shuffle partitions every loop step runs at. One value serves every
    * loop at the bench SFs; sizing it from measured batch bytes (guide
    * §2.2: 100 MB–1 GB post-shuffle partitions) edits this constant.
    */
  private[streaming] val FoldPartitions = 4

  /** Run `step` over `stream` until drained (`Trigger.AvailableNow`),
    * checkpointed at `ckptDir`, on the query's own session scoped to
    * [[FoldPartitions]].
    */
  private[graft] def run(stream: DataFrame, ckptDir: String)(
      step: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => {
        batch.sparkSession.conf.set("spark.sql.shuffle.partitions",
          FoldPartitions.toString)
        step(batch, batchId)
      })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir)
      .start()
      .awaitTermination()

  /** An empty frame of `schema` on `spark`. */
  private[streaming] def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The artifact table at `path`, or an empty one of `schema` before its
    * first write. Hadoop FS existence check (not java.io.File), so
    * artifacts can live on HDFS/S3 in a cluster deployment.
    */
  private[streaming] def readOrEmpty(spark: SparkSession, path: String,
                                     schema: StructType): DataFrame = {
    val p = new Path(path)
    if (fsOf(spark, p).exists(p)) spark.read.schema(schema).parquet(path)
    else emptyFrame(spark, schema)
  }

  /** Committed `batch=N` dirs under `root`, numerically ordered. A crash
    * mid-write leaves a dir without Spark's `_SUCCESS` marker; its batch
    * has not committed to the streaming checkpoint either, so it WILL
    * replay and overwrite the orphan — readers skip it rather than
    * surface partial rows (an uncommitted label snapshot would otherwise
    * resurrect an empty label store and re-snapshot the degraded state).
    */
  private[streaming] def committedBatchDirs(spark: SparkSession, root: String): Seq[Path] = {
    val r = new Path(root)
    val fs = fsOf(spark, r)
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r).toSeq
      .filter(_.getPath.getName.startsWith("batch="))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .sortBy(_.getPath.getName.stripPrefix("batch=").toLong)
      .map(_.getPath)
  }

  /** Latest committed snapshot under `root`, read with `schema`; `None`
    * before the first commit. A replayed batch may read its own
    * committed snapshot — safe for every loop here, because each
    * re-derives an identical one (or skips the batch).
    */
  private[streaming] def latestCommitted(spark: SparkSession, root: String,
                                         schema: StructType): Option[DataFrame] =
    committedBatchDirs(spark, root).lastOption
      .map(p => spark.read.schema(schema).parquet(p.toString))

  /** Commit `snapshot` as `root/batch=<n>` and prune to the latest two
    * committed snapshots: replay only ever reads the latest, and the
    * predecessor — the one this batch read — stays for a reader racing
    * the prune.
    */
  private[streaming] def commitSnapshot(snapshot: DataFrame, root: String, n: Long): Unit = {
    snapshot.write.mode("overwrite").parquet(new Path(root, s"batch=$n").toString)
    val spark = snapshot.sparkSession
    val fs = fsOf(spark, new Path(root))
    committedBatchDirs(spark, root).dropRight(2).foreach(p => fs.delete(p, true))
  }

  /** Batch-id-keyed idempotent output write: batch `batchId`'s rows land
    * in `outDir/batch=<id>`, exactly once across every crash point. A dir
    * that is already COMMITTED (`_SUCCESS` present) is a crashed-but-
    * output-complete earlier attempt of this same batch: its rows were
    * derived from the full batch under the correct pre-batch state, so
    * they are kept verbatim — rewriting them is at best redundant and at
    * worst wrong, because a replayed batch can be only PARTIALLY
    * effective (its frontier-bearing artifact landed, the checkpoint
    * commit did not, and some below-frontier doc's admission is no
    * longer recomputable from post-batch state — near-dup labels mutate
    * under later bridge merges). A crash DURING the output write leaves
    * the dir uncommitted; the artifact writes all come after, so that
    * replay reprocesses the batch in full and overwrites the partial
    * files. An EMPTY frame with no committed dir is a genuinely empty
    * input batch; skipped.
    */
  private[streaming] def writeOutputBatch(rows: DataFrame, outDir: String,
                                          batchId: Long): Unit = {
    val target = new Path(outDir, s"batch=$batchId")
    if (!fsOf(rows.sparkSession, target).exists(new Path(target, "_SUCCESS")) &&
        !rows.isEmpty)
      rows.write.mode("overwrite").parquet(target.toString)
  }

  /** Committed output across all batch dirs. Leaf dirs are passed
    * explicitly, so no `batch` partition column is inferred into the
    * result schema.
    */
  private[streaming] def readOutput(spark: SparkSession, outDir: String): DataFrame = {
    val dirs = committedBatchDirs(spark, outDir).map(_.toString)
    require(dirs.nonEmpty, s"no committed output batches under $outDir")
    spark.read.parquet(dirs: _*)
  }

  /** What a frontier loop asks of each batch, answered by ONE aggregate
    * ([[frontierBounds]]): the `frontier` (max id of the frontier-bearing
    * artifact; `None` while it is empty) and the batch's `batchMin` and
    * `batchMax` ids (`None` for an empty batch).
    */
  private[graft] final case class FrontierBounds(frontier: Option[Long],
      batchMin: Option[Long], batchMax: Option[Long]) {

    /** Whether the batch holds ids at or below the frontier — a replay or
      * out-of-order input, the only case that pays the dropped-row checks.
      */
    def drops: Boolean = frontier.exists(f => batchMin.exists(_ <= f))

    /** Max id above the frontier: the effective batch's max, which names
      * its snapshot; `None` when no row lies above the frontier.
      */
    def effectiveMax: Option[Long] = batchMax.filter(m => frontier.forall(m > _))

    /** The bounds of both inputs together. */
    def merge(o: FrontierBounds): FrontierBounds = {
      def pick(a: Option[Long], b: Option[Long], f: (Long, Long) => Long) =
        (a ++ b).reduceOption(f)
      FrontierBounds(pick(frontier, o.frontier, math.max),
        pick(batchMin, o.batchMin, math.min), pick(batchMax, o.batchMax, math.max))
    }
  }

  /** The [[FrontierBounds]] of `batchIds` against `artifactIds`, each a
    * one-column frame of long ids (nulls ignored), in one aggregate over
    * their union: per-partition bounds merged on the driver, so one job
    * with no exchange — a DataFrame `agg` plans a shuffle, which adaptive
    * execution runs as three jobs.
    */
  private[graft] def frontierBounds(artifactIds: DataFrame,
                                    batchIds: DataFrame): FrontierBounds = {
    def tagged(ids: DataFrame, artifact: Boolean) =
      ids.select(lit(artifact), col(ids.columns.head).cast("long"))
    tagged(artifactIds, artifact = true).union(tagged(batchIds, artifact = false))
      .queryExecution.toRdd.mapPartitions { rows =>
        var (seenArtifact, seenBatch) = (false, false)
        var (frontier, lo, hi) = (Long.MinValue, Long.MaxValue, Long.MinValue)
        rows.foreach { r =>
          if (!r.isNullAt(1)) {
            val id = r.getLong(1)
            if (r.getBoolean(0)) { seenArtifact = true; frontier = math.max(frontier, id) }
            else { seenBatch = true; lo = math.min(lo, id); hi = math.max(hi, id) }
          }
        }
        Iterator(FrontierBounds(Option.when(seenArtifact)(frontier),
          Option.when(seenBatch)(lo), Option.when(seenBatch)(hi)))
      }
      .collect().foldLeft(FrontierBounds(None, None, None))(_ merge _)
  }

  /** Torn-append layer of [[aboveFrontier]]: `keys` maps the dropped rows
    * to key columns that must all be present in `stored`, the frontier
    * artifact's keys. `name` names the artifact in the diagnostic, and
    * `rebuild` says how to recover.
    */
  private[graft] final case class TornCheck(name: String,
      keys: DataFrame => DataFrame, stored: DataFrame, rebuild: String)

  /** The rows of `batch` whose `idCol` lies above the frontier of
    * `artifactIds` (the frontier-bearing artifact's id column; all rows
    * while it is empty), with their max id — `None` when none pass, so a
    * caller needs no emptiness job of its own. The dropped rest must be
    * replays: each must hold a committed output row under `outDir`
    * ([[requireDroppedAreReplays]]), and, with `torn`, each key must be
    * present in the frontier artifact — a crash mid-job-commit of an
    * APPEND can advance the artifact's max while other rows never became
    * visible, which the output check cannot see but a replayed row
    * missing from the artifact exposes. Both checks run only on a batch
    * that drops something; the steady-state batch pays the one
    * [[frontierBounds]] aggregate.
    */
  private[graft] def aboveFrontier(batch: DataFrame, artifactIds: DataFrame,
      outDir: String, opName: String, idCol: String = "doc_id",
      torn: Option[TornCheck] = None): (DataFrame, Option[Long]) = {
    val bounds = frontierBounds(artifactIds, batch.select(col(idCol)))
    val eff = bounds.frontier match {
      case None => batch
      case Some(f) =>
        if (bounds.drops) {
          val dropped = batch.filter(col(idCol) <= f)
          requireDroppedAreReplays(dropped, bounds.batchMin.get, f, outDir,
            opName, idCol)
          torn.foreach { t =>
            val keys = t.keys(dropped)
            val n = keys.join(t.stored, keys.columns.toSeq, "left_anti").count()
            require(n == 0,
              s"$opName: $n replayed rows are absent from the ${t.name} " +
                s"artifact — torn ${t.name} append (crash mid-commit); ${t.rebuild}")
          }
        }
        batch.filter(col(idCol) > f)
    }
    (eff, bounds.effectiveMax)
  }

  /** Replay-vs-violation guard: every dropped row (ids in `[lo, frontier]`)
    * must hold a COMMITTED output row, because the output batch commits
    * before any frontier-bearing artifact write — a legitimately replayed
    * id always has one, an out-of-order NEW id never does. Paid only on
    * batches that drop something (replays and violations, never the
    * steady-state path); the output scan carries the id range filter so
    * parquet footer stats prune non-overlapping batch dirs. A frontier
    * with NO committed output (an artifact seeded from a batch-mode run
    * against a fresh outDir) treats every drop as unplaced — the correct
    * loud diagnostic, not an obscure empty-read error.
    */
  private def requireDroppedAreReplays(dropped: DataFrame, lo: Long,
      frontier: Long, outDir: String, opName: String, idCol: String): Unit = {
    val sess = dropped.sparkSession
    val dirs = committedBatchDirs(sess, outDir).map(_.toString)
    val placedIds =
      if (dirs.isEmpty) emptyFrame(sess, StructType(Seq(StructField(idCol, LongType))))
      else sess.read.parquet(dirs: _*).select(col(idCol))
        .filter(col(idCol).between(lo, frontier))
    val unplaced = dropped.select(col(idCol)).distinct()
      .join(placedIds, Seq(idCol), "left_anti")
      .agg(min(col(idCol)), count(lit(1))).head()
    require(unplaced.isNullAt(0),
      s"$opName: $idCol ${unplaced.get(0)} (${unplaced.getLong(1)} in " +
        s"total) is at or below the frontier $frontier but holds no " +
        "committed output row — out-of-order ingest (not a replay); " +
        "re-run through the whole-corpus operator")
  }

  /** Pin the one-row `indexDir/params` artifact: on the first batch it
    * records `params`; every later batch `require`s the stored values to
    * match. A loop whose parameters change the dedup relation (a bucket
    * table probed at another plane count, bands at another radius) would
    * otherwise silently corrupt its index.
    */
  private[streaming] def pinParams(spark: SparkSession, indexDir: String,
      opName: String, params: Seq[(String, Any)]): Unit = {
    val path = new Path(indexDir, "params")
    if (fsOf(spark, path).exists(path)) {
      val stored = spark.read.parquet(path.toString).head().toSeq
      require(stored == params.map(_._2),
        s"$opName: index at $indexDir was built with " +
          params.map(_._1).zip(stored).map { case (k, v) => s"$k=$v" }.mkString(", ") +
          s" — this run passed (${params.map(_._2).mkString(", ")}); parameter " +
          "drift silently changes the dedup relation, rebuild the index to " +
          "change parameters")
    } else
      spark.range(1).select(params.map { case (k, v) => lit(v).as(k) }: _*)
        .write.mode("overwrite").parquet(path.toString)
  }
}
