package streambench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import Stats.{Metric, p50}
import Trace.{ms, stateCommitMs}

/** Per-layer metrics of one traced pass. Every workload reports every
  * metric; a layer the workload never enters reads 0. */
object Layers {

  /** name, unit, better — the per-layer list of BENCHMARK.json. */
  val All: Seq[(String, String, String)] = Seq(
    ("sources.list_ms_p50", "ms", "lower"),
    ("sources.parse_lines_per_s", "1/s", "higher"),
    ("sources.kept_ratio", "ratio", "higher"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_ms_p50", "ms", "lower"),
    ("streaming.overhead_ms_p50", "ms", "lower"),
    ("streaming.wal_ms_p50", "ms", "lower"),
    ("streaming.planning_ms_p50", "ms", "lower"),
    ("streaming.queue_wait_ms_p50", "ms", "lower"),
    ("streaming.watermark_lag_ms_p50", "ms", "lower"),
    ("state.commit_ms_p50", "ms", "lower"),
    ("state.rows_total_max", "count", "lower"),
    ("state.memory_bytes_max", "bytes", "lower"),
    ("state.rows_updated", "count", "lower"),
    ("operators.exec_ms_p50", "ms", "lower"),
    ("operators.shuffle_bytes_per_event", "bytes", "lower"),
    ("operators.task_skew_ratio", "ratio", "lower"),
    ("admission.neardup.batch_ms_p50", "ms", "lower"),
    ("admission.cluster.batch_ms_p50", "ms", "lower"),
    ("admission.jobs_per_batch", "count", "lower"),
    ("admission.driver_ms", "ms", "lower"),
    ("admission.admitted_ratio", "ratio", "higher"),
    ("similarity.train_ms", "ms", "lower"),
    ("similarity.train_jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.scaling_1core", "ratio", "higher"),
    ("bench.gen_late_ms_p99", "ms", "lower"),
    ("trace.overhead.latency_p50_ms", "ms", "lower"),
    ("trace.overhead.latency_tail_ms", "ms", "lower"),
    ("trace.overhead.events_per_s", "1/s", "higher"))

  private val units: Map[String, String] = All.map(m => m._1 -> m._2).toMap

  /** Fill in every listed metric, 0 where the workload has no such layer. */
  def complete(measured: Seq[(String, Double)]): Seq[Metric] = {
    val got = measured.toMap
    require(got.keySet.subsetOf(units.keySet), s"unlisted metrics: ${got.keySet -- units.keySet}")
    All.map { case (n, u, _) => Metric(n, got.getOrElse(n, 0.0), u) }
  }

  /** Engine-level metrics of a set of streaming queries: `checkpoints` maps
    * each query id to its checkpoint, whose file-source log says which
    * files each batch read. A file counts as queued from its modification
    * time, or from `queuedFromMs` if it was written before the run, until
    * the batch that reads it has listed the source. */
  def streaming(batches: Seq[StreamingQueryProgress],
                checkpoints: Map[java.util.UUID, Path],
                queuedFromMs: Long): Seq[(String, Double)] = {
    val files = checkpoints.map { case (id, c) => id -> Trace.sourceFiles(c) }
    val queueWait = batches.flatMap { p =>
      files.get(p.id).flatMap(_.get(p.batchId)).filter(_.nonEmpty)
        .map(ts => Trace.startMs(p) + ms(p, "latestOffset") - math.max(ts.min, queuedFromMs))
    }
    val lag = batches.flatMap(p => for {
      mx <- Trace.eventTimeMs(p, "max"); wm <- Trace.eventTimeMs(p, "watermark")
    } yield (mx - wm).toDouble)
    val states = batches.map(_.stateOperators.toSeq)
    Seq(
      "sources.list_ms_p50" -> p50(batches.map(ms(_, "latestOffset"))),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_ms_p50" -> p50(batches.map(ms(_, "triggerExecution"))),
      "streaming.overhead_ms_p50" ->
        p50(batches.map(p => ms(p, "triggerExecution") - ms(p, "addBatch"))),
      "streaming.wal_ms_p50" -> p50(batches.map(ms(_, "walCommit"))),
      "streaming.planning_ms_p50" -> p50(batches.map(ms(_, "queryPlanning"))),
      "streaming.queue_wait_ms_p50" -> p50(queueWait),
      "streaming.watermark_lag_ms_p50" -> p50(lag),
      "state.commit_ms_p50" -> p50(batches.filter(_.stateOperators.nonEmpty).map(stateCommitMs)),
      "state.rows_total_max" -> (0L +: states.map(_.map(_.numRowsTotal).sum)).max.toDouble,
      "state.memory_bytes_max" -> (0L +: states.map(_.map(_.memoryUsedBytes).sum)).max.toDouble,
      "state.rows_updated" -> states.flatten.map(_.numRowsUpdated).sum.toDouble,
      "operators.exec_ms_p50" -> p50(batches.map(p => ms(p, "addBatch") - stateCommitMs(p))))
  }

  /** Task-level totals over the pass. */
  def tasks(t: Trace, events: Long, wallS: Double): Seq[(String, Double)] = {
    val tasks = t.tasks.asScala.toSeq
    val shuffle = tasks.map(_.shuffleWriteBytes).sum.toDouble
    Seq(
      "operators.shuffle_bytes_per_event" -> shuffle / math.max(1L, events),
      "operators.task_skew_ratio" -> Trace.skew(tasks),
      "spark.tasks" -> tasks.size.toDouble,
      "spark.gc_ms" -> t.gcMs.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> shuffle,
      "spark.scaling_1core" -> tasks.map(_.runMs).sum / 1000.0 / wallS)
  }

  /** Time a batch read of the input through the source layer alone:
    * (records per second, share of records kept). */
  def timedParse(read: => Long, records: Long): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    val kept = read
    val s = (System.nanoTime() - t0) / 1e9
    Seq("sources.parse_lines_per_s" -> records / s,
      "sources.kept_ratio" -> kept.toDouble / math.max(1L, records))
  }

  /** Per-layer metrics of a session pass that started at `passStartMs`,
    * took `passWallS` and read `lines` input lines from `inDir`. */
  def sessions(spark: SparkSession, t: Trace, r: SessionWorkloads.Running, passStartMs: Long,
               passWallS: Double, lines: Long, inDir: Path, genLateP99: Double): Seq[Metric] = {
    t.stop()
    val ckpts = r.queries.map(q => q.id -> r.checkpoint(q.name)).toMap
    val parse = timedParse(graft.operators.CsvIngest.parsePermissive(
      spark.read.text(inDir.toString).toDF("value")).count(), lines)
    complete(streaming(t.batches(r.ids), ckpts, passStartMs) ++ tasks(t, lines, passWallS) ++
      parse ++ Seq("bench.gen_late_ms_p99" -> genLateP99))
  }
}
