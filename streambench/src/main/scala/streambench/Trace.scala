package streambench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Records from Spark's stock monitoring hooks, registered from the
  * benchmark around one workload pass: `StreamingQueryListener` progress
  * (per-micro-batch `durationMs`, `stateOperators`, `eventTime`) and
  * `SparkListener` task and job ends. Nothing inside the library is
  * instrumented.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start ms, end ms) of every job. */
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]()

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.duration,
          m.executorRunTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleWriteMetrics.bytesWritten))
    }
  }

  private def gcTotalMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  private var gcAtStart = 0L
  /** JVM garbage-collection time between start and stop (driver and
    * executors share the JVM in local mode). */
  var gcMs = 0L
  private var attached = false

  def start(): Unit = {
    gcAtStart = gcTotalMs
    spark.streams.addListener(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
    attached = true
  }

  /** Deliver every pending event, then detach. Idempotent. */
  def stop(): Unit = if (attached) {
    org.apache.spark.BenchListenerBus.drain(spark.sparkContext)
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    gcMs = gcTotalMs - gcAtStart
    attached = false
  }

  /** Executed micro-batches (progress events that ran `addBatch`) of the
    * given queries, one per (run, batch). */
  def batches(queryIds: Set[java.util.UUID]): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq
      .filter(p => queryIds(p.id) && p.durationMs.containsKey("addBatch"))
      .groupBy(p => (p.runId, p.batchId)).values.map(_.head).toSeq
      .sortBy(p => (p.timestamp, p.batchId))

  def jobsIn(t0Ms: Long, t1Ms: Long): Seq[(Long, Long)] =
    jobs.asScala.toSeq.filter { case (s, e) => s >= t0Ms && e <= t1Ms }

  /** Length of the union of the job intervals in [t0, t1]. */
  def jobBusyMs(t0Ms: Long, t1Ms: Long): Long = {
    var busy = 0L
    var cur = Long.MinValue
    for ((s, e) <- jobsIn(t0Ms, t1Ms).sortBy(_._1)) {
      val from = math.max(s, cur)
      if (e > from) { busy += e - from; cur = e }
    }
    busy
  }
}

object Trace {
  final case class TaskRec(stage: Int, attempt: Int, durationMs: Long,
                           runMs: Long, spillBytes: Long, shuffleWriteBytes: Long)

  def ms(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** A batch's state-commit time as a share of its wall time: each
    * operator's `commitTimeMs` is summed over its partitions' tasks, which
    * commit in parallel, so it is divided by the partition count. */
  def stateCommitMs(p: StreamingQueryProgress): Double =
    p.stateOperators.map(o => o.commitTimeMs.toDouble / math.max(1, o.numShufflePartitions)).sum

  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def eventTimeMs(p: StreamingQueryProgress, key: String): Option[Long] =
    Option(p.eventTime.get(key)).map(s => java.time.Instant.parse(s).toEpochMilli)

  /** Median over stages with at least two tasks of max / median task time. */
  def skew(tasks: Seq[TaskRec]): Double =
    Stats.p50(tasks.groupBy(t => (t.stage, t.attempt)).values.toSeq
      .filter(_.size >= 2).map { ts =>
        val d = ts.map(_.durationMs.toDouble)
        d.max / math.max(1.0, Stats.median(d))
      })

  /** Files each micro-batch read, from the file source's own metadata log
    * in the query checkpoint: batch id -> file modification times (ms). */
  def sourceFiles(checkpoint: java.nio.file.Path): Map[Long, Seq[Long]] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!java.nio.file.Files.isDirectory(dir)) Map.empty
    else {
      val entry = "\"path\":\"([^\"]*)\",\"timestamp\":(\\d+),\"batchId\":(\\d+)".r
      java.nio.file.Files.list(dir).iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => java.nio.file.Files.readAllLines(f).asScala)
        .flatMap(l => entry.findFirstMatchIn(l))
        .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong))
        .toSeq.distinct
        .groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    }
  }
}
