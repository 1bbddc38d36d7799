package streambench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.EventSource
import graft.streaming.StreamingSessions

import Bench.{Pass, nowUs}

/** The session workload. It runs the reference's two jobs side by side
  * over the same input directory, as the reference deploys them
  * (task 1 and task 2 consume one topic): `sessions` (CSV parse → keyed
  * session windows → sum/count/avg) and `alerts` (the same chain →
  * big-customer alert with keep-first dedup). Sinks are `foreachBatch`
  * functions that collect each micro-batch and stamp its emission time.
  * Both jobs read through `EventSource.csvLineStream` and run micro-batches
  * back to back.
  */
object SessionWorkloads {

  /** Task 2's big-customer threshold (`flink_stream_task2.py:82`). */
  val Threshold = 1000000.0

  /** Collects emitted session rows with their emission time (µs). */
  final class Sink {
    val rows = new ConcurrentLinkedQueue[(Reference.Out, Long)]()
    @volatile var lastBatch: Long = -1L
    val fn: (DataFrame, Long) => Unit = (df, batchId) => {
      val got = df.collect()
      val t = nowUs()
      got.foreach(r => rows.add((outOf(r), t)))
      lastBatch = math.max(lastBatch, batchId)
    }
    def outs: Seq[Reference.Out] = rows.asScala.toSeq.map(_._1)
  }

  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def outOf(r: Row): Reference.Out = Reference.Out(
    r.getAs[Long]("user_id"),
    micros(r.getAs[java.sql.Timestamp]("session_start")),
    micros(r.getAs[java.sql.Timestamp]("session_end")),
    r.getAs[Long]("event_count"), r.getAs[Double]("session_sum"),
    r.getAs[Double]("session_avg"))

  final case class Running(queries: Seq[StreamingQuery], sessions: Sink, alerts: Sink,
                           dir: Path) {
    def checkpoint(name: String): Path = dir.resolve(s"ckpt-$name")
    def ids: Set[java.util.UUID] = queries.map(_.id).toSet
  }

  /** Start both jobs on the empty input directory `in`, and wait until
    * both are up and idle. */
  def start(spark: SparkSession, in: Path, gap: Column, dir: Path): Running = {
    Files.createDirectories(in)
    val sessions = new Sink
    val alerts = new Sink
    def events = EventSource.csvLineStream(spark, in.toString)
      .withColumnRenamed("payload_value", "value")
    val jobs = Seq(
      ("sessions", StreamingSessions.sessionAggStream(events, gap), sessions),
      ("alerts", StreamingSessions.bigCustomerAlertStream(
        StreamingSessions.sessionAggStream(events, gap), Threshold), alerts))
    val qs = jobs.map { case (name, df, sink) =>
      df.writeStream.queryName(name).outputMode("append")
        .foreachBatch(sink.fn)
        .option("checkpointLocation", dir.resolve(s"ckpt-$name").toString)
        .trigger(Trigger.ProcessingTime(0L)).start()
    }
    qs.foreach(_.processAllAvailable())
    Running(qs, sessions, alerts, dir)
  }

  /** Hand a pre-written file to the running jobs and wait until both have
    * processed it. Returns the seconds that took. */
  def drain(r: Running, file: Path, in: Path): Double = {
    val t0 = nowUs()
    Files.move(file, in.resolve(file.getFileName), StandardCopyOption.ATOMIC_MOVE)
    r.queries.foreach(_.processAllAvailable())
    (nowUs() - t0) / 1e6
  }

  /** The watermark (µs) a query's batch evicted against, from the batch's
    * own offset-log entry. */
  def batchWatermarkUs(checkpoint: Path, batchId: Long): Long = {
    if (batchId < 0) return Long.MinValue
    val text = new String(Files.readAllBytes(
      checkpoint.resolve("offsets").resolve(batchId.toString)), "UTF-8")
    "\"batchWatermarkMs\":(\\d+)".r.findFirstMatchIn(text).get.group(1).toLong * 1000L
  }

  /** Failed-operation count of one run against the reference: sessions and
    * alerts missing, wrong or unexpected, given each job's last watermark.
    * Returns (expected, failed). */
  def check(all: Seq[Reference.Session], r: Running): (Long, Long) = {
    val wmS = batchWatermarkUs(r.checkpoint("sessions"), r.sessions.lastBatch)
    val wmA = batchWatermarkUs(r.checkpoint("alerts"), r.alerts.lastBatch)
    val wantS = Reference.closedBy(all, wmS)
    val wantA = Reference.alerts(Reference.closedBy(all, wmA), Threshold)
    val (badS, extraS) = Reference.diff(wantS, r.sessions.outs)
    val (badA, extraA) = Reference.diff(wantA, r.alerts.outs)
    (wantS.size + wantA.size, badS + extraS + badA + extraA)
  }

  /** Drain a throwaway input through both jobs, one file at a time, so
    * the timed run starts with a warm plan cache, code generation and JIT. */
  def warmUp(spark: SparkSession, files: Seq[Seq[String]], gap: Column, dir: Path): Unit = {
    val in = dir.resolve("in")
    val r = start(spark, in, gap, dir)
    try files.zipWithIndex.foreach { case (lines, i) =>
      drain(r, Gen.writeCsvFile(dir.resolve(s"staged-$i"), lines), in)
    } finally r.queries.foreach(_.stop())
  }

  // ------------------------------------------------------------ live

  final case class LiveInputs(seed: Long, seconds: Int, schedule: Vector[Gen.LiveEvent])

  /** `sessions_live`: the open-loop generator at 1,000 events/s. The
    * schedule begins with one gap length of history, stamped just before
    * live traffic starts and handed to the idle jobs as one file. The jobs
    * drain it first, a fixed amount of work timed as `events_per_s`; then the
    * state is at its steady size and sessions close from the first live
    * second on. `seconds` of live traffic follow, from `CatchUpMs` after the
    * jobs were started, or `LeadMs` after the drain if that ends later (a
    * slow host): live events are then stamped that much later than the
    * history, and the reference sees the same stamps. Latency is measured
    * on the sessions that close after the first `WarmInMs` of live traffic.
    */
  object Live extends Bench.Workload {
    type In = LiveInputs
    val name = "sessions_live"
    val HistoryMs: Long = Gen.LiveGapSeconds * 1000L
    val CatchUpMs = 6000L
    /** Time the generator process gets to start before its first file is due. */
    val LeadMs = 1000L
    val WarmInMs = 1000L
    private val gap = lit(s"${Gen.LiveGapSeconds} seconds")

    def setup(spark: SparkSession, seed: Long, seconds: Int, dir: Path): LiveInputs = {
      val in = LiveInputs(seed, seconds, Gen.liveSchedule(seed, HistoryMs + seconds * 1000L))
      // throwaway input of the same shape: another seed, stamped in the
      // past; a large file like the history, then twenty of a live
      // batch's size. Without the small ones the timed pass was still
      // warming up: its latency fell all through the window and read 20%
      // to 50% above that of a second pass over the same input.
      val warm = Gen.liveSchedule(seed + 7919, 26000).map(Gen.liveLine(1600000000000L, _))
      warmUp(spark, warm.take(10000) +: warm.drop(10000).grouped(800).toSeq, gap,
        dir.resolve("warm"))
      in
    }

    def run(spark: SparkSession, in: LiveInputs, dir: Path, trace: Option[Trace]): Pass = {
      val inDir = dir.resolve("in")
      val originMs = System.currentTimeMillis() + CatchUpMs - HistoryMs
      val (history, _) = in.schedule.span(_.dueMs < HistoryMs)
      val historyFile = Gen.writeCsvFile(dir.resolve("staged"), history.map(Gen.liveLine(originMs, _)))
      val r = start(spark, inDir, gap, dir)
      val stats = dir.resolve("gen-stats.txt")
      val durationMs = HistoryMs + in.seconds * 1000L
      val (drainStartMs, historyS, liveMs, drainedMs) =
        try {
          val drainStartMs = System.currentTimeMillis()
          val historyS = drain(r, historyFile, inDir)
          val liveMs = math.max(originMs + HistoryMs, System.currentTimeMillis() + LeadMs)
          val gen = new ProcessBuilder(
            Bench.javaBin, "-Xmx128m", "-XX:+UseSerialGC", "-cp", System.getProperty("java.class.path"),
            "streambench.LiveGen", inDir.toString, in.seed.toString, durationMs.toString,
            HistoryMs.toString, liveMs.toString, stats.toString)
            .redirectOutput(ProcessBuilder.Redirect.DISCARD)
            .redirectError(ProcessBuilder.Redirect.INHERIT).start()
          try {
            require(gen.waitFor(durationMs + 60000L, java.util.concurrent.TimeUnit.MILLISECONDS),
              "live generator did not finish")
            require(gen.exitValue() == 0, s"live generator failed: exit ${gen.exitValue()}")
          } finally { gen.destroyForcibly(); gen.waitFor() }
          r.queries.foreach(_.processAllAvailable())
          (drainStartMs, historyS, liveMs, System.currentTimeMillis())
        } finally r.queries.foreach(_.stop())
      // latency of each emitted session: from its close (last event's
      // stamp + gap = session_end) to the moment the sink had it
      val fromUs = (liveMs + WarmInMs) * 1000L
      val latency = r.sessions.rows.asScala.toSeq.collect {
        case (o, t) if o.endUs >= fromUs => (t - o.endUs) / 1000.0
      }
      val liveOriginMs = liveMs - HistoryMs
      val all = Reference.sessions(
        in.schedule.map { e =>
          val stampMs = (if (e.dueMs < HistoryMs) originMs else liveOriginMs) + e.dueMs
          Reference.Event(stampMs * 1000L, e.user, e.value)
        },
        Gen.LiveGapSeconds * 1000000L)
      val (expected, failed) = check(all, r)
      val lateMs = new String(Files.readAllBytes(stats), "UTF-8").linesIterator
        .map(_.split(" ")(1).toDouble).toSeq
      val layers = trace.map(t => Layers.sessions(spark, t, r, drainStartMs,
        (drainedMs - drainStartMs) / 1000.0, in.schedule.size.toLong, inDir, Stats.pct(lateMs, 0.99)))
      Pass(latency, history.size.toLong, historyS, expected, failed,
        Seq("gen_late_ms_p99" -> Stats.pct(lateMs, 0.99), "live_files" -> lateMs.size,
          "live_start_delay_ms" -> (liveOriginMs - originMs)),
        layers.getOrElse(Nil))
    }
  }
}
