package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{BaseSubqueryExec, InputAdapter, LeafExecNode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer-by-layer breakdown of any registry entry or block of code, read
  * from Spark's stock monitoring hooks:
  *
  *  - `SparkListener`: jobs, stages, tasks, task run time, GC, shuffle
  *    read/write, disk spill and result bytes; the union of job intervals
  *    gives driver time (wall time outside every job: collects, planning,
  *    per-iteration driver loops, checkpoints);
  *  - `QueryExecutionListener`: the shape of every executed plan (its
  *    AQE-final form) — scans, exchanges, nested-loop and cartesian
  *    joins, operators outside whole-stage codegen;
  *  - `StreamingQueryListener`: micro-batches, the per-batch `durationMs`
  *    phases summed, and the `stateOperators` metrics;
  *  - Spark's `CodegenMetrics`: the Janino compiles the block ran (a
  *    JVM-wide counter, so concurrent work counts too). Each streaming
  *    query runs on its own session clone with its own artifact class
  *    loader, so its generated classes miss the codegen cache and
  *    compile again.
  *
  * Usage: `sbt "runMain graft.Profile <sfDir> <query>..."` — one JSON line
  * per query on stdout, timing the same action as [[Bench]]
  * (`toRdd.count()`) under the same warm-up and between-entry cleanup.
  */
object Profile {

  /** Plan-shape counts, summed over the executed plans seen. */
  final case class Shape(plans: Int = 0, scans: Int = 0, exchanges: Int = 0,
                         bnlj: Int = 0, cartesian: Int = 0, nonCodegen: Int = 0) {
    def +(o: Shape): Shape = Shape(plans + o.plans, scans + o.scans,
      exchanges + o.exchanges, bnlj + o.bnlj, cartesian + o.cartesian,
      nonCodegen + o.nonCodegen)
  }

  /** One measured block. Times in ms; state rows and memory are the
    * largest per-batch totals over the state operators, commit time their
    * sum over batches.
    */
  final case class Record(label: String, wallMs: Double, driverMs: Double,
      jobs: Int, stages: Int, tasks: Long, taskMs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      resultBytes: Long, shape: Shape, batches: Int,
      durationMs: Map[String, Long], stateRows: Long, stateMemoryBytes: Long,
      stateCommitMs: Long, codegenCompiles: Long) {
    def json: String = {
      val phases = durationMs.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      Seq("query" -> ("\"" + label + "\""), "wall_ms" -> f"$wallMs%.1f",
        "driver_ms" -> f"$driverMs%.1f", "jobs" -> jobs, "stages" -> stages,
        "tasks" -> tasks, "task_ms" -> taskMs, "gc_ms" -> gcMs,
        "shuffle_read_bytes" -> shuffleReadBytes,
        "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
        "result_bytes" -> resultBytes, "plans" -> shape.plans,
        "scans" -> shape.scans, "exchanges" -> shape.exchanges,
        "bnlj" -> shape.bnlj, "cartesian" -> shape.cartesian,
        "non_codegen" -> shape.nonCodegen, "batches" -> batches,
        "duration_ms" -> phases, "state_rows" -> stateRows,
        "state_memory_bytes" -> stateMemoryBytes,
        "state_commit_ms" -> stateCommitMs, "codegen_compiles" -> codegenCompiles)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
  }

  /** Shape of one executed plan: AQE wrappers and query stages are looked
    * through, subqueries included, reused exchanges counted once.
    */
  def shape(plan: SparkPlan): Shape = {
    def walk(p: SparkPlan, codegen: Boolean): Shape = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, codegen)
      case s: QueryStageExec => walk(s.plan, codegen)
      case _: ReusedExchangeExec => Shape()
      case _ =>
        val here = p match {
          case _: BaseSubqueryExec | _: WholeStageCodegenExec | _: InputAdapter |
               _: AQEShuffleReadExec => Shape()
          case _: LeafExecNode => Shape(scans = 1)
          case _: Exchange => Shape(exchanges = 1)
          case _: BroadcastNestedLoopJoinExec => Shape(bnlj = 1, nonCodegen = if (codegen) 0 else 1)
          case _: CartesianProductExec => Shape(cartesian = 1, nonCodegen = 1)
          case _ => Shape(nonCodegen = if (codegen) 0 else 1)
        }
        val inner = p match {
          case _: WholeStageCodegenExec => true
          case _: InputAdapter => false
          case _ => codegen
        }
        (p.children.map(walk(_, inner)) ++ p.subqueries.map(walk(_, false)))
          .foldLeft(here)(_ + _)
    }
    walk(plan, codegen = false).copy(plans = 1)
  }

  /** Collects every listener record between registration and [[done]]. */
  private final class Collector(spark: SparkSession) extends SparkListener
      with QueryExecutionListener {
    private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
    private val jobSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    private var stages, jobs = 0
    private var tasks, taskMs, gcMs, readB, writeB, spillB, resultB = 0L
    private var shape = Shape()
    private val batchIds = scala.collection.mutable.Set.empty[(java.util.UUID, Long)]
    private val phases = scala.collection.mutable.Map.empty[String, Long]
    private var stateRows, stateMem, stateCommit = 0L

    val streams: StreamingQueryListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Collector.this.synchronized {
          val p = e.progress
          batchIds += (p.runId -> p.batchId)
          p.durationMs.asScala.foreach { case (k, v) =>
            phases(k) = phases.getOrElse(k, 0L) + v }
          stateRows = math.max(stateRows, p.stateOperators.map(_.numRowsTotal).sum)
          stateMem = math.max(stateMem, p.stateOperators.map(_.memoryUsedBytes).sum)
          stateCommit += p.stateOperators.map(_.commitTimeMs).sum
        }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1; jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach(t0 => jobSpans += (t0 -> e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskMs += m.executorRunTime; gcMs += m.jvmGCTime
        readB += m.shuffleReadMetrics.totalBytesRead
        writeB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.diskBytesSpilled; resultB += m.resultSize
      }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { shape += Profile.shape(qe.executedPlan) }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    private val compiles0 = compiles

    private val sc = spark.sparkContext
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)

    /** Unregister everything and build the record for `[t0, t1]` (ms). */
    def done(label: String, t0: Long, t1: Long, wallMs: Double): Record = {
      org.apache.spark.GraftListenerBus.drain(sc)
      spark.streams.removeListener(streams)
      spark.listenerManager.unregister(this)
      sc.removeSparkListener(this)
      synchronized {
        // union of job intervals, clipped to the measured window
        val (busy, _) = jobSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, t0)) { case ((acc, end), (a, b)) =>
            if (b <= end) (acc, end) else (acc + b - math.max(a, end), b) }
        Record(label, wallMs, math.max(0.0, wallMs - busy), jobs, stages,
          tasks, taskMs, gcMs, readB, writeB, spillB, resultB, shape,
          batchIds.size, phases.toMap, stateRows, stateMem, stateCommit,
          compiles - compiles0)
      }
    }
  }

  /** Run `thunk` on the active session and record what it did. */
  def measure[T](label: String)(thunk: => T): (T, Record) = {
    val c = new Collector(SparkSession.active)
    val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
    val out =
      try thunk
      catch { case e: Throwable => c.done(label, t0, t0, 0.0); throw e }
    val wallMs = (System.nanoTime() - n0) / 1e6
    (out, c.done(label, t0, System.currentTimeMillis(), wallMs))
  }

  /** Profile one registry entry: [[Bench]]'s timed action, plus the shape
    * of the entry's own final plan (`toRdd` runs no listener-visible
    * action).
    */
  def query(spark: SparkSession, sfDir: String, name: String): Record = {
    val (df, rec) = measure(name) {
      val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.count()
      df
    }
    rec.copy(shape = rec.shape + shape(df.queryExecution.executedPlan))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    SparkEntry.warmup(spark)
    args.drop(1).foreach { name =>
      try println(query(spark, args(0), name).json)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[profile] $name failed: ${e.getMessage}")
      }
      SparkEntry.cleanup(spark)
    }
    spark.stop()
  }
}
