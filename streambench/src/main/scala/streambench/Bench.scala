package streambench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import Stats.Metric

/** Entry point: `Bench --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * One run: a warm `SparkSession`, set-up repeated `SetupRuns` times
  * (generation of the seeded inputs plus a warm-up of the same plan shape
  * on a throwaway input; the median is `setup_s`), then one untraced pass
  * over the inputs. With `--trace 1` a traced pass follows, whose stock
  * Spark listener records give the per-layer metrics; the difference of
  * the two passes is the tracing overhead. The last stdout line is the
  * result JSON.
  */
object Bench {

  final case class Pass(latencyMs: Seq[Double], events: Long, wallS: Double,
                        expected: Long, failed: Long, info: Seq[(String, Any)],
                        layers: Seq[Metric])

  trait Workload {
    type In
    def name: String
    def setup(spark: SparkSession, seed: Long, seconds: Int, dir: Path): In
    def run(spark: SparkSession, in: In, dir: Path, trace: Option[Trace]): Pass
  }

  val workloads: Seq[Workload] =
    Seq(SessionWorkloads.Live, Curation)

  val SetupRuns = 3
  /** A traced pass may not beat the untraced one on the headline metric by
    * more than this share: that would mean the untraced pass was not warm. */
  val MaxTracedGain = 0.25

  val javaBin: String = Paths.get(System.getProperty("java.home"), "bin", "java").toString

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try all.forEach(f => Files.delete(f)) finally all.close()
    }

  def endToEnd(p: Pass): Seq[Metric] = {
    val (tail, _) = Stats.tail(p.latencyMs)
    Seq(Metric("latency_p50_ms", Stats.median(p.latencyMs), "ms"),
      Metric("latency_tail_ms", tail, "ms"),
      Metric("events_per_s", p.events / p.wallS, "1/s"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${opts("workload")}; one of ${workloads.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val tracing = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    deleteRecursively(work)
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    // the session graft.Bench builds: nothing else is configured, so a
    // library default that changes shows up here
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      val setups = (1 to SetupRuns).map { i =>
        val dir = work.resolve(s"setup-$i")
        val t0 = System.nanoTime()
        val in = workload.setup(spark, seed, seconds, dir)
        ((System.nanoTime() - t0) / 1e9, in, dir)
      }
      setups.init.foreach(s => deleteRecursively(s._3))
      val in = setups.last._2
      val plain = workload.run(spark, in.asInstanceOf[workload.In], work.resolve("pass"), None)
      val traced = if (!tracing) None else {
        val t = new Trace(spark)
        t.start()
        try Some(workload.run(spark, in.asInstanceOf[workload.In], work.resolve("traced"), Some(t)))
        finally t.stop()
      }
      val metrics = traced match {
        case None => Metric("setup_s", Stats.median(setups.map(_._1)), "s") +: endToEnd(plain)
        case Some(tp) =>
          val overhead = endToEnd(tp).zip(endToEnd(plain)).map { case (a, b) =>
            s"trace.overhead.${a.name}" -> Metric(s"trace.overhead.${a.name}", a.value - b.value, a.unit)
          }.toMap
          tp.layers.map(m => overhead.getOrElse(m.name, m))
      }
      // the traced pass may not beat the untraced one on the headline
      // metric beyond the allowance: median latency on live, where results
      // are timed from a close; throughput on the curation backlog
      val warm = traced.forall { tp =>
        if (workload == SessionWorkloads.Live)
          Stats.median(plain.latencyMs) <= Stats.median(tp.latencyMs) * (1 + MaxTracedGain)
        else tp.events / tp.wallS <= plain.events / plain.wallS * (1 + MaxTracedGain)
      }
      val passes = plain +: traced.toSeq
      val (tail, tailPct) = Stats.tail(plain.latencyMs)
      println(Stats.jsonObject(Seq(
        "workload" -> workload.name, "seed" -> seed,
        "setup_runs_s" -> setups.map(_._1).mkString(" "),
        "latency_samples" -> plain.latencyMs.size, "latency_tail_percentile" -> tailPct,
        "latency_tail_ms" -> tail, "events" -> plain.events, "wall_s" -> plain.wallS,
        "traced_pass_warm" -> warm) ++ plain.info))
      println(Stats.resultLine(passes.forall(_.failed == 0) && warm,
        passes.map(_.expected).sum, passes.map(_.failed).sum, metrics))
    } finally {
      spark.stop()
      deleteRecursively(work)
    }
  }
}
