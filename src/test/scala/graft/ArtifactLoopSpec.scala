package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{ArtifactLoop, SaltedSessionStream, StreamingDedup, StreamingSessions, StreamingSketches}

/** Task-side probe: records the CALLER's shuffle partitions each time a
  * row passes, from inside a running query (local mode shares the JVM).
  */
object CallerConfProbe {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val probe = udf((u: Long) => {
    seen.add(TestSpark.spark.conf.get("spark.sql.shuffle.partitions"))
    u
  })
  /** The same for the caller's file split size. */
  val split = udf((u: Long) => {
    seen.add(TestSpark.spark.conf.get("spark.sql.files.maxPartitionBytes"))
    u
  })
}

/** Pins the [[ArtifactLoop]] contract outside the loops themselves: a
  * loop runs on its query's own session at the fold partition count and
  * never writes the caller's conf; a memory-sink replay holds the
  * caller's conf only while its query is built, and the salted session
  * replay never writes the caller's split size; and the replay harnesses
  * leave no temp roots behind.
  */
class ArtifactLoopSpec extends SparkSpec {

  private val fixture = "/root/testdata/sf0.001"
  private val spKey = "spark.sql.shuffle.partitions"

  /** Task counts of the shuffle-reading stages `body` runs. */
  private def shuffleReadTasks(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead > 0)
          tasks.add(e.stageInfo.numTasks)
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    tasks.toArray.toSeq.map(_.asInstanceOf[Int])
  }

  /** Run `body` with the caller's session at 16 shuffle partitions and
    * AQE off (so a shuffle stage runs exactly its planned partitions).
    */
  private def withCallerAt16(body: => Unit): Unit = {
    val keys = Seq(spKey -> "16", "spark.sql.adaptive.enabled" -> "false")
    val snap = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally snap.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("loops run on the stream's session at 4 partitions; the caller's conf is never written") {
    val docs = Tables.documents(spark, fixture)
    val root = java.nio.file.Files.createTempDirectory("graft-loop-iso")
    try withCallerAt16 {
      val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
      // id-ordered batches, as the frontier loops require
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      StreamingSessions.appendReplayFile(docs.filter(col("doc_id") <= mid), inDir, 1)
      StreamingSessions.appendReplayFile(docs.filter(col("doc_id") > mid), inDir, 2)
      val stream = spark.readStream.schema(StreamingDedup.docSchema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      // a step sees its own session scoped, the caller's untouched
      var seen = Seq.empty[(String, String)]
      ArtifactLoop.run(stream, root.resolve("ckpt0").toString) { (batch, _) =>
        seen :+= (spark.conf.get(spKey) -> batch.sparkSession.conf.get(spKey))
      }
      assert(seen == Seq("16" -> "4", "16" -> "4"))
      assert(spark.conf.get(spKey) == "16")
      // a real admission loop and an in-memory fold (state carried across
      // batches) still run their shuffles at 4 partitions, never at the
      // caller's 16 (a stage over the union of two 4-partition inputs,
      // as a fold's state ∪ batch sketch, runs 8 tasks)
      def at4(tasks: Seq[Int]) = tasks.contains(4) && tasks.max < 16
      val loopTasks = shuffleReadTasks(StreamingDedup.exactAdmissionStream(spark,
        inDir.toString, root.resolve("keys").toString,
        root.resolve("out").toString, root.resolve("ckpt1").toString))
      assert(at4(loopTasks), loopTasks)
      val foldTasks = shuffleReadTasks(StreamingSketches.replayCmSketch(docs))
      assert(at4(foldTasks), foldTasks)
      // a memory-sink replay scopes the caller's conf to query
      // construction: while it drains, the caller reads its own 16
      CallerConfProbe.seen.clear()
      val events = Tables.events(spark, fixture)
      val got = StreamingSessions.replayStageOutOfOrder(events, src =>
        src.select(col("user_id"), CallerConfProbe.probe(col("event_id")).as("p")))
      assert(got.count() == events.filter(col("user_id").isNotNull).count())
      val during = CallerConfProbe.seen.toArray.toSet
      assert(during == Set("16"), during)
      assert(spark.conf.get(spKey) == "16")
      // the salted session replay leaves the caller's split size alone: a
      // probe in its gap expression reads the caller's own value
      CallerConfProbe.seen.clear()
      val callerSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
      val salted = SaltedSessionStream.replaySaltedSessions(events,
        concat(CallerConfProbe.split(lit(30L)).cast("string"), lit(" seconds")))
      assert(salted.count() > 0)
      val splitDuring = CallerConfProbe.seen.toArray.toSet
      assert(splitDuring == Set(callerSplit), splitDuring)
    } finally StreamingSessions.deleteRecursively(root)
  }

  test("replay harnesses and persisted registry entries leave no temp roots") {
    def graftTmp(): Set[String] =
      new java.io.File(System.getProperty("java.io.tmpdir")).list()
        .filter(_.startsWith("graft_")).toSet
    val events = Tables.events(spark, fixture)
    val docs = Tables.documents(spark, fixture)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "replayHistDaily" -> (() => StreamingSketches.replayHistDaily(events, 3)),
      "replayQDigest" -> (() => StreamingSketches.replayQDigest(events)),
      "replayCmSketch" -> (() => StreamingSketches.replayCmSketch(docs)),
      "ann_sq_encode_stream" ->
        (() => SparkEntry.queries("ann_sq_encode_stream")(spark, fixture)),
      "quantile_qdigest_persist" ->
        (() => SparkEntry.queries("quantile_qdigest_persist")(spark, fixture)))
    calls.foreach { case (name, call) =>
      val before = graftTmp()
      assert(call().collect().nonEmpty, name)
      val left = graftTmp() -- before
      assert(left.isEmpty, s"$name left $left")
    }
  }
}
