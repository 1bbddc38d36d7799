package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{ArtifactLoop, SaltedSessionStream, StreamingDedup, StreamingPack, StreamingSessions, StreamingSketches}

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
  * replay never writes the caller's split size; the replay harnesses
  * leave no temp roots behind; and a steady-state admission batch runs a
  * pinned number of Spark jobs.
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

  test("one frontier aggregate decides frontier, dropped rows and the effective batch") {
    import spark.implicits._
    import ArtifactLoop.FrontierBounds
    def ids(xs: Long*): DataFrame = xs.toDF("doc_id")
    withTempRoot("graft-frontier") { root =>
      // committed output of earlier batches: ids 1, 2 and 5 are placed
      val out = root.resolve("out").toString
      Seq(1L, 2L, 5L).toDF("doc_id").write.parquet(s"$out/batch=0")
      val outOfOrder = "spec: doc_id 3 (1 in total) is at or below the frontier 5 " +
        "but holds no committed output row — out-of-order ingest (not a " +
        "replay); re-run through the whole-corpus operator"
      // (case, artifact ids, batch ids, bounds, drops, kept ids or error)
      val cases: Seq[(String, DataFrame, DataFrame, FrontierBounds, Boolean,
          Either[String, Seq[Long]])] = Seq(
        ("empty artifact", ids(), ids(3, 4),
          FrontierBounds(None, Some(3), Some(4)), false, Right(Seq(3L, 4L))),
        ("empty batch", ids(1, 2), ids(),
          FrontierBounds(Some(2), None, None), false, Right(Nil)),
        ("batch above the frontier", ids(1, 2), ids(6, 7),
          FrontierBounds(Some(2), Some(6), Some(7)), false, Right(Seq(6L, 7L))),
        ("replay with committed output", ids(1, 2, 5), ids(1, 2),
          FrontierBounds(Some(5), Some(1), Some(2)), true, Right(Nil)),
        ("new ids below the frontier", ids(1, 5), ids(3, 6),
          FrontierBounds(Some(5), Some(3), Some(6)), true, Left(outOfOrder)),
        ("batch min at the frontier", ids(1, 5), ids(5, 6),
          FrontierBounds(Some(5), Some(5), Some(6)), true, Right(Seq(6L))))
      cases.foreach { case (name, artifact, batch, bounds, drops, want) =>
        assert(ArtifactLoop.frontierBounds(artifact, batch) == bounds, name)
        assert(bounds.drops == drops, name)
        def run() = ArtifactLoop.aboveFrontier(batch, artifact, out, "spec")
        want match {
          case Right(kept) =>
            val (eff, effMax) = run()
            assert(eff.collect().map(_.getLong(0)).sorted.toSeq == kept, name)
            assert(effMax == kept.lastOption, name)
          case Left(msg) =>
            val e = intercept[IllegalArgumentException](run())
            assert(e.getMessage == s"requirement failed: $msg", name)
        }
      }
    }
  }

  /** Spark jobs of one steady-state micro-batch: `file(0)` is drained
    * first (the artifacts grow from it), then `file(1)` is appended and
    * drained alone under [[Profile.measure]]. */
  private def steadyBatchJobs(name: String, file: Int => DataFrame)(
      drain: (java.nio.file.Path, String) => Unit): Int =
    withTempRoot(s"graft-jobs-$name") { root =>
      val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
      StreamingSessions.appendReplayFile(file(0), in, 0)
      drain(root, in.toString)
      StreamingSessions.appendReplayFile(file(1), in, 1)
      val (_, rec) = Profile.measure(name)(drain(root, in.toString))
      assert(rec.batches == 1, s"$name: ${rec.json}")
      rec.jobs
    }

  test("steady-state admission batches stay within their job budget") {
    import spark.implicits._
    // near-dup loop: the second file bridges the first file's two docs,
    // so the batch has index-side edges, a merge and a label snapshot
    def block(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val (a, b, m) = (block("a", 150), block("b", 150), block("m", 150))
    val docs = Seq(
      Seq((0L, (a ++ m).mkString(" ")), (5L, (b ++ m).mkString(" "))),
      Seq((10L, (a.drop(50) ++ m ++ b.take(100)).mkString(" ")),
        (11L, (b ++ m.take(75) ++ block("f", 75)).mkString(" "))))
    val nearDupJobs = steadyBatchJobs("neardup", i => docs(i).toDF("doc_id", "text")) {
      (root, in) => StreamingDedup.nearDupAdmissionStream(spark, in,
        s"$root/index", s"$root/out", s"$root/ckpt")
    }
    // cluster loop: frozen artifacts from the sf0.001 prefix, the tail
    // in two id-ordered files
    val emb = Tables.embeddings(spark, fixture)
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    val (cut, mid) = (mx * 4 / 5, mx * 9 / 10)
    val idx = emb.filter(col("vec_id") < cut)
    val slices = Seq(emb.filter(col("vec_id") >= cut && col("vec_id") < mid),
      emb.filter(col("vec_id") >= mid))
    val clusterJobs = steadyBatchJobs("cluster", slices) { (root, in) =>
      if (!java.nio.file.Files.exists(root.resolve("art"))) {
        graft.operators.Similarity.clusterArtifacts(idx)
          .write.parquet(s"$root/art/centroids")
        graft.operators.Similarity.clusterBalancedSample(idx)
          .select(col("vec_id"), col("cell")).withColumn("max_vec_id", lit(cut - 1))
          .write.parquet(s"$root/art/quota")
      }
      StreamingPack.clusterAdmissionStream(spark, in, s"$root/art",
        s"$root/state", s"$root/out", s"$root/ckpt")
    }
    // measured 19 and 12 at local[4], bounds 1 above; the frontier
    // aggregate as a DataFrame agg read 21 and 14; separate frontier,
    // dropped-bounds and count/max jobs plus the monotone-id guard read
    // 30 and 16, an unconditional torn-append join 33, a pick evaluated
    // per consumer 21
    assert(nearDupJobs <= 20, s"near-dup batch ran $nearDupJobs jobs")
    assert(clusterJobs <= 13, s"cluster batch ran $clusterJobs jobs")
  }
}
