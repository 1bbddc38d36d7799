package streambench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.Similarity
import graft.streaming.{StreamingDedup, StreamingPack}

import Bench.Pass

/** `curation_backlog`: a standing corpus plus a tail of id-ordered files.
  * The pipeline trains the cluster artifacts on the standing prefix, then
  * drains the tail, one file per micro-batch, through the near-dup
  * admission loop, whose index artifacts grow from empty, and then through
  * the cluster-balanced admission loop.
  */
object Curation extends Bench.Workload {

  final case class Inputs(dir: Path, corpus: Gen.Corpus, prefix: Int, files: Int) {
    def tailStart(k: Int): Int = prefix + ((corpus.size - prefix).toLong * k / files).toInt
  }

  type In = Inputs
  val name = "curation_backlog"
  /** Tail files per loop, one per micro-batch. */
  val TailFiles = 2
  /** Corpus size: the pipeline's cost is mostly per batch, so the corpus
    * does not grow with `--seconds`. */
  val Docs = 800
  val PerCell = 8

  private def docs(spark: SparkSession, c: Gen.Corpus, ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, c.texts(i))).toDF("doc_id", "text")
  }

  private def embeddings(spark: SparkSession, c: Gen.Corpus, ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, c.emb(i).toSeq, c.cluster(i))).toDF("vec_id", "embedding", "label")
  }

  /** Write `df` as one parquet file per value of its `part` column, named
    * `NNNNN.parquet` with increasing mtimes: the id-ordered files the
    * admission loops read one per micro-batch. */
  private def writeParts(df: DataFrame, parts: Int, dir: Path): Unit = {
    val stage = dir.resolveSibling(dir.getFileName.toString + "-stage")
    df.repartition(parts, col("part")).write.partitionBy("part").parquet(stage.toString)
    Files.createDirectories(dir)
    for (i <- 0 until parts) {
      val part = Files.list(stage.resolve(s"part=$i")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val dest = dir.resolve(f"$i%05d.parquet")
      Files.move(part, dest)
      dest.toFile.setLastModified(1000000000000L + i * 1000L)
    }
    Bench.deleteRecursively(stage)
  }

  private def write(spark: SparkSession, in: Inputs): Unit = {
    val c = in.corpus
    val part = (0 until in.files).flatMap(k => (in.tailStart(k) until in.tailStart(k + 1)).map(_ -> k)).toMap
    val tail = in.prefix until c.size
    def withPart(df: DataFrame, id: String) = {
      import spark.implicits._
      df.join(part.toSeq.map { case (i, k) => (i.toLong, k) }.toDF(id, "part"), id)
    }
    writeParts(embeddings(spark, c, 0 until in.prefix).withColumn("part", lit(0)), 1,
      in.dir.resolve("emb-prefix"))
    writeParts(withPart(docs(spark, c, tail), "doc_id"), in.files, in.dir.resolve("docs-in"))
    writeParts(withPart(embeddings(spark, c, tail), "vec_id"), in.files, in.dir.resolve("emb-in"))
  }

  def generate(spark: SparkSession, seed: Long, docs: Int, files: Int, dir: Path): Inputs = {
    val in = Inputs(dir, Gen.corpus(seed, docs), docs * 4 / 5, files)
    write(spark, in)
    in
  }

  def setup(spark: SparkSession, seed: Long, seconds: Int, dir: Path): Inputs = {
    val in = generate(spark, seed, Docs, TailFiles, dir.resolve("input"))
    // throwaway corpus of the same shape through the whole pipeline
    val warm = generate(spark, seed + 7919, 200, 1, dir.resolve("warm-input"))
    pipeline(spark, warm, dir.resolve("warm"))
    in
  }

  final case class Timings(t0Ms: Long, trainEndMs: Long, endMs: Long)

  /** The timed pipeline, one step after another on one session: train
    * the cluster artifacts on the standing prefix (centroids, then the
    * prefix's own pick as the seed quota), drain the tail through the
    * near-dup loop, then through the cluster loop. */
  def pipeline(spark: SparkSession, in: Inputs, dir: Path): Timings = {
    val t0 = System.currentTimeMillis()
    val art = dir.resolve("art").toString
    val prefixEmb = spark.read.schema(StreamingPack.embSchema)
      .parquet(in.dir.resolve("emb-prefix").toString)
    Similarity.clusterArtifacts(prefixEmb).write.parquet(s"$art/centroids")
    val trainEnd = System.currentTimeMillis()
    Similarity.clusterQuotaAfter(spark.read.parquet(s"$art/centroids"),
      Similarity.emptyQuota(prefixEmb), prefixEmb, PerCell)
      .withColumn("max_vec_id", lit(in.prefix - 1L))
      .write.parquet(s"$art/quota")
    StreamingDedup.nearDupAdmissionStream(spark, in.dir.resolve("docs-in").toString,
      dir.resolve("index").toString, dir.resolve("out-neardup").toString,
      dir.resolve("ckpt-neardup").toString)
    StreamingPack.clusterAdmissionStream(spark, in.dir.resolve("emb-in").toString, art,
      dir.resolve("state").toString, dir.resolve("out-cluster").toString,
      dir.resolve("ckpt-cluster").toString, PerCell)
    Timings(t0, trainEnd, System.currentTimeMillis())
  }

  /** Batch id -> time (ms) an admission loop spent on the batch: from the
    * modification time of the batch's offset-log entry, written when the
    * batch starts, to that of its commit-log entry. */
  def batchMs(checkpoint: Path): Map[Long, Long] = {
    def mtimes(log: String) = {
      val d = checkpoint.resolve(log)
      Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(n => n.toLong -> Files.getLastModifiedTime(d.resolve(n)).toMillis).toMap
    }
    val starts = mtimes("offsets")
    mtimes("commits").map { case (b, end) => b -> (end - starts(b)) }
  }

  /** Expected near-dup admissions: each tail document's cluster is the
    * first tail document of its planted group, and it is admitted iff it
    * is that document. */
  def expectedNearDup(in: Inputs): Map[Long, (Long, Boolean)] = {
    val tail = in.prefix until in.corpus.size
    val first = tail.groupBy(in.corpus.root).view.mapValues(_.min).toMap
    tail.map { i =>
      val r = first(in.corpus.root(i))
      i.toLong -> (r.toLong, r == i)
    }.toMap
  }

  /** Expected cluster admissions per tail file, as the registry's oracle
    * states them: batch k admits the members of the whole-so-far pick
    * (per cell, the `PerCell` smallest (bucket, id) keys among ids below
    * the batch's end) that lie in the batch. Cells come from the frozen
    * centroids through the batch assignment twin; computed outside the
    * timed region. Returns (vec_id, cell, rank) rows. */
  def expectedCluster(spark: SparkSession, in: Inputs, dir: Path): Set[(Long, Long, Long)] = {
    val all = embeddings(spark, in.corpus, 0 until in.corpus.size)
    val keyed = Similarity.assignWith(spark.read.parquet(dir.resolve("art/centroids").toString), all)
      .withColumn("bkt", graft.operators.Curation.sampleBucket(col("vec_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    (0 until in.files).flatMap { k =>
      val (lo, hi) = (in.tailStart(k), in.tailStart(k + 1))
      keyed.filter(_._1 < hi).groupBy(_._2).toSeq.flatMap { case (cell, members) =>
        members.sortBy(m => (m._3, m._1)).take(PerCell).zipWithIndex.collect {
          case ((id, _, _), rank) if id >= lo => (id, cell, rank + 1L)
        }
      }
    }.toSet
  }

  def run(spark: SparkSession, in: Inputs, dir: Path, trace: Option[Trace]): Pass = {
    val tm = pipeline(spark, in, dir)
    val wallS = (tm.endMs - tm.t0Ms) / 1000.0
    // admission latency of each tail document: the time the two loops
    // spent on the micro-batch that holds it, from taking its file to
    // committing it, summed over both loops
    val loops = Seq("ckpt-neardup", "ckpt-cluster").map(c => batchMs(dir.resolve(c)))
    val latency = (0 until in.files).flatMap { k =>
      val ms = loops.map(_(k.toLong)).sum
      Seq.fill(in.tailStart(k + 1) - in.tailStart(k))(ms.toDouble)
    }
    // correctness, outside the timed region
    val nd = StreamingDedup.readOutput(spark, dir.resolve("out-neardup").toString)
      .select(col("doc_id"), col("cluster_id"), col("admitted")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toSeq
    val wantNd = expectedNearDup(in)
    val ndById = nd.groupBy(_._1)
    val ndFailed = wantNd.count { case (id, v) => !ndById.get(id).contains(Seq(id -> v)) } +
      ndById.keys.count(id => !wantNd.contains(id))
    // a loop writes no output batch when it admits nothing
    val cl =
      if (!Files.isDirectory(dir.resolve("out-cluster"))) Nil
      else StreamingPack.readOutput(spark, dir.resolve("out-cluster").toString)
        .select(col("vec_id"), col("cell"), col("rk")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val wantCl = expectedCluster(spark, in, dir)
    val clFailed = (wantCl -- cl).size + cl.count(r => !wantCl(r)) + (cl.size - cl.distinct.size)
    val admitted = nd.count(_._2._2) + cl.size
    val layers = trace.map { t =>
      t.stop()
      val tailDocs = in.corpus.size - in.prefix
      // each loop's query, told apart by the directory its source reads
      val byLoop = t.progress.asScala.toSeq.map(p => p.id -> p.sources.head.description)
        .distinct.flatMap { case (id, src) =>
          if (src.contains("docs-in")) Some(id -> ("neardup", dir.resolve("ckpt-neardup")))
          else if (src.contains("emb-in")) Some(id -> ("cluster", dir.resolve("ckpt-cluster")))
          else None
        }.toMap
      val batches = t.batches(byLoop.keySet)
      def loopBatchMs(loop: String) = Stats.p50(batches.filter(p => byLoop(p.id)._1 == loop)
        .map(Trace.ms(_, "triggerExecution")))
      val parse = Layers.timedParse(spark.read.schema(StreamingDedup.docSchema)
        .parquet(in.dir.resolve("docs-in").toString).count(), tailDocs)
      Layers.complete(Layers.streaming(batches, byLoop.view.mapValues(_._2).toMap, tm.t0Ms) ++
        Layers.tasks(t, in.corpus.size, wallS) ++ parse ++ Seq(
          "admission.neardup.batch_ms_p50" -> loopBatchMs("neardup"),
          "admission.cluster.batch_ms_p50" -> loopBatchMs("cluster"),
          "admission.jobs_per_batch" ->
            t.jobsIn(tm.trainEndMs, tm.endMs).size.toDouble / math.max(1, batches.size),
          "admission.driver_ms" ->
            ((tm.endMs - tm.t0Ms) - t.jobBusyMs(tm.t0Ms, tm.endMs)).toDouble,
          "admission.admitted_ratio" -> admitted.toDouble / (2.0 * tailDocs),
          "similarity.train_ms" -> (tm.trainEndMs - tm.t0Ms).toDouble,
          "similarity.train_jobs" -> t.jobsIn(tm.t0Ms, tm.trainEndMs).size.toDouble))
    }
    Pass(latency, in.corpus.size.toLong, wallS, wantNd.size + wantCl.size, ndFailed + clFailed,
      Seq("neardup_admitted" -> nd.count(_._2._2), "cluster_admitted" -> cl.size),
      layers.getOrElse(Nil))
  }
}
