package graft

// Scratch sample-code drive (dev aid): exercises the public library
// surface the way an external user would.

object DevDrive {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    graft.functions.ArrayOps.register(spark)
    import spark.implicits._
    // 1. SQL-text path through the runtime function registration
    println("graft_dot SQL = " + spark.sql(
      "SELECT graft_dot(array(1.0d,2.0d,3.0d), array(4.0d,5.0d,6.0d)) AS d")
      .collect().head.getDouble(0))
    // 2. typed Dataset aggregation path
    val stats = Seq((1L, 0.02), (1L, 0.03)).toDS()
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.SessionReduce.toColumn).collect()
    println("typed session stats = " + stats.mkString(","))
    // 3. ingest-time variant through the operator API
    val ingest = graft.operators.Sessions.sessionAggBy(
      Tables.events(spark, "/root/testdata/sf0.001"),
      org.apache.spark.sql.functions.lit("30 seconds"),
      org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.col("event_id") * 10000L))
    println("ingest sessions rows = " + ingest.count())
    // 4. streaming file sources through the sources package
    val tmp = java.nio.file.Files.createTempDirectory("drive-ev").toString
    Tables.events(spark, "/root/testdata/sf0.001").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val q = graft.streaming.StreamingSessions.sessionAggStream(
      graft.sources.EventSource.parquetStream(spark, tmp),
      org.apache.spark.sql.functions.lit("2 hours"))
      .writeStream.format("memory").queryName("drive_sess")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    println("file-stream sessions = " + spark.table("drive_sess").count())
    val tmp2 = java.nio.file.Files.createTempDirectory("drive-csv").toString
    graft.operators.CsvIngest.renderCsv(Tables.events(spark, "/root/testdata/sf0.001"))
      .coalesce(1).write.mode("overwrite").text(tmp2)
    val q2 = graft.sources.EventSource.csvLineStream(spark, tmp2)
      .writeStream.format("memory").queryName("drive_csv").start()
    q2.processAllAvailable(); q2.stop()
    println("csv-line-stream rows = " + spark.table("drive_csv").count())
    // 5. SQL-text surface over registered views + graft_dot
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    println("sql join rows = " + spark.sql(
      "SELECT count(*) FROM events e JOIN orders o ON e.user_id = o.o_custkey")
      .collect().head.getLong(0))
    println("sql ann = " + spark.sql(
      """SELECT a.vec_id, graft_dot(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                           CAST(b.embedding AS ARRAY<DOUBLE>)) AS d
        |FROM embeddings a JOIN embeddings b ON b.vec_id = 0 AND a.vec_id = 1
        |""".stripMargin).collect().head.toString)
    // 6. round-5 curation/search surface
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    println("bm25 top hit = " + graft.functions.TextAnalysis
      .searchBm25(docs).collect().head.toString)
    println("gated docs = " + graft.operators.Curation.gateBySource(docs).count())
    println("corpus self-diff unchanged = " + graft.operators.Curation
      .corpusDiff(docs, docs).filter(
        org.apache.spark.sql.functions.col("status") === "unchanged").count())
    // 7. round-6 surface: BPE, incremental semantic dedup, PPM decode,
    //    exactly-once streaming output reads
    import org.apache.spark.sql.functions.{col, expr}
    println("bpe merges = " + graft.functions.TextAnalysis
      .trainBpeMerges(docs, numMerges = 5).collect()
      .map(r => r.getString(3)).mkString(","))
    println("bpe encoded doc0 = " + graft.functions.TextAnalysis
      .encodeBpe(docs, numMerges = 5).collect().head.toString)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cut = emb.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val index = emb.filter(col("vec_id") < cut)
    val (adm, labs) = graft.operators.Similarity.semanticDedupIncremental(
      index, graft.operators.Similarity.bucketTable(index),
      graft.operators.Similarity.semanticDedup(index, 0.4)
        .filter(!col("kept")).select(col("vec_id"), col("cluster_id")),
      emb.filter(col("vec_id") >= cut), 0.4)
    println(s"semantic admissions = ${adm.count()}, label store = ${labs.count()}")
    println("autoPlanes(1e9) = " + graft.operators.Similarity.autoPlanes(1000000000L))
    val (w, h, px) = graft.operators.Multimodal.decodePpm(
      graft.operators.Multimodal.makePpm(7L))
    println(s"ppm doc7 decoded ${w}x$h, ${px.length} sample bytes")
    val dedupRoot = java.nio.file.Files.createTempDirectory("drive-dedup")
    val in = dedupRoot.resolve("in"); java.nio.file.Files.createDirectories(in)
    graft.streaming.StreamingSessions.appendReplayFile(
      Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta")).toDF("doc_id", "text"),
      in, 0)
    graft.streaming.StreamingDedup.exactAdmissionStream(spark, in.toString,
      dedupRoot.resolve("keys").toString, dedupRoot.resolve("out").toString,
      dedupRoot.resolve("ckpt").toString)
    println("admission output rows = " + graft.streaming.StreamingDedup
      .readOutput(spark, dedupRoot.resolve("out").toString).count())
    graft.streaming.StreamingSessions.deleteRecursively(dedupRoot)
    spark.stop()
  }
}
