package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, NearDup, Sessions, Similarity}

/** Degenerate-input behavior: a library operator must return an empty (or
  * correctly tiny) frame on empty/minimal input, never throw. These paths
  * appear in production as empty partitions, empty daily batches, and
  * cold-start corpora — none of which the SF-scaled oracle runs reach.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
    .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("session aggregation on an empty stream is an empty frame") {
    assert(Sessions.sessionAgg(emptyEvents, lit("30 seconds")).count() == 0)
    assert(Sessions.bigCustomers(
      Sessions.sessionAgg(emptyEvents, lit("2 hours")), 300.0).count() == 0)
  }

  test("dedup operators on an empty corpus are empty frames") {
    assert(Dedup.exactDedup(emptyDocs).count() == 0)
    assert(NearDup.minhashNearDups(emptyDocs).count() == 0)
    assert(NearDup.jaccardNearDupsExact(emptyDocs).count() == 0)
    assert(NearDup.simhashNearDups(emptyDocs).count() == 0)
    assert(NearDup.nearDupClusters(emptyDocs).count() == 0)
  }

  test("incremental admission with an empty batch / empty index") {
    val docs = Seq((0L, "alpha beta gamma delta epsilon"),
      (1L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val emptyBatch = NearDup.incrementalNearDups(docs, emptyDocs).collect()
    assert(emptyBatch.isEmpty)
    // cold start: everything in the first batch is new; both admitted
    val coldStart = NearDup.incrementalNearDups(emptyDocs, docs).collect()
    assert(coldStart.map(r => (r.getLong(0), r.getBoolean(2))).toSeq ==
      Seq((0L, true), (1L, true)))
  }

  test("docs shorter than one shingle are singletons everywhere") {
    val tiny = Seq((0L, "one two"), (1L, "one two")).toDF("doc_id", "text")
    // too short to shingle: never near-dup candidates...
    assert(NearDup.minhashNearDups(tiny).count() == 0)
    // ...but exact dedup still sees the identical text
    assert(Dedup.exactDedup(tiny).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 2L)))
    // and incremental admission treats them as singleton admits
    val out = NearDup.incrementalNearDups(
      Seq((0L, "one two")).toDF("doc_id", "text"),
      Seq((5L, "one two")).toDF("doc_id", "text")).collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(2))).toSeq == Seq((5L, true)))
  }

  test("similarity search survives a corpus smaller than cells/probes/k") {
    val three = Seq(
      (0L, Seq.fill(4)(1f)), (1L, Seq.fill(4)(0.5f)), (2L, Seq.fill(4)(0.25f))
    ).toDF("vec_id", "embedding")
    // k=10 > corpus, 16 cells > corpus, 8 probes > cells actually filled
    assert(Similarity.bruteForceTopK(three, 2, 10).count() == 4) // 2 queries x 2 others
    val ivf = Similarity.ivfTopK(three, 2, 10).collect()
    assert(ivf.nonEmpty && ivf.forall(_.getLong(2) <= 10))
  }

  test("corpus writer on an empty corpus returns an empty manifest, not a crash") {
    val out = java.nio.file.Files.createTempDirectory("edge_corpus_")
    try {
      val manifest = graft.sinks.CorpusSink.writePartitioned(
        emptyDocs, out.resolve("docs").toString)
      assert(manifest.count() == 0)
    } finally graft.streaming.StreamingSessions.deleteRecursively(out)
  }

  test("curation on an empty corpus") {
    assert(Curation.deterministicSample(
      emptyDocs.withColumn("n_chars", length(col("text"))), 2000).count() == 0)
    assert(Curation.stratifiedSample(emptyDocs, 40).count() == 0)
    assert(Curation.cleanCorpus(emptyDocs, 30L).count() == 0)
  }

  test("round-5 operators on empty / degenerate inputs") {
    // semantic dedup on an empty embedding table
    val emptyEmb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semanticDedup(emptyEmb, 0.4).count() == 0)
    // a single vector is its own kept canonical
    val one = Seq((7L, Seq.fill(4)(1f))).toDF("vec_id", "embedding")
    assert(Similarity.semanticDedup(one, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      == Seq((7L, 7L, true)))
    // mixture sampling with an empty rate map keeps nothing; empty corpus ok
    val docs = Seq((0L, "the a the a"), (1L, "data query data")).toDF("doc_id", "text")
    assert(Curation.mixtureSample(docs, Map.empty).count() == 0)
    assert(Curation.mixtureSample(emptyDocs, Map("en" -> 10000)).count() == 0)
    // indexed incremental near-dup: cold start from all-empty artifacts
    val emptySh = Seq.empty[(Long, Seq[String])].toDF("doc_id", "shingles")
    val emptySig = Seq.empty[(Long, Seq[Long])].toDF("doc_id", "sig")
    val emptyLab = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val batch = Seq((5L, "alpha beta gamma delta"),
      (6L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val (adm, upd) = NearDup.incrementalNearDupsIndexed(
      emptySh, emptySig, emptyLab, batch)
    assert(adm.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      == Seq((5L, 5L, true), (6L, 5L, false)))
    assert(upd.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((6L, 5L)))
    // and an empty batch against real artifacts
    val idxSh = NearDup.shingled(batch)
    val (adm2, upd2) = NearDup.incrementalNearDupsIndexed(
      idxSh, NearDup.minhashSignatures(idxSh), upd, emptyDocs)
    assert(adm2.count() == 0)
    assert(upd2.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((6L, 5L))) // store passes through unchanged
  }

  test("continuation-round operators on empty / degenerate inputs") {
    val docs = Seq((0L, "the a the a"), (1L, "data query data")).toDF("doc_id", "text")
    // quality gate: empty corpus → empty frame (null-threshold path)
    assert(Curation.qualityQuantileGate(emptyDocs).count() == 0)
    // chunking: empty corpus and all-empty texts both yield no chunks
    assert(Curation.chunkDocs(emptyDocs).count() == 0)
    assert(Curation.chunkDocs(Seq((0L, "")).toDF("doc_id", "text")).count() == 0)
    // keep-best: corpus with no near-dups → no clustered rows
    assert(NearDup.keepBestNearDups(docs).count() == 0)
    // bloom decontaminate: empty corpus → empty report (bloom over zero
    // eval docs must not divide-by-zero or NPE)
    assert(Curation.decontaminateBloom(emptyDocs).count() == 0)
  }

  test("q-digest gates on an empty events table return the oracle's 0 rows") {
    import graft.operators.Sketches
    assert(Sketches.qdigestGate(emptyEvents).count() == 0)
    assert(Sketches.qdigestGateIncremental(emptyEvents).count() == 0)
  }

  test("wave-3 operators on empty / degenerate inputs") {
    import graft.functions.TextAnalysis
    import graft.operators.{Relational, Sketches}
    // event analytics: empty stream → empty frames (the gap-fill span agg
    // yields a null lo/hi row whose sequence must not throw)
    assert(Relational.gapFillDaily(emptyEvents).count() == 0)
    assert(Relational.eventTransitions(emptyEvents).count() == 0)
    assert(Relational.interEventGaps(emptyEvents).count() == 0)
    assert(Relational.funnelConversionTime(emptyEvents).count() == 0)
    assert(Relational.madOutliers(emptyEvents).count() == 0)
    // single-event user: no gaps, no transitions, but not a crash
    val one = Seq((1L, ts("2024-01-01 00:00:00"), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(Relational.interEventGaps(one).count() == 0)
    assert(Relational.eventTransitions(one).count() == 0)
    // corpus diagnostics and dedup variants
    assert(TextAnalysis.wordEntropy(emptyDocs).count() == 0)
    assert(TextAnalysis.vocabGrowth(emptyDocs).count() == 0)
    assert(NearDup.containmentNearDups(emptyDocs).count() == 0)
    assert(NearDup.editDistanceNearDups(emptyDocs).count() == 0)
    val emptySourced = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(Sketches.heavyHitterState(emptySourced).count() == 0)
    assert(Sketches.heavyHitterGate(emptySourced).count() == 0)
    assert(Curation.splitWithLeakageGuard(emptyDocs).count() == 0)
    // split on a 1-doc corpus: a complete labeled partition, no edges
    val single = Seq((5L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val lab = Curation.splitWithLeakageGuard(single).collect()
    assert(lab.length == 1 && Set("test", "train").contains(lab(0).getString(1)))
  }

  test("continuation r5 operators on empty / degenerate inputs") {
    import graft.functions.TextAnalysis
    import graft.operators.Relational
    val emptySrcDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    // reputation/gate on an empty corpus: empty, and the gate keeps
    // everything when no source fails the floor
    assert(Curation.sourceReputation(emptySrcDocs).count() == 0)
    assert(Curation.gateBySource(emptySrcDocs).count() == 0)
    val good = Seq((1L, "a b c d e f g h", "s1")).toDF("doc_id", "text", "source")
    assert(Curation.gateBySource(good, minAvgTtrBp = 0L).count() == 1)
    // vocab/encoding/search on an empty corpus
    assert(TextAnalysis.buildVocab(emptyDocs).count() == 0)
    assert(TextAnalysis.encodeTokenIds(emptyDocs).count() == 0)
    assert(TextAnalysis.searchBm25(emptyDocs).count() == 0)
    // search with terms absent from the corpus: no hits, no div-by-zero
    val docs = Seq((0L, "the a the a")).toDF("doc_id", "text")
    assert(TextAnalysis.searchBm25(docs, Seq("absent")).count() == 0)
    // retention / grouping sets / full outer on empty inputs
    assert(Relational.retentionCohorts(emptyEvents).count() == 0)
    val emptyOrders = Seq.empty[(Long, String, String, Double)]
      .toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    // On an empty table, GROUPING SETS emits no rows for the non-()
    // sets; only the () grand-total set may contribute a row. Spark and
    // DuckDB agree — this pins that behavior.
    val gs = Relational.orderGroupingSets(emptyOrders).collect()
    assert(gs.forall(_.getLong(4) == 3L),
      "only the grand-total set may survive an empty table")
    assert(Relational.userCustomerCoverage(emptyEvents,
      Seq.empty[(Long, Double)].toDF("c_custkey", "c_acctbal")).count() == 0)
    // late r5 additions: all total on empty/degenerate input
    assert(Curation.weightedSample(emptyDocs).count() == 0)
    assert(Curation.corpusDiff(emptyDocs, emptyDocs).count() == 0)
    assert(TextAnalysis.bigramLmScore(emptyDocs).count() == 0)
    // single-token docs have no bigrams: no row, not a div-by-zero
    assert(TextAnalysis.bigramLmScore(
      Seq((0L, "only")).toDF("doc_id", "text")).count() == 0)
    assert(Relational.valueDistribution(emptyEvents).count() == 0)
    assert(Relational.trailingHourStats(emptyEvents).count() == 0)
    assert(Relational.retentionCohorts(emptyEvents).count() == 0)
  }

  test("multimodal codec operators on empty / cold-start corpora") {
    import graft.operators.Multimodal
    // empty corpus: every decode operator is an empty frame, not a crash
    assert(Multimodal.audioFeatures(emptyDocs).count() == 0)
    assert(Multimodal.audioFrames(emptyDocs).count() == 0)
    assert(Multimodal.audioFingerprints(emptyDocs).count() == 0)
    assert(Multimodal.audioNearDups(emptyDocs).count() == 0)
    assert(Multimodal.videoFrameStats(emptyDocs).count() == 0)
    assert(Multimodal.videoScenes(emptyDocs).count() == 0)
    // admission cold start (empty artifact): the whole batch is admitted
    // unless it collides with itself; empty batch yields an empty frame
    val two = Seq((0L, "a"), (7L, "b")).toDF("doc_id", "text") // 7 twins 0
    val emptyFp = Multimodal.audioFingerprints(emptyDocs)
    val cold = Multimodal.fingerprintAdmission(
      emptyFp, Multimodal.audioFingerprints(two), "afp", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(cold == Seq((0L, 0L, true), (7L, 0L, false)))
    assert(Multimodal.fingerprintAdmission(
      Multimodal.audioFingerprints(two), emptyFp, "afp", 8).count() == 0)
  }

  test("corpusDiff classifies null-text docs by presence, not key nullability") {
    import graft.operators.Curation
    val old = Seq((1L, null: String), (2L, "x"), (3L, null: String))
      .toDF("doc_id", "text")
    val niu = Seq((1L, "y"), (2L, null: String), (3L, null: String),
      (4L, null: String)).toDF("doc_id", "text")
    val got = Curation.corpusDiff(old, niu).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // null -> text = changed (not "added"); text -> null = changed (not
    // "removed"); null on both sides = unchanged; truly-new null doc = added
    assert(got == Map(1L -> "changed", 2L -> "changed",
      3L -> "unchanged", 4L -> "added"))
  }

  test("gateBySource gates null-source docs through their own domain row") {
    import graft.operators.Curation
    // the null-source "domain" is pure duplicates -> fails the dup floor;
    // a plain equi-join key would never match null and let both docs through
    val docs = Seq(
      (1L, null: String, "spam spam spam"),
      (2L, null: String, "spam spam spam"),
      (3L, "good.example", "the quick brown fox jumps over lazy dogs today"))
      .toDF("doc_id", "source", "text")
    val kept = Curation.gateBySource(docs, minAvgTtrBp = 0, maxDupBp = 2000)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("corpusStats stays integer-typed on an empty corpus") {
    import graft.operators.Curation
    val row = Curation.corpusStats(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).head()
    assert((0 until 6).forall(!row.isNullAt(_)))
    assert(row.getLong(2) == 0L && row.getLong(3) == 0L)
  }

  test("pack and chunk parameter misuse fails loudly, not silently") {
    import graft.operators.Curation
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Curation.packShards(docs, 0L))
    intercept[IllegalArgumentException](
      Curation.packShards(docs, 2048L, bucketSize = -64L))
    intercept[IllegalArgumentException](
      Curation.chunkDocs(docs, chunkChars = 100, strideChars = 150))
    // overlapping batch would double-count state — guarded like
    // packSequencesWith
    val st = Curation.packState(Seq((1L, "a b"), (10L, "c d")).toDF("doc_id", "text"))
    val ex = intercept[IllegalArgumentException](
      Curation.packStateAfter(st, Seq((10L, "e f")).toDF("doc_id", "text")))
    assert(ex.getMessage.contains("frontier"))
  }

  test("registerAll re-binds a view a caller dropped or shadowed") {
    val dir = "/root/testdata/sf0.001"
    Tables.registerAll(spark, dir)
    val realCount = spark.sql("SELECT count(*) FROM events").head().getLong(0)
    // a test/caller shadows 'events' with its own frame and drops another —
    // the memoized skip must not leave SQL-text queries reading foreign data
    Seq((1L, "x")).toDF("event_id", "junk").createOrReplaceTempView("events")
    spark.catalog.dropTempView("documents")
    Tables.registerAll(spark, dir)
    assert(spark.sql("SELECT count(*) FROM events").head().getLong(0) == realCount)
    assert(spark.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
  }

  test("selection and decontamination edges: empty pools, all-eval corpora") {
    import org.apache.spark.sql.functions.col
    val emptyLangDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "lang")
    // empty pool trains no threshold: one-shot, incremental, and the
    // artifact builder all degrade to empty/None rather than throwing
    assert(Curation.importanceSample(emptyLangDocs).count() == 0)
    val someDocs = Seq((10001L, "a b c", "en")).toDF("doc_id", "text", "lang")
    assert(Curation.importanceSampleIncremental(emptyLangDocs, someDocs)
      .count() == 0, "no pool-trained threshold admits nothing")
    val (wt, thr) = Curation.importanceArtifacts(emptyLangDocs)
    assert(wt.count() == 0 && thr.count() == 0)
    // an all-eval corpus has no training side: every screen is empty
    assert(Curation.decontaminate(emptyDocs).count() == 0)
    assert(Curation.decontaminateFuzzy(emptyDocs).count() == 0)
    assert(Curation.decontaminatedCorpus(emptyDocs).count() == 0)
    assert(Curation.decontaminatedCorpus(
      Tables.documents(spark, "/root/testdata/sf0.001"), evalBps = 10000)
      .count() == 0, "evalBps=10000 makes the whole corpus eval — nothing ships")
    // frozen-artifact screen over an empty batch
    val art = Curation.evalNgramArtifact(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(Curation.decontaminateWith(art, emptyDocs).count() == 0)
  }
}
