package graft

// Scale harness: drives the session engine over a synthetic 10M-row event
// stream, and the curation, dedup, ANN and sketch operators over 500k
// docs and 500k×64 vectors (ScaleCorpus), to measure throughput and
// confirm the plans survive a 100×-rows scale-up of the bench tables.
// Args: [nEvents] [row ...]; naming rows runs only those rows, and
// generates only the corpora they read.
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ScaleCorpus.{stored, time}
import graft.operators.Sessions

object DevScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val users = 50000L
    val nDocs = 500000L
    val spark = SparkEntry.session()
    val only = args.drop(1).toSet
    def wanted(rows: String*): Boolean = only.isEmpty || rows.exists(only)
    // each row names the corpus it reads, generated on first use before
    // the row's timer starts
    def row(name: String, reads: => DataFrame, per: Long, unit: String,
            readers: Seq[String] = Nil)(f: => Long): Unit =
      if (wanted(name +: readers: _*)) { reads; time(name, per, unit)(f) }

    // n events, `users` tenants, uniform over 30 days (inter-event
    // gap/user ≈ 13 min at 10M/50k)
    lazy val ev = stored(ScaleCorpus.events(spark, n, ScaleCorpus.uniformUser(users)),
      "/tmp/scale_events")
    def evRow(name: String, reads: => DataFrame = ev)(f: => Long): Unit =
      row(name, reads, n, "events")(f)
    // 100× the sf0.1 documents table: 500k docs, 1% planted near-dup pairs
    lazy val dc = stored(ScaleCorpus.docs(spark, nDocs), "/tmp/scale_docs")
    def docRow(name: String, reads: => DataFrame = dc)(f: => Long): Unit =
      row(name, reads, nDocs, "docs")(f)
    // a build row writes the artifacts `reader` reads, so it runs when
    // either is named
    def buildRow(name: String, reader: String, reads: => DataFrame = dc)(f: => Long): Unit =
      row(name, reads, nDocs, "docs", Seq(reader))(f)

    evRow("sessions_30min")(Sessions.sessionAgg(ev, lit("30 minutes")).count())
    evRow("sessions_dynamic")(Sessions.sessionAgg(ev, Sessions.scaledDynamicGap).count())
    evRow("big_customers")(Sessions.bigCustomers(
      Sessions.sessionAgg(ev, lit("30 minutes")), 400.0).count())
    evRow("daily_activity")(graft.operators.Relational.dailyActivity(ev).count())

    // skew stress: 90% of events on ONE user. Sessionization cannot split
    // a single key (the window merge needs the key's full timeline), so
    // the hot partition bounds wall-clock — measured here honestly; the
    // mitigations are upstream (pre-bucket hot tenants, coarser gap) not
    // magic. AQE rebalances the OTHER keys around it.
    lazy val sk = stored(ScaleCorpus.events(spark, n,
      when(pmod(xxhash64(col("id") + 3), lit(10)) < 9, 0L)
        .otherwise(ScaleCorpus.uniformUser(users))), "/tmp/scale_events_skew")
    evRow("sessions_skew90", sk)(Sessions.sessionAgg(sk, lit("30 minutes")).count())

    // dedup-kernel scale-up: the full MinHash+LSH pipeline (shingle ->
    // signature -> band join -> verify) and clustering at a corpus the
    // bench never sees
    docRow("minhash_lsh_500k")(
      graft.operators.NearDup.minhashNearDups(dc).count())
    docRow("dedup_clusters_500k")(
      graft.operators.NearDup.nearDupClusters(dc).count())
    docRow("simhash_500k")(
      graft.operators.NearDup.simhashNearDups(dc).count())
    // incremental (daily-run) shape at the same 100× corpus: 400k-doc
    // index, 100k-doc new batch. Expected: the batch's ~1000 planted
    // near-dups (id%100==1 copies id-1, both in-batch here) are refused,
    // everything else admitted — printed for eyeball validation.
    docRow("dedup_incremental_500k") {
      val out = graft.operators.NearDup.incrementalNearDups(
        dc.filter(col("doc_id") < 400000L), dc.filter(col("doc_id") >= 400000L))
      val admitted = out.filter(col("admitted")).count()
      println(f"  (admitted $admitted of 100000 batch docs)")
      out.count()
    }

    // duplicate-HEAVY corpus: 20% near-dup rate at 500k docs — the
    // scenario that made explicit broadcast() hints on candidate/cluster
    // frames an OOM risk (LLM corpora commonly run 20-50% near-dup).
    // With the hints gone these are plain equi-joins; this run measures
    // the verify + clustering path at ~100k candidate pairs.
    lazy val dd = stored(ScaleCorpus.docs(spark, nDocs, dupEvery = 5),
      "/tmp/scale_docs_dup")
    docRow("minhash_lsh_20pct_dup", dd)(
      graft.operators.NearDup.minhashNearDups(dd).count())
    docRow("dedup_clusters_20pct_dup", dd)(
      graft.operators.NearDup.nearDupClusters(dd).count())

    // shard packing at 500k docs: the distributed prefix sum's stage-2
    // window sees 500k/4096 ≈ 122 rows; everything else is parallel
    docRow("pack_shards_500k")(
      graft.operators.Curation.packShards(dc, 65536L).count())

    // decontamination at 500k docs: ~24M 8-gram postings (50k-doc eval
    // split), equi-join on the 8-byte gram hash; the ~1% planted near-dup
    // chains whose members straddle the md5 eval split are the expected
    // contamination hits
    docRow("decontaminate_500k")(
      graft.operators.Curation.decontaminate(dc).count())

    // incremental EXACT admission at the same 400k/100k split: two hash
    // aggregations + one key-table equi-join — the cheap daily-run path
    docRow("dedup_inc_exact_500k")(
      graft.operators.Dedup.incrementalExact(
        dc.filter(col("doc_id") < 400000L),
        dc.filter(col("doc_id") >= 400000L)).count())

    // artifact-table incremental near-dup at the same split — the index
    // build (yesterday's amortized cost: shingle/signature/label tables)
    // timed APART from the admission (the recurring daily cost). The gap
    // between dedup_inc_indexed and dedup_incremental_500k is what the
    // persisted artifacts buy.
    buildRow("neardup_index_build", "dedup_inc_indexed_500k") {
      val idx = dc.filter(col("doc_id") < 400000L)
      graft.operators.NearDup.shingled(idx)
        .write.mode("overwrite").parquet("/tmp/scale_idx_sh")
      graft.operators.NearDup
        .minhashSignatures(spark.read.parquet("/tmp/scale_idx_sh"))
        .write.mode("overwrite").parquet("/tmp/scale_idx_sig")
      graft.operators.NearDup.nearDupClusters(idx)
        .write.mode("overwrite").parquet("/tmp/scale_idx_lab")
      spark.read.parquet("/tmp/scale_idx_lab").count()
    }
    docRow("dedup_inc_indexed_500k") {
      val (adm, upd) = graft.operators.NearDup.incrementalNearDupsIndexed(
        spark.read.parquet("/tmp/scale_idx_sh"),
        spark.read.parquet("/tmp/scale_idx_sig"),
        spark.read.parquet("/tmp/scale_idx_lab"),
        dc.filter(col("doc_id") >= 400000L))
      upd.count() // label-store maintenance is part of the daily cost
      adm.count()
    }

    // semantic dedup at 500k 64-dim vectors with 1% planted near-identical
    // pairs. 6 planes (the sf-bench default) would collide Θ(n²/64);
    // autoPlanes(500k) = 18 (~262k buckets) keeps candidates
    // equi-join-bounded — the plane count is the corpus-size knob, planes
    // stay deterministic. The curve below records recall (planted dups
    // dropped) and candidate volume around the auto answer.
    val nVecs = 500000L
    lazy val ve = stored(ScaleCorpus.vectors(spark, nVecs), "/tmp/scale_vecs")
    val autoP = graft.operators.Similarity.autoPlanes(nVecs)
    println(s"autoPlanes($nVecs) = $autoP")
    for (p <- Seq(autoP - 4, autoP, autoP + 4)) {
      docRow(s"semantic_dedup p=$p", ve) {
        val out = graft.operators.Similarity.semanticDedup(ve, 0.9, numPlanes = p)
        val dropped = out.filter(!col("kept")).count()
        println(f"  (p=$p: dropped $dropped of ~5000 planted dups)")
        out.count()
      }
    }

    // incremental semantic admission at the same 500k-vector corpus:
    // 400k-vector persisted index (bucket table + sparse labels — the
    // amortized build), then a 100k-vector batch admitted O(batch)
    buildRow("semdedup_index_build", "semdedup_inc_500k", ve) {
      val idx = ve.filter(col("vec_id") < 400000L)
      graft.operators.Similarity.bucketTable(idx, numPlanes = autoP)
        .write.mode("overwrite").parquet("/tmp/scale_vec_buckets")
      graft.operators.Similarity.semanticDedup(idx, 0.9, numPlanes = autoP)
        .filter(!col("kept")).select(col("vec_id"), col("cluster_id"))
        .write.mode("overwrite").parquet("/tmp/scale_vec_labels")
      spark.read.parquet("/tmp/scale_vec_labels").count()
    }
    docRow("semdedup_inc_500k", ve) {
      val (adm, upd) = graft.operators.Similarity.semanticDedupIncremental(
        ve.filter(col("vec_id") < 400000L),
        spark.read.parquet("/tmp/scale_vec_buckets"),
        spark.read.parquet("/tmp/scale_vec_labels"),
        ve.filter(col("vec_id") >= 400000L), 0.9, numPlanes = autoP)
      upd.count() // label-store maintenance is part of the recurring cost
      val refused = adm.filter(!col("kept")).count()
      println(f"  (refused $refused of ~1000 planted batch dups)")
      adm.count()
    }

    // the CONTINUOUS form at the same corpus: 5 × 100k-vector
    // micro-batches through the full streaming loop (exactly-once output
    // commit, label snapshot, vector/bucket artifact appends per batch) —
    // wall-clock here is the recurring cost of running semantic admission
    // as a stream instead of the single-shot incremental call above
    docRow("sem_admission_stream", ve) {
      val root = java.nio.file.Files.createTempDirectory("scale_sem_stream")
      try {
        val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
        (0 until 5).foreach { i =>
          graft.streaming.StreamingSessions.appendReplayFile(
            ve.filter(col("vec_id") >= i * 100000L &&
              col("vec_id") < (i + 1) * 100000L), in, i)
        }
        graft.streaming.StreamingDedup.semanticAdmissionStream(spark,
          in.toString, root.resolve("idx").toString,
          root.resolve("out").toString, root.resolve("ckpt").toString,
          0.9, autoP)
        val out = graft.streaming.StreamingDedup
          .readOutput(spark, root.resolve("out").toString)
        val refused = out.filter(!col("kept")).count()
        println(f"  (refused $refused of ~5000 planted dups across 5 batches)")
        out.count()
      } finally graft.streaming.StreamingSessions.deleteRecursively(root)
    }

    // subword BPE at 500k docs: training touches the corpus once (the
    // word-TYPE table is 31 rows here), each of the 10 rounds is a tiny
    // cached-table aggregate; encoding is the heavy map-only pass over
    // ~27.5M tokens exploded to symbols
    docRow("bpe_train_500k")(
      graft.functions.TextAnalysis.trainBpeMerges(dc).count())
    docRow("bpe_encode_500k")(
      graft.functions.TextAnalysis.encodeBpe(dc).count())

    // frozen-artifact encode: artifacts trained once on a 400k-doc prefix
    // (the amortized tokenizer build), then the 100k-doc tail encoded
    // O(batch) with the shipped tables — no second vocabulary pass
    buildRow("bpe_artifacts_build", "bpe_encode_inc_500k") {
      val (m, v) = graft.functions.TextAnalysis.bpeArtifacts(
        dc.filter(col("doc_id") < 400000L))
      m.write.mode("overwrite").parquet("/tmp/scale_bpe_merges")
      v.write.mode("overwrite").parquet("/tmp/scale_bpe_vocab")
      spark.read.parquet("/tmp/scale_bpe_vocab").count()
    }
    docRow("bpe_encode_inc_500k")(
      graft.functions.TextAnalysis.encodeBpeWith(
        spark.read.parquet("/tmp/scale_bpe_merges"),
        spark.read.parquet("/tmp/scale_bpe_vocab"),
        dc.filter(col("doc_id") >= 400000L)).count())

    // production-vocabulary BPE: the scale corpus has only 31 word types
    // (pairs exhaust at a handful of merges), so the ≥1k-merge regime runs
    // on a synthetic rich vocabulary — 20k distinct seeded words, 500k
    // docs × 30 words. Training is 1000 driver-side rounds over the 20k
    // type table; the encode is the codegen'd kernel whose per-word cost
    // tracks merges APPLIED (≤ |word|−1), not the 1000-rank table — the
    // row the chained-replace spelling could never print (a 1000-node
    // replace chain per projection)
    lazy val rich = ScaleCorpus.richDocs(spark, nDocs)
    docRow("bpe_encode_1k_merges_500k", rich)(
      graft.functions.TextAnalysis.encodeBpe(rich, numMerges = 1000).count())

    // k-means corpus clustering at 500k×64-dim (1000× the sf0.01 oracle
    // corpus): per iteration one map pass + a (cell,pos)=16×64-key
    // fixed-point shuffle — wall-clock should track the 4 corpus scans
    // (3 Lloyd + final assignment), nothing quadratic
    docRow("cluster_embeddings_500k", ve) {
      val out = graft.operators.Similarity.clusterEmbeddings(ve)
      val cells = out.count()
      val covered = out.agg(sum(col("n_vectors"))).head().getLong(0)
      println(f"  ($cells cells cover $covered of $nVecs vectors)")
      cells
    }

    // frozen-centroid assignment at the 400k/100k split: the artifact is
    // 16 cells × 64 dims = 1024 rows; admission of the 100k batch is the
    // map-only NearestCells pass (compare with cluster_embeddings_500k —
    // the gap is what freezing the quantizer buys a daily run)
    buildRow("cluster_assign_build", "cluster_assign_inc_500k", ve) {
      graft.operators.Similarity.clusterArtifacts(
        ve.filter(col("vec_id") < 400000L))
        .write.mode("overwrite").parquet("/tmp/scale_cents")
      spark.read.parquet("/tmp/scale_cents").count()
    }
    docRow("cluster_assign_inc_500k", ve)(
      graft.operators.Similarity.assignWith(
        spark.read.parquet("/tmp/scale_cents"),
        ve.filter(col("vec_id") >= 400000L)).count())

    // PQ at 500k vectors (r9): 8 subspace codebooks trained + the whole
    // corpus encoded to 8 codes/vector + 20-query ADC scan over the
    // compressed codes — the memory-bounded ANN path at 100× bench scale
    docRow("pq_topk_500k", ve)(
      graft.operators.Similarity.pqTopK(ve, 20, 10).count())
    // the production composition at the same 500k: cell pruning should
    // cut the scored candidates ~cells/probes-fold vs the PQ full scan
    docRow("ivfpq_topk_500k", ve)(
      graft.operators.Similarity.ivfPqTopK(ve, 20, 10).count())

    // sequence packing at 500k docs / ~27.5M tokens into 4096-token
    // sequences: the shared prefix sum plus a map-only explode —
    // ~500k + 6.7k span rows out, tokens never materialized
    docRow("pack_sequences_500k")(
      graft.operators.Curation.packSequences(dc, 4096L).count())

    // token-budget mixture at 500k docs: per-language admission via the
    // (lang, md5-bucket) two-level prefix — no corpus-frame window; the
    // marker words live in the synthetic vocab, so langid stratifies
    docRow("mixture_tokens_500k")(
      graft.operators.Curation.mixtureSampleTokens(dc,
        Map("en" -> 500000L, "es" -> 500000L, "de" -> 1000000L,
            "zh" -> 2000000L)).count())

    // span-level dedup at 500k docs: winner-per-distinct-chunk is one
    // partial-aggregable shuffle keyed on ≤10-token chunks; each planted
    // near-dup doc (1%) copies its source's first 50 tokens, so its
    // chunks 0-4 lose to the source — expected ≈ 5k docs × 5 = 25k
    // dropped spans, printed for eyeballing
    docRow("span_dedup_500k") {
      val out = graft.operators.Dedup.spanDedup(dc)
      val dropped = out.agg(sum(col("spans_dropped"))).head().getLong(0)
      println(f"  ($dropped duplicate spans removed)")
      out.count()
    }

    // sliding-window replay at 10M events: the bounded-disorder streaming
    // harness (2 jittered micro-batches + watermark flush) over the full
    // synthetic stream — measures that the watermarked window-agg state
    // (≤ 4 open windows per 6 h of event time) stays flat while the
    // harness cost tracks data volume, not window count
    lazy val ev6 = ScaleCorpus.eventTable(ev, lit("view"))
    evRow("sliding_replay_10m", ev6)(graft.streaming.StreamingSessions
      .replaySlidingOutOfOrder(ev6).count())

    // bucketed co-located join: both sides bucketed+sorted on user_id join
    // with ZERO exchanges — the pre-partitioning strategy for repeated
    // fact⋈fact joins at 100 TB (vs a per-query shuffle)
    if (wanted("bucketed_join_agg")) {
      val profiles = spark.range(users).select(col("id").as("user_id"),
        pmod(xxhash64(col("id")), lit(5)).as("tier"))
      spark.sql("DROP TABLE IF EXISTS ev_b"); spark.sql("DROP TABLE IF EXISTS pr_b")
      // a fresh derby metastore doesn't know about dirs left by prior runs
      Seq("ev_b", "pr_b").foreach { t =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"spark-warehouse/$t"))
      }
      ev.write.mode("overwrite").bucketBy(32, "user_id").sortBy("user_id")
        .saveAsTable("ev_b")
      profiles.write.mode("overwrite").bucketBy(32, "user_id").sortBy("user_id")
        .saveAsTable("pr_b")
      val joined = spark.table("ev_b").join(spark.table("pr_b"), "user_id")
        .groupBy(col("tier")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // the tier-agg shuffle is expected; the JOIN key must not shuffle
      val exchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).length
      println(s"bucketed-join exchanges on user_id = $exchanges (want 0)")
      evRow("bucketed_join_agg")(joined.count())
    }

    // round-5 additions at the same 500k-doc / 10M-event corpora ------

    // domain-reputation over 1000 synthetic sources (500 docs each): the
    // per-source rollup is domain-dimension-sized; the gate's anti-join
    // build side is the bad-source subset of those 1000 rows
    lazy val srcDocs = dc.withColumn("source",
      concat(lit("src"), pmod(col("doc_id"), lit(1000))))
    docRow("source_reputation_500k", srcDocs)(
      graft.operators.Curation.sourceReputation(srcDocs).count())
    docRow("gate_by_source_500k", srcDocs)(
      graft.operators.Curation.gateBySource(srcDocs).count())

    // token-id encoding at 500k docs: 31-token vocab broadcast to the
    // 27.5M-row exploded frame; per-doc order restored by a 55-element
    // struct sort — nothing corpus-global
    docRow("tokenize_ids_500k")(
      graft.functions.TextAnalysis.encodeTokenIds(dc, 1000).count())

    // BM25 search at 500k docs: the exploded frame filters to the three
    // query terms BEFORE aggregation, so the scored frame is
    // term-proportional (~1.5M rows of 27.5M)
    docRow("search_bm25_500k")(
      graft.functions.TextAnalysis.searchBm25(
        dc, Seq("scan", "hash", "edited"), 20).count())

    // retention triangle at 10M events / 50k users: two user-keyed hash
    // aggs + one user equi-join; output bounded by days² (30×30)
    evRow("retention_10m")(
      graft.operators.Relational.retentionCohorts(ev).count())

    // bigram LM at 500k docs: ~27M bigram occurrences through two
    // map-combined count aggs + two per-distinct-gram joins
    docRow("bigram_lm_500k")(
      graft.functions.TextAnalysis.bigramLmScore(dc).count())

    // corpus diff at 500k vs a 90%-overlap second version: one full
    // outer equi-join of md5 projections
    docRow("corpus_diff_500k") {
      val v2 = dc.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.Curation.corpusDiff(dc, v2).count()
    }

    // the composed training-data pipeline at 500k docs (1000 sources):
    // domain gate -> subset quantile gate -> exact dedup -> near-dup
    // canonicalize (full corpus) -> shard pack — the whole-corpus
    // near-dup clustering dominates, everything else is aggregations
    docRow("pipeline_500k") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val g1 = srcDocs.join(graft.operators.Curation
        .gateBySource(srcDocs, minAvgTtrBp = 3000).select(col("doc_id")), "doc_id")
      val g2 = srcDocs.join(graft.operators.Curation
        .qualityQuantileGate(g1).select(col("doc_id")), "doc_id")
      val ex = g2.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val nonCanonical = graft.operators.NearDup.nearDupClusters(dc)
        .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
      graft.operators.Curation.packShards(
        ex.join(nonCanonical, Seq("doc_id"), "left_anti"), 65536L).count()
    }

    // round-8 multimodal codecs at 500k media docs ------
    // all decode paths are map-only off the scan (pixels/samples never
    // shuffle); the near-dup/admission joins touch only fixed-width
    // fingerprints. The doc_id frame is all these operators read.
    val mm = graft.operators.Multimodal
    docRow("phash_500k")(mm.imageHashes(dc).count())
    // NOTE this corpus is adversarially duplicate-heavy at 500k: the
    // mod-256 pixel recipe renders identical images for doc ids equal
    // mod lcm(256, 221) = 56576, i.e. ~9-member identical classes →
    // ~4M TRUE pairs. The banded search clears it regardless (the join
    // stays band-bucketed; output size, not candidate blowup, is the
    // cost) — the image analogue of the 20%-duplicate text corpora
    docRow("image_dups_500k")(mm.imageNearDups(dc).count())
    // incremental perceptual admission at the daily-run split: the 400k
    // index side is the persisted FINGERPRINT artifact (computed once
    // here, read back as parquet) — batch cost is fingerprint 100k new
    // images + 4 banded joins against the artifact. On THIS corpus every
    // batch doc has an identical smaller-id twin (see above), so all
    // 100k are refused — printed to keep the measurement honest
    if (wanted("image_admission_500k"))
      mm.imageHashes(dc.filter(col("doc_id") < 400000L))
        .write.mode("overwrite").parquet("/tmp/scale_phash")
    docRow("image_admission_500k") {
      val adm = mm.fingerprintAdmission(
        spark.read.parquet("/tmp/scale_phash"),
        mm.imageHashes(dc.filter(col("doc_id") >= 400000L)),
        "phash", 16)
      val refused = adm.filter(!col("kept")).count()
      println(f"  (refused $refused of 100000 — identical-class corpus)")
      adm.count()
    }
    // audio fingerprint extraction scales (decode ~650 samples/clip,
    // map-only); the 32-bit contour's 8-bit bands cap the SEARCH corpus
    // at ~10^4 docs before band-candidate blowup (256 buckets go
    // quadratic) — so only extraction is measured on the 32-bit form,
    // and the SEARCH runs on the 64-bit contour below (16-bit bands,
    // the image path's constants — audioNearDups64)
    docRow("audio_fp_500k")(mm.audioFingerprints(dc).count())
    // 64-bit contour: longer clips (~1.1k samples), 4×16-bit bands →
    // 65 536 buckets, so the banded search holds at 500k like the image
    // path. NOTE this synthetic contour space is adversarially DENSE:
    // the quadratic-mod-4001 recipe gives docs structurally similar
    // up/down energy patterns, so radius-3 finds 62.2M true pairs
    // (~124 neighbors/doc — real audio contours are far noisier). The
    // row is output-bounded, not candidate-blowup-bounded: measured
    // r13, extraction 22.2 s, search 85.1 s INCLUDING materializing all
    // 62M pairs (~730k pairs/s)
    docRow("audio64_fp_500k")(mm.audioFingerprints64(dc).count())
    docRow("audio64_dups_500k")(mm.audioNearDups64(dc).count())
    docRow("video_scenes_500k")(mm.videoScenes(dc).count())

    // round-8 wave 2: diagnostics + sketch artifacts + timer sessions ------

    // Deequ-style constraint suite at 500k docs: one partial-aggregated
    // scan (+ the distinct-agg Expand) over a 5-column projection
    lazy val fullDocs = srcDocs
      .withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(5))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docRow("constraints_500k", fullDocs)(
      graft.operators.Curation.validateConstraints(fullDocs).count())

    // skew diagnostic on both 10M-event shapes: the uniform corpus must
    // NOT trigger salting, the 90%-one-key corpus must — printed so the
    // decision the profile exists for is visible in the log
    def skewRow(label: String, frame: => DataFrame): Unit =
      evRow(s"skew_profile_$label", frame) {
        val r = graft.operators.Sketches.skewProfile(frame).head()
        println(f"  (ratio=${r.getDouble(5)}%.1f needs_salting=${r.getBoolean(6)})")
        1L
      }
    skewRow("uniform", ev)
    skewRow("skew90", sk)

    // HLL vocabulary sketches at 500k docs / 1000 sources: artifact build
    // is the 27.5M-token aggregation; the incremental update then costs
    // O(100k-doc batch) + a 1000-row merge — the readout touches ONLY the
    // ~KB binaries. Estimates are gated vs exact in the bench suite; here
    // the measurement is the build/update/readout cost split.
    val sk8 = graft.operators.Sketches
    if (wanted("vocab_sketch_update_100k", "vocab_sketch_readout"))
      sk8.vocabSketchState(srcDocs.filter(col("doc_id") < 400000L))
        .write.mode("overwrite").parquet("/tmp/scale_vocab_sketch")
    docRow("vocab_sketch_build_500k", srcDocs)(sk8.vocabSketchState(srcDocs).count())
    docRow("vocab_sketch_update_100k", srcDocs)(
      sk8.vocabSketchUpdate(spark.read.parquet("/tmp/scale_vocab_sketch"),
        srcDocs.filter(col("doc_id") >= 400000L)).count())
    docRow("vocab_sketch_readout")(
      sk8.vocabSketchEstimates(spark.read.parquet("/tmp/scale_vocab_sketch"))
        .count())

    // Misra–Gries heavy-hitter artifacts at 500k docs / 1000 sources:
    // build is the 27.5M-token scan with ≤k-entry maps as the ONLY
    // shuffled state per (task, source); update folds a 100k batch into
    // stored artifacts via the O(sources · k) DataFrame merge
    if (wanted("heavy_hitters_update_100k"))
      sk8.heavyHitterState(srcDocs.filter(col("doc_id") < 400000L))
        .write.mode("overwrite").parquet("/tmp/scale_hh_sketch")
    docRow("heavy_hitters_build_500k", srcDocs)(sk8.heavyHitterState(srcDocs).count())
    docRow("heavy_hitters_update_100k", srcDocs)(
      sk8.heavyHitterUpdate(spark.read.parquet("/tmp/scale_hh_sketch"),
        srcDocs.filter(col("doc_id") >= 400000L)).count())

    // timer-built sessions (transformWithState event-time timers) through
    // the bounded-disorder replay at 1M events / 50k users, 30 min gap —
    // the from-scratch session state machine at 10× bench volume; state
    // is O(open sessions per user), timers one per key
    lazy val ev1m = ev6.filter(col("event_id") % 10 === 0)
    evRow("timer_sessions_1m", ev1m)(graft.streaming.TimerSessions
      .replayTimerSessions(ev1m, 1800L).count())

    // round-8 wave 3: ordered funnel + the analytics batch ------

    // typed event stream for the sequence analytics (deterministic 5-way
    // type split; ev6's constant type would collapse every transition)
    lazy val evTyped = ScaleCorpus.eventTable(ev,
      element_at(typedlit(Seq("view", "click", "purchase", "error", "scroll")),
        (pmod(xxhash64(col("event_id") + 29), lit(5)) + 1).cast("int")))

    // ordered streaming funnel at 1M events / 50k users through the
    // bounded-disorder replay: state is O(buffered chain per user), and
    // finality comes from event-time timers at watermark + window
    evRow("ordered_funnel_1m", evTyped)(graft.streaming.TimerFunnel
      .replayOrderedFunnel(evTyped.filter(col("event_id") % 10 === 0),
        stepWithinSec = 86400L).count())

    // HDR-histogram quantile artifacts at 10M events: build is one
    // partial-aggregated scan to O(types · bins) rows; update folds a 1M
    // batch by vector add; readout walks only the artifact
    if (wanted("value_hist_update_1m", "value_hist_readout"))
      graft.operators.Sketches
        .valueHistState(evTyped.filter(col("event_id") % 10 =!= 0))
        .write.mode("overwrite").parquet("/tmp/scale_vhist")
    evRow("value_hist_build_10m", evTyped)(
      graft.operators.Sketches.valueHistState(evTyped).count())
    evRow("value_hist_update_1m", evTyped)(
      graft.operators.Sketches.valueHistUpdate(
        spark.read.parquet("/tmp/scale_vhist"),
        evTyped.filter(col("event_id") % 10 === 0)).count())
    evRow("value_hist_readout", evTyped)(
      graft.operators.Sketches.valueHistQuantiles(
        spark.read.parquet("/tmp/scale_vhist")).count())

    // batch sequence analytics at 10M events: each is ONE user_id hash
    // shuffle (window sort) + a dimension-sized final agg
    evRow("markov_transitions_10m", evTyped)(
      graft.operators.Relational.eventTransitions(evTyped).count())
    evRow("inter_event_gaps_10m", evTyped)(
      graft.operators.Relational.interEventGaps(evTyped).count())
    evRow("funnel_time_10m", evTyped)(
      graft.operators.Relational.funnelConversionTime(evTyped).count())
    // two corpus scans + two 5-row median/MAD aggs broadcast back; the
    // exact percentile's value-count map stays at |distinct cents| = 20k
    evRow("mad_outliers_10m", evTyped)(
      graft.operators.Relational.madOutliers(evTyped).count())
    evRow("gapfill_10m", evTyped)(
      graft.operators.Relational.gapFillDaily(evTyped).count())

    // word entropy at 500k docs: the 27.5M-token (doc, tok) agg + per-doc
    // combine — same shuffle spread as tokenDocFrequency
    docRow("word_entropy_500k")(
      graft.functions.TextAnalysis.wordEntropy(dc).count())

    // containment at 500k docs over a LONG-TAIL shingle corpus (~5M
    // distinct tokens): real prose has power-law shingle df, so the
    // posting-list join is doc-linear. The 31-word-vocab corpus above
    // would make EVERY shingle hot (df ≈ 880 ⇒ ~10^10 candidate pairs) —
    // that corpus is what the df-cap twin (jaccardNearDupsExact's
    // maxDocFreq) exists for, and exact containment on it would be a
    // dishonest benchmark of an inverted-index operator. 1% planted
    // doc-in-doc pairs: id%100==1 docs embed doc id-1's full text.
    def ctok(idx: org.apache.spark.sql.Column) =
      concat(lit("t"), pmod(xxhash64(idx), lit(5000000L)))
    val base55 = (0 until 55).map(k => ctok(col("id") * 55 + k))
    val host = (0 until 55).map(k => ctok((col("id") - 1) * 55 + k)) ++
      (0 until 30).map(k => ctok(col("id") * 1000 + k + 7))
    lazy val cd = stored(spark.range(nDocs).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(100)) === 1, concat_ws(" ", host: _*))
        .otherwise(concat_ws(" ", base55: _*)).as("text")), "/tmp/scale_docs_longtail")
    docRow("containment_500k", cd) {
      val out = graft.operators.NearDup.containmentNearDups(cd)
      val full = out.filter(col("cont_bp") === 10000L).count()
      println(f"  ($full fully-contained pairs — ~5000 planted)")
      out.count()
    }

    // leakage-guarded split at 500k with the DEFAULT banded-MinHash edge
    // source (r9): candidate volume is band-collision-bounded, so unlike
    // the exact posting join this shape also survives hot-shingle corpora;
    // the guard itself is two edge-table equi-joins over the ~1% dup pairs.
    // The candidate bound is printed alongside the quarantine count, from
    // a separate untimed pass so the timed row prices the guard itself
    // (r9's first run timed both together)
    lazy val leakEdges = graft.operators.NearDup.minhashNearDups(cd).count()
    docRow("split_leakage_500k", { leakEdges; cd }) {
      val out = graft.operators.Curation.splitWithLeakageGuard(cd)
      val q = out.filter(col("split") === "quarantine").count()
      println(f"  ($leakEdges banded near-dup edges; $q train docs quarantined)")
      out.count()
    }

    // edit-distance near-dups at 500k: the anchor join fans out exactly
    // 2 postings/doc (vs ~53 shingle postings), so candidate volume is
    // anchor-collision-bounded; the O(len²) Levenshtein kernel runs only
    // on candidates. The 1%-planted one-token-edit dups share their head
    // anchor by construction.
    docRow("edit_distance_500k")(
      graft.operators.NearDup.editDistanceNearDups(dc).count())

    // round-9 additions --------------------------------------------

    // salted enrich join at 10M events × 50k-customer dim (×8 salt
    // replication): the pinned shuffle_hash join can't be broadcast away,
    // so this measures the true two-sided salted shuffle at volume
    val custDim = spark.range(users).select(col("id").as("c_custkey"),
      element_at(typedlit(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")),
        (pmod(xxhash64(col("id") + 41), lit(5)) + 1).cast("int"))
        .as("c_mktsegment"))
    evRow("salted_enrich_10m")(
      graft.operators.Relational.saltedEnrichJoin(ev, custDim).count())

    // the measured chooser on the 90%-hot-key corpus: profile (two
    // partial-agg passes) + the salted branch it must route to
    evRow("adaptive_totals_skew", sk)(
      graft.operators.Relational.adaptiveUserTotals(sk).count())

    // timer-rebuilt sessions at the FULL 10M (the 1M row above isolates
    // state-machine cost; this one adds the micro-batch scheduling cost
    // at bench-table volume ×100)
    evRow("timer_sessions_10m", ev6)(graft.streaming.TimerSessions
      .replayTimerSessions(ev6, 1800L).count())

    // q-digest artifacts at 10M events: build is one value-count agg +
    // 8 artifact-sized rounds; update folds a 1M batch by artifact merge;
    // readout walks only the artifact
    if (wanted("qdigest_update_1m", "qdigest_readout"))
      graft.operators.Sketches
        .qdigestState(evTyped.filter(col("event_id") % 10 =!= 0))
        .write.mode("overwrite").parquet("/tmp/scale_qdigest")
    evRow("qdigest_build_10m", evTyped)(
      graft.operators.Sketches.qdigestState(evTyped).count())
    evRow("qdigest_update_1m", evTyped)(
      graft.operators.Sketches.qdigestUpdate(
        spark.read.parquet("/tmp/scale_qdigest"),
        evTyped.filter(col("event_id") % 10 === 0)).count())
    evRow("qdigest_readout", evTyped)(
      graft.operators.Sketches.qdigestQuantiles(
        spark.read.parquet("/tmp/scale_qdigest")).count())

    // streaming drift monitor replay at 10M / 4 micro-batches: per-batch
    // cost is the batch scan + an artifact-sized vector add, drift read
    // purely from the final artifact
    evRow("drift_stream_10m", evTyped)(
      graft.streaming.StreamingSketches.replayDriftMonitor(evTyped).count())

    // round-10 additions --------------------------------------------

    // residual IVF-PQ at 500k: the ivfpq candidate scan plus per-cell
    // mean offsets; codebooks (here and in pq/ivfpq above) now train on
    // the bounded md5 sample (PqTrainSample = 6.4k) instead of 16
    // full-corpus Lloyd passes — the r9 PQ row's dominant cost
    docRow("ivfpq_res_topk_500k", ve)(
      graft.operators.Similarity.ivfPqResTopK(ve, 20, 10).count())
    // two-stage retrieval: the same ADC scan + exact re-rank of the
    // top-40 candidates per query (candidate-bounded raw-vector reads)
    docRow("ivfpq_res_refine_500k", ve)(
      graft.operators.Similarity.ivfPqResRefineTopK(ve, 20, 10).count())

    // streamed doc-fold maintainers at 500k docs / 3 micro-batches:
    // per-batch cost = the batch scan + an artifact-sized merge (CM:
    // 4×1024 cells, MG: 8 counters/source, HLL: one sketch/source)
    lazy val dcs = dc.withColumn("source",
      concat(lit("s"), pmod(col("doc_id"), lit(8)).cast("string")))
    docRow("cmsketch_stream_500k")(
      graft.streaming.StreamingSketches.replayCmSketch(dc).count())
    docRow("hh_stream_500k", dcs)(
      graft.streaming.StreamingSketches.replayHeavyHitters(dcs).count())
    docRow("vocab_sketch_stream_500k", dcs)(
      graft.streaming.StreamingSketches.replayVocabSketch(dcs).count())
    // the persisted variant adds one versioned parquet artifact
    // write+read per batch — the crash-recoverable production shape
    docRow("cmsketch_persist_500k")(
      graft.streaming.StreamingSketches.replayCmSketchPersisted(dc,
        java.nio.file.Files.createTempDirectory("graft_cmp10_")).count())
    docRow("hh_persist_500k", dcs)(
      graft.streaming.StreamingSketches.replayHeavyHittersPersisted(dcs,
        java.nio.file.Files.createTempDirectory("graft_hhp10_")).count())
    spark.stop()
  }
}
