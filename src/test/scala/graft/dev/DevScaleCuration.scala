package graft

// Scale harness for the round-12 curation operators: the decontamination
// triad's fuzzy/semantic members and DSIR importance resampling at 100×
// bench scale (500k docs / 500k×64 vectors), the DevScale corpora
// (ScaleCorpus) so rows are comparable across rounds. Args: [nDocs].
import org.apache.spark.sql.functions._

import graft.ScaleCorpus.stored

object DevScaleCuration {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val spark = SparkEntry.session()
    def time(name: String)(f: => Long): Unit = ScaleCorpus.time(name, nDocs, "docs")(f)
    val dc = stored(ScaleCorpus.docs(spark, nDocs), "/tmp/scale_docs")

    // fuzzy decontamination at 500k / 10% eval split: candidates are the
    // train-band × eval-band equi-join (eval-collision-bounded); the ~1%
    // planted chains whose members straddle the md5 split are the hits
    time("decon_fuzzy") {
      val out = graft.operators.Curation.decontaminateFuzzy(dc)
      out.count()
    }

    // DSIR at 500k docs (5 synthetic langs by doc_id mod; the 31-word
    // vocab is lang-independent, so weights sit at the uniform baseline —
    // this measures the occurrence/weight/score plumbing at 54M feature
    // occurrences, not separation, which the fixture oracle pins)
    val fullDocs = dc.withColumn("lang",
      concat(lit("l"), pmod(col("doc_id"), lit(5))))
    time("importance_sample") {
      val out = graft.operators.Curation.importanceSample(fullDocs, "l1")
      val kept = out.count()
      println(f"  (kept $kept of $nDocs — uniform-vocab corpus, tie-heavy)")
      kept
    }
    time("importance_inc_20pct") {
      graft.operators.Curation.importanceSampleIncremental(
        fullDocs.filter(col("doc_id") < nDocs * 4 / 5),
        fullDocs.filter(col("doc_id") >= nDocs * 4 / 5), "l1").count()
    }

    // semantic decon EXACT at a small eval (0.2% → ~1k vectors: the
    // screen is inherently train×eval) vs the LSH prefilter at the full
    // 10% eval (50k vectors) with the corpus-size plane count — the gap
    // is what the bucketed candidates buy
    val ve = stored(ScaleCorpus.vectors(spark, nDocs), "/tmp/scale_vecs")
    val autoP = graft.operators.Similarity.autoPlanes(nDocs)
    time("decon_semantic_exact_2bp") {
      graft.operators.Similarity
        .decontaminateSemantic(ve, evalBps = 20, threshold = 0.9).count()
    }
    time(s"decon_semantic_lsh_10pct p=$autoP") {
      val out = graft.operators.Similarity.decontaminateSemanticLsh(
        ve, evalBps = 1000, threshold = 0.9, numPlanes = autoP)
      val hits = out.count()
      println(f"  ($hits contaminated train vectors — planted cross-split dups)")
      hits
    }

    // cluster-balanced diversity sampling at the same corpus: k-means
    // train + assign (the clusterEmbeddings cost) + the two-level
    // per-cell pick — nothing here may single-reducer-sort a cell
    time("cluster_balanced_sample") {
      graft.operators.Similarity.clusterBalancedSample(ve, perCell = 1000)
        .count()
    }

    // the streamed screens at volume: frozen artifacts from a 50% pool,
    // the other half replayed as 5 micro-batches through the stateless
    // loops — wall-clock here is the recurring per-batch cost (batch
    // scan + broadcast artifact join + the ~0.6 s micro-batch tax), the
    // artifacts never rescan
    val half = nDocs / 2
    val pool = fullDocs.filter(col("doc_id") < half)
    val tail = dc.filter(col("doc_id") >= half &&
        graft.operators.Curation.sampleBucket(col("doc_id")) >= 1000)
      .select(col("doc_id"), col("text"))
    val sroot = java.nio.file.Files.createTempDirectory("scale_screen_streams")
    try {
      val (wt, thr) = graft.operators.Curation.importanceArtifacts(pool, "l1")
      wt.write.parquet(s"$sroot/ia/weights")
      thr.write.parquet(s"$sroot/ia/thr")
      val iIn = sroot.resolve("iin")
      java.nio.file.Files.createDirectories(iIn)
      (0 until 5).foreach { i =>
        graft.streaming.StreamingSessions.appendReplayFile(
          tail.filter(pmod(col("doc_id"), lit(5)) === i), iIn, i)
      }
      time("importance_stream_5x") {
        graft.streaming.StreamingPack.importanceAdmissionStream(spark,
          iIn.toString, s"$sroot/ia", s"$sroot/iout", s"$sroot/ickpt")
        graft.streaming.StreamingPack.readOutput(spark, s"$sroot/iout").count()
      }
      graft.operators.Curation.evalNgramArtifact(dc)
        .write.parquet(s"$sroot/da/eval_ngrams")
      time("decon_stream_5x") {
        graft.streaming.StreamingPack.decontaminationScreenStream(spark,
          iIn.toString, s"$sroot/da", s"$sroot/dout", s"$sroot/dckpt")
        graft.streaming.StreamingPack.readOutput(spark, s"$sroot/dout").count()
      }
    } finally graft.streaming.StreamingSessions.deleteRecursively(sroot)
    spark.stop()
  }
}
