package graft

// Focused ANN-at-scale harness: times the PQ family over the 500k-vector
// table DevScale writes to /tmp/scale_vecs, so the PQ rows can be
// re-measured without the full 20-minute DevScale sweep.
import org.apache.spark.sql.functions._

object DevScaleAnn {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    // "10m" = the order-of-magnitude-up residual audit: generate (once)
    // a 10M-vector table with DevScale's deterministic generator and run
    // the production composition on it — the row that proves the per-cell
    // mean aggregate (64 sum expressions per cell) and the codes-only
    // search survive 20x the 500k table
    val tenM = args.contains("10m")
    // "clustered" swaps the uniform-random 10M corpus for a deterministic
    // 256-center mixture: vector = center[xxhash64(id+17) mod 256] +
    // uniform ±0.15 per-component noise. The uniform corpus is the WORST
    // case for ADC (top-rank margins shrink toward the rounding grain as
    // n grows — the r12 attribution's finding) and unrepresentative of
    // real embedding geometry, which is cluster-structured with local
    // margins; this corpus re-pins the same recall ladder on that shape.
    val clustered = args.contains("clustered")
    // "cellonly": recall mode runs only the ground truth + the per-cell
    // SQ8 rows (iterating on the cell-count knob without re-running the
    // whole measured ladder)
    val cellOnly = args.contains("cellonly")
    val modeFlags =
      Set("10m", "recall", "check", "attrib", "drift", "clustered",
        "cellonly", "auto")
    val path =
      args.find(a => !modeFlags(a)).getOrElse(
        if (clustered) "/tmp/scale_vecs_10m_cl"
        else if (tenM) "/tmp/scale_vecs_10m" else "/tmp/scale_vecs")
    def vecAt(idCol: org.apache.spark.sql.Column) =
      if (clustered)
        transform(sequence(lit(0), lit(63)), d =>
          (pmod(xxhash64(pmod(xxhash64(idCol + 17), lit(256)) * 64 + d +
            lit(99991L)), lit(2001)) - lit(1000)) / 1000.0 +
            ((pmod(xxhash64(idCol * 64 + d), lit(2001)) - lit(1000))
              * lit(0.00015)))
      else ScaleCorpus.vecAt(idCol)
    val ve =
      if (tenM || clustered)
        ScaleCorpus.stored(spark.range(10000000L).select(col("id").as("vec_id"),
          vecAt(col("id")).as("embedding")), path, reuse = true)
      else spark.read.parquet(path)
    val n = ve.count()
    def time(name: String)(f: => Long): Unit = {
      ScaleCorpus.time(name, n, "vecs")(f)
      // each operator localCheckpoints multi-GB frames; without freeing
      // them between rows the LATER rows fight block eviction (at 10M the
      // 3rd query measured 3x its clean-JVM cost) — rows must be
      // independent measurements
      ScaleCorpus.freeCached()
    }
    // "recall" = the quality half of the scale audit: exact top-k ground
    // truth for a query sample (per-partition bounded-heap reduction —
    // shuffles 100 × k rows per partition, never the 10M × 100 scored
    // pairs), then hits@k of the residual composition and its refine
    // stage against it. Wall-time rows prove the plans scale;
    // compression-error recall is distribution-dependent, so it needs
    // re-pinning at the 10M distribution, not just the sf0.01 fixture
    // (`SimilaritySpec` `ann_recall_floor`).
    if (args.contains("recall")) {
      val nq = 100; val k = 10
      val t0 = System.nanoTime()
      // ground truth: same contract as bruteForceTopK (cos rounded to
      // 6 dp, rank by (cos_r DESC, neighbor_id ASC), zero-norms excluded
      // both sides) without its numQueries×corpus windowed shuffle
      val qArr = ve.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .filter(col("vec_id") < nq).collect()
        .map { r =>
          val v = r.getSeq[Double](1).toArray
          (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
        }.filter(_._3 > 0).sortBy(_._1)
      val qB = spark.sparkContext.broadcast(qArr)
      val perPart = ve.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .mapPartitions { it =>
          val qs = qB.value
          // per-query bounded min-heap of (cos_r, neighbor): O(k) memory
          // per query per partition
          val heaps = Array.fill(qs.length)(
            scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
              Ordering.by { case (c, id) => (-c, id) }))
          it.foreach { r =>
            val id = r.getLong(0)
            val v = r.getSeq[Double](1).toArray
            var nrm2 = 0.0
            var j = 0
            while (j < v.length) { nrm2 += v(j) * v(j); j += 1 }
            val nrm = math.sqrt(nrm2)
            if (nrm > 0) {
              var q = 0
              while (q < qs.length) {
                val (qid, qv, qn) = qs(q)
                if (qid != id) {
                  var d = 0.0; var i = 0
                  while (i < v.length) { d += qv(i) * v(i); i += 1 }
                  // the engine's exact cos_r rounding kernel — keeps the
                  // ground truth bit-identical to bruteForceTopK's contract
                  val c = graft.functions.Round6.round(d / (qn * nrm))
                  val h = heaps(q)
                  if (h.size < k) h.enqueue((c, id))
                  else {
                    val (wc, wid) = h.head // worst kept: min cos, max id
                    if (c > wc || (c == wc && id < wid)) {
                      h.dequeue(); h.enqueue((c, id))
                    }
                  }
                }
                q += 1
              }
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
            h.iterator.map { case (c, id) => (qs(q)._1, id, c) }
          }
        }(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
        .collect() // ≤ partitions × nq × k rows
      val exact: Set[(Long, Long)] = perPart.groupBy(_._1).iterator.flatMap {
        case (qid, rows) =>
          rows.sortBy { case (_, id, c) => (-c, id) }.take(k)
            .map { case (_, id, _) => (qid, id) }
      }.toSet
      println(f"[recall] exact top-$k ground truth for ${qArr.length} queries " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1f s (${exact.size} pairs)")
      ScaleCorpus.freeCached()
      def hitsOf(name: String, df: => org.apache.spark.sql.DataFrame): Long = {
        val t = System.nanoTime()
        val got = df.select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val hits = got.count(exact)
        println(f"[recall] $name%-22s hits@$k = $hits/${exact.size} " +
          f"(${hits * 100.0 / exact.size}%.1f%%)  " +
          f"${(System.nanoTime() - t) / 1e9}%.1f s incl. operator")
        ScaleCorpus.freeCached()
        hits
      }
      // "check": validate the heap-reduced ground truth against the
      // windowed bruteForceTopK spelling (identical contract → must be
      // 100%) — run at fixture scale, skipped at 10M where the windowed
      // spelling's numQueries × corpus shuffle is the thing we avoided
      if (args.contains("check"))
        hitsOf("bruteForceTopK parity",
          graft.operators.Similarity.bruteForceTopK(ve, nq, k))
      // "auto": the r14 regime router end-to-end at 10M — the probe's
      // verdict (autoCells sizing + mean-fit bp) printed, then the routed
      // operator's recall. On the clustered corpus the route must read
      // (256 cells, clustered) and reproduce the 86.7% per-cell row; on
      // the uniform corpus (uniform) -> the SQ8 full scan's 98.3%.
      if (args.contains("auto")) {
        val t = System.nanoTime()
        val probe = graft.operators.Similarity.annRegimeProbe(ve).head()
        println(f"[auto] probe n=${probe.getLong(0)} cells_auto=${probe.getLong(1)} " +
          f"fit_bp=${probe.getLong(2)} regime=${probe.getString(3)} " +
          f"(${(System.nanoTime() - t) / 1e9}%.1f s)")
        ScaleCorpus.freeCached()
        hitsOf("adaptive_ann_topk",
          graft.operators.Similarity.adaptiveAnnTopK(ve, nq, k))
        spark.stop()
        return
      }
      if (cellOnly) {
        hitsOf("ivfsq_cell256_topk",
          graft.operators.Similarity.ivfSqCellTopK(ve, nq, k,
            probes = 8, cells = 256))
        // the matching pruning ceiling: exact scoring in the same probed
        // cells — (ceiling − cell256) is the code share of the loss,
        // (1 − ceiling) the pruning share
        hitsOf("ivf_exact_256",
          graft.operators.Similarity.ivfTopK(ve, nq, k,
            probes = 8, cells = 256))
        spark.stop()
        return
      }
      val hRes = hitsOf("ivfpq_res_topk",
        graft.operators.Similarity.ivfPqResTopK(ve, nq, k))
      // the r12 closure of the recall finding: 8 bits per DIMENSION
      // (64 B/vec) instead of PQ's 8 bits per SUBSPACE (2 B/vec) —
      // quantization error drops below the corpus's top-rank margins
      hitsOf("sq8_topk", graft.operators.Similarity.sqTopK(ve, nq, k))
      hitsOf("ivfsq_topk", graft.operators.Similarity.ivfSqTopK(ve, nq, k))
      // per-cell bounds — the r13 answer to the clustered-corpus finding:
      // the quantization step sized to each cell's local range
      hitsOf("ivfsq_cell_topk",
        graft.operators.Similarity.ivfSqCellTopK(ve, nq, k))
      // cell count scaled to the cluster structure: 16 cells over the
      // clustered corpus's 256 true centers leaves each cell spanning
      // ~16 clusters (local range ≈ global, measured +4.9 points only);
      // at 256 cells the quantizer resolves the mixture and the local
      // bounds actually shrink the step — scan fraction also drops to
      // probes/256 of the corpus
      hitsOf("ivfsq_cell256_topk",
        graft.operators.Similarity.ivfSqCellTopK(ve, nq, k,
          probes = 8, cells = 256))
      val hRef = hitsOf("ivfpq_res_refine",
        graft.operators.Similarity.ivfPqResRefineTopK(ve, nq, k))
      println(s"[recall] refine >= res at 10M: ${hRef >= hRes} ($hRef vs $hRes)")
      // the corpus-scaled candidate budget: m=40 is 4e-6 of a 10M corpus
      // (vs 8e-5 of 500k) — measure how much recall a deployment buys
      // back by scaling m with the corpus
      hitsOf("ivfpq_res_refine_m400",
        graft.operators.Similarity.ivfPqResRefineTopK(ve, nq, k, m = 400))
      // the autoM policy end-to-end: sizes m from the corpus count
      // (= 400 at 10M, so this row IS the auto answer's recall)
      hitsOf("ivfpq_res_refine_auto",
        graft.operators.Similarity.ivfPqResRefineAutoTopK(ve, nq, k))
      // "attrib": the IVF-pruning recall CEILING — exact scoring inside
      // the probed cells (no PQ), so (ceiling − res) is the ADC
      // compression share and (1 − ceiling) the cell-pruning share
      if (args.contains("attrib"))
        hitsOf("ivf_exact_probed",
          graft.operators.Similarity.ivfTopK(ve, nq, k))
    } else if (args.contains("drift")) {
      // the SQ8 staleness gate at volume: bounds agg over the 8M index +
      // one quantize-and-count pass per side — the daily-run cost of
      // asking "are the frozen bounds stale?"
      val cut = ve.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
        .head().getLong(0)
      val idx = ve.filter(col("vec_id") < cut)
      val tail = ve.filter(col("vec_id") >= cut)
      val collapsed = tail.withColumn("embedding",
        concat(slice(col("embedding").cast("array<double>"), 1, 24),
          typedlit(Seq.fill(40)(0.0))))
      time("sq_bounds_drift_ctrl")(
        graft.operators.Similarity.sqBoundsDrift(idx, tail).count())
      time("sq_bounds_drift_plant") {
        val r = graft.operators.Similarity.sqBoundsDrift(idx, collapsed)
          .collect()(0)
        println(s"[drift] planted: sat_pm_index=${r.getLong(r.fieldIndex("sat_pm_index"))} " +
          s"sat_pm_batch=${r.getLong(r.fieldIndex("sat_pm_batch"))} " +
          s"retrain=${r.getBoolean(r.fieldIndex("retrain_needed"))}")
        1L
      }
    } else {
      if (!tenM)
        time("pq_topk")(graft.operators.Similarity.pqTopK(ve, 20, 10).count())
      time("ivfpq_topk")(graft.operators.Similarity.ivfPqTopK(ve, 20, 10).count())
      time("ivfpq_res_topk")(
        graft.operators.Similarity.ivfPqResTopK(ve, 20, 10).count())
      time("ivfpq_res_refine_topk")(
        graft.operators.Similarity.ivfPqResRefineTopK(ve, 20, 10).count())
      time("ivfpq_res_encode_inc")(
        graft.operators.Similarity.ivfPqResEncodeIncremental(ve).count())
      time("sq8_topk")(graft.operators.Similarity.sqTopK(ve, 20, 10).count())
      time("ivfsq_topk")(
        graft.operators.Similarity.ivfSqTopK(ve, 20, 10).count())
      time("sq8_encode_inc")(
        graft.operators.Similarity.sqEncodeIncremental(ve).count())
    }
    spark.stop()
  }
}
