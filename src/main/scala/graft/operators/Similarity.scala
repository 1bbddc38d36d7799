package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ArrayOps

/** Embedding similarity search over `embeddings` (vec_id, embedding
  * float[64], label) — north-star extension.
  *
  * Shapes:
  *  - [[cosineNearDupPairs]] / [[bruteForceTopK]]: exact baselines. The
  *    pair join is a range self-join (id <) and the top-k is a per-query
  *    window — correct at test SFs, O(n²) by nature.
  *  - [[lshTopK]]: the scale path — random-hyperplane LSH buckets turn
  *    neighbor search into an equi-join on bucket keys; at 100 TB this is
  *    the only shape that survives (candidates per query bounded by bucket
  *    occupancy, not corpus size). Approximate by design → no SQL oracle;
  *    its recall against the brute-force baseline is asserted in ScalaTest.
  *
  * Numeric determinism: cosines are computed in double (cast from float)
  * with a sequential fold. The top-k ORDERING paths decide on
  * `round(cos, 6)` with a vec_id tie-break, so a ±1e-12 formula
  * difference vs DuckDB's `list_cosine_similarity` cannot flip ranks.
  * The pair-THRESHOLD filters compare the unrounded cosine — there the
  * protection is the data margin, not rounding: the near-dup threshold
  * (0.4) sits ≥1e-4 from every pair in the fixtures, far beyond any
  * formula-order noise.
  */
object Similarity {

  /** vec_id, double vector, precomputed norm — dot/norm via the codegen'd
    * [[graft.functions.ArrayDotProduct]] (see its Scaladoc for why the
    * builtin `aggregate`/`zip_with` fold was 20× slower here).
    */
  private def prepared(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    val v = col("embedding").cast("array<double>")
    embeddings.select(col("vec_id"), v.as("v"))
      .withColumn("nrm", sqrt(ArrayOps.dotNative(spark, col("v"), col("v"))))
  }

  private def dotN(df: DataFrame, a: Column, b: Column): Column =
    ArrayOps.dotNative(df.sparkSession, a, b)

  /** The bucket ∪ hamming-1 probe columns over a `bucket` column — ONE
    * spelling shared by every LSH path (pair search, incremental
    * admission, multi-probe top-k), so the probe set can never silently
    * diverge between them.
    */
  private def probeCols(numPlanes: Int): Seq[Column] =
    (0 to numPlanes).map {
      case 0 => col("bucket")
      case p => col("bucket").bitwiseXOR(lit(1L << (p - 1)))
    }

  /** Shared top-k presentation: rank `scored` (query_id, vec_id, cos_r)
    * per query by the engine-robust (round(cos,6) DESC, vec_id) order and
    * keep the top `k` — one copy of the ordering contract the
    * [[annRecallReport]] comparison depends on all three methods sharing.
    *
    * Two-level ranking (the [[graft.operators.Curation.stratifiedSample]]
    * pattern): a single `partitionBy(query_id)` window would drag the
    * whole scored frame — corpus × queries rows for the brute/PQ scans —
    * through |queries| reducers (measured: the 20-partition sort WAS the
    * PQ-at-500k wall clock, not the ADC math). Level 1 ranks inside
    * (query, input-partition) — full parallelism, and any row in a
    * query's global top-k is trivially in its partition's top-k under
    * the same total order, so the prune is exact; level 2 ranks the
    * ≤ partitions × k survivors per query — a bounded frame at any
    * corpus size.
    */
  private def presentTopK(scored: DataFrame, k: Int): DataFrame = {
    val wLocal = Window.partitionBy(col("query_id"), col("scan_pid"))
      .orderBy(desc("cos_r"), col("vec_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos_r"), col("vec_id"))
    scored
      // project FIRST: the ranking sort must move 3 columns per candidate,
      // not the full join row (the PQ scan's rows carry the query's LUT
      // arrays — measured at 500k: sorting full-width rows WAS the scan's
      // wall clock, 10M × ~hundreds of doubles through spill)
      .select(col("query_id"), col("vec_id"), col("cos_r"))
      .withColumn("scan_pid", spark_partition_id())
      .withColumn("lr", row_number().over(wLocal))
      .filter(col("lr") <= k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }


  /** All pairs with cosine ≥ `threshold` (embedding-cosine near-dup),
    * distributed as a block-grid self-join. Emits ids only: the pair SET
    * is decided with ≥1e-4 margin, while the cosine VALUE itself is
    * FP-formula-sensitive — keeping it out of the output keeps the oracle
    * comparison exact.
    *
    * Scale shape: an EXACT pair-threshold join at a weak threshold is
    * inherently Θ(n²) dot products (this testdata's qualifying pairs sit
    * at cos ≈ 0.4001 against a background topping out at 0.3999 — no
    * bucketing scheme separates that; see [[cosineNearDupPairsLsh]] for
    * the sublinear path when the threshold is selective). What CAN scale
    * is the distribution: each side is hash-partitioned into `blocks`
    * groups and joined through the broadcast (bi ≤ bj) block grid, so
    * the n²/2 products spread evenly over B(B+1)/2 equi-join groups with
    * bounded per-task memory (n/B rows a side), instead of broadcasting
    * an unbounded corpus through a nested-loop join. Pick
    * `blocks ≈ n / rows-that-fit-a-task` on a cluster.
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double,
                         blocks: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val grid = (for (i <- 0 until blocks; j <- i until blocks) yield (i, j))
      .toDF("bi", "bj")
    val prep = prepared(embeddings)
      .withColumn("blk", pmod(col("vec_id"), lit(blocks)))
    val a = prep.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"), col("blk").as("blk_a"))
    val b = prep.select(col("vec_id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"), col("blk").as("blk_b"))
    a.join(broadcast(grid), col("blk_a") === col("bi"))
      .join(b, col("blk_b") === col("bj") &&
        (col("blk_a") =!= col("blk_b") || col("id_a") < col("id_b")))
      .filter(dotN(embeddings, col("v_a"), col("v_b")) / (col("n_a") * col("n_b")) >= threshold)
      .select(least(col("id_a"), col("id_b")).as("vec_i"),
        greatest(col("id_a"), col("id_b")).as("vec_j"))
      .orderBy(col("vec_i"), col("vec_j"))
  }

  /** LSH-bucketed pair search: candidate pairs = same hyperplane bucket
    * or hamming distance 1 (one flipped sign — realized as an EQUI-join
    * of the probe-exploded side against the bucket key), then exact
    * cosine verify. The candidates-then-verify shape of
    * [[graft.operators.NearDup.minhashNearDups]], for embeddings.
    *
    * Recall is governed by the hyperplane disagreement probability
    * θ(a,b)/π: ≈1 for genuine near-dup thresholds (cos ≥ 0.9 ⇒
    * P[disagree] ≈ 0.14 per plane, all-plane agreement dominates), while
    * weak-similarity pairs (cos ≈ 0.4 ⇒ P ≈ 0.37) are sampled, not
    * enumerated — by design: this is the operator you run at 100 TB
    * when the threshold is selective, and its approximation contract
    * (bucket ∪ hamming-1 probes, then verify) is itself deterministic
    * and oracle-checkable, which the `dedup_embedding_lsh` query pins
    * against an independent SQL replica of the same hyperplanes.
    */
  def cosineNearDupPairsLsh(embeddings: DataFrame, threshold: Double,
                            numPlanes: Int = NumPlanes): DataFrame = {
    val prep = prepared(embeddings)
      .withColumn("bucket", bucketOf(embeddings, col("v"), numPlanes))
    val a = prep.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"), explode(array(probeCols(numPlanes): _*)).as("probe"))
    val b = prep.select(col("vec_id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"), col("bucket").as("bucket_b"))
    a.join(b, col("probe") === col("bucket_b") && col("id_a") < col("id_b"))
      .filter(dotN(embeddings, col("v_a"), col("v_b")) / (col("n_a") * col("n_b")) >= threshold)
      .select(col("id_a").as("vec_i"), col("id_b").as("vec_j"))
      .distinct()
      .orderBy(col("vec_i"), col("vec_j"))
  }

  /** Semantic decontamination: flag training vectors whose cosine against
    * ANY eval vector is ≥ `threshold` — the embedding-space twin of
    * [[graft.operators.Curation.decontaminateFuzzy]], catching the leak
    * class no n-gram screen sees (a translated or fully-rewritten eval
    * item keeps its embedding, not its surface text). Eval membership is
    * the content-free md5 bucket (`vec_id` bucket < `evalBps`), the same
    * split every decontamination variant uses, so the reports compose.
    *
    * Scale shape: the corpus side is never replicated and never
    * self-joined — the benchmark-sized eval side is exploded to all
    * `blocks` block ids and equi-joined against the corpus's
    * `pmod(vec_id, blocks)`, the cross-set instance of the
    * [[cosineNearDupPairs]] block grid: full train×eval coverage through
    * a hash join (AQE broadcasts the eval side), with the corpus-side
    * rows spread over `blocks` join groups. The train×|eval| dot products
    * are the inherent exact-screen cost (same as exact n-gram
    * decontamination's posting join); when the threshold is selective,
    * compose [[bucketTable]] probes in front exactly as
    * [[cosineNearDupPairsLsh]] does for the pair search.
    *
    * Emits ids + hit counts only, not cosines — the pair set is decided
    * with ≥1e-4 margin on this data while the cosine VALUE is
    * FP-formula-sensitive (same contract as [[cosineNearDupPairs]]).
    */
  def decontaminateSemantic(embeddings: DataFrame, evalBps: Int = 1000,
                            threshold: Double = 0.4,
                            blocks: Int = 8): DataFrame = {
    val prep = prepared(embeddings)
      .withColumn("is_eval",
        graft.operators.Curation.sampleBucket(col("vec_id")) < evalBps)
    val train = prep.filter(!col("is_eval"))
      .select(col("vec_id"), col("v"), col("nrm"),
        pmod(col("vec_id"), lit(blocks.toLong)).as("blk"))
    val eval = prep.filter(col("is_eval"))
      .select(col("vec_id").as("eval_id"), col("v").as("v_e"),
        col("nrm").as("n_e"),
        explode(sequence(lit(0L), lit(blocks.toLong - 1))).as("blk"))
    train.join(eval, "blk")
      .filter(dotN(embeddings, col("v"), col("v_e")) /
        (col("nrm") * col("n_e")) >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"))
      .orderBy(col("vec_id"))
  }

  /** [[decontaminateSemantic]] with the LSH prefilter in front — the
    * shape that survives 100 TB when the eval set is not tiny: candidate
    * pairs are the train side's bucket ∪ hamming-1 probes equi-joined
    * against the EVAL bucket table only (never corpus×eval dot products),
    * then the exact cosine verify. Same probe set, same recall contract
    * as [[cosineNearDupPairsLsh]]: genuine near-dup thresholds are
    * captured ≈ exactly, weak-similarity leaks are sampled — and the
    * approximation contract is itself deterministic and oracle-checked
    * (the `decontaminate_semantic_lsh` oracle replays the hyperplanes
    * in SQL), so the screen's behavior is pinned, not hoped.
    */
  def decontaminateSemanticLsh(embeddings: DataFrame, evalBps: Int = 1000,
                               threshold: Double = 0.4,
                               numPlanes: Int = NumPlanes): DataFrame = {
    val prep = prepared(embeddings)
      .withColumn("bucket", bucketOf(embeddings, col("v"), numPlanes))
      .withColumn("is_eval",
        graft.operators.Curation.sampleBucket(col("vec_id")) < evalBps)
    val train = prep.filter(!col("is_eval"))
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(array(probeCols(numPlanes): _*)).as("probe"))
    val eval = prep.filter(col("is_eval"))
      .select(col("vec_id").as("eval_id"), col("v").as("v_e"),
        col("nrm").as("n_e"), col("bucket").as("bucket_e"))
    train.join(eval, col("probe") === col("bucket_e"))
      .filter(dotN(embeddings, col("v"), col("v_e")) /
        (col("nrm") * col("n_e")) >= threshold)
      .groupBy(col("vec_id"))
      .agg(count_distinct(col("eval_id")).as("n_eval_hits"))
      .orderBy(col("vec_id"))
  }

  /** Screen a batch against FROZEN eval-side artifacts — the incremental
    * form of [[decontaminateSemanticLsh]]: the eval split's
    * [[bucketTable]] and normalized vectors are persisted once at
    * eval-freeze time (`evalBuckets(vec_id, bucket)` joined to the raw
    * eval rows for the verify), and arriving batches probe them with the
    * same bucket ∪ hamming-1 set + exact cosine verify. Pure per-doc
    * given the artifacts; same plane-count contract as the stored-bucket
    * dedup path (the artifact's `numPlanes` must match — assert it in
    * the pipeline, [[semanticDedupIncremental]]'s rule).
    *
    * Precondition: `batch` must already EXCLUDE the eval bucket
    * (`sampleBucket(vec_id) >= evalBps`, how every in-repo caller
    * slices) — an eval vector probed against its own frozen bucket
    * artifact self-matches at cosine 1 and is reported contaminated,
    * which the whole-corpus screen never does. Given only the frozen
    * artifacts the operator no longer knows `evalBps`, so the exclusion
    * is the caller's obligation ([[graft.operators.Curation.decontaminateWith]]'s
    * shared contract).
    */
  def decontaminateSemanticWith(evalEmb: DataFrame, evalBuckets: DataFrame,
                                batch: DataFrame, threshold: Double = 0.4,
                                numPlanes: Int = NumPlanes): DataFrame = {
    val evalSide = prepared(evalEmb)
      .join(evalBuckets, "vec_id")
      .select(col("vec_id").as("eval_id"), col("v").as("v_e"),
        col("nrm").as("n_e"), col("bucket").as("bucket_e"))
    val train = prepared(batch)
      .withColumn("bucket", bucketOf(batch, col("v"), numPlanes))
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(array(probeCols(numPlanes): _*)).as("probe"))
    train.join(evalSide, col("probe") === col("bucket_e"))
      .filter(dotN(batch, col("v"), col("v_e")) /
        (col("nrm") * col("n_e")) >= threshold)
      .groupBy(col("vec_id"))
      .agg(count_distinct(col("eval_id")).as("n_eval_hits"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public method): embedding-space near-duplicates
    * are grouped by connected components over the LSH-verified cosine
    * pair graph, and each component keeps its minimum `vec_id` as the
    * surviving representative. The paper clusters with k-means and prunes
    * within clusters; the bucketing here is the deterministic hyperplane
    * LSH (∪ hamming-1 probes) so the grouping itself is oracle-checkable
    * — same candidates-then-verify scale shape, no all-pairs stage.
    *
    * Output: every vector with its component id and `kept` flag — the
    * admission frame a curation pipeline joins back to the corpus.
    *
    * Scale: pair generation is the equi-join of [[cosineNearDupPairsLsh]];
    * component labeling runs on the pair set (duplicate-rate-proportional,
    * never corpus-proportional); the final left join is corpus-wide but
    * map-heavy (AQE broadcasts the label side when small).
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
                    numPlanes: Int = NumPlanes): DataFrame = {
    val pairs = cosineNearDupPairsLsh(embeddings, threshold, numPlanes)
      .select(col("vec_i").as("doc_i"), col("vec_j").as("doc_j"))
    val labels = NearDup.clustersFromPairs(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    embeddings.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("vec_id")) === col("vec_id")).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** The persistable LSH bucket artifact `(vec_id, bucket)` — what an
    * incremental semantic-dedup deployment stores so later batches never
    * recompute the index corpus's plane projections (the embedding
    * analogue of the minhash signature table). The plane family is
    * prefix-stable ([[planesFor]]), so a stored bucket table stays valid
    * when the plane count is later RAISED only if rebucketing; same
    * `numPlanes` must be used across runs (assert it in the pipeline).
    */
  def bucketTable(embeddings: DataFrame, numPlanes: Int = NumPlanes): DataFrame =
    prepared(embeddings)
      .select(col("vec_id"), bucketOf(embeddings, col("v"), numPlanes).as("bucket"))

  /** Incremental semantic dedup — admit a batch of embeddings against the
    * persisted artifacts of previous runs (the
    * [[graft.operators.NearDup.incrementalNearDupsIndexed]] shape, for
    * embedding space): candidates are the batch's bucket ∪ hamming-1
    * probes equi-joined against the stored bucket table ∪ the batch's own
    * buckets, verified by exact cosine against the vector stores, then
    * union-find components over the quotient graph of batch vectors plus
    * touched index COMPONENTS — so a bridging batch vector merges two
    * stored components for every attached vector, exactly as whole-corpus
    * [[semanticDedup]] would.
    *
    * Returns `(admissions, updatedLabels)`: admissions = every batch
    * vector's union-corpus `cluster_id` + `kept` flag (≡ [[semanticDedup]]
    * over the union, restricted to the batch — oracle-checked as
    * `dedup_semantic_incremental`); updatedLabels = the sparse label table
    * to persist for the next run, bridge merges re-pointed.
    *
    * Scale: O(batch) — the index is touched only through the bucket
    * equi-join (batch-probe-proportional build side) and the sparse
    * candidate-id join against the vector store; no whole-index pair
    * generation, no corpus re-bucketing.
    *
    * The monotone-id guard (every stored vec_id < every batch vec_id)
    * bounds by the bucket artifact's ids; the streaming loop, whose
    * frontier already proves it, calls [[semanticDedupIncrementalCore]].
    */
  def semanticDedupIncremental(indexEmb: DataFrame, indexBuckets: DataFrame,
                               indexLabels: DataFrame, batchEmb: DataFrame,
                               threshold: Double,
                               numPlanes: Int = NumPlanes): (DataFrame, DataFrame) = {
    NearDup.requireMonotoneIds(indexBuckets.select(col("vec_id")),
      batchEmb.select(col("vec_id").as("doc_id")), "semanticDedupIncremental")
    semanticDedupIncrementalCore(indexEmb, indexBuckets, indexLabels, batchEmb,
      threshold, numPlanes)
  }

  /** [[semanticDedupIncremental]] without its monotone-id guard (the
    * plane-count guard stays). PRECONDITION: every batch vec_id is above
    * `max(indexBuckets.vec_id)`; under id interleaving the output is
    * silently wrong, not an error.
    * [[graft.streaming.StreamingDedup.semanticAdmissionStream]] discharges
    * it by construction: its batch is filtered to ids above the frontier
    * of this very bucket artifact
    * ([[graft.streaming.ArtifactLoop.aboveFrontier]]), so the guard's
    * aggregates could never fire there. Every other caller goes through
    * the guarded operator.
    */
  private[graft] def semanticDedupIncrementalCore(indexEmb: DataFrame,
      indexBuckets: DataFrame, indexLabels: DataFrame, batchEmb: DataFrame,
      threshold: Double, numPlanes: Int): (DataFrame, DataFrame) = {
    // plane-count drift guard: a bucket table stored at a LARGER plane
    // count than this run probes at carries bucket values outside this
    // run's bit space — the equi-join keys would live in different
    // spaces and near-dup pairs would silently vanish. (The opposite
    // drift — stored smaller, probed larger — is not detectable from
    // values alone; [[bucketTable]]'s contract requires one numPlanes
    // across runs.) One bounded aggregate, same loud-failure style as
    // the monotone-id guard.
    val maxStored = indexBuckets.agg(max(col("bucket"))).head()
    require(maxStored.isNullAt(0) || maxStored.getLong(0) < (1L << numPlanes),
      s"semanticDedupIncremental: stored bucket ${maxStored.get(0)} is " +
        s"outside the $numPlanes-plane bucket space — the bucket table " +
        "was built with a different plane count; rebucket the index")
    // consumed by probes, the bucket union, and verify — materialize once;
    // batch-proportional
    val bPrep = prepared(batchEmb)
      .withColumn("bucket", bucketOf(batchEmb, col("v"), numPlanes))
      .localCheckpoint()
    val bProbe = bPrep.select(col("vec_id").as("doc_b"),
      explode(array(probeCols(numPlanes): _*)).as("probe"))
    val allBuckets = indexBuckets
      .select(col("vec_id").as("doc_o"), col("bucket").as("bucket_o"))
      .union(bPrep.select(col("vec_id").as("doc_o"), col("bucket").as("bucket_o")))
    // batch-batch pairs land in both orientations automatically: hamming ≤ 1
    // is symmetric, so each side's probe set hits the other's home bucket
    val cands = bProbe.join(allBuckets,
        col("probe") === col("bucket_o") && col("doc_b") =!= col("doc_o"))
      .select(col("doc_b"), col("doc_o")).distinct()
    val bv = bPrep.select(col("vec_id").as("doc_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val ov = prepared(indexEmb)
      .union(bPrep.select(col("vec_id"), col("v"), col("nrm")))
      .select(col("vec_id").as("doc_o"), col("v").as("v_o"), col("nrm").as("n_o"))
    val edges = cands.join(bv, "doc_b").join(ov, "doc_o")
      .filter(dotN(batchEmb, col("v_b"), col("v_o")) /
        (col("n_b") * col("n_o")) >= threshold)
      .select(col("doc_b"), col("doc_o"))
      .localCheckpoint()
    val (adm, quotient) = NearDup.admitFromEdges(edges,
      indexBuckets.select(col("vec_id")),
      indexLabels.select(col("vec_id").as("doc_id"), col("cluster_id")),
      batchEmb.select(col("vec_id").as("doc_id")))
    val admissions = adm.select(col("doc_id").as("vec_id"), col("cluster_id"),
      col("admitted").as("kept"))
    val updated = NearDup.repointLabels(quotient,
        indexLabels.select(col("vec_id").as("doc_id"), col("cluster_id")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    (admissions, updated)
  }

  /** Exact cosine top-k: queries = vec_id < `numQueries`, ranked by
    * round(cos, 6) desc with vec_id tie-break (engine-robust ordering).
    * The query side is broadcast — the corpus scan never shuffles until
    * the final per-query window (partitioned by query_id).
    *
    * Zero-norm vectors (no direction, cosine undefined — NULL under
    * Spark's x/0) are excluded from BOTH sides in all three top-k
    * methods: as corpus rows they would rank as trailing NULL "neighbors"
    * and as queries they would emit k rows of NULL-cosine garbage.
    */
  def bruteForceTopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame =
    bruteForceTopKFrom(prepared(embeddings), numQueries, k)

  private def bruteForceTopKFrom(prep: DataFrame, numQueries: Int,
                                 k: Int): DataFrame = {
    val corpus = prep.filter(col("nrm") > 0)
    val queries = corpus.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_n"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos_r",
        ArrayOps.round6(prep.sparkSession,
          dotN(prep, col("q_v"), col("v")) / (col("q_n") * col("nrm"))))
    presentTopK(scored, k)
  }

  val NumPlanes = 6

  /** Deterministic pseudo-random hyperplanes: component (p, d) derived
    * by splitmix64 from the flat index, mapped into [-1, 1]. Seeded data,
    * no RNG state — identical across runs/engines. The plane COUNT is the
    * corpus-size knob: expected bucket collisions are Θ(n²/2^planes), so
    * a 5k-vector bench corpus is fine at 6 planes while a 500k-vector
    * scale run wants ~20 (collision rate measured in DevScale); the
    * first `n` planes of a larger family equal the smaller family, so
    * raising the count only refines buckets.
    */
  def planesFor(n: Int): Seq[Seq[Double]] = Seq.tabulate(n) { p =>
    Seq.tabulate(64) { d =>
      // xxHash-free host-side derivation: splitmix64 on (p*64+d)
      var z = (p * 64 + d + 1).toLong * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (Math.floorMod(z, 2001L) - 1000L) / 1000.0
    }
  }

  val planes: Seq[Seq[Double]] = planesFor(NumPlanes)

  /** Corpus-size-derived plane count: the smallest `p` whose expected
    * candidate load stays bounded — with uniformly occupied buckets and
    * the hamming-≤1 probe set (p+1 buckets per vector), candidates per
    * vector ≈ `n·(p+1)/2^p`; pick the smallest p that keeps it at or
    * under `maxCandidatesPerVector`. Yields 6 at the 500-vector oracle
    * corpus (so the pinned `NumPlanes` default IS the auto answer
    * there), 10 at the 5k bench corpus, 18 at 500k (DevScale measures
    * the recall/scan curve around it). The plane family is prefix-stable
    * ([[planesFor]]), but BUCKETS are not comparable across counts —
    * incremental pipelines must pin the count their stored bucket
    * artifact was built with ([[bucketTable]]) and rebucket to adopt a
    * larger family.
    */
  def autoPlanes(corpusRows: Long, maxCandidatesPerVector: Long = 64): Int = {
    require(corpusRows >= 0 && maxCandidatesPerVector > 0,
      "corpusRows must be non-negative and the candidate budget positive")
    // BigInt: `budget << p` overflows Long past p ≈ 57, which would make
    // the comparison spuriously true and pin huge corpora at the cap
    var p = 1
    while (p < 62 &&
      BigInt(corpusRows) * (p + 1) > (BigInt(maxCandidatesPerVector) << p)) p += 1
    p
  }

  /** Random-hyperplane bucket id (sign bits of plane dot products). */
  def bucketOf(df: DataFrame, v: Column, numPlanes: Int = NumPlanes): Column = {
    val pls = planesFor(numPlanes)
    (0 until numPlanes)
      .map(p => when(dotN(df, v, typedlit(pls(p))) > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
  }

  val IvfCells = 16
  /** Default probe count — half the cells. An honest quantizer on this
    * data NEEDS that: these synthetic embeddings are near-uniform random
    * vectors (top-10 neighbors sit at cos ≈ 0.4 against a ≈ 0.399
    * background), so recall is bounded by scanned fraction × lift. The
    * round-2 first-16-vectors quantizer appeared to hit 73-84% recall at
    * 2/16 probes, but that was a measurement artifact: the 20 query
    * vectors are vec_ids 0..19, so 16 queries WERE centroids and each
    * probed its own Voronoi cell — literally "the corpus vectors nearest
    * this query", an accidental per-query oracle no trained quantizer
    * reproduces. Trained k-means at 2/16 probes scores 12.5% of the
    * corpus for ~40% recall (3.2× lift over chance); 8/16 probes buys
    * 78-82% recall for half the brute-force work — the real IVF
    * recall/scan dial, set here to clear the oracle-checked ≥140/200
    * floor with margin.
    */
  val IvfProbes = 8
  val IvfKmeansIters = 3

  /** Deterministic distributed k-means (Lloyd) for the IVF coarse
    * quantizer.
    *
    * Init: the `cells` corpus vectors with the smallest `xxhash64(vec_id)`
    * — an order-free deterministic pseudo-random pick (a `TakeOrdered`
    * over the corpus, no RNG state), replacing the earlier
    * first-`IvfCells`-vectors quantizer, which sampled only one corner of
    * the corpus and cost recall.
    *
    * Each iteration assigns every vector to its nearest centroid via the
    * same codegen'd [[graft.functions.NearestCells]] the index build uses
    * (cosine assignment — spherical k-means, the right geometry for
    * cosine ANN), then recomputes cell means IN FIXED POINT: per-component
    * sums of `round(x · 2^20)` longs. Long sums are order-independent
    * where double sums are not, so the trained centroids — and therefore
    * assignments and recall — are bit-identical across runs, partitionings
    * and cluster sizes; the 2^-20 quantization is noise relative to
    * quantizer quality. Per-iteration driver traffic is `cells × dim`
    * aggregated rows (bounded constants, like the centroid collect
    * itself); everything row-proportional is a map pass plus one
    * partial-aggregated shuffle.
    */
  private[graft] def kmeansCentroids(prep: DataFrame, cells: Int,
                                     iters: Int,
                                     portableSeed: Boolean = false): Seq[Seq[Double]] = {
    val spark = prep.sparkSession
    val Scale = 1L << 20
    // portableSeed picks the seed vectors by md5-of-id order instead of
    // xxhash64 — same pseudo-random-without-RNG-state property, but md5
    // exists verbatim in DuckDB, so [[clusterEmbeddings]]'s whole Lloyd
    // loop can be replicated in the SQL oracle
    val seedOrd =
      if (portableSeed) md5(col("vec_id").cast("string"))
      else xxhash64(col("vec_id"))
    var centroids: Array[Array[Double]] = prep
      .orderBy(seedOrd, col("vec_id"))
      .limit(cells)
      .select(col("v"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    val dim = if (centroids.nonEmpty) centroids(0).length else 0
    var it = 0
    while (it < iters) {
      // one aggregate pass with `dim` fixed-point sums per cell (the
      // per-cell-mean shape): map-side combine reduces straight to
      // `cells` rows. The former posexplode spelling materialized
      // corpus × dim rows per iteration AND sent every element through
      // round()'s per-value BigDecimal (measured at 10M × 64: the three
      // Lloyd updates were 521 s of the residual chain — the dominant
      // cost of every IVF operator at that scale); identical long sums,
      // so the trained centroids are bit-equal.
      val sumCols = count(lit(1)).as("n") +: (0 until dim).map(i =>
        sum(ArrayOps.roundScaledLong(spark,
          element_at(col("v"), i + 1), Scale)).as(s"sx$i"))
      val sums = prep
        .withColumn("cell", element_at(ArrayOps.nearestCells(spark,
          col("v"), col("nrm"), centroids.map(_.toSeq).toSeq, 1), 1))
        .groupBy(col("cell"))
        .agg(sumCols.head, sumCols.tail: _*)
        .collect()
      val next = centroids.map(_.clone()) // empty cells keep their centroid
      sums.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1)
        (0 until dim).foreach { i =>
          next(cell)(i) = r.getLong(2 + i).toDouble / (n.toDouble * Scale)
        }
      }
      centroids = next
      it += 1
    }
    centroids.map(_.toSeq).toSeq
  }

  /** IVF-style approximate top-k: a k-means-trained coarse quantizer
    * ([[kmeansCentroids]] — `IvfKmeansIters` deterministic Lloyd
    * iterations) assigns every corpus vector to its nearest cell in ONE
    * scan; each query probes its `IvfProbes` nearest cells and ranks only
    * their members.
    *
    * Scale shape: the corpus never self-joins — assignment is a map-only
    * pass (IvfCells broadcast dot products per row), and search is an
    * equi-join on cell id whose cost tracks cell occupancy (n/IvfCells
    * per probe). This is the inverted-file layout ANN indexes use; cell
    * skew is bounded by the quantizer quality.
    */
  def ivfTopK(embeddings: DataFrame, numQueries: Int, k: Int,
              probes: Int = IvfProbes, cells: Int = IvfCells,
              iters: Int = IvfKmeansIters): DataFrame = {
    val prep = prepared(embeddings).localCheckpoint() // feeds k-means scans + the index build
    // md5-seeded like [[clusterEmbeddings]] — the IVF quantizer IS that
    // clustering, which lets the ann_topk_ivf oracle replay the whole
    // train+assign+probe+rank pipeline in SQL (defaults pinned by it;
    // `cells`/`iters` are the scale knobs the 10M audits size to the
    // corpus's cluster structure)
    val centroids = kmeansCentroids(prep, cells, iters,
      portableSeed = true)
    ivfTopKFrom(prep, centroids, numQueries, k, probes)
  }

  private def ivfTopKFrom(prep: DataFrame, centroids: Seq[Seq[Double]],
                          numQueries: Int, k: Int, probes: Int): DataFrame = {
    val spark = prep.sparkSession
    // IVF index build: ONE pass scores all 16 cells per vector via the
    // codegen'd [[graft.functions.NearestCells]] (ordering identical to
    // the former sort_array-of-rounded-score-structs spelling) and keeps
    // the `IvfProbes` nearest, materialized eagerly — the moral
    // equivalent of writing the inverted-file assignment table every IVF
    // system persists, and the expression is planned+compiled once
    // instead of once per plan branch.
    val assigned = prep
      .withColumn("cells2", ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, probes))
      .withColumn("cell", element_at(col("cells2"), 1))
      .localCheckpoint()
    val corpus = assigned.filter(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val queries = assigned.filter(col("vec_id") < numQueries && col("nrm") > 0)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"), col("nrm").as("q_n"),
        explode(col("cells2")).as("q_cell"))
    val scored = corpus.join(broadcast(queries),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_r",
        ArrayOps.round6(spark,
          dotN(prep, col("q_v"), col("v")) / (col("q_n") * col("nrm"))))
    presentTopK(scored, k)
  }

  /** Corpus clustering by spherical k-means — the embedding-space
    * partitioner an LLM-data pipeline uses for semantic sharding, domain
    * discovery, and cluster-balanced mixing (and the exact quantizer the
    * IVF index trains). Same deterministic Lloyd loop as [[ivfTopK]]
    * ([[kmeansCentroids]] — fixed-point means, rounded cosine
    * assignment), but seeded by md5-of-id order so EVERY step of the
    * training loop is replicable in portable SQL: the DuckDB oracle
    * re-runs init + all `iters` Lloyd iterations as unrolled CTEs and
    * must land on the identical cell histogram. That graduates the
    * k-means machinery itself — not just a downstream recall floor — to
    * oracle-checked.
    *
    * Output: one row per non-empty cell `(cell, n_vectors, min_vec_id)`;
    * cell ids are seed-order ranks (0-based).
    *
    * Scale shape: identical to the IVF build — per-iteration work is one
    * map pass (a codegen'd `cells × dim` dot-product loop per row) plus
    * one partially-aggregated `(cell, pos)` shuffle of fixed-point longs;
    * driver traffic is the bounded `cells × dim` centroid matrix per
    * iteration, never row-proportional.
    */
  def clusterEmbeddings(embeddings: DataFrame, cells: Int = IvfCells,
                        iters: Int = IvfKmeansIters): DataFrame = {
    val spark = embeddings.sparkSession
    val prep = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prep, cells, iters, portableSeed = true)
    prep
      .withColumn("cell", element_at(ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, 1), 1))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .select(col("cell").cast("long").as("cell"), col("n_vectors"),
        col("min_vec_id"))
      .orderBy(col("cell"))
  }

  /** Cluster-balanced (diversity) sampling: up to `perCell` vectors per
    * spherical-k-means cell, chosen in the content-free
    * `(md5-bucket, vec_id)` order — the "don't let one dense semantic
    * region dominate the training mix" selection step (the
    * cluster-then-sample half of SemDeDup-style curation, and the
    * embedding-space twin of [[graft.operators.Curation
    * .stratifiedSample]]'s language balancing). The quantizer is the
    * md5-seeded [[kmeansCentroids]] loop, so the DuckDB oracle replays
    * training, assignment, AND the per-cell pick.
    *
    * Scale shape: training/assignment are [[clusterEmbeddings]]'s (map
    * passes + a `(cell, pos)` fixed-point shuffle); the per-cell pick is
    * the stratified sampler's two-level rank — level 1 inside
    * `(cell, bucket-range)` sub-strata (exact by the prefix property),
    * level 2 over ≤ `subStrata × perCell` survivors per cell — so no
    * cell ever single-reducer-sorts its full population.
    */
  def clusterBalancedSample(embeddings: DataFrame, perCell: Int = 8,
                            cells: Int = IvfCells,
                            iters: Int = IvfKmeansIters,
                            subStrata: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    val prep = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prep, cells, iters, portableSeed = true)
    val keyed = prep
      .withColumn("cell", element_at(ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, 1), 1).cast("long"))
      .select(col("vec_id"), col("cell"))
    perCellPick(keyed, perCell, subStrata)
      .select(col("vec_id"), col("cell"), col("rk"))
      .orderBy(col("vec_id"))
  }

  /** Persistable clustering artifact — the trained spherical-k-means
    * centroid table a pipeline freezes at clustering time and ships to
    * every later assignment job: one `(cell, pos, cx)` row per centroid
    * component (`cells × dim` rows, bounded constants, never
    * corpus-proportional). The flat layout keeps the parquet
    * engine-portable (no array column) and makes re-assembly order
    * explicit; training is [[kmeansCentroids]] with the md5-portable
    * seed, so the whole build replays in the SQL oracle.
    */
  def clusterArtifacts(embeddings: DataFrame, cells: Int = IvfCells,
                       iters: Int = IvfKmeansIters): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val prep = prepared(embeddings).localCheckpoint()
    kmeansCentroids(prep, cells, iters, portableSeed = true)
      .zipWithIndex
      .flatMap { case (cv, cell) =>
        cv.zipWithIndex.map { case (x, pos) => (cell.toLong, pos.toLong, x) }
      }.toDF("cell", "pos", "cx")
  }

  /** Assign a batch of embeddings to FROZEN centroids — the incremental
    * twin of [[clusterEmbeddings]]: cluster geometry comes from the
    * persisted [[clusterArtifacts]] table rather than the batch, so
    * batches arriving months apart land in the same semantic cells (the
    * shape that keeps cluster-balanced mixing and semantic sharding
    * stable as a corpus grows).
    *
    * O(batch): the artifact is bounded (`cells × dim`) and collected once
    * driver-side; assignment is the same map-only codegen'd
    * [[graft.functions.NearestCells]] pass the trainer uses — zero
    * corpus-side joins, the only shuffle is the final presentation sort.
    * Assignment ties follow the trainer's contract exactly (rounded
    * cosine DESC, higher cell wins), so batch = corpus reproduces
    * [[clusterEmbeddings]] bit-for-bit.
    */
  def assignWith(centroids: DataFrame, batch: DataFrame): DataFrame =
    assignCells(centroids, batch).orderBy(col("vec_id"))

  /** [[assignWith]] without the presentation sort — the form the rank
    * and quota paths consume (their own windows order by
    * `(bkt, vec_id)`, so a pre-sort is a wasted exchange). */
  private[graft] def assignCells(centroids: DataFrame,
                                 batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val cents = centroidsOf(centroids)
    prepared(batch)
      .withColumn("cell", element_at(ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), cents, 1), 1).cast("long"))
      .select(col("vec_id"), col("cell"))
  }

  /** The two-level per-cell pick over an assigned `(vec_id, cell[, …])`
    * frame — [[clusterBalancedSample]]'s rank machinery factored out so
    * the one-shot, incremental, and streamed pickers share one spelling:
    * level-1 rank inside `(cell, bucket-range)` sub-strata (exact by the
    * prefix property — the global top-`perCell` of a cell is a subset of
    * the union of sub-stratum top-`perCell`s), level-2 over the bounded
    * survivors. Emits the input columns plus `rk`, filtered to
    * `rk ≤ perCell`.
    */
  private def perCellPick(assigned: DataFrame, perCell: Int,
                          subStrata: Int): DataFrame = {
    val subWidth = math.max(1, 10000 / math.max(1, subStrata))
    val wLocal = Window.partitionBy(col("cell"), col("sub"))
      .orderBy(col("bkt"), col("vec_id"))
    val w = Window.partitionBy(col("cell")).orderBy(col("bkt"), col("vec_id"))
    assigned
      .withColumn("bkt", graft.operators.Curation.sampleBucket(col("vec_id")))
      .withColumn("sub", floor(col("bkt") / lit(subWidth)))
      .withColumn("local_rank", row_number().over(wLocal))
      .filter(col("local_rank") <= perCell)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perCell)
      .drop("bkt", "sub", "local_rank")
  }

  /** Admit a batch against FROZEN cluster-balanced-sampling artifacts —
    * the incremental form of [[clusterBalancedSample]]: `centroids` is
    * the persisted [[clusterArtifacts]] table, `quota` the persisted
    * per-cell admitted set `(vec_id, cell)` from the standing corpus's
    * own pick. The batch is cell-assigned map-only ([[assignWith]]),
    * merged with the quota keys, and re-picked in the same content-free
    * `(md5-bucket, vec_id)` order; emitted rows are the BATCH members of
    * the merged top-`perCell`, with `rk` = their rank in it.
    *
    * Exactness (why a bounded artifact suffices): the whole-corpus pick
    * under the same frozen centroids keeps a cell's `perCell` smallest
    * `(bkt, vec_id)` keys. Any standing-corpus vector OUTSIDE its cell's
    * stored quota lost to `perCell` keys that are all still present in
    * `quota`, so it can never re-enter a merged top-`perCell` — hence
    * top-`perCell`(corpus ∪ batch) = top-`perCell`(quota ∪ batch), and
    * the emitted ranks equal the whole-corpus pick's ranks. Admission is
    * therefore EXACTLY "the whole-so-far-corpus pick restricted to the
    * batch", at O(batch) cost: one broadcast-centroid assignment pass +
    * a rank over batch ∪ (≤ cells·perCell) rows.
    *
    * Unlike the threshold-gated selection ops, the pick is quota-based,
    * so a batch member CAN displace a previously admitted vector (its
    * key is smaller); the current sample at any moment is the updated
    * quota table ([[clusterQuotaAfter]]), not the union of per-batch
    * admissions. Precondition: `batch` ids are disjoint from the corpus
    * behind `quota` (the admission loop's frontier guarantees it; a
    * duplicated id would double-count in the rank).
    */
  def clusterBalancedAdmitWith(centroids: DataFrame, quota: DataFrame,
                               batch: DataFrame, perCell: Int = 8,
                               subStrata: Int = 16): DataFrame =
    clusterBalancedAdmitAssigned(clusterPickAssigned(quota,
      assignCells(centroids, batch), perCell, subStrata))

  /** The merged top-`perCell` pick over quota ∪ an ALREADY cell-assigned
    * batch `(vec_id, cell)`: `(vec_id, cell, is_batch, rk)`, the one pick
    * both [[clusterBalancedAdmitAssigned]] (its batch rows) and
    * [[clusterQuotaAfterAssigned]] (all of it) project. The admission loop
    * assigns and picks each micro-batch once and feeds both from it. */
  def clusterPickAssigned(quota: DataFrame, assigned: DataFrame,
                          perCell: Int = 8, subStrata: Int = 16): DataFrame =
    perCellPick(
      quota.select(col("vec_id"), col("cell"), lit(false).as("is_batch"))
        .unionAll(assigned
          .select(col("vec_id"), col("cell"), lit(true).as("is_batch"))),
      perCell, subStrata)

  /** The admissions of a [[clusterPickAssigned]] pick: its batch rows. */
  def clusterBalancedAdmitAssigned(pick: DataFrame): DataFrame =
    pick.filter(col("is_batch"))
      .select(col("vec_id"), col("cell"), col("rk"))
      .orderBy(col("vec_id"))

  /** The updated quota artifact after a batch: top-`perCell` per cell of
    * quota ∪ batch — by [[clusterBalancedAdmitWith]]'s merge argument,
    * exactly the whole-so-far-corpus pick, still ≤ `cells × perCell`
    * rows. The streamed admission loop persists this as its state.
    */
  def clusterQuotaAfter(centroids: DataFrame, quota: DataFrame,
                        batch: DataFrame, perCell: Int = 8,
                        subStrata: Int = 16): DataFrame =
    clusterQuotaAfterAssigned(clusterPickAssigned(quota,
      assignCells(centroids, batch), perCell, subStrata))

  /** The quota of a [[clusterPickAssigned]] pick: all of its keys. */
  def clusterQuotaAfterAssigned(pick: DataFrame): DataFrame =
    pick.select(col("vec_id"), col("cell"))

  /** One-shot convenience over the artifact pair: train centroids on the
    * standing corpus, derive its quota, admit the batch — the
    * `(indexDocs, batchDocs)` shape every incremental selection operator
    * here exposes. A deployment persists the two artifacts instead and
    * calls [[clusterBalancedAdmitWith]] per batch.
    */
  def clusterBalancedSampleIncremental(indexEmb: DataFrame,
                                       batchEmb: DataFrame, perCell: Int = 8,
                                       cells: Int = IvfCells,
                                       iters: Int = IvfKmeansIters,
                                       subStrata: Int = 16): DataFrame = {
    val cents = clusterArtifacts(indexEmb, cells, iters)
    // index quota from the artifacts (admit-everything against an empty
    // quota) — NOT via clusterBalancedSample, which would train the same
    // k-means a second time; the centroids are identical (same corpus,
    // same portable seed), so the pick is too
    val quota = clusterQuotaAfter(cents, emptyQuota(indexEmb), indexEmb,
      perCell, subStrata)
    clusterBalancedAdmitWith(cents, quota, batchEmb, perCell, subStrata)
  }

  /** Zero-row `(vec_id, cell)` frame — the quota seed of an empty
    * standing corpus. */
  def emptyQuota(like: DataFrame): DataFrame =
    like.sparkSession.range(0)
      .select(col("id").as("vec_id"), col("id").as("cell"))

  /** Collect + validate a [[clusterArtifacts]] `(cell, pos, cx)` table
    * into the in-memory centroid list the assignment kernels take —
    * bounded (`cells × dim` artifact rows), shared by [[assignWith]] and
    * [[annArtifactDrift]].
    */
  private def centroidsOf(centroids: DataFrame): Seq[Seq[Double]] = {
    val comp = centroids.select(col("cell"), col("pos"), col("cx"))
      .collect() // bounded: cells × dim artifact rows
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    require(comp.nonEmpty, "empty centroid artifact")
    val byCell = comp.groupBy(_._1)
    val cellIds = byCell.keys.toSeq.sorted
    require(cellIds == (0L until cellIds.length.toLong),
      s"centroid artifact cells must be dense 0..k-1, got $cellIds")
    // per-cell position integrity: a twice-appended or truncated artifact
    // keeps cells dense but duplicates/drops (cell, pos) rows — the
    // sorted-pos vector would be the wrong length and the dot product
    // would silently truncate to min-length, assigning every batch vector
    // a plausible but wrong cell
    val dim = byCell(cellIds.head).length
    cellIds.foreach { c =>
      val poss = byCell(c).map(_._2).sorted.toSeq
      require(poss == (0L until dim.toLong),
        s"centroid artifact cell $c has positions $poss, expected the " +
          s"complete duplicate-free 0..${dim - 1} — the artifact is " +
          "corrupted (partial write or double append); rebuild it")
    }
    cellIds.map(c => byCell(c).sortBy(_._2).map(_._3).toSeq)
  }

  /** Quantitative correctness floor for the approximate ANN paths: joins
    * [[ivfTopK]] and [[lshTopK]] hits against the exact
    * [[bruteForceTopK]] baseline and reports, per method, whether every
    * query produced results and whether total hits@k clears a floor.
    * Everything upstream is deterministic, so the report is a fixed
    * table an independent SQL oracle can assert — which turns the
    * "approximate by design, no oracle" ANN rows into a measurable gate.
    * Floors carry margin under the measured recall (trained-quantizer IVF
    * at 8/16 probes: 156–164 of 200 across sf0.001/0.01/0.1, floor 140;
    * LSH 39–51, floor 25 — multi-probe LSH over 64 near-orthogonal-vector
    * buckets earns its keep at millions of rows, not thousands; the floor
    * pins it above degenerate).
    */
  def annRecallReport(embeddings: DataFrame, numQueries: Int, k: Int,
                      ivfFloor: Long, lshFloor: Long,
                      sq8Floor: Long = 190L, ivfSqFloor: Long = 140L): DataFrame = {
    // ONE prepared corpus and ONE trained coarse quantizer feed every
    // method chain: standalone, each of the five paths re-ran
    // `prepared()` (a full normalize scan + checkpoint) and ivf/ivfsq
    // each re-ran the identical portable-seeded Lloyd training — the
    // r14 entry paid 5 prepared passes and 2 trainings for a gate whose
    // methods are DEFINED over the same corpus and quantizer (guide
    // §2.4: share the common subplan). Method outputs are bit-identical
    // to their standalone operators (same expressions, same artifacts).
    val prep = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prep, IvfCells, IvfKmeansIters,
      portableSeed = true)
    val prepPq = prep.filter(col("nrm") > 0)
      .withColumn("vn", ArrayOps.divScalarNative(
        prep.sparkSession, col("v"), col("nrm")))
      .localCheckpoint()
    // each method's hit frame feeds TWO aggregates (coverage + hits) and
    // the brute baseline feeds both methods' joins — materialize each
    // once (numQueries×k rows) or the full scans replay per consumer
    val brute = bruteForceTopKFrom(prep, numQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    def stats(name: String, approx: DataFrame, floor: Long): DataFrame = {
      val a = approx.select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      // coverage is measured on the APPROX side — counting over the brute
      // (left) side of the join would always equal numQueries and could
      // never detect a method that stops producing rows for some query
      val nq = a.agg(count_distinct(col("query_id")).as("n_queries"))
      val hits = brute
        .join(a.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      nq.crossJoin(hits) // two single-row aggregates
        .select(lit(name).as("method"), col("n_queries"),
          (col("hits") >= floor).as("floor_met"))
    }
    stats("ivf", ivfTopKFrom(prep, centroids, numQueries, k, IvfProbes),
        ivfFloor)
      .unionAll(stats("lsh", lshTopKFrom(prep, numQueries, k), lshFloor))
      // SQ8 (r12): near-exact by construction — floor 190/200 (measured
      // 197–200 across SFs by a one-off calibration main, since deleted);
      // IVF-SQ8 shares the coarse quantizer's pruning ceiling, so its
      // floor is the IVF floor (measured 151–163 vs IVF's 156–164)
      .unionAll(stats("sq8", sqTopKFrom(prepPq, numQueries, k), sq8Floor))
      .unionAll(stats("ivfsq",
        ivfSqTopKFrom(prep, centroids, numQueries, k, IvfProbes), ivfSqFloor))
      .orderBy(col("method"))
  }

  /** LSH-bucketed approximate top-k with multi-probe: each query probes
    * its own bucket plus every bucket at hamming distance 1 (one flipped
    * hyperplane sign — the vectors most likely to sit just across one
    * boundary). Probe fan-out is NumPlanes+1 rows on the (small,
    * broadcast) query side only; the corpus is still touched via an
    * equi-join on the bucket key, so cost tracks bucket occupancy — the
    * standard multi-probe LSH recall/latency trade.
    */
  def lshTopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame =
    lshTopKFrom(prepared(embeddings), numQueries, k)

  private def lshTopKFrom(prep: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val corpus = prep.filter(col("nrm") > 0)
      .withColumn("bucket", bucketOf(prep, col("v")))
    val queries = corpus.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"),
        col("nrm").as("q_n"), explode(array(probeCols(NumPlanes): _*)).as("q_bucket"))
    val scored = corpus.join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_r",
        ArrayOps.round6(prep.sparkSession,
          dotN(prep, col("q_v"), col("v")) / (col("q_n") * col("nrm"))))
    presentTopK(scored, k)
  }

  // ------------------------------------------------- product quantization

  val PqSubspaces = 8
  val PqSubDim = 8 // 64-dim embeddings split 8 × 8
  val PqCodebook = 64 // centroids per subspace codebook
  val PqIters = 2
  val PqTrainSample = PqCodebook * 100 // Lloyd passes see this bounded sample
  private val PqScale = 1L << 20

  /** Bounded training corpus for the PQ codebooks: the first
    * `PqTrainSample` rows in deterministic md5(vec_id) order. At 100 TB
    * codebooks train on a sample, never the corpus — Lloyd cost becomes
    * O(sample × iters) instead of O(corpus × iters) (the r9 DevScale PQ
    * row spent 16 full-corpus passes at 500k vectors). The sample is a
    * PREFIX of the same md5 ordering the seeding uses, so the 64 seeds
    * are unchanged, and on fixtures smaller than the sample the trained
    * books are bit-identical to full-corpus training. The DuckDB oracle
    * replays the identical `row_number() <= PqTrainSample` prefix.
    */
  private[graft] def pqTrainCorpus(prep: DataFrame): DataFrame =
    prep.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(PqTrainSample).localCheckpoint()

  /** Normalized corpus for PQ: cosine(q, x) = Σ_s ⟨q̂_s, x̂_s⟩ over
    * subvector slices of the UNIT vectors, which is what the per-subspace
    * codebooks approximate. Component-wise `x / nrm` is a single IEEE
    * division — identical in both engines.
    */
  private def pqPrepared(embeddings: DataFrame): DataFrame =
    prepared(embeddings).filter(col("nrm") > 0)
      .withColumn("vn", ArrayOps.divScalarNative(
        embeddings.sparkSession, col("v"), col("nrm")))

  /** L2-nearest codebook entry for a subvector: `argmin |sv − c|² =
    * argmax (⟨sv, c⟩ − |c|²/2)`, decided on the 6-dp-rounded score with
    * ties → HIGHER index. Runs as the codegen'd
    * [[graft.functions.NearestCodeL2]] — the `array_max`-over-structs
    * spelling it replaces (kept below as the spec parity pin) exceeded
    * the whole-stage-codegen limit at 64 centroids × 8 subspaces and
    * fell back to interpreted eval, the r9 DevScale outlier.
    */
  private def pqNearest(df: DataFrame, sv: Column,
                        cents: Seq[Seq[Double]]): Column =
    ArrayOps.nearestCodeL2(df.sparkSession, sv, cents)

  /** The original struct-array spelling of [[pqNearest]] — quadratic
    * codegen, interpreted at real codebook sizes; retained ONLY as the
    * bit-level parity pin for the native kernel (`SimilaritySpec`).
    */
  private[graft] def pqNearestStructs(df: DataFrame, sv: Column,
                                      cents: Seq[Seq[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (c, j) =>
      val half = c.map(x => x * x).sum / 2.0
      struct(round(dotN(df, sv, typedlit(c)) - half, 6).as("score"),
        lit(j.toLong).as("j"))
    }
    array_max(array(scored: _*)).getField("j")
  }

  /** One subspace codebook: md5-seeded deterministic k-means on the
    * subvector slices — the [[kmeansCentroids]] loop with L2 assignment
    * (the right geometry for reconstruction; spherical assignment would
    * discard subvector magnitude, which ADC needs). Fixed-point mean
    * updates keep the trained centroids bit-identical across runs and
    * engines; empty cells keep their centroid. Callers pass the BOUNDED
    * [[pqTrainCorpus]] sample, never the raw corpus — seeding re-derives
    * the same md5 prefix inside the sample.
    */
  /** All `PqSubspaces` codebooks in THREE Spark jobs total (one seed
    * collect + one batched assignment/update pass per Lloyd iteration)
    * instead of [[pqTrainSubspace]]'s 3 jobs × 8 subspaces: the seed
    * rows are the SAME md5-prefix vec_ids for every subspace, and the
    * per-iteration aggregates just gain a subspace key — per-subspace
    * sums, and therefore the trained centroids, are bit-identical
    * (`SimilaritySpec` pins it). On the bench fixtures the per-job
    * driver latency WAS the PQ operators' cost; at scale it's 3 passes
    * over the bounded sample instead of 24.
    */
  private[graft] def pqTrainAllSubspaces(tr: DataFrame): Seq[Seq[Seq[Double]]] = {
    val seeds: Array[Array[Double]] = tr
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(PqCodebook).select(col("vn")).collect()
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    var cents: Array[Array[Array[Double]]] = Array.tabulate(PqSubspaces)(s =>
      Array.tabulate(math.min(PqCodebook, seeds.length))(j =>
        seeds(j).slice(s * PqSubDim, (s + 1) * PqSubDim)))
    var it = 0
    while (it < PqIters) {
      val coded = (0 until PqSubspaces).foldLeft(tr) { (df, s) =>
        df.withColumn(s"c$s", pqNearest(df,
          slice(col("vn"), s * PqSubDim + 1, PqSubDim),
          cents(s).map(_.toSeq).toSeq))
      }
      val sums = coded.select(explode(array((0 until PqSubspaces).map(s =>
          struct(lit(s).as("s"), col(s"c$s").as("code"),
            slice(col("vn"), s * PqSubDim + 1, PqSubDim).as("sv"))): _*)).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.sv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(sum(ArrayOps.roundScaledLong(tr.sparkSession, col("x"), PqScale))
          .as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) =
          r.getLong(3).toDouble / (r.getLong(4).toDouble * PqScale)
      }
      cents = next
      it += 1
    }
    cents.map(_.map(_.toSeq).toSeq).toSeq
  }

  private[graft] def pqTrainSubspace(prep: DataFrame, s: Int): Seq[Seq[Double]] = {
    val sub = prep.select(col("vec_id"),
      slice(col("vn"), s * PqSubDim + 1, PqSubDim).as("sv"))
    var cents: Array[Array[Double]] = sub
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(PqCodebook).select(col("sv")).collect()
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    var it = 0
    while (it < PqIters) {
      val sums = sub
        .withColumn("code", pqNearest(sub, col("sv"), cents.map(_.toSeq).toSeq))
        .select(col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("code"), col("pos"))
        .agg(sum(ArrayOps.roundScaledLong(prep.sparkSession, col("x"), PqScale))
          .as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) =
          r.getLong(2).toDouble / (r.getLong(3).toDouble * PqScale)
      }
      cents = next
      it += 1
    }
    cents.map(_.toSeq).toSeq
  }

  /** Frozen-codebook PQ encoding of a new batch — the daily-run member of
    * the artifact-incremental family (the [[assignWith]] analog for PQ):
    * codebooks train once over the stored corpus (first 4/5 of vec_ids
    * here, playing the persisted artifact), and the arriving batch
    * encodes in ONE map-only pass — `PqSubspaces × PqCodebook` dot
    * products per row, no shuffle, no training rescan. Output is the
    * batch's code table `(vec_id, code0..code7)`.
    */
  def pqEncodeIncremental(embeddings: DataFrame): DataFrame = {
    val cut = embeddings.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val prep = pqPrepared(embeddings).localCheckpoint()
    val train = pqTrainCorpus(prep.filter(col("vec_id") < cut))
    val books = pqTrainAllSubspaces(train)
    val batch = prep.filter(col("vec_id") >= cut)
    (0 until PqSubspaces).foldLeft(batch) { (df, s) =>
      df.withColumn(s"code$s",
        pqNearest(df, slice(col("vn"), s * PqSubDim + 1, PqSubDim), books(s)))
    }.select(col("vec_id") +:
      (0 until PqSubspaces).map(s => col(s"code$s")): _*)
      .orderBy(col("vec_id"))
  }

  /** IVF-PQ — the production ANN composition at 100 TB: the IVF coarse
    * quantizer prunes the candidate set to the probed cells' members
    * (an equi-join on cell id — cost tracks cell occupancy), and PQ's
    * asymmetric distance scores those members from 128×-compressed codes
    * (no raw-vector reads in the search path at all). This replaces
    * [[pqTopK]]'s full scan with IVF's partition pruning and
    * [[ivfTopK]]'s raw-vector scoring with code lookups — each
    * component's oracle-replayed machinery, composed unchanged, so the
    * composition replays too.
    */
  def ivfPqTopK(embeddings: DataFrame, numQueries: Int, k: Int,
                probes: Int = IvfProbes): DataFrame = {
    val spark = embeddings.sparkSession
    val prepIvf = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prepIvf, IvfCells, IvfKmeansIters,
      portableSeed = true)
    val assigned = prepIvf
      .withColumn("cells2", ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, probes))
      .withColumn("cell", element_at(col("cells2"), 1))
      .localCheckpoint()
    // single-frame index build (the [[ivfPqResTopK]] shape, back-ported
    // in r11): vn derives from the already-checkpointed assigned frame —
    // same `v / nrm` arithmetic as pqPrepared, without a second parquet
    // scan, a double-width (v + vn) checkpoint, or the corpus-wide
    // vec_id join the previous spelling paid to glue cells onto codes
    // (at 10M×64 that join + checkpoint were 795 s of the 10M row)
    val prepCell = assigned.filter(col("nrm") > 0)
      .select(col("vec_id"),
        ArrayOps.divScalarNative(spark, col("v"), col("nrm")).as("vn"),
        col("cell"), col("cells2"))
      .localCheckpoint()
    val books = pqTrainAllSubspaces(pqTrainCorpus(prepCell))
    // codes MATERIALIZED before the scored join — the persisted index
    // artifact; left lazy the BHJ defers probe-side columns to output
    // rows and re-runs the encode kernels per matched pair (see
    // [[ivfPqResScored]], where this was measured)
    val corpus = (0 until PqSubspaces).foldLeft(prepCell) { (df, s) =>
      df.withColumn(s"code$s",
        pqNearest(df, slice(col("vn"), s * PqSubDim + 1, PqSubDim), books(s)))
    }.select(col("vec_id") +: col("cell") +:
      (0 until PqSubspaces).map(s => col(s"code$s")): _*)
      .localCheckpoint()
    val queries = pqQueryLuts(
      prepCell.filter(col("vec_id") < numQueries)
        .select(Seq(col("vec_id").as("query_id")) ++
          (0 until PqSubspaces).map(s =>
            slice(col("vn"), s * PqSubDim + 1, PqSubDim).as(s"q$s")) ++
          Seq(explode(col("cells2")).as("q_cell")): _*),
      books)
    val scored = corpus.join(broadcast(queries),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_r", ArrayOps.round6(spark, lutContributions.reduce(_ + _)))
    presentTopK(scored, k)
  }

  /** IVF-PQ with RESIDUAL encoding — the production spelling: each vector
    * is PQ-coded as `x̂ − m_cell` (its offset from the assigned coarse
    * cell's MEAN of normalized members) instead of the raw x̂. The
    * per-cell mean is the variance-minimizing offset (`E|x̂ − m|² ≤
    * E|x̂|²` by the variance decomposition — subtracting the normalized
    * CENTROID direction instead would GROW residuals on low-coherence
    * data, `|x̂ − ĉ|² = 2(1 − cos)`), so the same 64-entry codebooks
    * always see a tighter ball than raw coding — better recall at the
    * identical 2 bytes/vector. Scoring decomposes exactly:
    * `⟨q̂, x̂⟩ = ⟨q̂, m_cell⟩ + ⟨q̂, x̂ − m_cell⟩`, with the first term a
    * broadcast-constant lookup and the second the usual ADC sum over the
    * residual codebooks. The offsets are fixed-point per-cell means (the
    * [[kmeansCentroids]] update idiom — order-free long sums), so every
    * stage stays bit-portable and the DuckDB oracle replays end-to-end.
    */
  def ivfPqResTopK(embeddings: DataFrame, numQueries: Int, k: Int,
                   probes: Int = IvfProbes): DataFrame =
    presentTopK(ivfPqResScored(embeddings, numQueries, probes)._1, k)

  /** The residual-IVF-PQ ADC scan shared by [[ivfPqResTopK]] (ranked
    * as-is) and [[ivfPqResRefineTopK]] (re-ranked exactly): returns the
    * scored candidate frame `(query_id, vec_id, cos_r, …)` plus the
    * checkpointed `(vec_id, vn, cell, cells2)` corpus frame the refine
    * stage reads raw vectors from.
    */
  private def ivfPqResScored(embeddings: DataFrame, numQueries: Int,
                             probes: Int): (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    val prepIvf = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prepIvf, IvfCells, IvfKmeansIters,
      portableSeed = true)
    val assigned = prepIvf
      .withColumn("cells2", ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, probes))
      .withColumn("cell", element_at(col("cells2"), 1))
      .localCheckpoint()
    // narrow BEFORE the checkpoint: only the columns every downstream
    // pass reads (drop v/nrm — at 500k the extra 64 doubles/row double
    // the checkpoint size and read cost of the three passes over it).
    // vn derives from the already-checkpointed assigned frame — same
    // arithmetic as pqPrepared, without a second parquet scan + norm pass
    val prepCell = assigned.filter(col("nrm") > 0)
      .select(col("vec_id"),
        ArrayOps.divScalarNative(spark, col("v"), col("nrm")).as("vn"),
        col("cell"), col("cells2"))
      .localCheckpoint()
    // per-cell fixed-point mean of the normalized members, as ONE
    // aggregate pass with `dim` sum expressions per cell (a posexplode
    // spelling would materialize corpus × dim rows before the combine —
    // measured at 500k × 64, that generator was a double-digit-seconds
    // stage; 64 agg expressions over element_at are map-side-combined
    // straight to IvfCells rows). The quantization runs as the
    // [[graft.functions.RoundScaledLong]] kernel — bit-identical long
    // sums, no per-element BigDecimal (131 s of the 10M chain).
    val dim = PqSubspaces * PqSubDim
    val moff = Array.fill(IvfCells)(Array.fill(dim)(0.0)) // empty cell → 0
    val sumCols = count(lit(1)).as("n") +: (0 until dim).map(i =>
      sum(ArrayOps.roundScaledLong(spark, element_at(col("vn"), i + 1),
        PqScale)).as(s"sx$i"))
    prepCell
      .groupBy(col("cell"))
      .agg(sumCols.head, sumCols.tail: _*)
      .collect()
      .foreach { r =>
        val n = r.getLong(1)
        (0 until dim).foreach { i =>
          moff(r.getInt(0))(i) = // cell is INT here (uncast element_at)
            r.getLong(2 + i).toDouble / (n.toDouble * PqScale)
        }
      }
    val chat: Seq[Seq[Double]] = moff.map(_.toSeq).toSeq
    // sample FIRST, residualize the 6.4k sampled rows only: the md5
    // ordering depends on vec_id alone, so the sampled SET — and the
    // trained books — are identical to residualizing the whole corpus
    val trRes = pqTrainCorpus(prepCell)
      .withColumn("rv", ArrayOps.subNative(spark, col("vn"),
        element_at(typedlit(chat), (col("cell") + 1).cast("int"))))
      .select(col("vec_id"), col("rv").as("vn"))
    val books = pqTrainAllSubspaces(trRes)
    // residual slices FUSED into the encode projection: subvector s of
    // `x̂ − m_cell` is `vn[s·8+1..] − m_cell[s·8+1..]` component-wise —
    // identical IEEE subtracts on identical operands, so codes are
    // bit-equal to subtracting the full 64-dim residual first (the former
    // full-`rv` intermediate was recomputed inside each of the 8 collapsed
    // code projections).
    //
    // The code table is MATERIALIZED before the scored join — it IS the
    // persisted index artifact an IVF-PQ deployment writes (2 bytes +
    // cell id per vector, the bounded thing that fits in memory at
    // 100 TB). Left lazy, the whole-stage-codegen'd BroadcastHashJoin
    // defers the probe side's non-key columns to OUTPUT rows, re-running
    // all 8 encode kernels once per matched (corpus, query-probe) PAIR —
    // the ~10× join fan-out made that the r10 DevScale row's actual cost
    // (measured at 500k×64: search 46.6 s from the lazy fold vs 2.6 s
    // from the materialized table; encode+write is 5 s).
    val corpus = resEncode(prepCell, chat, books)
      .select(col("vec_id") +: col("cell") +:
        (0 until PqSubspaces).map(s => col(s"code$s")): _*)
      .localCheckpoint()
    val queryCols =
      Seq(col("vec_id").as("query_id"), col("vn").as("qn")) ++
        (0 until PqSubspaces).map(s =>
          slice(col("vn"), s * PqSubDim + 1, PqSubDim).as(s"q$s")) ++
        Seq(explode(col("cells2")).as("q_cell"))
    val queries = pqQueryLuts(
      prepCell.filter(col("vec_id") < numQueries).select(queryCols: _*),
      books)
      // ⟨q̂, m_cell⟩ per possible cell, precomputed query-side like the
      // subspace tables — the pair-side coarse term is one lookup too
      .withColumn("lutc",
        transform(typedlit(chat), m => dotN(prepCell, col("qn"), m)))
    val term0 = element_at(col("lutc"), (col("cell") + 1).cast("int"))
    val scored = corpus.join(broadcast(queries),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      // LEFT-associative over (term0, lut0..lut7) — the exact grouping the
      // oracle's `term0 + lut0 + lut1 + …` SQL evaluates. FP addition is
      // non-associative: `term0 + ((lut0+lut1)+…)` can differ by 1 ulp and
      // flip round(·, 6) at a rounding boundary
      .withColumn("cos_r",
        ArrayOps.round6(spark, (term0 +: lutContributions).reduce(_ + _)))
    (scored, prepCell)
  }

  /** Candidate budget of the exact re-rank stage: top-`RefineCandidates`
    * ADC candidates per query get their true cosine computed. 4× the
    * registry's k=10 — the standard refine head-room (the re-rank can
    * only promote within the candidate set, so m/k bounds how deep an
    * ADC mis-ranking it can repair).
    */
  val RefineCandidates = 40

  /** Corpus-size-derived refine candidate budget — the [[autoPlanes]]-style
    * sizing policy for [[ivfPqResRefineTopK]]'s `m`. The r12 10M recall
    * audit proved a FIXED m does not survive scale-up: ADC margins shrink
    * as the corpus grows, so the true top-k sink deeper into the ADC
    * ranking (m=40 → 13.5% recall, m=400 → 35.8% at 10M uniform — the
    * repair depth tracks corpus size, not k). Policy: hold the candidate
    * FRACTION constant — `m = max(4k, corpusRows × candidatePpm / 10⁶)`,
    * defaulting to 40 ppm so 10M yields exactly the audit's m=400 and
    * every fixture corpus (≤1M rows) keeps the pinned
    * [[RefineCandidates]] = 4k floor (the oracle SQL's literal m stays
    * valid at every driver SF). Capped at `maxM` (default 4096): refine
    * reads are m exact vectors per query, and past the cap the economics
    * favor better CODES (SQ8 — 98.3% at 64 B/vec in the same audit) over
    * ever-deeper ADC repair, so the cap is where the auto policy says
    * "switch methods", not "scan more". Monotone in corpusRows and k
    * (`SimilaritySpec` pins both plus the 10M = 400 answer).
    */
  def autoM(corpusRows: Long, k: Int, candidatePpm: Int = 40,
            maxM: Int = 4096): Int = {
    // candidatePpm ≤ 10⁶ is what the overflow argument below assumes —
    // a parts-per-million above a million is meaningless anyway
    require(corpusRows >= 0 && k > 0 && candidatePpm > 0 &&
      candidatePpm <= 1000000 && maxM >= 4 * k,
      "corpusRows non-negative, 0 < candidatePpm ≤ 1e6, k positive, maxM ≥ 4k")
    // ceil division on longs — BigInt-free because corpusRows × ppm fits
    // 63 bits for any real corpus (ppm ≤ 10⁶ ⇒ overflow needs ~9·10¹² rows
    // × 10⁶, far past the long corpus-id space this library addresses)
    val frac = (corpusRows * candidatePpm + 999999L) / 1000000L
    math.min(maxM.toLong, math.max(4L * k, frac)).toInt
  }

  /** [[ivfPqResRefineTopK]] with the [[autoM]] candidate budget — the
    * deployment entry point that sizes the refine stage from the corpus
    * itself (one footer-cheap `count()`), so a pipeline promoted from the
    * 500-row oracle fixture to a 10M shard picks up m=400 without a
    * config change.
    */
  def ivfPqResRefineAutoTopK(embeddings: DataFrame, numQueries: Int, k: Int,
                             probes: Int = IvfProbes): DataFrame =
    ivfPqResRefineTopK(embeddings, numQueries, k,
      autoM(embeddings.count(), k), probes)

  /** Two-stage retrieval — the production composition's final form (the
    * stage FAISS calls `refine`): [[ivfPqResScored]]'s ADC scan keeps the
    * top-`m` candidates per query, and ONLY those `numQueries × m` rows
    * get exact dot products against the raw normalized vectors, re-ranked
    * to the final top-k. At 100 TB the raw-vector reads stay
    * candidate-bounded (an equi-join of the corpus against the broadcast
    * candidate set — never a second scan-wide score), which is exactly
    * why the pattern exists: ADC compression errors cap recall, and the
    * refine buys exact ordering for the price of `m` vector reads per
    * query.
    *
    * Every brute-force top-k hit present in the candidate set survives
    * the re-rank (at most k−1 candidates can out-score it exactly, and
    * ties break on the same vec_id order), so refine recall ≥ the ADC
    * scan's recall by construction — `SimilaritySpec` pins it.
    */
  def ivfPqResRefineTopK(embeddings: DataFrame, numQueries: Int, k: Int,
                         m: Int = RefineCandidates,
                         probes: Int = IvfProbes): DataFrame = {
    require(m >= k, s"refine candidate budget m=$m must cover k=$k")
    val (scored, prepCell) = ivfPqResScored(embeddings, numQueries, probes)
    val cand = presentTopK(scored, m)
      .select(col("query_id"), col("neighbor_id"))
    val qv = prepCell.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("vn").as("qvn"))
    // candidates ⋈ query vectors: numQueries × m rows — bounded, broadcast
    val candQ = cand.join(qv, "query_id")
    val exact = prepCell.select(col("vec_id"), col("vn"))
      .join(broadcast(candQ), col("vec_id") === col("neighbor_id"))
      .withColumn("cos_r",
        ArrayOps.round6(prepCell.sparkSession, dotN(prepCell, col("qvn"), col("vn"))))
    presentTopK(exact, k)
  }

  /** Frozen-artifact incremental encode for the PRODUCTION composition
    * ([[ivfPqResTopK]]'s residual IVF-PQ): the coarse quantizer, the
    * per-cell mean offsets AND the residual codebooks all train once over
    * the stored corpus (first 4/5 of vec_ids — the persisted artifacts);
    * the arriving batch is cell-assigned, offset-subtracted and
    * residual-coded in ONE map-only pass (`IvfCells` +
    * `PqSubspaces × PqCodebook` broadcast dot products per row — no
    * shuffle, no training rescan). This is the daily-run path an IVF-PQ
    * index actually executes at 100 TB: train weekly on the corpus
    * sample, encode each arriving shard against the frozen artifacts.
    * Output: the batch's index rows `(vec_id, cell, code0..code7)`.
    */
  def ivfPqResEncodeIncremental(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    val cut = embeddings.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val prepIvf = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prepIvf.filter(col("vec_id") < cut),
      IvfCells, IvfKmeansIters, portableSeed = true)
    // one map-only assignment pass over ALL rows: train rows feed the
    // offset/codebook training, batch rows are the encode target
    val assigned = prepIvf.withColumn("cell",
      element_at(ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, 1), 1).cast("long"))
    // vn from the assigned frame directly (pqPrepared's arithmetic,
    // without a second parquet scan + norm pass), narrowed pre-checkpoint
    val prepCell = assigned.filter(col("nrm") > 0)
      .select(col("vec_id"),
        ArrayOps.divScalarNative(spark, col("v"), col("nrm")).as("vn"),
        col("cell"))
      .localCheckpoint()
    val trainCell = prepCell.filter(col("vec_id") < cut)
    // frozen offsets: fixed-point per-cell means of the TRAIN members —
    // one aggregate pass, dim sum expressions (the [[ivfPqResTopK]] shape)
    val dim = PqSubspaces * PqSubDim
    val moff = Array.fill(IvfCells)(Array.fill(dim)(0.0))
    val sumCols = count(lit(1)).as("n") +: (0 until dim).map(i =>
      sum(ArrayOps.roundScaledLong(spark, element_at(col("vn"), i + 1),
        PqScale)).as(s"sx$i"))
    trainCell
      .groupBy(col("cell"))
      .agg(sumCols.head, sumCols.tail: _*)
      .collect()
      .foreach { r =>
        val n = r.getLong(1)
        (0 until dim).foreach { i =>
          moff(r.getLong(0).toInt)(i) =
            r.getLong(2 + i).toDouble / (n.toDouble * PqScale)
        }
      }
    val chat: Seq[Seq[Double]] = moff.map(_.toSeq).toSeq
    // sample before residualizing — the md5 order is vec_id-only
    val trRes = pqTrainCorpus(trainCell)
      .withColumn("rv", ArrayOps.subNative(spark, col("vn"),
        element_at(typedlit(chat), (col("cell") + 1).cast("int"))))
      .select(col("vec_id"), col("rv").as("vn"))
    val books = pqTrainAllSubspaces(trRes)
    resEncode(prepCell.filter(col("vec_id") >= cut), chat, books)
      .select(col("vec_id") +: col("cell") +:
        (0 until PqSubspaces).map(s => col(s"code$s")): _*)
      .orderBy(col("vec_id"))
  }

  /** Artifact-refresh drift gate for the frozen-ANN-index pipeline: the
    * incremental encodes ([[ivfPqResEncodeIncremental]] and friends)
    * freeze weekly-trained artifacts and encode arriving batches against
    * them forever — this operator is the monitor that says WHEN that
    * stops being sound, composing the snapshot-diff machinery
    * ([[graft.operators.Sketches.tokenDrift]]'s cross-multiplied integer
    * TV distance) with a quantizer-fit readout over the frozen coarse
    * centroids:
    *
    *   - occupancy_drift_bp: total-variation distance (basis points)
    *     between the index corpus's and the batch's cell-occupancy
    *     distributions under the SAME frozen centroids — a shifted
    *     embedding distribution piles the batch into cells the index
    *     trained sparsely, which is exactly when cell-pruned search and
    *     per-cell residual codebooks lose recall;
    *   - fit_index_bp / fit_batch_bp: mean cosine (basis points, floor)
    *     between each vector and its assigned frozen centroid — the
    *     coarse quantization fit whose degradation upper-bounds every
    *     downstream compression stage's health (residual offsets and
    *     codebooks are trained per cell AROUND that centroid);
    *   - retrain_needed: occupancy_drift_bp > `occDriftBp` OR the batch
    *     fit trails the index fit by > `fitDropBp`.
    *
    * Threshold calibration (measured across sf0.001/0.01/0.1): an
    * UNdrifted held-out batch reads occupancy TV 801–1688 bp (small-batch
    * sampling noise over `IvfCells` cells) and a fit drop of 472–1151 bp
    * — the train/held-out generalization gap, present with NO
    * distribution shift; a planted component shift of +0.25 reads
    * 6935–8472 bp occupancy TV. The defaults sit between the regimes
    * with ≥2× margin each way: occupancy TV is the sensitive
    * distribution-shift alarm, the fit drop a backstop for the
    * batch-matches-no-centroid regime (scaled/rotated embedding spaces)
    * that occupancy alone can miss.
    *
    * Everything is deterministic integer math over the portable-seeded
    * trainer, so the whole gate — training included — replays as DuckDB
    * CTEs (`ann_artifact_drift`). Scale shape: two map-only assignment
    * scans (broadcast centroid literals, the [[assignWith]] kernel) into
    * bounded per-cell aggregates; the readout is driver-side over
    * ≤ `IvfCells` + 2 collected rows (the centroid-collect budget class).
    * Fit means use round(cos·10⁶) longs — order-independent sums, exact
    * in both engines.
    */
  def annArtifactDrift(centroidArtifact: DataFrame,
                       indexEmb: DataFrame, batch: DataFrame,
                       occDriftBp: Long = 4000,
                       fitDropBp: Long = 2000): DataFrame =
    annArtifactDriftScenarios(centroidArtifact, indexEmb, Seq("" -> batch),
      occDriftBp, fitDropBp).drop("scenario")

  /** [[annArtifactDrift]] over several candidate batches against ONE
    * index measurement — the planted-scenario entries compare an
    * unshifted control and a planted drift against the same frozen
    * centroids, and the index side's assignment+fit pass is
    * scenario-independent: run it once (r14 ran it per scenario). One
    * row per `(label, batch)`, leading `scenario` column.
    */
  def annArtifactDriftScenarios(centroidArtifact: DataFrame,
                                indexEmb: DataFrame,
                                batches: Seq[(String, DataFrame)],
                                occDriftBp: Long = 4000,
                                fitDropBp: Long = 2000): DataFrame = {
    require(batches.nonEmpty, "at least one scenario batch required")
    val spark = indexEmb.sparkSession
    import spark.implicits._
    val cents = centroidsOf(centroidArtifact)
    val cns = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    // per-side (occupancy-by-cell, n, Σ round(cos·10⁶)): one map-only
    // assignment + fit pass, one bounded aggregate — collected driver-side
    // (≤ IvfCells + 1 rows, the centroid-artifact budget class)
    def sideStats(emb: DataFrame): (Map[Long, Long], Long, Long) = {
      val withCell = prepared(emb).filter(col("nrm") > 0)
        .withColumn("cell", element_at(ArrayOps.nearestCells(spark,
          col("v"), col("nrm"), cents, 1), 1).cast("long"))
      val cv = element_at(typedlit(cents), (col("cell") + 1).cast("int"))
      val cn = element_at(typedlit(cns), (col("cell") + 1).cast("int"))
      val rows = withCell
        .withColumn("fit6", ArrayOps.roundScaledLong(spark,
          ArrayOps.dotNative(spark, col("v"), cv) / (col("nrm") * cn),
          1000000L))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("c"), sum(col("fit6")).as("f"))
        .collect() // bounded: ≤ IvfCells rows
      val occ = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      (occ, rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    }
    val (occ1, n1, f1) = sideStats(indexEmb)
    val out = batches.map { case (label, batch) =>
      val (occ2, n2, f2) = sideStats(batch)
      require(n1 > 0 && n2 > 0, "drift gate needs non-empty index and batch")
      // TV distance in bp, the tokenDrift integer form: exact while
      // 2·n1·n2·10⁴ fits a long (n ≤ ~2·10⁷ per side; beyond that, sample)
      val num = (occ1.keySet ++ occ2.keySet).toSeq.map { c =>
        math.abs(occ1.getOrElse(c, 0L) * n2 - occ2.getOrElse(c, 0L) * n1)
      }.sum
      val occDrift = num * 10000L / (2L * n1 * n2)
      // mean fit in bp: Σ round(cos·10⁶) · 10⁴ / (n · 10⁶) — TRUNCATING
      // division on both engines (Long `/` here, `//` in DuckDB: both
      // round toward zero, including for a negative fit sum)
      val fitIdx = f1 / (n1 * 100L)
      val fitBat = f2 / (n2 * 100L)
      (label, n1, n2, occDrift, fitIdx, fitBat,
        occDrift > occDriftBp || fitIdx - fitBat > fitDropBp)
    }
    out.toDF("scenario", "n_index", "n_batch", "occupancy_drift_bp",
      "fit_index_bp", "fit_batch_bp", "retrain_needed")
  }

  /** Residual-encode a `(vn, cell, …)` frame against frozen per-cell
    * offsets and residual codebooks, with the offset subtract FUSED into
    * each subspace's code projection: subvector `s` of `x̂ − m_cell` is
    * computed as `vn[s·dim+1 ..] − m_cell[s·dim+1 ..]` — the identical
    * IEEE subtracts on the identical operands as materializing the full
    * 64-dim residual first (codes bit-equal; `SimilaritySpec` pins the
    * operators end-to-end), but 8 subtracts per subspace against a
    * `cells × subdim` literal instead of a recomputed 64-subtract
    * intermediate plus the full offset table inside every collapsed
    * projection — the r10 residual-encode 4× overhead.
    */
  private def resEncode(df: DataFrame, chat: Seq[Seq[Double]],
                        books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val spark = df.sparkSession
    val chatS: Seq[Seq[Seq[Double]]] = (0 until PqSubspaces).map(s =>
      chat.map(_.slice(s * PqSubDim, (s + 1) * PqSubDim)))
    (0 until PqSubspaces).foldLeft(df) { (d, s) =>
      d.withColumn(s"code$s",
        pqNearest(d, ArrayOps.subNative(spark,
          slice(col("vn"), s * PqSubDim + 1, PqSubDim),
          element_at(typedlit(chatS(s)), (col("cell") + 1).cast("int"))),
          books(s)))
    }
  }

  /** Per-query ADC lookup tables: for each subspace, ALL `PqCodebook`
    * query·centroid dot products precomputed ON THE QUERY SIDE (a
    * |queries|-row frame, materialized before the broadcast), so the
    * per-(corpus row, query) work in the scan drops from
    * `PqSubspaces × PqSubDim` multiplies to `PqSubspaces` array lookups —
    * the textbook ADC table. The table entry IS the dot the inline
    * spelling computed (same [[graft.functions.ArrayDotProduct]] fold),
    * so scores — and the oracles — are bit-identical.
    */
  private def pqQueryLuts(df: DataFrame, books: Seq[Seq[Seq[Double]]]): DataFrame =
    (0 until PqSubspaces).foldLeft(df) { (d, s) =>
      d.withColumn(s"lut$s",
        transform(typedlit(books(s)), cb => dotN(d, col(s"q$s"), cb)))
    }

  private def lutContributions: Seq[Column] =
    (0 until PqSubspaces).map(s =>
      element_at(col(s"lut$s"), (col(s"code$s") + 1).cast("int")))

  /** PQ approximate top-k — the MEMORY-bounded ANN path that completes
    * the family (brute: exact, LSH: bucketed, IVF: partitioned, PQ:
    * compressed): every corpus vector is stored as `PqSubspaces` 4-bit
    * codes (64 floats → 2 bytes, a 128× compression), and queries score
    * the whole corpus by asymmetric distance computation — codebook
    * lookups instead of raw vectors. At 100 TB the codes table is what
    * fits in memory when the embedding column cannot; the scan is
    * embarrassingly parallel and the nested-loop side is only the
    * broadcast 20-query set (exempted in `PlanAuditSpec` alongside
    * `ann_topk_brute`, whose scan shape PQ intentionally shares — PQ IS
    * brute force over compressed codes).
    *
    * Every step is deterministic and engine-portable (md5 seeds,
    * fixed-point Lloyd updates, 6-dp rounded assignment and ranking), so
    * the DuckDB oracle replays training, encoding, ADC, and ranking
    * bit-for-bit. Recall vs the exact baseline is additionally
    * floor-gated in `SimilaritySpec`.
    */
  def pqTopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val prep = pqPrepared(embeddings).localCheckpoint()
    val tr = pqTrainCorpus(prep)
    val books = pqTrainAllSubspaces(tr)
    val encoded = (0 until PqSubspaces).foldLeft(prep) { (df, s) =>
      df.withColumn(s"code$s",
        pqNearest(df, slice(col("vn"), s * PqSubDim + 1, PqSubDim), books(s)))
    }
    val corpus = encoded.select(col("vec_id") +:
      (0 until PqSubspaces).map(s => col(s"code$s")): _*)
    val queries = pqQueryLuts(
      prep.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id") +:
          (0 until PqSubspaces).map(s =>
            slice(col("vn"), s * PqSubDim + 1, PqSubDim).as(s"q$s")): _*),
      books)
    // The query LUT table is bounded (numQueries × subspaces × codebook
    // doubles — 80 KB at the registry's 20 queries), so it ships as a
    // LITERAL and the full scan becomes one map-only codegen'd explode per
    // corpus row. The previous spelling — broadcast + `vec_id =!=
    // query_id` — planned a BroadcastNestedLoopJoin, which runs OUTSIDE
    // whole-stage codegen and copies the full concatenated row per pair
    // (measured at 500k: the BNLJ row processing was ~85 s of the scan
    // while the equi-join IVF-PQ scan did half the pairs in ~5 s). ADC
    // per pair: 8 nested literal lookups, arithmetic identical to the
    // joined spelling.
    //
    // Guarded: the literal lives in the PLAN (driver memory + codegen
    // constant pool), so past ~4 MB of LUT doubles (~1k queries) the scan
    // falls back to the broadcast-join spelling — a BNLJ of the bounded
    // query set against the code scan, the same honest brute shape as
    // [[bruteForceTopK]]; identical arithmetic, identical rows.
    if (numQueries.toLong * PqSubspaces * PqCodebook * 8 <= PqLutLiteralMaxBytes) {
      val qLit: Seq[(Long, Seq[Seq[Double]])] = queries.collect().toSeq.map { r =>
        (r.getLong(r.fieldIndex("query_id")),
          (0 until PqSubspaces).map(s =>
            r.getSeq[Double](r.fieldIndex(s"lut$s")).toSeq))
      }
      val q = col("q")
      val contributions = (0 until PqSubspaces).map(s =>
        element_at(element_at(q.getField("_2"), s + 1),
          (col(s"code$s") + 1).cast("int")))
      val scored = corpus
        .withColumn("q", explode(typedlit(qLit)))
        .withColumn("query_id", q.getField("_1"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos_r",
          ArrayOps.round6(prep.sparkSession, contributions.reduce(_ + _)))
      presentTopK(scored, k)
    } else {
      val scored = corpus.join(broadcast(queries),
          col("vec_id") =!= col("query_id"))
        .withColumn("cos_r",
          ArrayOps.round6(prep.sparkSession, lutContributions.reduce(_ + _)))
      presentTopK(scored, k)
    }
  }

  /** Plan-literal budget for [[pqTopK]]'s query-LUT constant: past this
    * many bytes of LUT doubles the scan uses the broadcast join instead
    * of a plan literal (codegen constant-pool / driver-memory guard).
    */
  private val PqLutLiteralMaxBytes = 4L << 20

  // ==================== scalar quantization (SQ8) =======================

  /** SQ8 code range: 8-bit levels 0..255 per dimension. */
  val SqLevels = 255
  private[graft] val SqDim = PqSubspaces * PqSubDim // 64

  /** Per-dimension `(min, max)` of the normalized corpus — the whole SQ8
    * training artifact (2×64 doubles; vs PQ's 8×64×8-double codebooks).
    * ONE partial-aggregable pass with 128 agg columns over `element_at`
    * — deliberately NOT a posexplode grid (at 10M×64 that is 640M
    * shuffled rows for what a map-side combine can carry in 1 KB).
    * min/max are order-free and exact, so Spark and the DuckDB oracle
    * agree bit-for-bit with no fixed-point machinery.
    */
  private[graft] def sqBounds(prep: DataFrame): (Seq[Double], Seq[Double]) = {
    val aggs = (0 until SqDim).flatMap(d => Seq(
      min(element_at(col("vn"), d + 1)).as(s"mn$d"),
      max(element_at(col("vn"), d + 1)).as(s"mx$d")))
    // bounded artifact read: exactly ONE row of 2·dim doubles
    val r = prep.agg(aggs.head, aggs.tail: _*).head()
    ((0 until SqDim).map(d => r.getDouble(2 * d)),
      (0 until SqDim).map(d => r.getDouble(2 * d + 1)))
  }

  /** Per-dim quantization step `st_d = (mx_d − mn_d)/255` (0 on a
    * degenerate dim). */
  private def sqSteps(mins: Seq[Double], maxs: Seq[Double]): Seq[Double] =
    mins.lazyZip(maxs).map((mn, mx) =>
      if (mx > mn) (mx - mn) / SqLevels else 0.0).toSeq

  /** 8-bit linear quantization of `vn` against frozen per-dim bounds:
    * `c_d = clamp(⌊(x_d − mn_d)·iv_d + 0.5⌋, 0, 255)` with
    * `iv_d = 255/(mx_d − mn_d)`. Half-up floor is the engine-wide
    * rounding convention; every FP op appears in the DuckDB oracle in
    * the identical order, and the clamp makes frozen-bounds encoding of
    * out-of-range FUTURE batches well-defined (the incremental path).
    */
  private def sqCodesCol(mins: Seq[Double], maxs: Seq[Double]): Column = {
    val ivs = mins.lazyZip(maxs).map((mn, mx) =>
      if (mx > mn) SqLevels.toDouble / (mx - mn) else 0.0).toSeq
    zip_with(
      zip_with(col("vn"), typedlit(mins), (x, mn) => x - mn),
      typedlit(ivs),
      (t, iv) => greatest(lit(0L), least(lit(255L), floor(t * iv + lit(0.5)))))
  }

  /** The fused SQ8 ADC decomposition, shared by every SQ scoring path
    * (and replayed verbatim by the oracles):
    * `⟨q̂, deq(c)⟩ = ⟨q̂, mn⟩ + ⟨q̂ ⊙ st, c⟩` — a per-QUERY constant plus
    * a 64-FMA dot against the integer codes, so the scan touches codes
    * only (the r11 residual-path lesson, applied at design time instead
    * of after a profile: never rebuild the dequantized vector per
    * matched pair).
    */
  private def sqQueryCols(df: DataFrame, qn: Column,
                          mins: Seq[Double], sts: Seq[Double]): (Column, Column) =
    (dotN(df, qn, typedlit(mins)),
      zip_with(qn, typedlit(sts), (x, st) => x * st))

  /** SQ8 full-scan top-k — the third point on the compression-recall
    * curve the family now spans: brute (512 B/vec, exact), SQ8
    * (64 B/vec, ~lossless ranking), PQ (2 B/vec, coarse). The r12 10M
    * recall audit showed PQ's fixed 8×8-bit code error overwhelms the
    * shrinking top-rank margins of a large uniform corpus (6–36%
    * hits@10); SQ8 keeps 8 bits per DIMENSION, so quantization noise
    * (~step/2 ≈ 2e-3 per dim before the 1/√64 averaging) sits well
    * below ranking margins — near-exact recall at an 8× memory cut.
    * Scan shape = [[pqTopK]]'s literal map-only explode (queries are a
    * bounded set; codes-only corpus reads).
    */
  def sqTopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame =
    sqTopKFrom(pqPrepared(embeddings).localCheckpoint(), numQueries, k)

  /** [[sqTopK]] from an already-materialized [[pqPrepared]] frame —
    * shared-prep entry point for [[annRecallReport]]. */
  private def sqTopKFrom(prep: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val spark = prep.sparkSession
    val (mins, maxs) = sqBounds(prep)
    val sts = sqSteps(mins, maxs)
    // the persisted index artifact: codes PACKED to one byte per dim
    // (the literal 64 B/vector) and MATERIALIZED before scoring
    val corpus = prep.select(col("vec_id"),
        ArrayOps.packCodes(spark, sqCodesCol(mins, maxs)).as("codes"))
      .localCheckpoint()
    val (cq, wq) = sqQueryCols(prep, col("vn"), mins, sts)
    // bounded collect: numQueries rows × (1 + dim) doubles
    val qLit: Seq[(Long, Double, Seq[Double])] =
      prep.filter(col("vec_id") < numQueries)
        .select(col("vec_id"), cq.as("cq"), wq.as("wq"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toSeq))
    val q = col("q")
    val scored = corpus
      .withColumn("q", explode(typedlit(qLit)))
      .withColumn("query_id", q.getField("_1"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_r", ArrayOps.round6(spark,
        q.getField("_2") +
          ArrayOps.sqAdcDot(spark, col("codes"), q.getField("_3"))))
    presentTopK(scored, k)
  }

  /** IVF-SQ8 — the high-recall production composition (FAISS's
    * `IVF…,SQ8` shape): the coarse quantizer prunes candidates to the
    * probed cells exactly as [[ivfPqTopK]], and SQ8 codes score them —
    * 64 B/vec instead of PQ's 2 B, buying back the recall the 10M audit
    * showed PQ losing on tight-margin corpora. Search path reads
    * (cell, codes) only; the scored join is the same broadcast-queries
    * equi-join on cell id.
    */
  def ivfSqTopK(embeddings: DataFrame, numQueries: Int, k: Int,
                probes: Int = IvfProbes): DataFrame = {
    val prepIvf = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prepIvf, IvfCells, IvfKmeansIters,
      portableSeed = true)
    ivfSqTopKFrom(prepIvf, centroids, numQueries, k, probes)
  }

  private def ivfSqTopKFrom(prepIvf: DataFrame, centroids: Seq[Seq[Double]],
                            numQueries: Int, k: Int,
                            probes: Int): DataFrame = {
    val spark = prepIvf.sparkSession
    val assigned = prepIvf
      .withColumn("cells2", ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, probes))
      .withColumn("cell", element_at(col("cells2"), 1))
      .localCheckpoint()
    val prepCell = assigned.filter(col("nrm") > 0)
      .select(col("vec_id"),
        ArrayOps.divScalarNative(spark, col("v"), col("nrm")).as("vn"),
        col("cell"), col("cells2"))
      .localCheckpoint()
    val (mins, maxs) = sqBounds(prepCell)
    val sts = sqSteps(mins, maxs)
    val corpus = prepCell
      .select(col("vec_id"), col("cell"),
        ArrayOps.packCodes(spark, sqCodesCol(mins, maxs)).as("codes"))
      .localCheckpoint()
    val (cq, wq) = sqQueryCols(prepCell, col("vn"), mins, sts)
    val queries = prepCell.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), cq.as("cq"), wq.as("wq"),
        explode(col("cells2")).as("q_cell"))
    val scored = corpus.join(broadcast(queries),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_r", ArrayOps.round6(spark,
        col("cq") + ArrayOps.sqAdcDot(spark, col("codes"), col("wq"))))
    presentTopK(scored, k)
  }

  /** IVF-SQ8 with PER-CELL bounds — the engineered answer to the r13
    * clustered-corpus finding: global SQ8 bounds size the quantization
    * step to the WHOLE corpus range, so on cluster-structured data
    * (shared center ~1.0, discriminative noise ~0.15) the step is ~7.7×
    * too coarse for within-cluster margins and recall fell 98.3% → 63.6%
    * at 10M. Training per-`(cell, dim)` min/max instead sizes the step to
    * each cell's LOCAL range — on tight clusters that is the noise range,
    * shrinking quantization error by the cluster-radius factor while
    * degenerating gracefully to the global behavior when cells span the
    * corpus (uniform data). Artifact: `cells × 2 × 64` doubles (16 cells
    * → 2 KB) + the same 64 B/vec packed codes; scoring is the same fused
    * ADC with the query-side terms computed per PROBED cell
    * (`cq = ⟨q̂, mn_cell⟩`, `wq = q̂ ⊙ st_cell` — the probe explode already
    * carries the cell id, so the per-cell terms ride the existing
    * broadcast). Search path reads (cell, codes) only.
    *
    * `cells` must RESOLVE the corpus's cluster structure for the local
    * bounds to bite — measured on the 256-center clustered 10M corpus
    * (r13, `DevScaleAnn 10m clustered recall`): at the default 16 cells
    * each cell still spans ~16 clusters (local range ≈ global) and
    * recall moves only 63.6% → 68.5%; at `cells = 256, probes = 8` the
    * quantizer separates the mixture and hits@10 reaches **86.7% while
    * scanning 3% of the corpus** (global-bounds IVF-SQ8: 63.6% scanning
    * half). The matching exact-in-probed-cells ceiling at 256/8 is 100%,
    * so the remaining 13.3 points are pure code error — when the probed
    * fraction is already this small, exact scoring of the probed members
    * ([[ivfTopK]] at the same cells/probes) is the full-recall option and
    * per-cell SQ8 is the 8×-memory-bounded one. Defaults stay pinned to
    * the fixture oracle; size `cells` from the occupancy/drift artifacts
    * in deployment.
    *
    * On the UNIFORM 10M corpus the same 256/8 config reads 39.0% — equal
    * hit-for-hit to its exact-scoring ceiling (39.0%), i.e. per-cell
    * codes are lossless relative to pruning there too; the loss is the
    * pruning itself (uniform neighbors are not cluster-local, so few
    * probed cells capture few of them). The regime rule the two audits
    * pin: uniform data wants few cells/many probes + strong codes
    * (global SQ8 full-scan 98.3%), clustered data wants cells ≈ clusters
    * where pruning is near-free and code fidelity is the dial.
    */
  def ivfSqCellTopK(embeddings: DataFrame, numQueries: Int, k: Int,
                    probes: Int = IvfProbes, cells: Int = IvfCells,
                    iters: Int = IvfKmeansIters,
                    trained: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val prepIvf = prepared(embeddings).localCheckpoint()
    // `trained` lets a caller that already ran the identical
    // portable-seeded training (the regime router's probe) thread its
    // centroids through — bit-identical by construction, one Lloyd pass
    // saved
    trained.foreach(c => require(c.size <= cells,
      s"trained centroid count ${c.size} exceeds cells $cells"))
    val centroids = trained.getOrElse(
      kmeansCentroids(prepIvf, cells, iters, portableSeed = true))
    val assigned = prepIvf
      .withColumn("cells2", ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, probes))
      .withColumn("cell", element_at(col("cells2"), 1))
      .localCheckpoint()
    val prepCell = assigned.filter(col("nrm") > 0)
      .select(col("vec_id"),
        ArrayOps.divScalarNative(spark, col("v"), col("nrm")).as("vn"),
        col("cell"), col("cells2"))
      .localCheckpoint()
    // per-(cell, dim) bounds: ONE partial-aggregable groupBy(cell) with
    // 128 agg columns — bounded collect of ≤ IvfCells rows (the whole
    // training artifact). min/max are order-free and exact, so the
    // DuckDB oracle's GROUP BY cell reproduces them bit-for-bit.
    val aggs = (0 until SqDim).flatMap(d => Seq(
      min(element_at(col("vn"), d + 1)).as(s"mn$d"),
      max(element_at(col("vn"), d + 1)).as(s"mx$d")))
    val mnByCell = Array.fill(cells)(Seq.fill(SqDim)(0.0))
    val stByCell = Array.fill(cells)(Seq.fill(SqDim)(0.0))
    val ivByCell = Array.fill(cells)(Seq.fill(SqDim)(0.0))
    prepCell.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: ≤ cells rows × (1 + 128) doubles
      .foreach { r =>
        // nearestCells emits int cell ids — read width-agnostically
        val c = r.get(0).asInstanceOf[Number].intValue
        val mns = (0 until SqDim).map(d => r.getDouble(1 + 2 * d))
        val mxs = (0 until SqDim).map(d => r.getDouble(2 + 2 * d))
        mnByCell(c) = mns
        stByCell(c) = mns.lazyZip(mxs).map((mn, mx) =>
          if (mx > mn) (mx - mn) / SqLevels else 0.0).toSeq
        ivByCell(c) = mns.lazyZip(mxs).map((mn, mx) =>
          if (mx > mn) SqLevels.toDouble / (mx - mn) else 0.0).toSeq
      }
    val mnLit = typedlit(mnByCell.toSeq)
    val stLit = typedlit(stByCell.toSeq)
    val ivLit = typedlit(ivByCell.toSeq)
    val mnC = element_at(mnLit, (col("cell") + 1).cast("int"))
    val ivC = element_at(ivLit, (col("cell") + 1).cast("int"))
    // same quantization spelling as [[sqCodesCol]], bounds selected by the
    // row's own cell; an empty cell's zero bounds are unreachable (no
    // member rows carry its id)
    val codesC = zip_with(
      zip_with(col("vn"), mnC, (x, mn) => x - mn), ivC,
      (t, iv) => greatest(lit(0L), least(lit(255L), floor(t * iv + lit(0.5)))))
    val corpus = prepCell
      .select(col("vec_id"), col("cell"),
        ArrayOps.packCodes(spark, codesC).as("codes"))
      .localCheckpoint()
    val mnQ = element_at(mnLit, (col("q_cell") + 1).cast("int"))
    val stQ = element_at(stLit, (col("q_cell") + 1).cast("int"))
    val queries = prepCell.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("vn"),
        explode(col("cells2")).as("q_cell"))
      .select(col("query_id"), col("q_cell"),
        dotN(prepCell, col("vn"), mnQ).as("cq"),
        zip_with(col("vn"), stQ, (x, st) => x * st).as("wq"))
    val scored = corpus.join(broadcast(queries),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_r", ArrayOps.round6(spark,
        col("cq") + ArrayOps.sqAdcDot(spark, col("codes"), col("wq"))))
    presentTopK(scored, k)
  }

  /** Frozen-bounds incremental SQ8 encode — the daily-run member of the
    * artifact family ([[pqEncodeIncremental]]'s analog): bounds train
    * once over the stored corpus (first 4/5 of vec_ids playing the
    * persisted artifact), the arriving batch encodes in ONE map-only
    * pass (64 multiply-round-clamps per row, no shuffle, no rescan);
    * out-of-range batch values clamp to the code range by construction.
    * Output is the batch's wide code table `(vec_id, c00..c63)`.
    */
  /** Frozen SQ8 bounds trained over a stored corpus — the whole
    * persisted training artifact (2 × 64 doubles). */
  private[graft] def sqTrainBounds(embeddings: DataFrame): (Seq[Double], Seq[Double]) =
    sqBounds(pqPrepared(embeddings).localCheckpoint())

  /** Encode a batch against frozen bounds → the wide code table
    * `(vec_id, c00..c63)`; one map-only pass, clamp by construction. */
  private[graft] def sqEncodeWithBounds(batch: DataFrame, mins: Seq[Double],
                                        maxs: Seq[Double]): DataFrame =
    pqPrepared(batch)
      .withColumn("codes", sqCodesCol(mins, maxs))
      .select(col("vec_id") +: (0 until SqDim).map(d =>
        element_at(col("codes"), d + 1).as(f"c$d%02d")): _*)

  def sqEncodeIncremental(embeddings: DataFrame): DataFrame = {
    val cut = embeddings.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val (mins, maxs) = sqTrainBounds(embeddings.filter(col("vec_id") < cut))
    sqEncodeWithBounds(embeddings.filter(col("vec_id") >= cut), mins, maxs)
      .orderBy(col("vec_id"))
  }

  /** Bounds-staleness gate for the frozen SQ8 artifact — the quantizer's
    * drift failure mode is CLAMP SATURATION: a value outside the trained
    * `[mn, mx]` pins to code 0/255 and every distinction out there is
    * lost, silently, while the encode keeps "working". The readout is
    * the per-mille rate of saturated codes in the arriving batch vs the
    * index's own rate under the SAME bounds (integer counts + integer
    * division — engine-exact, so the oracle replays the alarm itself,
    * not a pinned boolean), alarming when the batch exceeds the index
    * baseline by `alarmPerMille`. The default 10‰ is calibrated to the
    * geometry of NORMALIZED embeddings: per-dim bounds sit at ~3.3× the
    * per-dim RMS (extremes of the index distribution), so even a severe
    * direction drift saturates only the few dims it concentrates on —
    * measured: in-distribution batches diff ≤ 5‰, a 24-of-64 dimension
    * collapse diffs 25–30‰. Complements [[annArtifactDrift]]
    * (occupancy/fit drift of the coarse quantizer): range drift can
    * leave cell occupancy flat while the scalar quantizer saturates.
    * Cost: one bounded agg for the bounds + one map-only quantize pass
    * per side with a 64-value partial-agg fold — O(corpus + batch), no
    * shuffle beyond two single-row aggregates.
    */
  /** Corpus-size-derived IVF cell count — the [[autoPlanes]]/[[autoM]]
    * sizing policy for the `cells` knob, codifying the r13 clustered-10M
    * audit's finding that CELL COUNT, not the bounds trick, carries
    * recall recovery on cluster-structured data (16 cells → 63.6–68.5%,
    * 256 cells → 86.7% per-cell-SQ8 / 100% IVF+exact at 8 probes,
    * scanning ~3% of the corpus). Policy: hold cell OCCUPANCY roughly
    * constant — the next power of two covering
    * `ceil(corpusRows / rowsPerCell)`, clamped to `[minCells, maxCells]`.
    * The default 40k rows/cell makes 10M yield exactly the audited 256
    * while every fixture corpus (≤ 2k rows) keeps the pinned
    * [[IvfCells]] = 16 floor, so the existing oracles' literal cell
    * count stays valid at every driver SF. Power-of-two rounding keeps
    * the knob on a coarse grid — a retrain changes index geometry only
    * when the corpus has doubled, not on every daily count wiggle.
    * Monotone in corpusRows (`SimilaritySpec` pins it plus the
    * 10M → 256 answer).
    */
  def autoCells(corpusRows: Long, rowsPerCell: Long = 40000L,
                minCells: Int = IvfCells, maxCells: Int = 4096): Int = {
    require(corpusRows >= 0 && rowsPerCell > 0 && minCells > 0 &&
      maxCells >= minCells,
      "corpusRows non-negative, rowsPerCell/minCells positive, maxCells ≥ minCells")
    val want = (corpusRows + rowsPerCell - 1) / rowsPerCell
    var c = minCells
    while (c < want && c < maxCells) c <<= 1
    math.min(c, maxCells)
  }

  /** Measured regime probe for the ANN method router — the r13 dual-audit
    * rule ("uniform data wants few cells/many probes + strong codes;
    * clustered data wants cells ≈ clusters") turned into a one-row
    * decision artifact instead of prose. Trains the portable-seeded
    * coarse quantizer at [[autoCells]] and reads the MEAN FIT — cosine
    * between each vector and its assigned centroid, the
    * [[annArtifactDrift]] integer fit contract (Σ round(cos·10⁶),
    * truncating division to basis points): tight clusters fit their
    * centroid at ~9700+ bp (center 1.0, noise 0.15), while uniform
    * 64-dim corpora fit their nearest of even 256 centroids far below
    * the `fitClusteredBp` = 7000 line. Output:
    * `(n, cells_auto, fit_bp, regime)` — deterministic integer math, so
    * the whole probe (training included) replays as DuckDB CTEs.
    * Cost: the bounded Lloyd training + one map-only fit pass.
    */
  def annRegimeProbe(embeddings: DataFrame,
                     fitClusteredBp: Long = 7000): DataFrame =
    regimeProbeTrained(embeddings, fitClusteredBp)._1

  /** [[annRegimeProbe]] returning the trained coarse centroids alongside
    * the verdict row, so [[adaptiveAnnTopK]]'s clustered branch can
    * REUSE the probe's quantizer instead of re-training it (the r14
    * router's one stated double-cost, removed: at 10M the probe's Lloyd
    * train is ~2/3 of its 304 s). */
  private def regimeProbeTrained(embeddings: DataFrame, fitClusteredBp: Long)
      : (DataFrame, Seq[Seq[Double]]) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val prep = prepared(embeddings).localCheckpoint()
    val n = prep.filter(col("nrm") > 0).count()
    val cells = autoCells(n)
    val cents = kmeansCentroids(prep, cells, IvfKmeansIters,
      portableSeed = true)
    val cns = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val cv = element_at(typedlit(cents), (col("cell") + 1).cast("int"))
    val cn = element_at(typedlit(cns), (col("cell") + 1).cast("int"))
    val f = prep.filter(col("nrm") > 0)
      .withColumn("cell", element_at(ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), cents, 1), 1).cast("long"))
      .withColumn("fit6", ArrayOps.roundScaledLong(spark,
        ArrayOps.dotNative(spark, col("v"), cv) / (col("nrm") * cn),
        1000000L))
      .agg(sum(col("fit6"))).head().getLong(0)
    val fitBp = f / (n * 100L)
    (Seq((n, cells.toLong, fitBp,
      if (fitBp >= fitClusteredBp) "clustered" else "uniform"))
      .toDF("n", "cells_auto", "fit_bp", "regime"), cents)
  }

  /** Measure-then-choose ANN top-k — the regime router the r13 verdict
    * prescribed: run [[annRegimeProbe]] (bounded training + one fit
    * pass, a one-row scalar back to the driver) and route to the
    * audit's winning method per regime — per-cell-bounds IVF-SQ8 at
    * [[autoCells]] cells for CLUSTERED corpora (pruning is near-free
    * when cells resolve clusters; 86.7% hits@10 at 10M scanning ~3%),
    * the global-bounds SQ8 full scan for UNIFORM corpora (few probed
    * cells capture few neighbors there — 98.3% needs the full scan,
    * still at 8× memory compression). Like [[Sessions.adaptiveSessionAgg]]
    * the probe is EAGER (training executes at call time); unlike it the
    * two branches are different approximations, so the router's contract
    * is the REGIME RULE, not bit-equality across branches — on any fixed
    * corpus the route is deterministic (portable-seeded trainer), which
    * is what makes the routed result oracle-checkable at all.
    */
  def adaptiveAnnTopK(embeddings: DataFrame, numQueries: Int, k: Int,
                      fitClusteredBp: Long = 7000): DataFrame = {
    val (probeDf, cents) = regimeProbeTrained(embeddings, fitClusteredBp)
    val probe = probeDf.head()
    if (probe.getString(3) == "clustered")
      // the probe's quantizer IS the operator's quantizer (same corpus,
      // same portable seed, same iters) — thread it through rather than
      // re-running Lloyd over the whole corpus
      ivfSqCellTopK(embeddings, numQueries, k,
        cells = probe.getLong(1).toInt, trained = Some(cents))
    else sqTopK(embeddings, numQueries, k)
  }

  // ------------- per-cell SQ8 artifact family (frozen, incremental) ------

  /** Cell-assign a `(vec_id, v, nrm)` frame against frozen centroids and
    * normalize — the shared projection of every per-cell SQ path. */
  private def cellAssigned(prepIvf: DataFrame,
                           centroids: Seq[Seq[Double]]): DataFrame = {
    val spark = prepIvf.sparkSession
    prepIvf
      .withColumn("cell", element_at(ArrayOps.nearestCells(spark,
        col("v"), col("nrm"), centroids, 1), 1).cast("long"))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        ArrayOps.divScalarNative(spark, col("v"), col("nrm")).as("vn"),
        col("cell"))
  }

  /** Per-`(cell, dim)` min/max of a `(vec_id, vn, cell)` frame, WIDE
    * (`cell, mn0, mx0, …, mn63, mx63`) — one partial-aggregable
    * groupBy(cell) with 128 agg columns, never a posexplode grid (the
    * [[sqBounds]] shuffle-volume argument, per cell). ≤ cells rows. */
  private def sqCellBoundsWide(prepCell: DataFrame): DataFrame = {
    val aggs = (0 until SqDim).flatMap(d => Seq(
      min(element_at(col("vn"), d + 1)).as(s"mn$d"),
      max(element_at(col("vn"), d + 1)).as(s"mx$d")))
    prepCell.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
  }

  /** Encode a `(vec_id, vn, cell)` batch against a frozen wide bounds
    * table → `(vec_id, cell, c00..c63)`; a broadcast equi-join on cell +
    * one map-only quantize pass, the [[sqEncodeWithBounds]] spelling with
    * the bounds selected by each row's cell. INNER join: a row assigned
    * to a cell absent from the artifact has no representable range —
    * callers that must account for such rows (the drift gate) join left.
    */
  private def sqCellEncodeWithBounds(batch: DataFrame,
                                     bounds: DataFrame): DataFrame = {
    val codeCols = (0 until SqDim).map { d =>
      val iv = when(col(s"mx$d") > col(s"mn$d"),
        lit(SqLevels.toDouble) / (col(s"mx$d") - col(s"mn$d"))).otherwise(lit(0.0))
      greatest(lit(0L), least(lit(255L),
        floor((element_at(col("vn"), d + 1) - col(s"mn$d")) * iv + lit(0.5))))
        .as(f"c$d%02d")
    }
    batch.join(broadcast(bounds), "cell")
      .select(col("vec_id") +: col("cell") +: codeCols: _*)
  }

  /** The persisted per-cell SQ8 training artifact — per-`(cell, dim)`
    * bounds in long form `(cell, pos, mn, mx)` (pos 1-based), the
    * [[clusterArtifacts]] companion table: together they are everything
    * [[ivfSqCellTopK]]'s quantizer needs, `cells × 64` rows of four
    * scalars (16 cells → 1k rows ≈ 2 KB — the bounded thing a 100 TB
    * deployment persists and broadcasts). min/max are order-free and
    * exact, so the DuckDB oracle's GROUP BY (cell, dim) reproduces every
    * double bit-for-bit.
    */
  def sqCellArtifacts(embeddings: DataFrame, cells: Int = IvfCells,
                      iters: Int = IvfKmeansIters): DataFrame = {
    val prepIvf = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prepIvf, cells, iters, portableSeed = true)
    val b = col("b")
    sqCellBoundsWide(cellAssigned(prepIvf, centroids))
      .select(col("cell"), explode(array((0 until SqDim).map(d =>
        struct(lit(d + 1).cast("long").as("pos"),
          col(s"mn$d").as("mn"), col(s"mx$d").as("mx"))): _*)).as("b"))
      .select(col("cell"), b.getField("pos").as("pos"),
        b.getField("mn").as("mn"), b.getField("mx").as("mx"))
  }

  /** Frozen-artifact incremental encode for the per-cell SQ8 index — the
    * daily-run path the r13 verdict flagged as the family's one missing
    * member: the coarse quantizer AND the per-(cell, dim) bounds train
    * once over the stored corpus (first 4/5 of vec_ids playing the
    * persisted artifacts); the arriving batch is cell-assigned against
    * the frozen centroids and quantized against its cell's frozen bounds
    * in ONE map-only pass (a broadcast bounds join — no shuffle, no
    * training rescan). Out-of-range batch values clamp to the code range
    * by construction; a batch row whose nearest cell holds no trained
    * bounds (an unoccupied-in-training cell — itself drift evidence, see
    * [[sqCellBoundsDrift]]) is excluded by the artifact join. Output:
    * the batch's index rows `(vec_id, cell, c00..c63)`.
    */
  def ivfSqCellEncodeIncremental(embeddings: DataFrame,
                                 cells: Int = IvfCells,
                                 iters: Int = IvfKmeansIters): DataFrame = {
    val cut = embeddings.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val prepIvf = prepared(embeddings).localCheckpoint()
    val centroids = kmeansCentroids(prepIvf.filter(col("vec_id") < cut),
      cells, iters, portableSeed = true)
    val prepCell = cellAssigned(prepIvf, centroids).localCheckpoint()
    val bounds = sqCellBoundsWide(prepCell.filter(col("vec_id") < cut))
    sqCellEncodeWithBounds(prepCell.filter(col("vec_id") >= cut), bounds)
      .orderBy(col("vec_id"))
  }

  /** [[sqBoundsDrift]] extended to the PER-CELL bounds artifact: the
    * per-cell quantizer's saturation baseline is tighter (each cell's
    * step is sized to its local range), so range drift that global
    * bounds would absorb shows up here first. Readout contract is
    * identical — per-mille of saturated codes in the batch vs the
    * index's own rate under the SAME artifacts (frozen centroids + cell
    * bounds trained on the index), integer counts and integer division,
    * alarm at `batch − index > alarmPerMille`. A batch row whose nearest
    * cell has no trained bounds counts as FULLY saturated (all 64 codes)
    * — every value it holds is outside the artifact's representable
    * range, the strongest drift signal a single row can emit. Cost:
    * one bounded training pass + one map-only quantize-and-count pass
    * per side (broadcast joins only, no code table materialized).
    */
  def sqCellBoundsDrift(indexEmb: DataFrame, batch: DataFrame,
                        cells: Int = IvfCells, iters: Int = IvfKmeansIters,
                        alarmPerMille: Int = 10): DataFrame =
    sqCellBoundsDriftScenarios(indexEmb, Seq("" -> batch), cells, iters,
      alarmPerMille).drop("scenario")

  /** [[sqCellBoundsDrift]] over SEVERAL candidate batches against ONE
    * trained artifact set — the planted-scenario gate entries run an
    * unshifted control and a planted drift against the same index, and
    * the expensive shared work (the driver-side Lloyd training, the
    * index's cell assignment, its own saturation baseline) is identical
    * across scenarios: train and measure it once (r14 re-trained per
    * scenario; the two-scenario bench entry read 5.0 s → 3.7 s at
    * sf0.1). Emits one row per `(label, batch)` with a leading
    * `scenario` column, otherwise the [[sqCellBoundsDrift]] readout.
    */
  def sqCellBoundsDriftScenarios(indexEmb: DataFrame,
                                 batches: Seq[(String, DataFrame)],
                                 cells: Int = IvfCells,
                                 iters: Int = IvfKmeansIters,
                                 alarmPerMille: Int = 10): DataFrame = {
    require(batches.nonEmpty, "at least one scenario batch required")
    val prepIdx = prepared(indexEmb).localCheckpoint()
    val centroids = kmeansCentroids(prepIdx, cells, iters, portableSeed = true)
    val idxCell = cellAssigned(prepIdx, centroids).localCheckpoint()
    val bounds = sqCellBoundsWide(idxCell).localCheckpoint() // ≤ cells rows
    val satExpr = (0 until SqDim).map { d =>
      val iv = when(col(s"mx$d") > col(s"mn$d"),
        lit(SqLevels.toDouble) / (col(s"mx$d") - col(s"mn$d"))).otherwise(lit(0.0))
      val f = floor((element_at(col("vn"), d + 1) - col(s"mn$d")) * iv + lit(0.5))
      when(f <= 0L || f >= lit(SqLevels.toLong), 1L).otherwise(0L)
    }.reduce(_ + _)
    def side(pc: DataFrame, name: String): DataFrame =
      pc.join(broadcast(bounds), Seq("cell"), "left")
        .select(when(col("mn0").isNull, lit(SqDim.toLong))
          .otherwise(satExpr).as("sat"))
        .agg(sum(lit(SqDim.toLong)).as("n_codes"), sum(col("sat")).as("n_sat"))
        .select(lit(name).as("side"), col("n_codes"), col("n_sat"))
    val idxSide = side(idxCell, "index").localCheckpoint() // 1 row
    batches.map { case (label, batch) =>
      val batchCell = cellAssigned(prepared(batch), centroids)
      idxSide.unionAll(side(batchCell, "batch"))
        .agg(
          max(when(col("side") === "index", col("n_codes"))).as("n_codes_index"),
          max(when(col("side") === "index", col("n_sat"))).as("n_sat_index"),
          max(when(col("side") === "batch", col("n_codes"))).as("n_codes_batch"),
          max(when(col("side") === "batch", col("n_sat"))).as("n_sat_batch"))
        .select(col("n_codes_index"), col("n_codes_batch"),
          expr("n_sat_index * 1000 div n_codes_index").as("sat_pm_index"),
          expr("n_sat_batch * 1000 div n_codes_batch").as("sat_pm_batch"))
        .withColumn("retrain_needed",
          col("sat_pm_batch") - col("sat_pm_index") > alarmPerMille)
        .select(lit(label).as("scenario"), col("*"))
    }.reduce(_.unionAll(_))
  }

  def sqBoundsDrift(indexEmb: DataFrame, batch: DataFrame,
                    alarmPerMille: Int = 10): DataFrame =
    sqBoundsDriftScenarios(indexEmb, Seq("" -> batch), alarmPerMille)
      .drop("scenario")

  /** [[sqBoundsDrift]] over several candidate batches against one bounds
    * training — the [[sqCellBoundsDriftScenarios]] rationale applied to
    * the global-bounds gate: the bounds collect and the index's own
    * saturation baseline are scenario-independent, so compute them once.
    */
  def sqBoundsDriftScenarios(indexEmb: DataFrame,
                             batches: Seq[(String, DataFrame)],
                             alarmPerMille: Int = 10): DataFrame = {
    require(batches.nonEmpty, "at least one scenario batch required")
    val (mins, maxs) = sqTrainBounds(indexEmb)
    def side(emb: DataFrame, name: String): DataFrame =
      pqPrepared(emb).withColumn("codes", sqCodesCol(mins, maxs))
        .select(aggregate(col("codes"), lit(0L),
          (a, c) => a + when(c === 0L || c === 255L, 1L).otherwise(0L))
          .as("sat"))
        .agg(sum(lit(SqDim.toLong)).as("n_codes"), sum(col("sat")).as("n_sat"))
        .select(lit(name).as("side"), col("n_codes"), col("n_sat"))
    val idxSide = side(indexEmb, "index").localCheckpoint() // 1 row
    batches.map { case (label, batch) =>
      idxSide.unionAll(side(batch, "batch"))
        .agg(
        max(when(col("side") === "index", col("n_codes"))).as("n_codes_index"),
        max(when(col("side") === "index", col("n_sat"))).as("n_sat_index"),
        max(when(col("side") === "batch", col("n_codes"))).as("n_codes_batch"),
        max(when(col("side") === "batch", col("n_sat"))).as("n_sat_batch"))
      .select(col("n_codes_index"), col("n_codes_batch"),
        expr("n_sat_index * 1000 div n_codes_index").as("sat_pm_index"),
        expr("n_sat_batch * 1000 div n_codes_batch").as("sat_pm_batch"))
      .withColumn("retrain_needed",
        col("sat_pm_batch") - col("sat_pm_index") > alarmPerMille)
      .select(lit(label).as("scenario"), col("*"))
    }.reduce(_.unionAll(_))
  }
}
