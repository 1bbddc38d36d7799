package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents` (north-star extension —
  * the LLM-data-pipeline dedup family): MinHash+LSH, SimHash, and exact
  * n-gram Jaccard via an inverted index. No reference equivalent.
  *
  * Scale design (the point of these operators):
  *  - Candidate generation is NEVER O(n²). MinHash bands and SimHash
  *    chunks turn near-dup search into equi-joins on band/chunk keys —
  *    a hash shuffle whose fan-out is bounded by collision rate, the
  *    standard distributed LSH shape.
  *  - Signatures are computed row-local with builtin higher-order
  *    functions (`transform`/`array_min`/`xxhash64`) — whole-stage
  *    codegen, no UDFs, no explode until the band join needs it.
  *  - The exact-Jaccard verify joins the candidate set back to shingle
  *    sets with plain equi-joins — no explicit broadcast hints, because
  *    candidate volume is proportional to the corpus's duplicate rate;
  *    AQE picks a broadcast when a side is genuinely small.
  *  - All similarity thresholds/ratios are tested in exact integer math
  *    (`2*inter >= union` ⇔ Jaccard ≥ 0.5; basis points via
  *    `(inter*20000+u) div (2u)`) so the DuckDB oracle matches exactly.
  *
  * ANSI safety: Spark 4 runs with ANSI arithmetic (overflow throws), so
  * shingle hashes are reduced into [0, 1e9+7) before the affine minhash
  * step — `a*h + b` stays < 2^61.
  */
object NearDup {

  val ShingleSize = 3
  val NumHashes: Int = graft.functions.MinHashSignature.NumHashes
  val Bands = 32
  val RowsPerBand: Int = NumHashes / Bands
  /** Shingle-hash domain (fits 30 bits → a*h fits a long under ANSI). */
  val HashMod: Long = graft.functions.MinHashSignature.HashMod
  /** Minhash modulus (prime < 2^31). */
  val Prime: Long = graft.functions.MinHashSignature.Prime

  /** doc_id + distinct word-`ShingleSize`-gram set. Docs shorter than one
    * shingle are dropped (cannot near-dup match anyway).
    *
    * Uses the codegen'd [[graft.functions.WordShingles]] — the builtin
    * `array_distinct(transform(...concat_ws...))` route runs interpreted
    * lambda closures per element and was the hottest stage of every dedup
    * query (~4 s of the sf0.1 pipeline); semantics are identical.
    */
  def shingled(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        graft.functions.TextHashOps
          .shinglesNative(documents.sparkSession, col("text")).as("shingles"))
      .filter(size(col("shingles")) >= 1)

  /** doc_id + 128-long minhash signature (`sig` array column), via the
    * codegen'd [[graft.functions.MinHashSignature]] — a row-local primitive
    * loop, so signatures are a pure map stage: nothing shuffles until the
    * band self-join, and what shuffles is one 128-long row per doc.
    * (An earlier posting-explode + 128-`min`-aggregate formulation was
    * plan-shaped right but paid an avoidable shuffle of |shingles| rows
    * per doc plus 128-buffer hash-aggregate traffic.)
    */
  def minhashSignatures(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      graft.functions.TextHashOps
        .minhashNative(sh.sparkSession, col("shingles")).as("sig"))

  /** Candidate pairs from banded LSH: signature array → `Bands` band
    * keys (xxhash64 over each band's 4 minhashes) → self-equi-join on
    * (band_idx, band_key). With 32 bands × 4 rows the miss probability at
    * Jaccard 0.9 is (1-0.9⁴)³² ≈ 1.5e-15 — effectively exact for the ≥0.5
    * pairs this data contains (all planted dups are ≥0.9; nothing sits in
    * [0.1, 0.5)).
    */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"),
        posexplode(graft.functions.TextHashOps
          .bandKeysNative(sigs.sparkSession, col("sig"))))
      .select(col("doc_id"), col("pos").cast("int").as("band_idx"),
        col("col").as("band_key"))
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"))
      .distinct()
  }

  /** Exact-Jaccard verification of a candidate pair set against the
    * shingle sets; keeps pairs with Jaccard ≥ 1/2 (integer cross-multiply,
    * no FP) and reports basis points.
    *
    * No broadcast hint on the candidate side: its size is proportional to
    * the corpus's duplicate rate (LLM corpora commonly run 20-50%
    * near-dup), so a forced broadcast is an executor-OOM path at 100 TB.
    * A plain equi-join lets AQE broadcast it when it is genuinely small.
    */
  def verifyJaccard(cands: DataFrame, sh: DataFrame): DataFrame = {
    val si = sh.select(col("doc_id").as("doc_i"), col("shingles").as("s_i"))
    val sj = sh.select(col("doc_id").as("doc_j"), col("shingles").as("s_j"))
    si.join(cands, "doc_i")
      .join(sj, "doc_j")
      .withColumn("inter", size(array_intersect(col("s_i"), col("s_j"))).cast("long"))
      .withColumn("uni", size(col("s_i")).cast("long") + size(col("s_j")).cast("long") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_i"), col("doc_j"),
        expr("(inter * 20000 + uni) div (2 * uni)").as("jac_bp"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** MinHash+LSH near-dup pipeline: shingle → signature → banded
    * candidates → exact verify.
    *
    * The shingle sets and signatures feed multiple plan branches (both
    * sides of the band self-join, both sides of the verify join), so they
    * are persisted for the duration of the computation — the cluster
    * equivalent is materializing the signature table once per corpus
    * rather than recomputing it per LSH probe. The verified pair set is
    * tiny (bounded by the LSH collision rate), so it is eagerly
    * `localCheckpoint`ed, which lets the intermediates unpersist before
    * returning — callers get a self-contained result with no cached
    * partitions left behind.
    */
  def minhashNearDups(documents: DataFrame): DataFrame = {
    val sh = shingled(documents).persist()
    val sigs = minhashSignatures(sh).persist()
    try verifyJaccard(lshCandidates(sigs), sh).localCheckpoint()
    finally { sigs.unpersist(); sh.unpersist() }
  }

  /** Exact n-gram Jaccard near-dups via inverted index: explode shingles
    * into postings, self-join postings (pairs share ≥1 shingle), count
    * shared shingles per pair, then the same integer threshold test.
    *
    * Scale note: the posting self-join's fan-out is Σ df(s)² over shingle
    * doc-frequencies — fine while no shingle is hot; for web-scale corpora
    * drop ultra-frequent shingles first (stopword shingles carry no
    * near-dup signal). `maxDocFreq` does that; the oracle-checked queries
    * run with it off so DuckDB can replicate results exactly.
    */
  def jaccardNearDupsExact(documents: DataFrame, maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val sh = shingled(documents)
    // join on the 64-bit shingle hash, not the shingle text — the shuffle
    // carries 8-byte keys (collision odds over ~10⁶ shingles ≈ 1e-7).
    // Each posting carries its doc's set size so intersection counts and
    // union sizes come out of ONE join+aggregate (no dimension re-joins).
    val posting0 = sh
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n"),
        explode(col("shingles")).as("s"))
      .select(col("doc_id"), col("n"), xxhash64(col("s")).as("sh"))
    val posting =
      if (maxDocFreq == Long.MaxValue) posting0
      else {
        // consumed by the df aggregate AND the prune join — materialize
        // once, or the shingle stage (the hottest in every dedup query)
        // runs twice
        val p0 = posting0.localCheckpoint()
        // no broadcast hint: |keep| tracks the distinct-shingle count (i.e.
        // the corpus), so forcing a broadcast is an OOM at scale — AQE
        // broadcasts it automatically whenever it is actually small
        val keep = p0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select(col("sh"))
        // pruning redefines each doc's effective shingle SET, so `n` must
        // be recomputed as the KEPT posting count: with the pre-prune
        // size, every union is inflated by the pruned shingles and truly
        // similar pairs — exact duplicates included — silently drop below
        // the threshold
        val kept = p0.drop("n").join(keep, "sh")
        kept.join(
          kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n")), "doc_id")
      }
    // size-ratio prune: jac ≥ 1/2 needs |big| ≤ 2·|small| (jac ≤ min/max),
    // so mismatched-size pairs drop before the aggregate; keeps the oracle
    // result set bit-identical (boundary |big| = 2·|small| is retained)
    val pairs = posting.as("x").join(posting.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id") &&
          col("x.n") <= col("y.n") * 2 && col("y.n") <= col("x.n") * 2)
      .groupBy(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("inter"),
        max(col("x.n")).as("n_i"), max(col("y.n")).as("n_j"))
    pairs
      .withColumn("uni", col("n_i") + col("n_j") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_i"), col("doc_j"),
        expr("(inter * 20000 + uni) div (2 * uni)").as("jac_bp"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** Near-dup clusters: connected components over the near-dup pair
    * graph, labeling every involved doc with its component's minimum
    * doc_id (the canonical survivor a dedup pipeline keeps).
    *
    * Implementation: iterative min-label propagation — each round joins
    * labels across edges and keeps the per-node minimum; the driver loop
    * only counts label changes (a scalar), all data work is distributed
    * joins/aggregations. Rounds needed = graph diameter; near-dup
    * components are tiny cliques (diameter ~1-2), and `maxIters` bounds
    * pathological chains. At web scale the same loop is the standard
    * Hash-to-Min / large-star–small-star shape.
    *
    * Constant-factor discipline: the near-dup graph is a vanishing
    * fraction of the corpus (LSH collision rate bounds it), so every
    * per-round frame is coalesced to a single partition and eagerly
    * `localCheckpoint`ed — each round is a few one-task stages with
    * truncated lineage rather than dozens of `shuffle.partitions`-wide
    * shuffles over ~50 rows. At cluster scale the coalesce target scales
    * with |edges| (edges.count / rowsPerPartition); the loop shape is
    * unchanged.
    */
  def nearDupClusters(documents: DataFrame, maxIters: Int = 50): DataFrame =
    clustersFromPairs(
      minhashNearDups(documents).select(col("doc_i"), col("doc_j")), maxIters)

  /** Quality-aware canonicalization of the near-dup clusters: instead of
    * the arbitrary keep-lowest-id rule, keep the member a curation pipeline
    * actually wants — the longest version (whitespace token count), ties
    * broken by lowest id so the choice stays deterministic. Near-dup groups
    * in web corpora are typically a full page plus truncated/boilerplate
    * variants; min-id keeps whichever was crawled first, keep-best keeps
    * the most complete one.
    *
    * One row per clustered doc: `doc_id, cluster_id, n_tokens, keep_id,
    * kept`. The per-cluster argmax is a `first_value` window partitioned by
    * `cluster_id` — cluster frames are duplicate-group-sized (bounded by
    * the dedup threshold, not the corpus), so no single-reducer risk; the
    * token count rides the existing cluster join, no extra corpus pass.
    */
  def keepBestNearDups(documents: DataFrame, maxIters: Int = 50): DataFrame = {
    val members = nearDupClusters(documents, maxIters)
      .join(documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    members
      .withColumn("keep_id", first(col("doc_id")).over(w))
      .withColumn("kept", col("keep_id") === col("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_tokens"),
        col("keep_id"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Connected-component labeling over an already-verified near-dup pair
    * set — the label-table build an incremental pipeline runs against
    * yesterday's pair table without re-running candidate generation.
    */
  def clustersFromPairs(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val p = pairs.select(col("doc_i"), col("doc_j")).localCheckpoint()
    // scale-aware partitioning: a tiny near-dup graph collapses to one
    // task per round (stage round-trips dominate ~50-row frames); a
    // duplicate-heavy graph keeps ~100k edges per partition so the
    // propagation joins stay parallel. Measured on a 20%-dup 500k-doc
    // corpus (200k nodes): 16.0 s at coalesce(1) → parallel rounds here.
    // Capped at 64: the frames are candidate-bounded; a cluster
    // deployment raises the cap with its parallelism.
    val parts = math.max(1L, math.min(64L, p.count() * 2 / 100000L + 1L)).toInt
    val edges = p.union(p.select(col("doc_j").as("doc_i"), col("doc_i").as("doc_j")))
      .coalesce(parts).localCheckpoint()
    var labels = edges.select(col("doc_i").as("id")).distinct()
      .withColumn("label", col("id")).coalesce(parts).localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels, edges("doc_j") === labels("id"))
        .groupBy(col("doc_i").as("nid")).agg(min(col("label")).as("nlabel"))
      // the changed flag is computed IN the propagate pass (new < old is
      // exactly `nlabel < label` — labels only ever decrease), so the
      // per-round convergence probe is a scan of the just-checkpointed
      // blocks, not a second shuffle join of next against labels
      val next = labels.join(neighborMin, labels("id") === col("nid"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nlabel"), col("label")))
          .as("label"),
          (coalesce(col("nlabel"), col("label")) < col("label")).as("changed"))
        .coalesce(parts).localCheckpoint()
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    // a silent early exit would return WRONG labels for any component
    // whose diameter exceeds the round budget — fail loudly instead
    // (rounds are cheap label-frame joins; raise maxIters for
    // pathological chain graphs)
    require(converged,
      s"label propagation did not converge within $maxIters rounds — " +
        "the near-dup graph has a longer chain than the iteration budget")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Incremental near-dup admission — the operation an LLM data pipeline
    * actually runs daily: dedup a NEW batch of documents against a
    * persisted canonical index WITHOUT re-clustering the whole corpus.
    *
    * `indexDocs` plays yesterday's corpus. Its three index artifacts —
    * shingle sets, minhash signature table, cluster-label table — are
    * built here by the same operators that would have persisted them
    * (in production they are parquet tables written by the previous run;
    * the plan shape below never touches index TEXT, only signatures and
    * band keys, exactly what an on-disk signature index gives you).
    *
    * Correctness contract (oracle-checked as `dedup_incremental`):
    * incremental admission ≡ whole-corpus clustering of index ∪ batch
    * restricted to batch ids. That equivalence needs one invariant,
    * APPEND-ONLY MONOTONE IDS (every index id < every batch id — how
    * ingest ids work in practice): it makes "cluster canonical = min id"
    * incrementally maintainable, because any index component a batch doc
    * touches already carries that component's global minimum as its
    * stored label, and no batch doc can displace it.
    *
    * Mechanics: band-key equi-join of the batch's signatures against
    * index ∪ batch signatures (never all-pairs; the index side is the
    * precomputed band table at scale), exact-Jaccard verify of the
    * candidates, then connected components (union-find, minimum id as
    * root) over the quotient graph whose nodes are batch docs PLUS the
    * touched index COMPONENTS (each index neighbor collapses to its stored
    * component label). Component nodes must be graph nodes — not just
    * seed labels — because a single batch doc can BRIDGE two index
    * components, and the merged minimum has to reach every other batch
    * doc attached to either component, not only the bridge itself. The
    * quotient graph grows with the batch, never with the index.
    *
    * Output: every batch doc with its union-corpus `cluster_id` and
    * `admitted` (the doc IS its cluster's canonical representative).
    *
    * @param indexLabels yesterday's persisted label table
    *   `(doc_id, cluster_id)` — supply it to get the true incremental cost
    *   profile (O(batch) label work per run); when absent the labels are
    *   rebuilt from the index signatures, which is correct but O(index).
    *   Spec-pinned: both paths produce identical output.
    */
  def incrementalNearDups(indexDocs: DataFrame, batchDocs: DataFrame,
                          indexLabels: Option[DataFrame] = None): DataFrame = {
    // a violation would SILENTLY mis-admit batch docs and strand stale
    // index labels — fail loudly instead. The bound must come from the
    // index DOCS, not the sparse label table: singleton index docs are
    // absent from the table by convention, so a label-table bound skips
    // them entirely (an empty table — no duplicates yesterday — skips
    // the guard outright) and an interleaved-id batch duplicate of a
    // retained singleton is admitted as a second keeper. This function
    // shingles all of indexDocs anyway, so the id scan costs nothing
    // extra.
    requireMonotoneIds(indexDocs.select(col("doc_id")),
      batchDocs, "incrementalNearDups")
    val idxSh = shingled(indexDocs).persist()
    val bSh = shingled(batchDocs).persist()
    val idxSigs = minhashSignatures(idxSh).persist()
    try {
      // production: yesterday's label table (doc_id, cluster_id) read from
      // disk and passed as `indexLabels` — that is what makes the operator
      // O(batch), not O(index), per run. Absent one, it is rebuilt from the
      // SAME persisted index artifacts the candidate join uses (shingles +
      // signatures), not from raw text again. An index doc absent from the
      // label table is a singleton — its component label is itself.
      val idxLab = indexLabels
        .getOrElse(clustersFromPairs(verifyJaccard(lshCandidates(idxSigs), idxSh)))
      admitCore(idxSh, idxSigs, indexDocs.select(col("doc_id")), idxLab,
        bSh, batchDocs.select(col("doc_id")))._1
    } finally { idxSigs.unpersist(); bSh.unpersist(); idxSh.unpersist() }
  }

  /** Artifact-table variant of [[incrementalNearDups]] — the shape a
    * CONTINUOUS ingest pipeline runs: the index is not a document corpus
    * but the three persisted artifacts the previous runs wrote (shingle
    * sets, minhash signature table, sparse cluster-label table), so each
    * admission is O(batch) compute plus equi-joins against the artifact
    * tables; index TEXT is never re-read, never re-shingled.
    *
    * Returns `(admissions, updatedLabels)`:
    *  - `admissions` — every batch doc with its union-corpus `cluster_id`
    *    and `admitted`, identical to [[incrementalNearDups]] on the same
    *    split (oracle-checked as `dedup_incremental_indexed`).
    *  - `updatedLabels` — the label table to persist for the NEXT run:
    *    stored rows re-pointed through this batch's component merges (a
    *    batch doc can bridge two index components; every member of the
    *    losing component must re-label or later batches would admit
    *    against a stale minimum), plus this batch's non-canonical docs.
    *    The table is SPARSE — a doc absent from it is its own canonical
    *    (singletons and cluster minima), which keeps it proportional to
    *    the duplicate count, not the corpus. Rows are canonicalized by
    *    `min(cluster_id)` per doc, so labels only ever decrease and a
    *    twice-applied update (replayed micro-batch) is idempotent.
    *    Production MERGEs the delta into a transactional table; the
    *    snapshot returned here is the equivalent full state.
    *
    * The monotone-id guard bounds by the shingle artifact's ids (covering
    * every doc that can collide) — a column-pruned scan answered largely
    * from parquet footer stats, never a text read.
    */
  def incrementalNearDupsIndexed(indexShingles: DataFrame, indexSigs: DataFrame,
                                 indexLabels: DataFrame, batchDocs: DataFrame,
                                 batchShingles: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    requireMonotoneIds(indexShingles.select(col("doc_id")), batchDocs,
      "incrementalNearDupsIndexed")
    // a caller that also APPENDS the batch shingles to its artifact store
    // (the streaming loop) passes them in already-cached so the hottest
    // stage isn't computed twice; a supplied frame's caching is the
    // caller's to manage
    val owned = batchShingles.isEmpty
    val bSh = batchShingles.getOrElse(shingled(batchDocs).persist())
    try {
      val (admissions, quotient) = admitCore(indexShingles, indexSigs,
        indexShingles.select(col("doc_id")), indexLabels,
        bSh, batchDocs.select(col("doc_id")))
      (admissions, repointLabels(quotient, indexLabels))
    } finally if (owned) bSh.unpersist()
  }

  /** Label-store maintenance shared by the indexed incremental operators:
    * re-point stored labels through this batch's merges (old component
    * label -> merged minimum), then add the batch's non-canonical rows
    * and the losing-component nodes themselves (their id WAS a stored
    * minimum; it now labels to the merged one). The result keeps the
    * sparse-store invariant: a doc whose label IS its id is absent by
    * convention — a supplied NON-sparse label table (e.g. raw
    * nearDupClusters output, which carries canonical self-rows) must not
    * leak self-rows into the persisted store forever. Canonicalized by
    * `min(cluster_id)` per doc, so labels only ever decrease and a
    * twice-applied update (replayed micro-batch) is idempotent.
    */
  private[operators] def repointLabels(quotient: DataFrame,
                                       indexLabels: DataFrame): DataFrame = {
    val qmap = quotient.select(col("id").as("old_label"), col("label").as("new_label"))
    val oldRelabeled = indexLabels.as("l")
      .join(qmap, col("l.cluster_id") === col("old_label"), "left")
      .select(col("l.doc_id"),
        coalesce(col("new_label"), col("l.cluster_id")).as("cluster_id"))
    val newRows = quotient.filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    oldRelabeled.union(newRows)
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
      .filter(col("doc_id") =!= col("cluster_id"))
      .localCheckpoint()
  }

  /** Shared admission core over prepared index artifacts. Returns the
    * batch admissions and the full converged quotient-graph label frame
    * (batch docs + touched index component nodes) for label-store
    * maintenance. Both frames are localCheckpointed (self-contained).
    */
  private def admitCore(idxSh: DataFrame, idxSigs: DataFrame,
                        idxIdFrame: DataFrame, idxLabels: DataFrame,
                        bSh: DataFrame, batchIds: DataFrame): (DataFrame, DataFrame) = {
    def bandsOf(sigs: DataFrame): DataFrame = sigs
      .select(col("doc_id"),
        posexplode(graft.functions.TextHashOps
          .bandKeysNative(sigs.sparkSession, col("sig"))))
      .select(col("doc_id"), col("pos").cast("int").as("band_idx"),
        col("col").as("band_key"))
    // consumed twice (allBands union + the candidate probe side), and the
    // signature+band computation above the persisted shingles is not free
    // — materialize once; the frame is batch-proportional (32 rows/doc)
    val bBands = bandsOf(minhashSignatures(bSh)).localCheckpoint()
    val allBands = bandsOf(idxSigs).union(bBands)
    // candidate adjacency: batch doc -> any colliding doc (both
    // orientations for batch-batch pairs, as admitFromEdges expects)
    val cands = bBands.as("x").join(allBands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_b"), col("y.doc_id").as("doc_o"))
      .distinct()
    // exact verify (same integer cross-multiply as verifyJaccard)
    val sb = bSh.select(col("doc_id").as("doc_b"), col("shingles").as("s_b"))
    val so = idxSh.union(bSh)
      .select(col("doc_id").as("doc_o"), col("shingles").as("s_o"))
    val edges = cands.join(sb, "doc_b").join(so, "doc_o")
      .withColumn("inter", size(array_intersect(col("s_b"), col("s_o"))).cast("long"))
      .withColumn("uni",
        size(col("s_b")).cast("long") + size(col("s_o")).cast("long") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_b"), col("doc_o"))
      .localCheckpoint()
    admitFromEdges(edges, idxIdFrame, idxLabels, batchIds)
  }

  /** Quotient-graph admission over a VERIFIED edge set `(doc_b, doc_o)` —
    * the labeling stage shared by the shingle/minhash candidates
    * ([[admitCore]]) and the embedding-LSH candidates
    * ([[graft.operators.Similarity.semanticDedupIncremental]]). `edges`
    * must be localCheckpointed (both quotient arms re-read it) and contain
    * batch→neighbor adjacency with batch-batch pairs in both
    * orientations. Returns (admissions, quotient labels), both local
    * frames.
    *
    * Labels are one union-find pass on the driver over the collected
    * quotient graph, each root the smaller id, so every node labels to
    * its component minimum whatever the graph's diameter. The collect
    * holds one row per batch doc, per batch-batch edge orientation and
    * per distinct (batch doc, touched index component) pair: it grows
    * with the batch and its near-duplicates, never with the index.
    */
  private[graft] def admitFromEdges(edges: DataFrame, idxIdFrame: DataFrame,
                                    idxLabels: DataFrame,
                                    batchIds: DataFrame): (DataFrame, DataFrame) = {
    val idxIds = idxIdFrame.select(col(idxIdFrame.columns.head).as("doc_o"))
    val idxLab = idxLabels.select(col("doc_id").as("doc_o"), col("cluster_id"))
    // quotient-graph edges: batch-batch pairs as-is; batch-index pairs
    // collapse the index side to its COMPONENT id (stored label), so a
    // bridging batch doc merges two index components for every other
    // attached batch doc. Batch ids ride along as self-edges (no verified
    // edge is a self-pair), so isolated batch docs are nodes too — one
    // collect for the whole graph.
    val bcEdges = edges.join(idxIds, "doc_o")
      .join(idxLab, Seq("doc_o"), "left")
      .select(col("doc_b"), coalesce(col("cluster_id"), col("doc_o")).as("doc_o"))
      .distinct() // one row per touched component, not per index neighbor
    val bEdges = edges.join(batchIds.select(col("doc_id").as("doc_o")), "doc_o")
      .select(col("doc_b"), col("doc_o"))
    val batchNodes = batchIds.select(col("doc_id").as("doc_b"), col("doc_id").as("doc_o"))
    val graph = batchNodes.union(bEdges).union(bcEdges).collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { // iterative, with path compression
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    graph.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val batch = graph.collect { case r if r.getLong(0) == r.getLong(1) => r.getLong(0) }
    val spark = edges.sparkSession
    import spark.implicits._
    val labels = parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "label")
    val admissions = batch.sorted.toSeq.map { id =>
      val l = find(id); (id, l, l == id)
    }.toDF("doc_id", "cluster_id", "admitted")
    (admissions, labels)
  }

  /** Fail loudly when the append-only monotone-ids invariant (every index
    * doc_id < every batch doc_id) does not hold — it is load-bearing for
    * every incremental dedup operator: 'canonical = min id' is only
    * incrementally maintainable when no batch id can undercut a stored
    * index minimum (otherwise admission flags flip and on-disk labels go
    * stale without any error). `indexIds` is the id column of whatever
    * index artifact the caller's path actually reads — the raw corpus when
    * rebuilding, the persisted label/key table when one is supplied — so
    * the guard's cost stays within that path's documented profile (it
    * never forces a corpus scan in the O(batch) path; ids of index docs
    * absent from a supplied artifact are singletons with no stored state
    * to go stale). Two scalar aggregates; null bounds (either side empty)
    * are the cold-start / empty-batch cases, trivially consistent.
    */
  private[operators] def requireMonotoneIds(indexIds: DataFrame,
                                            batchDocs: DataFrame,
                                            op: String): Unit = {
    // cast to long so Integer-typed id columns don't ClassCastException in
    // the getLong extraction below (the invariant error must stay reachable)
    val idCol = col(indexIds.columns.head).cast("long")
    val idBounds = indexIds.agg(max(idCol)).head()
    val batchBounds = batchDocs.agg(min(col("doc_id").cast("long"))).head()
    if (!idBounds.isNullAt(0) && !batchBounds.isNullAt(0))
      require(idBounds.getLong(0) < batchBounds.getLong(0),
        s"$op requires append-only monotone ids " +
          s"(every index doc_id < every batch doc_id); got index max " +
          s"${idBounds.getLong(0)} >= batch min ${batchBounds.getLong(0)} — " +
          "'canonical = min id' is not incrementally maintainable " +
          "under id interleaving; re-run over the whole union instead")
  }

  /** 64-bit SimHash near-dups. Signature: per token-hash bit b, sum ±1
    * over tokens; bit set iff the sum is positive. Candidates via the
    * pigeonhole chunking trick — hamming(a,b) ≤ 3 ⇒ at least one of 4
    * 16-bit chunks equal — then verified with `bit_count(a^b)`, so the
    * operator is EXACT for hamming ≤ 3 despite never comparing all pairs.
    * (xxhash64 is Spark-specific, so this kernel has no DuckDB replica;
    * it is the spec-pinned PERF twin — NearDupSpec pins its bit-level
    * behavior — while the declared `dedup_simhash` query runs the fully
    * oracle-checked [[simhashNearDupsPortable]] kernel.)
    */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    // signature is a row-local map pass (codegen'd SimHash64, identical
    // to the former explode + 64-sum-aggregate bit counting — parity
    // spec-pinned); nothing shuffles until the chunk self-join
    val sigs = documents.select(col("doc_id"),
      graft.functions.TextHashOps
        .simhashNative(documents.sparkSession, col("text")).as("sig"))
    val chunked = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk_idx"),
          shiftrightunsigned(col("sig"), 16 * c).bitwiseAND(lit(0xFFFFL))
            .as("chunk_key"))): _*)).as("ch"))
      .select(col("doc_id"), col("sig"),
        col("ch.chunk_idx").as("chunk_idx"), col("ch.chunk_key").as("chunk_key"))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk_key") === col("y.chunk_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"),
        col("x.sig").as("sig_i"), col("y.sig").as("sig_j"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_i").bitwiseXOR(col("sig_j"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_i"), col("doc_j"), col("hamming"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** Engine-portable SimHash (the DEFAULT declared kernel): 60-bit
    * signatures from md5-derived token hashes — md5 is identical in every
    * engine, so unlike the xxhash64 kernel this variant has a full DuckDB
    * oracle at both declared radii (`dedup_simhash` at hamming ≤ 2,
    * `dedup_simhash_md5` at ≤ 3). Same pigeonhole guarantee with 4×15-bit
    * chunks: hamming ≤ 3 ⇒ some chunk equal (so any radius ≤ 3 is exact).
    *
    * Shape: the signature is ONE hash aggregation (60 conditional sums +
    * final bit-pack, map-side combined — not a 60× row explode); candidate
    * generation and verify are identical to the kernel variant. The md5 +
    * `conv` per token is the portability tax — the xxhash64 kernel stays
    * the production/bench path.
    */
  def simhashNearDupsPortable(documents: DataFrame,
                              maxHamming: Int = 3): DataFrame = {
    val Bits = 60
    val tokens = documents.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)").as("h"))
    val bitSums = (0 until Bits).map(b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$b"))
    val sigs = tokens.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until Bits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
    val chunked = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk_idx"),
          shiftrightunsigned(col("sig"), 15 * c).bitwiseAND(lit(0x7FFFL))
            .as("chunk_key"))): _*)).as("ch"))
      .select(col("doc_id"), col("sig"),
        col("ch.chunk_idx").as("chunk_idx"), col("ch.chunk_key").as("chunk_key"))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk_key") === col("y.chunk_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"),
        col("x.sig").as("sig_i"), col("y.sig").as("sig_j"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_i").bitwiseXOR(col("sig_j"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_i"), col("doc_j"), col("hamming"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** Containment near-dups: pairs where the smaller doc's shingle set is
    * mostly inside the larger's — `|S_a ∩ S_b| / |S_a| ≥ threshold` with
    * `a` the smaller set (ties → lower doc_id). This is the doc-IN-doc
    * detector (quoted articles, boilerplate wrappers, page-in-site):
    * Jaccard misses these pairs precisely when the size ratio is large,
    * because the big doc inflates the union.
    *
    * Same scalable shape as [[jaccardNearDupsExact]]: one posting-list
    * equi-join on the 64-bit shingle hash, one aggregate — but NO
    * size-ratio prune, since containment is exactly the metric that must
    * survive mismatched sizes. `thresholdBp` is basis points (8000 =
    * 0.80); the decision `inter · 10000 ≥ t · n_inner` and the reported
    * `cont_bp` (half-up) are integer-exact for the oracle.
    */
  /** Edit-distance near-dups: candidate pairs sharing a 24-char head OR
    * tail anchor, verified with exact Levenshtein at a RELATIVE
    * threshold (`edit_dist · 100 ≤ maxRelPct · max_len`). This is the
    * character-level verifier the token-set metrics can't replace —
    * transposed words, hyphenation, OCR-noise variants all move shingle
    * sets far while staying a few edits apart.
    *
    * Scale shape: the anchor join is a plain equi-join on fixed-width
    * keys (two postings per doc — constant fan-out, unlike shingle
    * postings), so candidates are band-bounded and the O(len²)
    * Levenshtein kernel (codegen'd builtin) runs per candidate, never
    * per cross pair. Recall contract, stated honestly: a true near-dup
    * whose edits touch BOTH the first and last 24 chars is invisible to
    * the anchors — that regime belongs to [[jaccardNearDupsExact]] /
    * [[minhashNearDups]]; this operator is the precise verifier for the
    * head-or-tail-stable case (the overwhelmingly common one for
    * boilerplate/OCR variants).
    */
  def editDistanceNearDups(documents: DataFrame,
                           maxRelPct: Int = 10): DataFrame = {
    val d = documents.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
    val keys = d.select(col("doc_id"),
        concat(lit("h"), substring(col("text"), 1, 24)).as("k"))
      .unionByName(d.select(col("doc_id"),
        concat(lit("t"), expr("substr(text, greatest(1, n - 23), 24)")).as("k")))
    val cand = keys.as("a").join(keys.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .distinct()
    cand
      .join(d.select(col("doc_id").as("doc_i"), col("text").as("t_i")), "doc_i")
      .join(d.select(col("doc_id").as("doc_j"), col("text").as("t_j")), "doc_j")
      .select(col("doc_i"), col("doc_j"),
        levenshtein(col("t_i"), col("t_j")).cast("long").as("edit_dist"),
        greatest(length(col("t_i")), length(col("t_j"))).cast("long")
          .as("max_len"))
      .filter(col("edit_dist") * 100 <= col("max_len") * maxRelPct)
      .orderBy(col("doc_i"), col("doc_j"))
  }

  def containmentNearDups(documents: DataFrame,
                          thresholdBp: Long = 8000L): DataFrame = {
    val posting = shingled(documents)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n"),
        explode(col("shingles")).as("s"))
      .select(col("doc_id"), col("n"), xxhash64(col("s")).as("sh"))
    posting.as("x").join(posting.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("inter"),
        max(col("x.n")).as("n_i"), max(col("y.n")).as("n_j"))
      .select(
        when(col("n_j") < col("n_i"), col("doc_j")).otherwise(col("doc_i"))
          .as("doc_inner"),
        when(col("n_j") < col("n_i"), col("doc_i")).otherwise(col("doc_j"))
          .as("doc_outer"),
        col("inter"), least(col("n_i"), col("n_j")).as("n_inner"))
      .filter(col("inter") * 10000 >= col("n_inner") * thresholdBp)
      .select(col("doc_inner"), col("doc_outer"), col("inter"), col("n_inner"),
        expr("(inter * 20000 + n_inner) div (2 * n_inner)").as("cont_bp"))
      .orderBy(col("doc_inner"), col("doc_outer"))
  }
}
