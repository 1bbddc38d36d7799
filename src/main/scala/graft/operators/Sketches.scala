package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch aggregates (north-star extension): the mergeable, constant-size
  * summaries that replace exact aggregation at 100 TB — HyperLogLog++
  * cardinality (`approx_count_distinct`) and quantile sketches
  * (`approx_percentile`). Both are builtin, partial-aggregating, and
  * shuffle O(sketch) bytes per group instead of O(distinct values) —
  * the entire point at scale, where exact `count(DISTINCT ...)` is a
  * full re-shuffle of the key universe.
  *
  * Correctness gate: sketches are approximate by design, so (like the ANN
  * recall floor) the oracle-checkable query emits exact values alongside
  * BOUND CHECKS — deterministic booleans with wide margin over the
  * measured error (HLL rsd 1% config measures ≤0.67% on this data,
  * gated at 3%; approx-median measures ≤0.25 absolute, gated at 1.0).
  */
object Sketches {

  def sketchAccuracy(events: DataFrame): DataFrame = {
    val typed = events.filter(col("event_type").isNotNull)
    // exact distinct SEPARATE from the sketch aggregates: mixing
    // count_distinct with object-buffer aggregates (Percentile) makes the
    // planner rewrite through Expand (rows ×2) into one sort-based
    // ObjectHashAggregate — 6× the cost of these two small aggregations
    // joined on the (tiny) group key
    val exact = typed.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_users_exact"))
    val sketches = typed.groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("hll"),
        expr("approx_percentile(value, 0.5, 10000)").as("p50a"),
        expr("percentile(value, 0.5)").as("p50e"))
    exact.join(sketches, "event_type")
      .select(col("event_type"), col("n_users_exact"),
        (abs(col("hll") - col("n_users_exact")) * 100
          <= col("n_users_exact") * 3).as("hll_within_3pct"),
        (abs(col("p50a") - col("p50e")) <= 1.0).as("p50_within_1"))
      .orderBy(col("event_type"))
  }

  /** Key-skew diagnostic for a shuffle key: the distribution of per-key
    * row counts, reduced to the numbers that decide a partitioning
    * strategy — key cardinality, the heaviest key's share, and the
    * max/mean ratio ("skew ratio": 1.0 = perfectly uniform; the salting
    * threshold [[graft.operators.Relational.saltedUserTotals]] exists
    * for). This is the measurement step of the skew playbook: run the
    * profile, and only reach for salting / AQE skew hints when
    * `needs_salting` fires — salting uniform keys just doubles the
    * shuffle for nothing.
    *
    * Two aggregations by construction (per-key counts, then one global
    * rollup over O(distinct keys) rows — the second input is vastly
    * smaller), both partial-aggregated. Quantiles over per-key counts use
    * exact interpolated `percentile` (DuckDB `quantile_cont` parity,
    * proven by `q_value_percentiles`); at 100 TB the same query swaps in
    * `approx_percentile` with the [[sketchAccuracy]]-style bound gate.
    * Integer inputs to every float division keep the oracle exact.
    */
  def skewProfile(events: DataFrame, saltAbove: Double = 4.0): DataFrame = {
    val counts = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    counts.agg(
      count(lit(1)).as("n_keys"),
      // empty-stream contract: zeros and a quiet trigger, not null poison
      coalesce(sum(col("n")), lit(0L)).as("n_rows"),
      coalesce(max(col("n")), lit(0L)).as("max_key_rows"),
      coalesce(round(expr("percentile(n, 0.5)") * 100, 0) / 100.0, lit(0.0))
        .as("p50_key_rows"),
      coalesce(round(expr("percentile(n, 0.99)") * 100, 0) / 100.0, lit(0.0))
        .as("p99_key_rows"))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        col("p50_key_rows"), col("p99_key_rows"),
        // cast before multiplying: bigint max_key_rows × n_keys overflows
        // 64 bits at real key cardinalities; the ratio itself is small
        // when-guard, not coalesce: under ANSI mode a literal 0 divisor
        // throws rather than yielding null
        when(col("n_rows") > 0,
          round(col("max_key_rows").cast("double") * col("n_keys")
            / col("n_rows") * 10000, 0) / 10000.0)
          .otherwise(0.0).as("skew_ratio"),
        (col("max_key_rows").cast("double") * col("n_keys")
          > col("n_rows") * saltAbove).as("needs_salting"))
  }

  private def sourceTokens(documents: DataFrame): DataFrame =
    documents.filter(col("source").isNotNull && col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))

  /** Per-source vocabulary sketch ARTIFACTS: one DataSketches-HLL binary
    * per source over its distinct tokens (`hll_sketch_agg`). This is the
    * persistable half of the incremental-cardinality pattern: at 100 TB
    * you sketch each arriving shard once, store the ~KB binaries, and
    * answer "how many distinct tokens, globally or per source?" forever
    * after by MERGING artifacts ([[vocabSketchUpdate]]) — never by
    * rescanning the corpus. HLL union at equal lgK is register-wise max,
    * so merge order and batching cannot change the estimate
    * (`SketchesSpec` pins update(state(A), B) ≡ state(A ∪ B) exactly).
    */
  def vocabSketchState(documents: DataFrame): DataFrame =
    sourceTokens(documents).groupBy(col("source"))
      .agg(hll_sketch_agg(col("tok")).as("sketch"))

  /** Fold a new document batch into a stored sketch-artifact table:
    * sketch ONLY the batch, then `hll_union_agg` per source. O(batch) scan
    * + O(sources) merge — the corpus the state summarizes is never read.
    */
  def vocabSketchUpdate(state: DataFrame, newDocs: DataFrame): DataFrame =
    state.unionByName(vocabSketchState(newDocs))
      .groupBy(col("source")).agg(hll_union_agg(col("sketch")).as("sketch"))

  /** Readout of a sketch-artifact table: estimated distinct tokens per
    * source plus a `TOTAL` row from the union of ALL per-source sketches —
    * the global answer computed purely from artifacts.
    */
  def vocabSketchEstimates(state: DataFrame): DataFrame =
    state.select(col("source"),
      hll_sketch_estimate(col("sketch")).as("est_tokens"))
      .unionByName(state.agg(
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_tokens"))
        .select(lit("TOTAL").as("source"), col("est_tokens")))
      // the global agg emits one row even over an EMPTY artifact table
      // (empty union → estimate 0) — an empty state reads as an empty
      // readout, not a phantom zero TOTAL. A real per-source sketch always
      // estimates ≥ 1 (every doc contributes at least the "" token), so
      // the filter can only ever drop the empty-state artifact row.
      .filter(col("est_tokens") > 0)
      .orderBy(col("source"))

  /** Oracle-checkable gate over the sketch pipeline (same shape as
    * [[sketchAccuracy]]): exact distinct-token counts per source and
    * globally, alongside booleans asserting every sketch estimate lands
    * within `boundPct`% of exact. Default lgK=12 measures ≲2% rsd; gated
    * at 5% for margin. One `rollup` aggregation produces the per-source
    * rows AND the grand-total row — no join, and the total's sketch is
    * assembled by merging partial per-partition sketches, the same union
    * machinery [[vocabSketchUpdate]] runs across batches (whose
    * batch-vs-whole equivalence `SketchesSpec` pins exactly). The exact
    * side is the expensive distinct re-shuffle the sketches exist to
    * avoid; it appears here only because a correctness gate needs ground
    * truth. `sourceTokens` pre-filters null sources, so the rollup's
    * null grouping row is unambiguously the grand total.
    */
  def vocabCardinalitySketch(documents: DataFrame, boundPct: Int = 5): DataFrame =
    sourceTokens(documents)
      .rollup(col("source"))
      .agg(count_distinct(col("tok")).as("n_tokens_exact"),
        hll_sketch_estimate(hll_sketch_agg(col("tok"))).as("est"))
      .select(coalesce(col("source"), lit("TOTAL")).as("source"),
        col("n_tokens_exact"),
        (abs(col("est") - col("n_tokens_exact")) * 100
          <= col("n_tokens_exact") * boundPct).as("within_bound"))
      // empty corpus: no tokens, no checks (guards against a phantom
      // grand-total row should the rollup emit one over empty input)
      .filter(col("n_tokens_exact") > 0)
      .orderBy(col("source"))

  /** The cardinality gate evaluated against a CALLER-SUPPLIED sketch
    * artifact table: exact distinct counts from the raw corpus joined to
    * the artifact readout ([[vocabSketchEstimates]], incl. the merged
    * TOTAL). HLL union is register-wise max, so a correctly-maintained
    * artifact is bit-identical to the one-shot build and the gate shares
    * `vocab_cardinality_sketch`'s oracle.
    */
  def vocabCardinalityFrom(state: DataFrame, documents: DataFrame,
                           boundPct: Int = 5): DataFrame = {
    val exact = sourceTokens(documents)
      .rollup(col("source"))
      .agg(count_distinct(col("tok")).as("n_tokens_exact"))
      .select(coalesce(col("source"), lit("TOTAL")).as("source"),
        col("n_tokens_exact"))
    exact.join(vocabSketchEstimates(state), "source")
      .select(col("source"), col("n_tokens_exact"),
        (abs(col("est_tokens") - col("n_tokens_exact")) * 100
          <= col("n_tokens_exact") * boundPct).as("within_bound"))
      .filter(col("n_tokens_exact") > 0)
      .orderBy(col("source"))
  }

  /** Per-source heavy-hitter ARTIFACTS: one ≤`k`-entry Misra–Gries
    * token-frequency summary per source ([[graft.functions.MisraGries]]).
    * The frequent-items sibling of [[vocabSketchState]]: build once per
    * arriving shard, store the tiny maps, answer "which tokens dominate
    * this source?" from artifacts via [[heavyHitterUpdate]] merges —
    * never by re-counting the corpus. Partial aggregation ships one
    * ≤`k`-entry map per map task per source; the token universe never
    * shuffles.
    */
  def heavyHitterState(documents: DataFrame, k: Int = 64): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    sourceTokens(documents).groupBy(col("source"))
      .agg(mg(col("tok")).as("s"))
      .select(col("source"), col("s.m").as("summary"))
  }

  /** Fold a new batch into stored heavy-hitter artifacts: sketch ONLY the
    * batch, union counters per (source, token), then apply the mergeable-
    * summaries prune in DataFrame form — subtract the (k+1)-th largest
    * counter from every counter of an oversized source and drop ≤ 0
    * (value-based, so tie order cannot change the result; the exact rule
    * [[graft.functions.MisraGries.merge]] applies internally). O(batch)
    * scan + O(sources · k) merge rows.
    */
  def heavyHitterUpdate(state: DataFrame, newDocs: DataFrame,
                        k: Int = 64): DataFrame = {
    val expand = (df: DataFrame) => df.select(col("source"),
      explode(col("summary")).as(Seq("tok", "cnt")))
    val merged = expand(state).unionByName(expand(heavyHitterState(newDocs, k)))
      .groupBy(col("source"), col("tok")).agg(sum(col("cnt")).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("tok"))
    merged.withColumn("rk", row_number().over(w))
      .withColumn("threshold",
        coalesce(max(when(col("rk") === k + 1, col("cnt")))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))), lit(0L)))
      .withColumn("kept", col("cnt") - col("threshold"))
      .filter(col("kept") > 0)
      .groupBy(col("source"))
      .agg(map_from_entries(
        collect_list(struct(col("tok"), col("kept").as("cnt"))))
        .as("summary"))
  }

  /** HDR-style histogram bin for non-negative integer cents: bin 0 holds
    * `cents ≤ 0`; otherwise `e·128 + mantissa7 + 1` where `e = ⌊log2 c⌋`
    * and `mantissa7` is the 7 bits below the leading bit — i.e. 128
    * log-spaced sub-buckets per octave, relative width ≤ 2⁻⁷ < 1%.
    * `⌊log2⌋` is computed as `length(bin(c)) − 1` — pure integer/string
    * ops that Spark and DuckDB define identically, with none of the
    * boundary risk of a floating `log2` at exact powers of two.
    */
  private def hdrBin(cents: Column): Column = {
    // built entirely from the parameter (call_function takes Column shift
    // amounts where functions.shiftright only takes Int), so callers need
    // no magic `cents`/`e` columns in scope
    val e = (length(bin(cents)) - 1).cast("long")
    val lead = call_function("shiftleft", lit(1L), e.cast("int"))
    val mantissa7 = call_function("shiftright", cents - lead,
      greatest(e - 7, lit(0L)).cast("int"))
    when(cents <= 0, lit(0L)).otherwise(e * 128 + mantissa7 + 1)
  }

  /** Per-type value-distribution histogram ARTIFACTS: (event_type,
    * bin_id, count) rows under the [[hdrBin]] log-spaced binning — the
    * QUANTILE member of the mergeable-artifact family beside HLL
    * (cardinality) and Misra–Gries (frequency). Unlike those two this
    * summary is fully DETERMINISTIC (counts are exact, bins are fixed),
    * so artifacts, merges, and quantile readouts are all bit-exact
    * across engines and partitionings; the approximation is confined to
    * the known ≤ 2⁻⁷ relative bin width. Merge = vector add
    * ([[valueHistUpdate]]), readout touches only O(types · bins) rows.
    */
  def valueHistState(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .withColumn("bin_id", hdrBin(col("cents")))
      .groupBy(col("event_type"), col("bin_id"))
      .agg(count(lit(1)).as("cnt"))

  /** Fold a new event batch into stored histogram artifacts: histogram
    * ONLY the batch, then per-(type, bin) sum — O(batch) scan +
    * O(types · bins) merge, the corpus the state summarizes never
    * rescans. Exactly associative (integer vector add), so any merge
    * tree lands on the same artifact.
    */
  def valueHistUpdate(state: DataFrame, newEvents: DataFrame): DataFrame =
    state.unionByName(valueHistState(newEvents))
      .groupBy(col("event_type"), col("bin_id"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile readout from a histogram artifact table: for each
    * percentile `q` the LOWER BOUND of the first bin whose cumulative
    * count reaches rank `⌈q·n/100⌉` — the discrete quantile's bin, so
    * the true q-th value lies in `[est_cents, est_cents + width_cents)`
    * by construction. All-integer rank walk over O(types · bins) rows.
    */
  def valueHistQuantiles(state: DataFrame,
                         qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    val cum = state
      .withColumn("cum", sum(col("cnt")).over(byType.orderBy(col("bin_id"))))
      .withColumn("n", sum(col("cnt")).over(byType))
      .withColumn("q", explode(typedlit(qs.map(_.toLong))))
      .withColumn("rank", expr("(q * n + 99) div 100"))
      .filter(col("cum") >= col("rank"))
      .groupBy(col("event_type"), col("q"))
      .agg(max(col("n")).as("n"), min(col("bin_id")).as("bin_id"))
    cum
      .withColumn("be", expr("(bin_id - 1) div 128"))
      .withColumn("bw",
        expr("shiftleft(cast(1 as bigint), cast(greatest(be - 7, 0L) as int))"))
      .select(col("event_type"), col("q"), col("n"),
        when(col("bin_id") === 0, lit(0L)).otherwise(
          expr("shiftleft(cast(1 as bigint), cast(be as int))") +
            expr("((bin_id - 1) % 128)") * col("bw")).as("est_cents"),
        when(col("bin_id") === 0, lit(1L)).otherwise(col("bw"))
          .as("width_cents"))
      .orderBy(col("event_type"), col("q"))
  }

  /** Day-over-day distribution DRIFT monitor on the histogram bins: for
    * every consecutive-day pair within an event type, the total-
    * variation distance between the two days' value distributions in
    * basis points — `Σ_bins |c₁·n₂ − c₂·n₁| · 10000 ÷ (2·n₁·n₂)`, the
    * cross-multiplied form keeping everything integer-exact (no
    * normalized-fraction floats to drift across engines). This is the
    * input-shift alarm a training pipeline runs between corpus
    * snapshots: TV = 0 means identical histograms, 10000 means disjoint
    * support. The full-outer bin join scores absent bins as zero mass
    * on the missing side; day pairs exist only where BOTH days have
    * rows. O(types · days · bins) work end-to-end — artifact-sized,
    * never corpus-sized after the one binning scan.
    */
  def valueDriftDaily(events: DataFrame): DataFrame =
    valueDriftFromState(valueHistDailyState(events))

  /** Day-keyed histogram ARTIFACTS: (event_type, day, bin_id, count) rows —
    * the state table behind [[valueDriftDaily]], factored out so a
    * streaming monitor can maintain it incrementally
    * ([[graft.streaming.StreamingSketches]]) and read drift purely from
    * artifacts. Merge is integer vector add ([[valueHistDailyUpdate]]),
    * so any batching of the input lands on the same artifact.
    */
  def valueHistDailyState(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .withColumn("bin_id", hdrBin(col("cents")))
      .groupBy(col("event_type"), col("day"), col("bin_id"))
      .agg(count(lit(1)).as("cnt"))

  /** Fold a new event batch into stored day-keyed histogram artifacts:
    * O(batch) scan + O(types · days · bins) merge, exactly associative.
    */
  def valueHistDailyUpdate(state: DataFrame, newEvents: DataFrame): DataFrame =
    state.unionByName(valueHistDailyState(newEvents))
      .groupBy(col("event_type"), col("day"), col("bin_id"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Drift readout from a day-keyed histogram artifact table — the
    * artifact-only half of [[valueDriftDaily]]: consecutive-day TV
    * distance per event type, never touching the corpus the artifacts
    * summarize.
    */
  def valueDriftFromState(state: DataFrame): DataFrame = {
    val h = state
    val n = h.groupBy(col("event_type"), col("day"))
      .agg(sum(col("cnt")).as("n"))
    // align day d with day d+1 under one join key: the "cur" side is
    // shifted back a day, so `day` below always names the FROM day
    val prev = h.select(col("event_type"), col("day"), col("bin_id"),
      col("cnt").as("c1"))
    val cur = h.select(col("event_type"),
      (col("day") - expr("interval 1 day")).as("day"), col("bin_id"),
      col("cnt").as("c2"))
    val paired = prev.join(cur, Seq("event_type", "day", "bin_id"), "full_outer")
      .na.fill(0L, Seq("c1", "c2"))
    paired
      .join(n.select(col("event_type"), col("day"), col("n").as("n1")),
        Seq("event_type", "day"))
      .join(n.select(col("event_type"),
        (col("day") - expr("interval 1 day")).as("day"), col("n").as("n2")),
        Seq("event_type", "day"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("num"),
        max(col("n1")).as("n_from"), max(col("n2")).as("n_to"))
      .select(col("event_type"), col("day").as("day_from"),
        (col("day") + expr("interval 1 day")).as("day_to"),
        col("n_from"), col("n_to"),
        expr("(num * 10000) div (2 * n_from * n_to)").as("drift_bp"))
      .orderBy(col("event_type"), col("day_from"))
  }

  /** Corpus-version token drift: per-source total-variation distance
    * between two snapshots' token unigram distributions, the same
    * cross-multiplied integer form as [[valueDriftDaily]] — the
    * "did this source's CONTENT shift?" alarm that complements
    * `corpusDiff`'s row-level added/removed/changed ledger (a source can
    * keep every doc_id yet drift its language wholesale, or churn ids
    * with identical text and drift not at all).
    *
    * Integer-domain note: exactness holds while `2·n₁·n₂·10⁴` fits a
    * long — n up to ~2·10⁷ tokens per source per side; beyond that swap
    * the three products to `DecimalType(38,0)` (shape unchanged). Sources
    * empty on either side have no defined distribution and emit no row.
    */
  def tokenDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def counts(df: DataFrame, as: String) = df
      .filter(col("source").isNotNull && col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as(as))
    val paired = counts(oldDocs, "c1")
      .join(counts(newDocs, "c2"), Seq("source", "tok"), "full_outer")
      .na.fill(0L, Seq("c1", "c2"))
    val n = paired.groupBy(col("source"))
      .agg(sum(col("c1")).as("n_old"), sum(col("c2")).as("n_new"))
    paired.join(n, "source")
      .filter(col("n_old") > 0 && col("n_new") > 0)
      .groupBy(col("source"))
      .agg(max(col("n_old")).as("n_old"), max(col("n_new")).as("n_new"),
        sum(abs(col("c1") * col("n_new") - col("c2") * col("n_old")))
          .as("num"))
      .select(col("source"), col("n_old"), col("n_new"),
        expr("(num * 10000) div (2 * n_old * n_new)").as("drift_bp"))
      .orderBy(col("source"))
  }

  /** Oracle-checkable gate over the histogram-quantile pipeline: the
    * full build → readout on the raw corpus, PLUS an `in_bin` boolean
    * asserting the exact discrete quantile (same `⌈q·n/100⌉` rank,
    * computed by sorting the raw values) lands inside the estimated
    * bin — the containment the binning guarantees by construction. The
    * oracle replays the ENTIRE walk in SQL and matches every column
    * exactly, booleans included.
    */
  def valueHistGate(events: DataFrame,
                    qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val est = valueHistQuantiles(valueHistState(events), qs)
    val base = events
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val sorted = base.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))))
    val exact = est.select(col("event_type"), col("q"),
        expr("(q * n + 99) div 100").as("rank"))
      .join(sorted, Seq("event_type"))
      .filter(col("rn") === col("rank"))
      .select(col("event_type"), col("q"), col("cents").as("exact_cents"))
    est.join(exact, Seq("event_type", "q"))
      .select(col("event_type"), col("q"), col("n"),
        col("est_cents"), col("width_cents"),
        (col("exact_cents") >= col("est_cents") &&
          col("exact_cents") < col("est_cents") + col("width_cents"))
          .as("in_bin"))
      .orderBy(col("event_type"), col("q"))
  }

  /** Oracle-checkable gate over the heavy-hitter pipeline (the
    * [[sketchAccuracy]] pattern): exact per-source totals alongside
    * booleans asserting the Misra–Gries THEOREMS — summary ≤ k entries,
    * every counter a lower bound of the true count, every token's
    * undercount (absent ⇒ counter 0) within N/(k+1), and every token
    * whose true count exceeds N/(k+1) present in the summary. The
    * booleans are deterministic even though the counter VALUES vary with
    * partitioning — which is exactly why the gate checks guarantees, not
    * counters. Small `k` on the bench vocabulary keeps the prune path
    * genuinely exercised (31 distinct tokens vs k=8 ⇒ constant shedding).
    */
  // ----------------------------------------------------------- count-min

  /** Count-Min row hash `h_i(tok)`: md5-derived (engine-portable, like the
    * portable SimHash kernel), 15 hex digits < 2⁶⁰ so the bigint is always
    * positive and `% width` needs no sign fix.
    */
  private def cmHash(row: Int, tok: Column, width: Int): Column =
    pmod(expr(s"cast(conv(substring(md5(concat('r$row ', tok)), 1, 15), 16, 10) as bigint)")
      .cast("long"), lit(width.toLong))

  /** Count-Min sketch ARTIFACTS over the corpus token stream: (row, col,
    * cnt) cells, depth × width bounded — the POINT-FREQUENCY member of
    * the mergeable-artifact family (HLL: cardinality, Misra–Gries: top-k,
    * HDR: value quantiles, q-digest: rank quantiles). Distinct niche vs
    * Misra–Gries: MG answers "who is heavy" with bounded UNDERcount on a
    * k-bounded summary; CM answers "how often is THIS token" for ANY
    * token with guaranteed-never-under, bounded-over estimates.
    *
    * Merge is integer vector add — exactly associative, so unlike the
    * q-digest the incremental artifact is BIT-IDENTICAL to the one-shot
    * build (`SketchesSpec` pins update(state(A), B) ≡ state(A ∪ B) the
    * same way it does for HLL). One explode(depth) map pass + one
    * partial-aggregated shuffle to O(depth · width) cells.
    */
  def cmsketchState(documents: DataFrame, depth: Int = 4,
                    width: Int = 1024): DataFrame =
    documents.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("tok"))
      // aggregate to the TYPE table before hashing: the md5 cell hashes
      // then run once per (distinct token × depth) instead of once per
      // token OCCURRENCE × depth — at 500k docs that is 124 hashes
      // instead of 110M, and the occurrence stream never fans out 4×
      // (measured: the per-occurrence hashing dominated the streamed
      // maintainer's wall clock). Sum-of-counts ≡ count-of-occurrences,
      // so the artifact is bit-identical.
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .select(col("c"), explode(array((0 until depth).map(i =>
        struct(lit(i.toLong).as("row"),
          cmHash(i, col("tok"), width).as("col_id"))): _*)).as("cell"))
      .select(col("cell.row").as("row"), col("cell.col_id").as("col_id"),
        col("c"))
      .groupBy(col("row"), col("col_id")).agg(sum(col("c")).as("cnt"))

  /** Fold a new document batch into a stored CM artifact: sketch ONLY the
    * batch, vector-add per cell. O(batch) scan + O(depth · width) merge.
    */
  def cmsketchUpdate(state: DataFrame, newDocs: DataFrame, depth: Int = 4,
                     width: Int = 1024): DataFrame =
    state.unionByName(cmsketchState(newDocs, depth, width))
      .groupBy(col("row"), col("col_id")).agg(sum(col("cnt")).as("cnt"))

  /** Point-frequency readout: est(tok) = min over rows of the token's
    * cell — an equi-join of the (probe × depth) key table against the
    * artifact, absent cells reading as zero. O(probes · depth) work.
    */
  def cmsketchEstimates(state: DataFrame, probes: DataFrame,
                        depth: Int = 4, width: Int = 1024): DataFrame = {
    val keys = probes.select(col("tok"),
        explode(array((0 until depth).map(i =>
          struct(lit(i.toLong).as("row"),
            cmHash(i, col("tok"), width).as("col_id"))): _*)).as("cell"))
      .select(col("tok"), col("cell.row").as("row"),
        col("cell.col_id").as("col_id"))
    keys.join(state, Seq("row", "col_id"), "left")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Oracle-checkable gate over the CM pipeline: the exact top-`k` tokens
    * (deterministic tie-break on the token) alongside their sketch
    * estimates and the Count-Min THEOREM boolean `never_under`
    * (`est ≥ true count` — each of the token's cells contains its full
    * count plus non-negative collision mass). The overestimate is
    * REPORTED exactly rather than gated: the classic `ε·N` overcount
    * bound is probabilistic over hash draws, and with fixed portable
    * hashes an adversarial corpus could exceed it — reporting keeps the
    * contract honest while the oracle still matches every cell.
    */
  def cmsketchGate(documents: DataFrame, k: Int = 20, depth: Int = 4,
                   width: Int = 1024): DataFrame =
    cmsketchGateFrom(cmsketchState(documents, depth, width), documents,
      k, depth, width)

  /** The gate evaluated against a CALLER-SUPPLIED artifact (e.g. one
    * maintained incrementally by the streaming loop): since CM merge is
    * exact vector add, any correctly-maintained artifact is bit-identical
    * to the one-shot build and shares its oracle.
    */
  def cmsketchGateFrom(state: DataFrame, documents: DataFrame, k: Int = 20,
                       depth: Int = 4, width: Int = 1024): DataFrame = {
    val exact = documents.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_true"))
    // orderBy + limit plans as TakeOrderedAndProject (per-partition top-k,
    // then a bounded driver merge) — a global row_number window would
    // instead drag every distinct token through ONE partition; the full
    // (count DESC, tok) tie-break keeps the selected SET identical
    val top = exact.orderBy(col("n_true").desc, col("tok")).limit(k)
    val est = cmsketchEstimates(state, top.select(col("tok")), depth, width)
    top.join(est, "tok")
      .select(col("tok"), col("n_true"), col("est"),
        (col("est") >= col("n_true")).as("never_under"),
        (col("est") - col("n_true")).as("overcount"))
      .orderBy(col("tok"))
  }

  // ------------------------------------------------------------- q-digest

  /** q-digest universe offset: `cents + 2⁶²` maps any value in
    * [−2⁶², 2⁶²) into the unsigned 63-bit universe — unlike the
    * fixed-positive-domain HDR histogram, NO domain scan or prior max is
    * needed (the "unbounded universe" member of the sketch family).
    */
  private val QdOffset = 4611686018427387904L // 2^62
  private val QdBits = 7 // branching 2^7 = 128 children per node
  private val QdLevels = 8 // 8 push rounds cover the 63-bit universe

  /** level/prefix → inclusive upper end of the node's interval, back in
    * the cents domain. The subtraction happens BEFORE the width add so no
    * intermediate ever needs `1 << 63` (which overflows signed 64 and
    * THROWS in DuckDB rather than wrapping).
    */
  private def qdUpper(level: Column, prefix: Column): Column =
    call_function("shiftleft", prefix, (level * QdBits).cast("int")) -
      QdOffset +
      call_function("shiftleft", lit(1L), (level * QdBits).cast("int")) - 1

  /** q-digest quantile sketch ARTIFACTS: (level, prefix, cnt) rows over a
    * 128-ary dyadic decomposition of the 63-bit cents universe — the
    * RANK-error member of the mergeable-artifact family (HLL:
    * cardinality, Misra–Gries: frequency, HDR histogram: value error).
    * It complements the HDR histogram exactly where that one is weak: the
    * histogram needs a known positive-value domain and bounds RELATIVE
    * VALUE error; the q-digest accepts any long in ±2⁶² unseen and bounds
    * ADDITIVE RANK error at `O(levels · n/σ)` with space independent of
    * the data distribution.
    *
    * Deterministic bottom-up compression (no randomized compaction — the
    * classic KLL alternative — precisely so the artifact is bit-exact
    * across engines and the DuckDB oracle can replay it): at each of the
    * 8 levels, sibling groups whose total count is `< t = ⌈n/σ⌉` push
    * their mass to the parent; groups reaching `t` are frozen at their
    * level. INVARIANTS the gate's theorem rests on: level-0 nodes are
    * exact value counts (zero rank error regardless of size), and every
    * frozen node at level > 0 holds `< t` mass from a one-shot build
    * (`< 2t` after artifact merges, where a pushed group can coalesce
    * with a stored node of the same prefix).
    *
    * Scale shape: one exact value-count aggregate (partial-combined),
    * then 8 rounds of window-over-parent + re-aggregate on ARTIFACT-sized
    * frames (≤ distinct cents, shrinking every round), each round
    * `localCheckpoint`ed to keep the two-branch (freeze/push) plan from
    * doubling per level. The `n` readback is a 1-row bounded scalar.
    */
  def qdigestState(events: DataFrame, sigma: Int = 256): DataFrame = {
    val leaves = events.filter(col("value").isNotNull)
      .select((expr("cast(round(value * 100, 0) as bigint)") + QdOffset)
        .as("prefix"))
      .groupBy(col("prefix")).agg(count(lit(1)).as("cnt"))
      .select(lit(0L).as("level"), col("prefix"), col("cnt"))
    qdCompress(leaves, sigma)
  }

  /** Merge two q-digest artifact tables: union the nodes, re-run the same
    * deterministic compression under the combined `t`. Stored internal
    * nodes carry `< t_i ≤ t_merged` mass, so the merged invariant is
    * `< 2t` per internal node — the gate's merged slack.
    */
  def qdigestMerge(a: DataFrame, b: DataFrame, sigma: Int = 256): DataFrame =
    qdCompress(a.unionByName(b), sigma)

  /** Fold a new event batch into a stored artifact: sketch ONLY the
    * batch, then artifact-merge — O(batch) scan + O(artifact) merge; the
    * corpus the state summarizes is never rescanned.
    */
  def qdigestUpdate(state: DataFrame, newEvents: DataFrame,
                    sigma: Int = 256): DataFrame =
    qdigestMerge(state, qdigestState(newEvents, sigma), sigma)

  /** Driver-path budget for [[qdCompress]]: material up to this many
    * (level, prefix, cnt) rows — 24 MB of longs at the cap — compresses
    * in driver memory. Same budget class as the adaptive BPE trainer's
    * type table and the IVF centroid collects.
    */
  private val QdDriverMax = 1L << 20

  /** The deterministic bottom-up compression over (level, prefix, cnt)
    * material (levels may be mixed when merging artifacts).
    *
    * Execution is adaptive on the MATERIAL size (the BPE-trainer
    * precedent): the 8 freeze/push rounds are pure integer arithmetic on
    * an artifact-or-distinct-values-sized frame, so when that frame fits
    * the bounded-driver-artifact budget (`QdDriverMax`) the rounds run
    * in driver memory with ZERO per-round Spark jobs — the distributed
    * spelling paid ~8 `localCheckpoint` job barriers per compress, which
    * dominated the streamed/incremental q-digest queries' wall clock
    * (driver latency, not data). Corpora whose distinct-value table
    * exceeds the budget (the 100 TB case) keep the distributed
    * window-over-parent loop unchanged. Both paths are the same
    * deterministic algorithm; `QDigestSpec` pins them node-for-node
    * equal on the fixture.
    */
  private def qdCompress(material: DataFrame, sigma: Int): DataFrame = {
    val mat = material.localCheckpoint()
    val n = mat.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    if (n == 0L) return mat.select(col("level"), col("prefix"), col("cnt"))
    val t = math.max(1L, (n + sigma - 1) / sigma)
    if (mat.count() <= QdDriverMax) qdCompressLocal(mat, t)
    else qdCompressDistributed(mat, t)
  }

  /** The in-driver spelling of the freeze/push rounds — exact same math
    * as [[qdCompressDistributed]] over collected rows.
    */
  private[graft] def qdCompressLocal(mat: DataFrame, t: Long): DataFrame = {
    val spark = mat.sparkSession
    import spark.implicits._
    val byLevel = Array.fill(QdLevels + 1)(
      new scala.collection.mutable.HashMap[Long, Long]())
    mat.select(col("level"), col("prefix"), col("cnt")).collect().foreach { r =>
      val m = byLevel(r.getLong(0).toInt)
      val p = r.getLong(1)
      m.update(p, m.getOrElse(p, 0L) + r.getLong(2))
    }
    val kept = Seq.newBuilder[(Long, Long, Long)]
    var pending = scala.collection.mutable.HashMap[Long, Long]()
    for (l <- 0 until QdLevels) {
      val cur = pending
      byLevel(l).foreach { case (p, c) =>
        cur.update(p, cur.getOrElse(p, 0L) + c)
      }
      val parentSum = scala.collection.mutable.HashMap[Long, Long]()
      cur.foreach { case (p, c) =>
        val par = p >>> QdBits
        parentSum.update(par, parentSum.getOrElse(par, 0L) + c)
      }
      val next = scala.collection.mutable.HashMap[Long, Long]()
      cur.foreach { case (p, c) =>
        val par = p >>> QdBits
        if (parentSum(par) >= t) kept += ((l.toLong, p, c))
        else next.update(par, next.getOrElse(par, 0L) + c)
      }
      pending = next
    }
    byLevel(QdLevels).foreach { case (p, c) =>
      pending.update(p, pending.getOrElse(p, 0L) + c)
    }
    val top = pending.toSeq.map { case (p, c) => (QdLevels.toLong, p, c) }
    (kept.result() ++ top).toDF("level", "prefix", "cnt").localCheckpoint()
  }

  private[graft] def qdCompressDistributed(mat: DataFrame, t: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    var pending = mat.select(col("prefix"), col("cnt")).limit(0)
    val kept = Seq.newBuilder[DataFrame]
    for (l <- 0 until QdLevels) {
      val cur = pending
        .unionByName(mat.filter(col("level") === l.toLong)
          .select(col("prefix"), col("cnt")))
        .groupBy(col("prefix")).agg(sum(col("cnt")).as("cnt"))
      val marked = cur
        .withColumn("parent", shiftrightunsigned(col("prefix"), QdBits))
        .withColumn("s", sum(col("cnt"))
          .over(w.partitionBy(col("parent"))))
        .localCheckpoint()
      kept += marked.filter(col("s") >= t)
        .select(lit(l.toLong).as("level"), col("prefix"), col("cnt"))
      pending = marked.filter(col("s") < t)
        .groupBy(col("parent")).agg(sum(col("cnt")).as("cnt"))
        .select(col("parent").as("prefix"), col("cnt"))
    }
    val top = pending
      .unionByName(mat.filter(col("level") === QdLevels.toLong)
        .select(col("prefix"), col("cnt")))
      .groupBy(col("prefix")).agg(sum(col("cnt")).as("cnt"))
      .select(lit(QdLevels.toLong).as("level"), col("prefix"), col("cnt"))
    kept.result().foldLeft(top)(_ unionByName _).localCheckpoint()
  }

  /** Quantile readout from a q-digest artifact: nodes collapse to their
    * interval UPPER ends (tie groups summed — deterministic, order-free),
    * one cumulative walk, and each percentile reports the first upper
    * whose cumulative mass reaches rank `⌈q·n/100⌉`. O(artifact) rows.
    */
  def qdigestQuantiles(state: DataFrame,
                       qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val byUpper = state
      .select(qdUpper(col("level"), col("prefix")).as("upper_c"), col("cnt"))
      .groupBy(col("upper_c")).agg(sum(col("cnt")).as("cnt"))
    byUpper
      .withColumn("cum", sum(col("cnt")).over(w.orderBy(col("upper_c"))))
      .withColumn("n", sum(col("cnt")).over(w.partitionBy()))
      .withColumn("q", explode(typedlit(qs.map(_.toLong))))
      .withColumn("rank", expr("(q * n + 99) div 100"))
      .filter(col("cum") >= col("rank"))
      .groupBy(col("q"))
      .agg(max(col("n")).as("n"), min(col("upper_c")).as("est_cents"))
      .select(col("q"), col("n"), col("est_cents"))
      .orderBy(col("q"))
  }

  /** Oracle-checkable THEOREM gate over the q-digest (the
    * [[heavyHitterGate]] pattern): alongside each percentile's estimate,
    * exact ranks from the raw data and two deterministic booleans —
    *  - `lo_ok`: `rank_le(est) ≥ ⌈q·n/100⌉`, EXACT by construction (all
    *    mass cumulated at or below `est` lives in intervals whose values
    *    are ≤ est);
    *  - `hi_ok`: `rank_lt(est) < ⌈q·n/100⌉ + slack·t`, from the internal-
    *    node mass invariant: values `< est` beyond the pre-est cumulative
    *    can hide only in the ≤ 8 proper ancestors straddling `est` plus
    *    the ≤ 8 same-upper internal ancestors, each holding `< t` mass
    *    one-shot (`< 2t` merged) — hence slack 16 here, 32 in
    *    [[qdigestGateIncremental]].
    * Everything is integer arithmetic, so the DuckDB oracle replays the
    * 8-level build verbatim and matches every column including booleans.
    */
  def qdigestGate(events: DataFrame, sigma: Int = 256,
                  qs: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    qdGateFrom(qdigestState(events, sigma), events, sigma, qs, slack = 16)

  /** The gate over an INCREMENTALLY-built artifact: first 80% of
    * event_ids play the stored sketch, the rest arrive as the new batch;
    * the merged artifact must still satisfy the rank theorem (with the
    * doubled per-node slack merging allows) against exact ranks over the
    * WHOLE corpus.
    */
  def qdigestGateIncremental(events: DataFrame, sigma: Int = 256,
                             qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val c = events.agg(expr("(max(event_id) * 4) div 5").cast("long")).head()
    // empty input has no cut: both halves are empty, the gate emits 0 rows
    val cut = if (c.isNullAt(0)) 0L else c.getLong(0)
    val merged = qdigestUpdate(
      qdigestState(events.filter(col("event_id") < cut), sigma),
      events.filter(col("event_id") >= cut), sigma)
    qdGateFrom(merged, events, sigma, qs, slack = 32)
  }

  /** The gate evaluated against a CALLER-SUPPLIED artifact (e.g. one
    * maintained incrementally by the streaming loop) at the merged-slack
    * bound — q-digest merges re-compress, so unlike Count-Min the
    * streamed artifact is bound-equivalent, not bit-identical.
    */
  def qdigestGateStreamed(state: DataFrame, events: DataFrame,
                          sigma: Int = 256,
                          qs: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    qdGateFrom(state, events, sigma, qs, slack = 32)

  private def qdGateFrom(state: DataFrame, events: DataFrame, sigma: Int,
                         qs: Seq[Int], slack: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // ≤ |qs| artifact-readout rows — a bounded collect, like every other
    // artifact readback in this family
    val est = qdigestQuantiles(state, qs).collect()
    if (est.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Boolean, Boolean)]
        .toDF("q", "n", "t", "est_cents", "rank_le", "rank_lt", "lo_ok", "hi_ok")
    val n = est.head.getLong(1)
    val t = math.max(1L, (n + sigma - 1) / sigma)
    val cents = events.filter(col("value").isNotNull)
      .select(expr("cast(round(value * 100, 0) as bigint)").as("c"))
    // exact ranks for ALL estimates in ONE aggregate pass (no non-equi
    // join — est values are literals, keeping the plan nested-loop-free)
    val aggs = est.toSeq.flatMap { r =>
      val q = r.getLong(0); val e = r.getLong(2)
      Seq(count(when(col("c") <= e, 1)).as(s"le_$q"),
        count(when(col("c") < e, 1)).as(s"lt_$q"))
    }
    val ranks = cents.agg(aggs.head, aggs.tail: _*).head()
    est.toSeq.map { r =>
      val q = r.getLong(0); val e = r.getLong(2)
      val rank = (q * n + 99) / 100
      val le = ranks.getLong(ranks.fieldIndex(s"le_$q"))
      val lt = ranks.getLong(ranks.fieldIndex(s"lt_$q"))
      (q, n, t, e, le, lt, le >= rank, lt < rank + slack * t)
    }.toDF("q", "n", "t", "est_cents", "rank_le", "rank_lt", "lo_ok", "hi_ok")
      .orderBy(col("q"))
  }

  def heavyHitterGate(documents: DataFrame, k: Int = 8): DataFrame =
    heavyHitterGateFrom(heavyHitterState(documents, k), documents, k)

  /** The MG gate evaluated against a CALLER-SUPPLIED artifact (e.g. one
    * maintained by the streaming fold): counter VALUES vary with
    * batching, but the checked theorems hold for any merge tree
    * (`FreqSketchPropertySpec`), so the gate — and its oracle — are
    * batching-independent.
    */
  def heavyHitterGateFrom(state: DataFrame, documents: DataFrame,
                          k: Int = 8): DataFrame = {
    val exact = sourceTokens(documents)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    val summ = state.select(col("source"),
      explode(col("summary")).as(Seq("tok", "est")))
    exact.join(summ, Seq("source", "tok"), "left")
      .withColumn("nr", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(max(col("nr")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        (count(col("est")) <= k).as("size_ok"),
        bool_and(col("est").isNull || col("est") <= col("n"))
          .as("underestimates_only"),
        bool_and((col("n") - coalesce(col("est"), lit(0L))) * (k + 1)
          <= col("nr")).as("err_within_bound"),
        bool_and(!(col("n") * (k + 1) > col("nr")) || col("est").isNotNull)
          .as("heavy_covered"))
      .orderBy(col("source"))
  }

  /** Pairwise cross-source vocabulary overlap from a sketch-ARTIFACT
    * table ([[vocabSketchState]]'s shape) — "how much does source A's
    * vocabulary overlap source B's?" answered with no corpus-scale join:
    * the per-source ~KB HLL binaries pair up on a sources² grid (bounded
    * by the source DIMENSION, never the corpus) and each intersection is
    * estimated by inclusion–exclusion
    * `|A∩B| = est(A) + est(B) − est(A∪B)`, the union via the scalar
    * `hll_union` (register-wise max — the same merge the incremental
    * maintainer folds batches with, so artifact-built and one-shot
    * states give IDENTICAL estimates). At 100 TB the exact answer is a
    * distinct-(source, token) self-join — a corpus-keyed shuffle this
    * readout exists to avoid; the estimate costs O(sources²) KB merges.
    *
    * The gate alongside: inclusion–exclusion error is ADDITIVE in the
    * union size (three ±~0.8%-rsd estimates at the default lgK 12), so
    * `|est − exact|` is bounded against the pair's UNION cardinality,
    * not the possibly-tiny intersection — the honest contract for
    * sketch-based overlap (a 2% union error can be 100% of a near-empty
    * intersection). Output is engine-replayable: exact counts + the
    * boolean, never the estimate itself.
    */
  /** The production readout: estimated pairwise overlap (and union) per
    * ordered source pair, purely from the artifact table — what a
    * dedup-planning dashboard queries daily. The gate below checks this
    * exact frame against ground truth.
    */
  def overlapEstimatesFromState(state: DataFrame): DataFrame = {
    val a = state.select(col("source").as("src_a"), col("sketch").as("sk_a"))
    val b = state.select(col("source").as("src_b"), col("sketch").as("sk_b"))
    // sources × sources — dimension-bounded, the sanctioned tiny grid
    a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        (hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
          - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .as("est_overlap"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))
          .as("est_union"))
  }

  def overlapGateFromState(state: DataFrame, documents: DataFrame,
                           boundPct: Int = 5): DataFrame = {
    val est = overlapEstimatesFromState(state)
    val toks = sourceTokens(documents).distinct()
    val sizes = toks.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val exact = toks.as("x").join(toks.as("y"),
        col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_overlap_exact"))
    est
      .join(sizes.select(col("source").as("src_a"), col("nv").as("na")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("nv").as("nb")), "src_b")
      .join(exact, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("n_overlap_exact"))
      .select(col("src_a"), col("src_b"), col("n_overlap_exact"),
        (abs(col("est_overlap") - col("n_overlap_exact")) * 100
          <= (col("na") + col("nb") - col("n_overlap_exact")) * boundPct)
          .as("within_bound"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** One-shot spelling of the overlap gate: sketch, pair, check. */
  def crossSourceOverlapGate(documents: DataFrame,
                             boundPct: Int = 5): DataFrame =
    overlapGateFromState(vocabSketchState(documents), documents, boundPct)

  /** The incremental spelling: the artifact table is BUILT in two
    * maintenance folds (even doc_ids, then [[vocabSketchUpdate]] with the
    * odd batch) and the overlap readout runs purely on the folded
    * artifacts. HLL union is register-wise max, so the batched state is
    * bit-identical to one-shot sketching (`SketchesSpec` pins this) and
    * the same gate must pass — overlap-between-sources is answerable
    * from a maintained daily artifact table without ever re-reading the
    * summarized corpus.
    */
  def crossSourceOverlapIncremental(documents: DataFrame,
                                    boundPct: Int = 5): DataFrame = {
    val even = documents.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = documents.filter(pmod(col("doc_id"), lit(2)) === 1)
    val state = vocabSketchUpdate(vocabSketchState(even), odd)
    overlapGateFromState(state, documents, boundPct)
  }
}
