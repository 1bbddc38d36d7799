package graft

/** SQL-text ⇄ DataFrame parity for every query that exists in both
  * surfaces. The schema assertion exists because of a real failure class:
  * SQL-text numeric literals (`100.0`) parse as DECIMAL while the
  * DataFrame API's Scala `100.0` is a double, so a SQL twin can agree on
  * every VALUE yet write decimal128 columns where the twin writes double —
  * equal cells, different schema, failed driver hash. Schema parity makes
  * that class unrepresentable; the row assertion then pins the values.
  */
class SqlParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val twins = Seq(
    ("t1_sessions_sql", "t1_sessions_30s"),
    ("t3_dynamic_sql", "t3_dynamic_gap_ref"),
    ("t2_big_customers_sql", "t2_big_customers"),
    ("dedup_exact_sql", "dedup_exact"),
    ("dedup_minhash_lsh_sql", "dedup_minhash_lsh"),
    ("dedup_embedding_sql", "dedup_embedding"),
    ("text_decontaminate_sql", "text_decontaminate"),
    ("q_window_funnel_sql", "q_window_funnel"),
    ("q_markov_sql", "q_markov_transitions"),
    ("q_gapfill_sql", "q_timeseries_gapfill"),
    ("q_weekday_hour_sql", "q_weekday_hour_profile"),
    ("q_monthly_growth_sql", "q_monthly_growth"),
    ("q_mad_outliers_sql", "q_mad_outliers"),
    ("q_inter_gaps_sql", "q_inter_event_gaps"),
    // sketch-family gates: CM cells and q-digest nodes are deterministic,
    // so these are cell-identical; the MG twin's OUTPUT columns (exact
    // aggregates + theorem booleans) are batching-independent even though
    // its internal counters may differ from the Column API's
    ("vocab_cmsketch_sql", "vocab_cmsketch"),
    ("vocab_heavy_hitters_sql", "vocab_heavy_hitters"),
    ("quantile_qdigest_sql", "quantile_qdigest"))

  test("every SQL-text query's schema (names + types) equals its DataFrame twin's") {
    twins.foreach { case (sqlName, dfName) =>
      val a = SparkEntry.queries(sqlName)(spark, dir).schema
        .fields.toSeq.map(f => (f.name, f.dataType))
      val b = SparkEntry.queries(dfName)(spark, dir).schema
        .fields.toSeq.map(f => (f.name, f.dataType))
      assert(a == b, s"$sqlName schema $a differs from $dfName schema $b")
    }
  }

  test("quantile_qdigest_sql and its twin agree on an empty events table: 0 rows, as the oracle") {
    val empty = Tables.events(spark, dir).limit(0)
    empty.createOrReplaceTempView("events")
    val a = try spark.sql(RegistrySketches.qdigestSparkSql).collect().toSeq.map(_.toSeq)
      finally Tables.registerAll(spark, dir)
    val b = graft.operators.Sketches.qdigestGate(empty).collect().toSeq.map(_.toSeq)
    assert(a == b, s"quantile_qdigest_sql rows $a differ from quantile_qdigest rows $b")
    assert(a.isEmpty, a)
  }

  test("every SQL-text query's rows equal its DataFrame twin's cell-for-cell") {
    twins.foreach { case (sqlName, dfName) =>
      val a = SparkEntry.queries(sqlName)(spark, dir).collect().toSeq.map(_.toSeq)
      val b = SparkEntry.queries(dfName)(spark, dir).collect().toSeq.map(_.toSeq)
      assert(a == b, s"$sqlName rows differ from $dfName")
    }
  }
}
