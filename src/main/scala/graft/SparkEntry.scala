package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{CsvIngest, Curation, Dedup, JsonIngest, Multimodal, NearDup, Relational, Sessions, Similarity}
import graft.streaming.StreamingSessions

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (and the LLM-pipeline extensions) has an
  * entry in [[queries]]; SQL-expressible ones also have a DuckDB oracle in
  * [[oracleSql]]. Column names and arithmetic are kept bit-identical between
  * the Spark query and the oracle (integer-cents convention, explicit
  * `floor(x+0.5)` rounding — SURVEY.md §7.5.2).
  */
object SparkEntry {

  /** The one harness session every main runs on: `local[N]` with N from
    * `SPARK_GRAFT_CPUS` (default 4), N shuffle partitions, UTC session
    * zone, UI off, WARN logging.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Harness warm-up before the first timed entry ([[Bench]], [[Profile]]).
    * Session warm-up: scheduler + codegen + parquet footer paths, so the
    * first timed query doesn't absorb startup cost. Streaming warm-up: the
    * first streaming query in a session pays ~4 s of engine init
    * (state-store provider load, streaming codegen, micro-batch scheduler)
    * that is per-JVM, not per-query — amortize it here the same way.
    * Synthetic in-memory events: no fixture-path dependency, and a warm-up
    * failure must not abort the timed run.
    */
  def warmup(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    entry(spark).count()
    try {
      val synth = spark.range(1000).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"),
        pmod(col("id"), lit(20)).as("user_id"),
        lit("view").as("event_type"),
        (col("id") % 100).cast("double").as("value"),
        lit("{}").as("props"))
      StreamingSessions.replayOutOfOrder(synth, lit("30 seconds"))
        .queryExecution.toRdd.count()
    } catch { case scala.util.control.NonFatal(e) =>
      // fatal JVM errors (OOM, linkage) must still abort — timings from
      // a corrupted JVM would look legitimate
      System.err.println(s"[warmup] streaming warmup failed: ${e.getMessage}")
    }
  }

  /** Harness hygiene between timed entries, outside every timed region.
    * Drop the entry's leaked storage: `localCheckpoint` blocks (the
    * ANN/dedup index artifacts) pin executor memory for the life of the
    * SparkContext, and 185 queries in one 8 GiB JVM accumulate enough of
    * them that mid-run entries degrade up to ~5× vs the same query
    * isolated (r12 measured: pipeline_multimodal 32.6 s in-run vs 6.8 s
    * alone). Then collect it: Spark's ContextCleaner reclaims broadcast
    * blocks, shuffle files and checkpoint state only when GC actually
    * collects their weak references, and codegen'd classes unload only on
    * a GC cycle. Left to its own schedule, the collector runs INSIDE a
    * later entry's timed region and that entry pays its predecessors'
    * garbage (r14 measured: multimodal_video_dups 9.9 s in-suite vs 4.5 s
    * isolated, same code). Not a change to what any query computes.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("t1_sessions_2h")(spark, "/root/testdata/sf0.001")

  private def registries = Seq(
    RegistrySessions.queries, RegistryRelational.queries,
    RegistrySketches.queries, RegistryText.queries, RegistryDedup.queries,
    RegistryAnn.queries, RegistryMultimodal.queries, RegistryCuration.queries)

  private def oracleRegistries = Seq(
    RegistrySessions.oracles, RegistryRelational.oracles,
    RegistrySketches.oracles, RegistryText.oracles, RegistryDedup.oracles,
    RegistryAnn.oracles, RegistryMultimodal.oracles, RegistryCuration.oracles)

  /** Union of the per-domain registries (mechanical split, r14 — see
    * Registry*.scala; entries and oracle SQL are verbatim moves). The
    * require makes a cross-domain key collision loud: a duplicate key
    * would silently shadow one domain's query with another's.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = registries.reduce(_ ++ _)
    require(all.size == registries.map(_.size).sum,
      "duplicate query key across domain registries")
    all
  }

  def oracleSql: Map[String, String] = {
    val all = oracleRegistries.reduce(_ ++ _)
    require(all.size == oracleRegistries.map(_.size).sum,
      "duplicate oracle key across domain registries")
    all
  }
}
