package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The synthetic corpora and the timer the scale mains (`DevScale`,
  * `DevScaleAnn`, `DevScaleCuration`, `DevSkewSessions`,
  * `DevOverlapScale`, `DevBpeScale`) share. Every corpus is a pure
  * function of the row id, so a row measured in one main reads the same
  * data in another and across runs.
  *
  * The mains live in the test tree, off the library jar; run one with
  * `sbt "Test/runMain graft.DevScale [nEvents] [row ...]"`. The
  * ARCHITECTURE.md rows were taken at 32 cores: set SPARK_GRAFT_CPUS=32
  * to re-run one (the session factory defaults to 4).
  */
object ScaleCorpus {

  private val StartMicros = 1704067200000000L // 2024-01-01 UTC
  private val SpanMicros = 30L * 86400000000L // 30 days

  /** `n` events uniform over 30 days from 2024-01-01 UTC, value 0–199.99,
    * `user_id` from `user` (a function of `id`).
    */
  def events(spark: SparkSession, n: Long, user: Column): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(StartMicros) + pmod(xxhash64(col("id")), lit(SpanMicros)))
        .as("ts"),
      user.as("user_id"),
      (pmod(xxhash64(col("id") + 13), lit(20000)) / 100.0).as("value"))

  /** `users` tenants spread uniformly over the event ids. */
  def uniformUser(users: Long): Column = pmod(xxhash64(col("id") + 7), lit(users))

  /** [[events]] in the six-column shape of the `events` table. */
  def eventTable(ev: DataFrame, eventType: Column): DataFrame =
    ev.select(col("event_id"), col("ts"), col("user_id"),
      eventType.as("event_type"), col("value"), lit("{}").as("props"))

  private val Vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
    "pi", "rho", "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega",
    "scan", "hash", "merge", "join", "window", "batch", "query")

  private def wordsAt(id: Column): Seq[Column] = (0 until 55).map(k =>
    element_at(typedlit(Vocab),
      (pmod(xxhash64(id * 55 + k), lit(Vocab.length)) + 1).cast("int")))

  /** `n` documents of 55 words from a 31-word vocabulary. A doc whose id
    * is 1 mod `dupEvery` is a near-duplicate of the one before it: the
    * same words with the last one replaced by "edited".
    */
  def docs(spark: SparkSession, n: Long, dupEvery: Int = 100): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(dupEvery)) === 1,
        concat_ws(" ", wordsAt(col("id") - 1).dropRight(1) :+ lit("edited"): _*))
        .otherwise(concat_ws(" ", wordsAt(col("id")): _*)).as("text"))

  /** `n` documents of 30 words from 20k seeded random words, the
    * production-vocabulary BPE corpus (the 31-word one runs out of pairs
    * after a handful of merges). Checkpointed, so a timer around a
    * tokenizer times the tokenizer, not this generator.
    */
  def richDocs(spark: SparkSession, n: Long): DataFrame = {
    val rnd = new scala.util.Random(7L)
    val words = (0 until 20000).map { _ =>
      (0 until (4 + rnd.nextInt(9))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(30)), i =>
        element_at(typedlit(words), (pmod(xxhash64(col("id") * 31 + i),
          lit(words.size)) + 1).cast("int")))).as("text"))
      .localCheckpoint()
  }

  /** A uniform 64-dim vector in [-1, 1]^64, a function of `id`. */
  def vecAt(id: Column): Column =
    transform(sequence(lit(0), lit(63)), d =>
      (pmod(xxhash64(id * 64 + d), lit(2001)) - lit(1000)) / 1000.0)

  /** `n` [[vecAt]] vectors; a vector whose id is 1 mod 100 is its
    * predecessor with component 0 nudged by 0.01.
    */
  def vectors(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      when(pmod(col("id"), lit(100)) === 1,
        transform(vecAt(col("id") - 1), (x, i) =>
          x + when(i === 0, lit(0.01)).otherwise(lit(0.0))))
        .otherwise(vecAt(col("id"))).as("embedding"))

  /** `df` written to `path` and read back, so rows time their operator
    * and not the generator. With `reuse`, a complete earlier write of
    * `path` is read as it is.
    */
  def stored(df: => DataFrame, path: String, reuse: Boolean = false): DataFrame = {
    if (!reuse || !new java.io.File(path, "_SUCCESS").exists())
      df.write.mode("overwrite").parquet(path)
    SparkSession.active.read.parquet(path)
  }

  /** Drop every cached and checkpointed block, so the next row starts
    * without the last one's frames in the block manager.
    */
  def freeCached(): Unit =
    SparkSession.active.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Run `thunk` under [[Profile.measure]] and print `label  seconds s`,
    * then `rows=N` when `thunk` returns a row count and `(rate unit/s)`
    * when `per` work units (events, docs, vectors) are given, then the
    * record's JSON line, so every timed row carries its layer breakdown.
    */
  def time[T](label: String, per: Long = 0L, unit: String = "")(thunk: => T): T = {
    val (out, p) = Profile.measure(label)(thunk)
    val sec = p.wallMs / 1e3
    val rows = out match { case n: Long => s"  rows=$n"; case _ => "" }
    val rate = if (per > 0) f"  (${per / sec}%,.0f $unit/s)" else ""
    println(f"$label%-28s $sec%8.2f s$rows$rate")
    println(p.json)
    out
  }
}
