package graft

// Plan-capture harness for the optimization rounds: writes
// `plans/<tag>/<query>_<suffix>.txt` with `.explain("formatted")` output for
// every declared query (or the named subset), so plan-shape claims in
// OPTIMIZATION_r*.md are checkable without running Spark.
//
// Usage: runMain graft.DevPlans <tag> <suffix> [query ...]
//   e.g. runMain graft.DevPlans r14 before
//        runMain graft.DevPlans r14 after t1_sessions_30s q3_top_revenue
//
// Queries whose registry closure RUNS work at construction time (the
// streaming replays execute their micro-batches before returning a frame)
// still produce the plan of the frame the bench times — which is exactly
// the contract: the captured plan is the plan of the DataFrame whose
// `toRdd.count()` the bench measures.

object DevPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DevPlans <tag> <suffix> [query ...]")
    val (tag, suffix) = (args(0), args(1))
    // Bench's session and default sf0.1: the captured plan is the plan
    // the bench executes — stats-driven join choices and partition counts
    // depend on both, so a different session here would capture a plan
    // the bench never runs.
    val spark = SparkEntry.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    // a typo'd query name must fail LOUDLY (nonzero exit), not log one
    // line and exit 0 with no plan file (advisor finding, r14)
    val unknown = args.drop(2).filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — names must match SparkEntry.queries")
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val plan = SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plans] $n ok")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plans] $n FAILED: ${e.getMessage}")
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }
    spark.stop()
  }
}
