package graft

import org.apache.spark.sql.SparkSession

import graft.functions.SessionReduce

class TypedAndExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("typed SessionReduce Aggregator matches the relational arithmetic") {
    val ds = Seq((1L, 0.02), (1L, 0.03), (2L, 10.0)).toDS()
    val out = ds.groupByKey(_._1).mapValues(_._2)
      .agg(SessionReduce.toColumn)
      .collect().toMap
    assert(out(1L).session_sum == 0.05)
    assert(out(1L).count == 2L)
    assert(out(1L).session_avg == 0.03) // 2.5 cents rounds half-up
    assert(out(2L).session_avg == 10.0)
  }

  test("GraftExtensions makes graft_dot callable from SQL text") {
    // a fresh session (sharing the context) is needed — extensions apply
    // at session construction; clear/restore the default around it
    val prev = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
        .collect().head.getDouble(0)
      assert(r == 32.0)
      // the whole graft_* family rides the same extension point
      val row = s2.sql("""
        |SELECT size(graft_shingles('a b c d')) AS n_sh,
        |       size(graft_minhash(graft_shingles('a b c d'))) AS n_mh,
        |       size(graft_bandkeys(graft_minhash(graft_shingles('a b c d')))) AS n_bk,
        |       graft_simhash('a b c d') <> 0L AS sh_ok""".stripMargin)
        .collect().head
      assert(row.getInt(0) == 2 && row.getInt(1) == 128 &&
        row.getInt(2) == 32 && row.getBoolean(3))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
    // the runtime path for a session built elsewhere binds the same
    // expression into that session's function registry
    val s3 = spark.newSession()
    val dot = "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d"
    intercept[org.apache.spark.sql.AnalysisException](s3.sql(dot))
    graft.functions.ArrayOps.register(s3)
    assert(s3.sql(dot).collect().head.getDouble(0) == 32.0)
  }
}
