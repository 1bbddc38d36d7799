package graft

/** [[Profile]] reads what a query did from Spark's listeners: plan shape,
  * job and task totals, streaming micro-batches and state — and leaves no
  * listener behind.
  */
class ProfileSpec extends SparkSpec {

  private val fixture = "/root/testdata/sf0.001"

  /** [[Profile]]'s listeners still registered on the context bus, the
    * session's execution listeners and its streaming listeners. The first
    * two lists are package-private in Spark, hence the reflective reads.
    */
  private def profileListeners(): Seq[AnyRef] = {
    def call(o: AnyRef, m: String): AnyRef = o.getClass.getMethod(m).invoke(o)
    val all =
      call(call(spark.sparkContext, "listenerBus"), "listeners")
        .asInstanceOf[java.util.List[AnyRef]].toArray.toSeq ++
      call(spark.listenerManager, "listListeners").asInstanceOf[Array[AnyRef]] ++
      spark.streams.listListeners()
    all.filter(_.getClass.getName.startsWith("graft.Profile"))
  }

  test("records plan shape, jobs and streaming state per query; no listener left") {
    val recs = Seq("ann_topk_brute", "q3_top_revenue", "t1_sessions_outoforder")
      .map(name => name -> Profile.query(spark, fixture, name)).toMap
    assert(profileListeners().isEmpty)

    assert(recs("ann_topk_brute").shape.bnlj >= 1, recs("ann_topk_brute").json)
    val q3 = recs("q3_top_revenue")
    assert(q3.shape.bnlj == 0 && q3.shape.scans >= 1, q3.json)
    val ooo = recs("t1_sessions_outoforder")
    assert(ooo.batches >= 3 && ooo.stateRows > 0, ooo.json)
    assert(ooo.durationMs.contains("addBatch"), ooo.json)
    // a streaming query runs on its own session clone, whose generated
    // classes miss the codegen cache: its first run compiles
    assert(ooo.codegenCompiles > 0, ooo.json)
    recs.values.foreach { r =>
      assert(r.jobs > 0 && r.taskMs > 0 && r.driverMs >= 0, r.json)
    }
  }

  test("measure records any block and unregisters when it throws") {
    val (n, rec) = Profile.measure("range") {
      spark.range(1000).selectExpr("sum(id)").collect().head.getLong(0)
    }
    assert(n == 499500L)
    assert(rec.label == "range" && rec.jobs >= 1 && rec.shape.plans == 1, rec.json)
    intercept[IllegalStateException](Profile.measure("boom")(throw new IllegalStateException))
    assert(profileListeners().isEmpty)
  }
}
