package graft

// Dev scale audit for the cross-source overlap readout: 1000 sources ×
// 100k-token vocabularies (100M (source, token) rows) with a planted
// half-step overlap structure — adjacent sources share exactly V/2
// tokens, everything else shares 0. Times the two halves separately:
//   state build   — one corpus pass, hll_sketch_agg per source
//   pair readout  — sources²/2 ≈ 500k pairs of ~KB artifact merges,
//                   corpus never touched
// and checks the estimates against the planted truth at the same
// union-relative bound the oracle gate uses (5%). Args: [nSrc] [vocab] [lgK].
import org.apache.spark.sql.functions._

object DevOverlapScale {
  def main(args: Array[String]): Unit = {
    val nSrc = args.headOption.map(_.toInt).getOrElse(1000)
    val v = args.drop(1).headOption.map(_.toInt).getOrElse(100000)
    val spark = SparkEntry.session()
    val step = v / 2 // adjacent sources overlap exactly v/2 tokens
    val toks = spark.range(nSrc.toLong * v).select(
      concat(lit("s"), lpad(expr(s"id div $v").cast("string"), 4, "0"))
        .as("source"),
      concat(lit("t"), expr(s"id div $v") * step + pmod(col("id"), lit(v)))
        .as("tok"))
    import ScaleCorpus.time
    val lgK = args.drop(2).headOption.map(_.toInt).getOrElse(12)
    val state = time("state_build") {
      val st = toks.groupBy(col("source"))
        .agg(hll_sketch_agg(col("tok"), lit(lgK)).as("sketch"))
        .localCheckpoint()
      st.count(); st
    }
    val est = time("pair_readout") {
      val e = graft.operators.Sketches.overlapEstimatesFromState(state)
        .localCheckpoint()
      (e.count(), e)
    }._2
    // planted truth: |ovl(a,b)| = v/2 for adjacent source ids, else 0;
    // union = 2v − overlap. Check EVERY pair against the 5%-of-union gate.
    val sIdx = (c: org.apache.spark.sql.Column) =>
      substring(c, 2, 4).cast("int")
    val checked = est.select(col("est_overlap"), col("est_union"),
        when(sIdx(col("src_b")) - sIdx(col("src_a")) === 1, v.toLong / 2)
          .otherwise(0L).as("exact_ovl"))
      .select(((abs(col("est_overlap") - col("exact_ovl")) * 100)
        <= (lit(2L * v) - col("exact_ovl")) * 5).as("ok"),
        (abs(col("est_overlap") - col("exact_ovl")) * 100.0
          / (lit(2.0 * v) - col("exact_ovl"))).as("err_pct"))
    val bad = checked.filter(!col("ok")).count()
    val worst = checked.agg(max(col("err_pct"))).head().getDouble(0)
    println(f"[overlap-scale] pairs=${nSrc.toLong * (nSrc - 1) / 2} " +
      f"failed=$bad worst_err=$worst%.2f%% of union (gate 5%%)")
    spark.stop()
  }
}
