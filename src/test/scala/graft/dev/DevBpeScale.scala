package graft

// Focused BPE-at-production-vocabulary harness: the
// bpe_encode_1k_merges_500k DevScale row, runnable without the full
// 20-minute sweep. Args: [nDocs] [numMerges] (defaults 500000, 1000).

object DevBpeScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val numMerges = args.lift(1).map(_.toInt).getOrElse(1000)
    val spark = SparkEntry.session()
    val rich = ScaleCorpus.richDocs(spark, nDocs)
    ScaleCorpus.time(s"bpe_encode_${numMerges}m_${nDocs}d")(
      graft.functions.TextAnalysis.encodeBpe(rich, numMerges).count())
    spark.stop()
  }
}
