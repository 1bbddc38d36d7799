package graft

// Focused BPE-at-production-vocabulary harness (dev aid): the
// bpe_encode_1k_merges_500k DevScale row, runnable without the full
// 20-minute sweep. Args: [nDocs] [numMerges] (defaults 500000, 1000).
// The ARCHITECTURE.md rows were taken at 32 cores: set SPARK_GRAFT_CPUS=32
// to re-run one (the session factory defaults to 4).
import org.apache.spark.sql.functions._

object DevBpeScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val numMerges = args.lift(1).map(_.toInt).getOrElse(1000)
    val spark = SparkEntry.session()
    val rnd = new scala.util.Random(7L)
    val vocab: Seq[String] = (0 until 20000).map { _ =>
      (0 until (4 + rnd.nextInt(9))).map(_ => ('a' + rnd.nextInt(26)).toChar)
        .mkString
    }.distinct
    val vlit = typedlit(vocab)
    val rich = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(30)), i =>
        element_at(vlit, (pmod(xxhash64(col("id") * 31 + i), lit(vocab.size))
          + 1).cast("int")))).as("text"))
      .localCheckpoint() // time the tokenizer, not the generator
    Profile.time(s"bpe_encode_${numMerges}m_${nDocs}d")(
      graft.functions.TextAnalysis.encodeBpe(rich, numMerges).count())
    spark.stop()
  }
}
