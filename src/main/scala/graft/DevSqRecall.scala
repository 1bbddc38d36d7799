package graft

// One-off calibration: SQ8 / IVF-SQ8 hits@10 (20 queries) vs the exact
// baseline at each fixture SF — the numbers the `ann_recall_floor`
// floors are frozen against.
import org.apache.spark.sql.functions._

object DevSqRecall {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val emb = Tables.embeddings(spark, s"/root/testdata/$sf")
      val brute = graft.operators.Similarity.bruteForceTopK(emb, 20, 10)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def hits(df: org.apache.spark.sql.DataFrame): Int =
        df.select(col("query_id"), col("neighbor_id")).collect()
          .count(r => brute((r.getLong(0), r.getLong(1))))
      println(s"[sqrecall] $sf sq8=" +
        hits(graft.operators.Similarity.sqTopK(emb, 20, 10)) +
        " ivfsq=" + hits(graft.operators.Similarity.ivfSqTopK(emb, 20, 10)) +
        s" of ${brute.size}")
    }
    spark.stop()
  }
}
