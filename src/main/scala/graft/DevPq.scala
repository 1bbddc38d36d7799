package graft

// Scratch diagnostic (dev aid): PQ reconstruction quality — ADC
// self-score of each vector against its own codes should approach 1.0
// if the codebooks capture the subvector geometry.
import org.apache.spark.sql.functions._

object DevPq {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val diag = graft.operators.Similarity.pqSelfScores(emb)
    diag.agg(min(col("self_score")), avg(col("self_score")),
      max(col("self_score"))).show(false)
    diag.orderBy(col("self_score")).show(5, false)
    spark.stop()
  }
}
