package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Measures, per fixture SF, the blocked kNN graph's (a) edge recall vs
  * the exact graph and (b) worst gap of a returned neighbor's cosine
  * below the vertex's exact k-th cosine — the numbers that pin q109c's
  * eps and SimilaritySpec's recall floor.
  *
  * Run: sbt "Test/runMain graft.tools.KnnGapProbe"
  */
object KnnGapProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val (kc, pr, rep) = (
      args.headOption.map(_.toInt).getOrElse(8),
      args.drop(1).headOption.map(_.toInt).getOrElse(2),
      args.drop(2).headOption.map(_.toInt).getOrElse(1))
    println(s"cells=$kc probes=$pr replicas=$rep")
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val e = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val cents = Similarity.kmeansCentroids(e, "embedding", "vec_id",
        k = kc, iters = 2)
      val blocked = Similarity.knnGraphBlocked(e, "embedding", "vec_id",
        cents, k = 5, probes = pr, replicas = rep).cache()
      val exact = Similarity.bruteForceTopKPartial(
        e, e, "vec_id", "embedding", "vec_id", "embedding", k = 5).cache()
      val nExact = exact.count()
      val hit = blocked.join(exact, Seq("query_id", "neighbor_id")).count()
      val kth = exact.groupBy(col("query_id")).agg(min(col("cosine")).as("kth"))
      val worstGap = blocked.join(kth, Seq("query_id"))
        .agg(max(col("kth") - col("cosine")).as("g")).head().getDouble(0)
      println(f"sf$sf recall=${hit.toDouble / nExact}%.4f worst_gap=$worstGap%.6f")
      blocked.unpersist(); exact.unpersist()
    }
    spark.stop()
  }
}
