package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Similarity

/** Cost-split probe for VERDICT r21 item 6 (test sourceset — never
  * ships): is q109b/q114b's cost the k-means TRAINER or the salted
  * cell pair JOIN? Times, at 1× and 10× (shifted-copy inflated,
  * written to parquet and re-read so scans are real), the trainer
  * alone and the full blocked kNN build, both noop-sunk min-of-3.
  * Run: sbt "Test/runMain graft.tools.KnnCostSplitProbe /root/testdata/sf0.1"
  */
object KnnCostSplitProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val emb0 = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))

    def inflated(copies: Int): DataFrame = {
      val u = graft.BenchOne.inflateEmbeddings(emb0, copies)
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_knn$copies").toString
      u.write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp)
    }

    def time(label: String)(mk: => DataFrame): Double = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $label: min=${reps.min}%.3f reps=${reps.map(r => f"$r%.2f").mkString(",")}")
      reps.min
    }

    for (copies <- Seq(1, 10)) {
      val e = inflated(copies)
      val n = e.count()
      val k = Similarity.cellCountFor(n)
      println(s"[probe] === ${copies}x: $n rows, cells=$k ===")
      time(s"${copies}x trainer") {
        Similarity.kmeansCentroids(e, "embedding", "vec_id", k, iters = 2) }
      time(s"${copies}x full-knn") {
        val cents = Similarity.kmeansCentroids(e, "embedding", "vec_id", k, iters = 2)
        Similarity.knnGraphBlocked(e, "embedding", "vec_id", cents,
          k = 5, probes = 4, replicas = 2) }
    }
    spark.stop()
  }
}
