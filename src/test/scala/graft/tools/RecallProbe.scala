package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Similarity

/** Tuning probe (test sourceset — never ships in the artifact): prints
  * recall@10 of the LSH / IVF / trained-IVF ANN paths vs brute force
  * across parameter grids, on each sf dir passed as an arg.
  *
  * Run: sbt "Test/runMain graft.tools.RecallProbe /root/testdata/sf0.001 /root/testdata/sf0.1"
  * with SPARK_GRAFT_CPUS=8 to match the local[8] session the round-8
  * grid was recorded on.
  *
  * The SimilaritySpec floors and the shipped lshTopK/ivfTopKCells
  * defaults are pinned from this grid's output (round 8).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallProbe <sfDir> [<sfDir> ...]")
    val spark = graft.BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    for (sf <- args) {
      val embeds = Tables.load(spark, sf, "embeddings").cache()
      val queries = embeds.filter(col("vec_id") < 5)
      val K = 10
      val brute = Similarity.bruteForceTopK(
        embeds, queries, "vec_id", "embedding", "vec_id", "embedding", K).cache()
      val bruteN = brute.count()

      def recall(approx: DataFrame): Double = {
        val hits = brute.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
          .count()
        hits.toDouble / bruteN
      }

      val n = embeds.count()
      println(s"=== $sf (n=$n) ===")
      for (planes <- Seq(3, 4, 5, 6); tables <- Seq(8, 16)) {
        val r = recall(Similarity.lshTopK(embeds, queries,
          "vec_id", "embedding", "vec_id", "embedding", K, planes, tables))
        // candidate mass per query ≈ n·tables/2^planes (pre-dedup)
        val mass = n.toDouble * tables / (1L << planes)
        println(f"LSH planes=$planes tables=$tables recall=$r%.3f candMass≈$mass%.0f")
      }
      for (cells <- Seq(10, 20); nprobe <- Seq(4, 6, 8)) {
        val r = recall(Similarity.ivfTopKCells(embeds, queries,
          "vec_id", "embedding", "vec_id", "embedding", K, cells, nprobe))
        println(f"IVF cells=$cells nprobe=$nprobe recall=$r%.3f")
      }
      for (nprobe <- Seq(6, 8)) {
        val cents = Similarity.kmeansCentroids(embeds, "embedding", "vec_id",
          k = 10, iters = 4)
        val r = recall(Similarity.ivfTopKWithCentroids(embeds, queries,
          "vec_id", "embedding", "vec_id", "embedding", cents, K, nprobe))
        println(f"IVF-trained k=10 iters=4 nprobe=$nprobe recall=$r%.3f")
      }
      for (iters <- Seq(1, 2, 3, 4); rerank <- Seq(50, 100)) {
        val r = recall(Similarity.pqTopK(embeds, queries,
          "vec_id", "embedding", "vec_id", "embedding", K,
          m = 16, ksub = 32, iters = iters, rerank = rerank))
        println(f"PQ m=16 ksub=32 iters=$iters rerank=$rerank recall=$r%.3f")
      }
      for (nprobe <- Seq(4, 6, 8); rerank <- Seq(50, 100)) {
        val r = recall(Similarity.ivfPqTopK(embeds, queries,
          "vec_id", "embedding", "vec_id", "embedding", K,
          cells = 10, nprobe = nprobe, m = 16, ksub = 32, iters = 2,
          rerank = rerank))
        println(f"IVF-PQ cells=10 nprobe=$nprobe rerank=$rerank recall=$r%.3f")
      }
      // blocked semantic dedup: pruned-set recall and wall vs (cells,
      // probes) — pair work scales ~ probes²/cells, so the grid shows
      // where recall is bought cheapest (q101b's shipped parameters are
      // pinned from this output, round 10)
      val exactPruned = graft.ops.Dedup
        .semanticDedup(embeds, "embedding", "vec_id", 0.45)
        .filter(!col("kept")).select("id").cache()
      val nExact = exactPruned.count().toDouble
      for (cells <- Seq(8, 16, 32); probes <- Seq(1, 2, 3)) {
        val cents = Similarity.kmeansCentroids(embeds, "embedding", "vec_id",
          k = cells, iters = 2)
        val t0 = System.nanoTime()
        val hits = graft.ops.Dedup.semanticDedupBlocked(
            embeds, "embedding", "vec_id", 0.45, cents, probes = probes)
          .filter(!col("kept")).select("id")
          .join(exactPruned, Seq("id")).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SemDedup cells=$cells probes=$probes recall=${hits / nExact}%.3f wall=$sec%.2fs")
      }
      exactPruned.unpersist()
      embeds.unpersist(); brute.unpersist()
    }
    spark.stop()
  }
}
