package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Similarity

/** Scale-linearity probe for the CELLS-pinned IVF variant (test
  * sourceset — never ships): ivfTopKCells replaced the fixed-stride knob
  * precisely because a fixed stride means cells ∝ n and recall collapses
  * as the corpus grows (0.60 → 0.42 across the fixtures, r8). This probe
  * runs the shipped defaults (cells=10, nprobe=8) on 1× and 5× inflated
  * corpora — same method as the r2–r4 minhash/CC probes (5 shifted
  * copies) — and prints recall@10 vs brute force AND wall time at both
  * scales, closing the "is the cells variant actually scale-stable"
  * claim with data (VERDICT r8 missing #3). Copy 0 is unperturbed, so 1×
  * is exactly the real sf corpus; copies 1..4 get a copy- and
  * index-dependent multiplicative perturbation so the inflated corpus is
  * 5× genuinely distinct vectors, not 5 identical shells with tied
  * cosines.
  *
  * Run: sbt "Test/runMain graft.tools.IvfScaleProbe /root/testdata/sf0.1"
  */
object IvfScaleProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))

    def inflate(copies: Int): DataFrame =
      graft.BenchOne.inflateEmbeddings(base, copies)
        .repartition(spark.sessionState.conf.numShufflePartitions, col("vec_id"))

    val K = 10
    for (copies <- Seq(1, 5)) {
      val corpus = inflate(copies).cache()
      val n = corpus.count()
      val queries = corpus.filter(col("vec_id") < 5)
      val brute = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", "embedding", K).cache()
      val bruteN = brute.count().toDouble
      def runIvf(): DataFrame = Similarity.ivfTopKCells(corpus, queries,
        "vec_id", "embedding", "vec_id", "embedding",
        K, cells = 10, nprobe = 8)
      // wall time: min of 3 forced runs (first absorbs codegen)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        runIvf().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val hits = runIvf().select("query_id", "neighbor_id")
        .join(brute.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id")).count()
      println(f"copies=$copies n=$n recall@10=${hits / bruteN}%.3f " +
        f"ivf_sec_min=${times.min}%.3f reps=${times.map(t => f"$t%.2f").mkString(",")}")
      corpus.unpersist(); brute.unpersist()
    }
    spark.stop()
  }
}
