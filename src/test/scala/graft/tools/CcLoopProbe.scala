package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Probe (test sourceset — never ships): decomposes q51's wall time. */
object CcLoopProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.BenchSession.build()
    @volatile var jobs = 0
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobs += 1; starts.put(s.jobId, System.nanoTime())
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = starts.getOrDefault(e.jobId, 0L)
        if (t0 > 0) println(f"[probe] job ${e.jobId} took ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    })
    def t[T](label: String)(f: => T): T = {
      val j0 = jobs
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s, jobs=${jobs - j0}")
      r
    }
    for (rep <- 1 to 3) {
      println(s"[probe] === rep $rep ===")
      val corpus = t("corpus-construct") { graft.queries.TextVectorQueries.nearDupCorpus(spark, sfDir) }
      val edges = t("edges-construct") {
        graft.ops.DedupCluster.sharedShingleEdges(corpus, "text", "doc_id", 3, 10, 1000) }
      t("edges-noop") { edges.write.format("noop").mode("overwrite").save() }
      val comp = t("cc-loop") { graft.ops.DedupCluster.connectedComponents(edges) }
      val out = t("summary-construct") {
        val sizes = comp.groupBy(col("root")).agg(count(lit(1)).as("n"))
        sizes.agg(count(lit(1)).as("clusters"), sum(col("n")).as("clustered_docs"),
            max(col("n")).as("largest_cluster"))
          .crossJoin(corpus.agg(count(lit(1)).as("total")))
          .select(col("clusters"), col("clustered_docs"), col("largest_cluster"),
            (col("total") - col("clustered_docs") + col("clusters")).as("survivors"))
      }
      t("final-noop") { out.write.format("noop").mode("overwrite").save() }
    }
    spark.stop()
  }
}
