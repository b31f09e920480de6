package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{DedupCluster, Graph}

/** Wedge-work probe for the degree-oriented triangle census: on the
  * REAL shared-shingle edge relation (q51 params) and on a synthetic
  * hub graph, compare the oriented pair work Σ outdeg·(outdeg−1)/2
  * against the naive node-iterator's Σ deg·(deg−1)/2 — the ratio is
  * what orientation buys, and it widens exactly where it matters
  * (skew: a hub's deg² collapses to its orientation-capped outdeg²).
  * Also times the census end to end. Test sourceset, never ships.
  *
  * Run: sbt "Test/runMain graft.tools.TriangleProbe /root/testdata/sf0.1"
  */
object TriangleProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def wedgeWork(edges: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val canon = edges
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .filter(col("a") < col("b")).distinct()
        .localCheckpoint(eager = true)
      val deg = canon.select(col("a").as("node"))
        .unionAll(canon.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(eager = true)
      val naive = deg.agg(sum(col("deg") * (col("deg") - 1) / 2))
        .head().getDouble(0).toLong
      val oriented = canon
        .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
        .select(when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("src"))
        .groupBy(col("src")).agg(count(lit(1)).as("od"))
        .agg(sum(col("od") * (col("od") - 1) / 2))
        .head().getDouble(0).toLong
      val t0 = System.nanoTime()
      val tri = Graph.triangleCounts(canon.select(col("a").as("u"),
          col("b").as("v")))
        .agg(sum(col("triangles"))).head().getLong(0) / 3
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$label: edges=${canon.count()} naive_wedges=$naive " +
        f"oriented_wedges=$oriented ratio=${naive.toDouble / math.max(oriented, 1)}%.1f " +
        f"triangles=$tri census_sec=$sec%.3f")
    }

    // the real near-dup relation at bench SF
    val corpus = graft.queries.TextVectorQueries.nearDupCorpus(spark, sf)
    wedgeWork(DedupCluster.sharedShingleEdges(
      corpus, "text", "doc_id", 3, 10, 1000), "shingle_edges")
    // synthetic hub: one node joined to 2000 spokes + a sparse ring —
    // the degree-skew shape that breaks naive wedge enumeration
    val hub = ((1L to 2000L).map(i => (0L, i)) ++
      (1L until 2000L).map(i => (i, i + 1))).toDF("u", "v")
    wedgeWork(hub, "hub_graph")
    spark.stop()
  }
}
