package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Similarity, TextAnalysis}

/** Scale-linearity probe for the RETRIEVAL family (test sourceset —
  * never ships): q105/q105b's keyword legs broadcast the QUERY-TERM
  * postings, and the 100 TB claim rests on that broadcast staying
  * query-sized (postings of ~5 terms) while the corpus grows. This
  * probe inflates the sf0.1 documents corpus 5× by shifted copies —
  * copy 0 unperturbed, copies 1..c with the first c words dropped, the
  * r2–r4 near-dup inflation — and, per scale, prints:
  *
  *  - the matched query-term POSTING count (the only corpus-dependent
  *    relation on the broadcast side of the semi-join),
  *  - wall time (min of 3 forced runs) for the full hybrid RRF pipeline
  *    (keyword leg + vector leg + fusion) and for BM25 scoring.
  *
  * Expected shape: postings grow ∝ corpus (each copy of a matching doc
  * matches again — that IS linear), wall time grows ≤ linearly, and the
  * fused top-k stays k-sized. Run:
  * sbt "Test/runMain graft.tools.RetrievalScaleProbe /root/testdata/sf0.1"
  */
object RetrievalScaleProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    val docs0 = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val emb0 = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))

    def inflateDocs(copies: Int): DataFrame =
      graft.BenchOne.inflateDocuments(docs0, copies)
        .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))

    def inflateEmb(copies: Int): DataFrame =
      graft.BenchOne.inflateEmbeddings(emb0, copies)
        .repartition(spark.sessionState.conf.numShufflePartitions, col("vec_id"))

    for (copies <- Seq(1, 5)) {
      val docs = inflateDocs(copies).cache()
      val emb = inflateEmb(copies).cache()
      val nDocs = docs.count(); emb.count()
      val qterms = docs.filter(col("doc_id") === 0)
        .select(explode(slice(TextAnalysis.tokens(col("text")), 1, 5)).as("tok"))
        .distinct()
      // the broadcast-side posting mass: matched (doc, term) rows for
      // the query terms only — the number that must stay ∝ matching
      // docs, never ∝ vocabulary
      val postings = TextAnalysis.tfidfWeights(docs, "text", "doc_id")
        .join(broadcast(qterms), Seq("tok")).count()

      def hybrid(): DataFrame = {
        val kwW = Window.orderBy(col("score").desc, col("id"))
        val kwTop = TextAnalysis.keywordScores(docs, "text", "doc_id", qterms)
          .withColumn("rank", row_number().over(kwW))
          .filter(col("rank") <= 20).select(col("id"), col("rank"))
        val qv = broadcast(emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val vecW = Window.orderBy(col("c").desc, col("id"))
        val vecTop = emb.crossJoin(qv)
          .select(col("vec_id").as("id"),
            round(Similarity.cosine(col("embedding"), col("qv")), 4).as("c"))
          .withColumn("rank", row_number().over(vecW))
          .filter(col("rank") <= 20).select(col("id"), col("rank"))
        TextAnalysis.rrfFuse(
          Seq("kw" -> kwTop, "vec" -> vecTop), rrfK = 60, topK = 10)
      }
      def bm25(): DataFrame =
        TextAnalysis.bm25Scores(docs, "text", "doc_id", qterms)

      def minOf3(mk: () => DataFrame): Double =
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          mk().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min

      val tH = minOf3(hybrid _)
      val tB = minOf3(bm25 _)
      println(f"copies=$copies n_docs=$nDocs qterm_postings=$postings " +
        f"hybrid_sec_min=$tH%.3f bm25_sec_min=$tB%.3f fused_rows=${hybrid().count()}")
      docs.unpersist(); emb.unpersist()
    }
    spark.stop()
  }
}
