package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Classifier, TextAnalysis}

/** Scale probe for VERDICT r21 item 5 (test sourceset — never ships):
  * q122/q162's perplexity bucketing and NB gate each scan the documents
  * corpus once. At sf0.1 the file is 584 KB, so r21 could not measure
  * whether a SHARED materialized scan boundary (one localCheckpoint of
  * the projected document columns feeding both stages) pays once the
  * scan is not noise. This probe inflates the corpus 10× by shifted
  * copies, WRITES it to parquet and re-reads it (so "scan" means a real
  * file scan, not replaying the inflation union), then times the q122
  * front half (stage 1 perplexity terciles + stage 2 NB gate +
  * semi-join) both ways, interleaved min-of-3:
  *
  *  - direct: both stages scan the parquet (the shipped shape);
  *  - shared: one lazy localCheckpoint of select(doc_id, lang, source,
  *    text) feeds both stages.
  *
  * Run: sbt "Test/runMain graft.tools.CurationScaleProbe /root/testdata/sf0.1"
  */
object CurationScaleProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    val docs0 = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val inflated = graft.BenchOne.inflateDocuments(docs0, copies = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cur10x").toString
    inflated.write.mode("overwrite").parquet(tmp)
    val d = spark.read.parquet(tmp)
    println(s"[probe] corpus rows: ${d.count()}")

    def frontHalf(base: DataFrame): DataFrame = {
      val ppl = TextAnalysis.bigramPerplexity(base, "text", "doc_id", 0.5)
      val w = Window.partitionBy(col("lang"))
        .orderBy(round(col("ppl"), 6), col("doc_id"))
      val bucketed = base
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .join(ppl, col("doc_id") === col("id"))
        .withColumn("bucket", ntile(3).over(w))
        .select(col("doc_id"), col("source"), col("text"), col("bucket"))
      val labeled = base.withColumn("y",
        TextAnalysis.qualityScore(col("text")) >= 0.88)
      val highIds = Classifier.nbScores(labeled, "doc_id", "text", "y")
        .filter(col("score") > 0).select(col("doc_id"))
      bucketed.join(highIds, Seq("doc_id"), "left_semi")
    }

    def time(label: String)(mk: => DataFrame): Double = {
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $label: $s%.3f s")
      s
    }
    // warm-up both shapes once, then interleave 3 timed reps each
    time("warm-direct") { frontHalf(d) }
    time("warm-shared") { frontHalf(d.localCheckpoint(false)) }
    val (ds, ss) = (1 to 3).map { _ =>
      (time("direct") { frontHalf(d) },
       time("shared") { frontHalf(d.localCheckpoint(false)) })
    }.unzip
    println(f"[probe] direct min=${ds.min}%.3f shared min=${ss.min}%.3f")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    spark.stop()
  }
}
