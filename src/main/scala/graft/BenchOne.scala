package graft

import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Query bench probe: times registered queries for N reps each and
  * prints every rep — the drill-down companion to [[Bench]] (which
  * reports only the interleaved min). Used to separate genuine plan
  * regressions from machine-load noise when a headline number drifts.
  *
  * With a `copies` list it is also the scale probe: for each `copies`
  * above 1 it synthesizes a corpus `copies`× the real one (see
  * [[stage]]), times every query there unchanged — same plans, same
  * served-index lifecycle — and deletes the staged dir afterwards.
  * `copies` 1 times the real sf dir. The first rep absorbs any index
  * [re]build and codegen, so read the min.
  *
  * Usage: runMain graft.BenchOne <query>[,<query>...] [reps=5] [copies[,copies...]]
  *   e.g. BenchOne q51_dedup_clusters,q104_duplicated_spans 3 1,10
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 5
    val copiesList = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq else Nil
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bench's exact session, by construction (shared builder)
    val spark = BenchSession.build()
    def force(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def report(name: String, dir: String, copiesKey: String): Unit = {
      val times = (1 to reps).map(_ => force(name, dir))
      println(f"""{"query":"$name"$copiesKey,"reps":[${times.map(t => f"$t%.3f").mkString(",")}],"min":${times.min}%.3f}""")
    }
    if (copiesList.isEmpty) names.foreach(report(_, sfDir, ""))
    else copiesList.foreach { copies =>
      val dir = if (copies > 1) stage(spark, sfDir, copies) else sfDir
      try names.foreach(report(_, dir, s""","copies":$copies"""))
      finally if (dir != sfDir) FileUtils.deleteDirectory(new java.io.File(dir))
    }
    spark.stop()
  }

  /** Shifted-copy document inflation: copy `c` offsets `doc_id` by
    * c·10⁶ and drops the text's first `c` words (copy 0 unperturbed),
    * so copies are near-duplicates of their original — the duplicate
    * mass grows with `copies`, as it would in a real re-crawl. */
  def inflateDocuments(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      docs.withColumn("doc_id", col("doc_id") + lit(c * 1000000L))
        .withColumn("text",
          if (c == 0) col("text")
          else regexp_replace(col("text"), "^(\\S+\\s+){" + c + "}", ""))
    }.reduce(_ unionByName _)

  /** Shifted-copy embedding inflation: copy `c` offsets `vec_id` by
    * c·10⁶ and scales each component by a copy- and index-dependent
    * factor (copy 0 unperturbed), so the inflated corpus holds
    * genuinely distinct vectors rather than ties. */
  def inflateEmbeddings(emb: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      emb.withColumn("vec_id", col("vec_id") + lit(c * 1000000L))
        .withColumn("embedding", transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + lit(0.03 * c) * (pmod(i + lit(c), lit(7)) - lit(3))))
            .cast("float")))
    }.reduce(_ unionByName _)

  /** Shifted-copy event inflation: copy `c` offsets `event_id` by
    * c·10⁸ and `user_id` by c·10⁶ and slides `ts` by c minutes. */
  private def inflateEvents(events: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      events.withColumn("event_id", col("event_id") + lit(c * 100000000L))
        .withColumn("user_id", col("user_id") + lit(c * 1000000L))
        .withColumn("ts", col("ts") + expr(s"make_interval(0,0,0,0,0,$c,0)"))
    }.reduce(_ unionByName _)

  /** Writes `documents`, `embeddings` and `events` of `sfDir`, each
    * inflated `copies`×, as a normal table directory under a new temp
    * dir and returns its path; the caller deletes it. */
  private def stage(spark: SparkSession, sfDir: String, copies: Int): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_stress_${copies}x").toString
    try Seq[(String, (DataFrame, Int) => DataFrame)](
      "documents" -> inflateDocuments,
      "embeddings" -> inflateEmbeddings,
      "events" -> inflateEvents).foreach { case (table, inflate) =>
      inflate(Tables.load(spark, sfDir, table), copies)
        .repartition(32).write.parquet(s"$dir/$table.parquet")
    } catch { case NonFatal(e) =>
      FileUtils.deleteDirectory(new java.io.File(dir)); throw e
    }
    dir
  }
}
