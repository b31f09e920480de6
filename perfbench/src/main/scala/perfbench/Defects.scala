package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.BenchSession
import graft.ops.DedupCluster
import graft.pharma.{Cleaning, Dashboard, InsuranceModel, MedsFeed, PharmaFixture}

/** Repros for the known defects listed in the benchmark's README. Each
  * prints one line: the defect's name, whether it reproduced, and what was
  * seen. Exits 0 either way; a repro is evidence, not a gate.
  *
  * {{{ python3 perfbench/run.py --defects }}}
  */
object Defects {
  def main(args: Array[String]): Unit = {
    val spark = BenchSession.build()
    try {
      report("observed_clean_breaks_ml", observedCleanThenTrain(spark))
      report("cc_multi_parent_child", ccMultiParent(spark))
    } finally spark.stop()
    sys.exit(0)
  }

  private def report(name: String, outcome: (Boolean, String)): Unit =
    println(s"defect $name: ${if (outcome._1) "reproduced" else "not reproduced"} (${outcome._2})")

  /** Cleaning.observedClean, then InsuranceModel.trainAndEvaluate, in one
    * session. */
  private def observedCleanThenTrain(spark: SparkSession): (Boolean, String) = {
    val (cleaned, obs) = Cleaning.observedClean(
      MedsFeed.fromJsonString(spark, PharmaFixture.feedJson(300)))
    val ml = Dashboard.mlDataset(cleaned).cache()
    ml.count()
    val triage = obs.get
    try {
      val m = InsuranceModel.trainAndEvaluate(ml)
      (false, s"trained on ${m.trainRows + m.testRows} rows; observed $triage")
    } catch {
      case NonFatal(e) =>
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(c => s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).linesIterator.next()}")
          .toSeq
        (causes.exists(_.contains("NotSerializable")), causes.mkString(" <- "))
    }
  }

  /** Two parents sharing one child, {(1,3),(2,3)}: one component rooted
    * at 1 is correct. */
  private def ccMultiParent(spark: SparkSession): (Boolean, String) = {
    import spark.implicits._
    val comps = DedupCluster.connectedComponents(Seq((1L, 3L), (2L, 3L)).toDF("u", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val correct = Seq((1L, 1L), (2L, 1L), (3L, 1L))
    (comps != correct, s"(node, root) = ${comps.mkString(", ")}; expected ${correct.mkString(", ")}")
  }
}
