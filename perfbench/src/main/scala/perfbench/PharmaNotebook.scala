package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.TableStore
import graft.pharma.{Cleaning, Dashboard, DashboardSql, InsuranceModel, MedsFeed}

/** The reference notebooks at scale: JSON feed → cleaning → managed-table
  * overwrite → the 14 dashboard queries in seeded rounds → the insurance
  * classifier; beside it, on the same table store, a backlog of event
  * micro-batches upserted through the streaming sink ([[EventUpsert]]). */
final class PharmaNotebook extends Workload {
  import PharmaNotebook._

  type Out = PharmaNotebook.Out

  private var seed = 0L
  private var feedDir: Path = _
  private var feed: Gen.Feed = _
  private var expected: Map[Int, Seq[String]] = Map.empty
  private val events = new EventUpsert

  def prepare(spark: SparkSession, seed: Long, work: Path): InputSize = {
    this.seed = seed
    feedDir = work.resolve("feed")
    feed = Gen.feed(seed, Docs, PerDoc, feedDir)
    val ev = events.prepare(spark, seed, work)
    InputSize(feed.records + ev.rows, feed.bytes + ev.bytes, Map(
      "feed_records" -> feed.records.toDouble,
      "dropped_price_share" -> (feed.nullPrice + feed.zeroPrice).toDouble / feed.records,
      "ml_row_share" -> feed.mlRows.toDouble / feed.records) ++ ev.shape)
  }

  private def raw(spark: SparkSession): DataFrame =
    spark.read.text(feedDir.toString).withColumnRenamed("value", "json")

  /** Refresh, triage, seeded rounds of the 14 dashboard queries, then the
    * event backlog drain. The insurance classifier (89 Spark jobs, about
    * 11 s warm on 4 cores) runs in the traced pass only: repeating it in
    * every timed pass does not fit the benchmark's time budget. */
  def pass(spark: SparkSession, spans: Spans, index: Int, traced: Boolean): Out = {
    spans("pharma.refresh") {
      val cleaned = Cleaning.all(MedsFeed.flatten(raw(spark)))
      spans("core.overwrite") { TableStore.overwriteTable(spark, Table, cleaned) }
    }
    val triage = spans("pharma.triage") {
      Cleaning.priceTriage(MedsFeed.flatten(raw(spark))).head()
    }
    val table = spark.table(Table)
    val rng = new Random(seed * 1000003L + index)
    val queries = spans("pharma.dashboard") {
      (0 until Rounds).flatMap(_ => rng.shuffle((1 to 14).toList)).map { n =>
        spans(f"pharma.dashboard.q$n%02d") {
          val t0 = System.nanoTime()
          val df = DashboardSql.run(spark, table, n)
          val rows = df.collect()
          val ms = (System.nanoTime() - t0) / 1e6
          Query(n, rows, ms, df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
        }
      }
    }
    val upsert = events.drain(spark, spans, index)
    val ml = if (!traced) None else Some(spans("pharma.ml") {
      InsuranceModel.trainAndEvaluate(Dashboard.mlDataset(spark.table(Table)))
    })
    Out(triage, queries, upsert, ml)
  }

  /** SQL front door ≡ DataFrame twin for all 14 queries, on the table the
    * last pass published. */
  override def checkOnce(spark: SparkSession, tally: Tally): Unit = {
    val table = spark.table(Table)
    val pairs = (1 to 14).map { n =>
      n -> (Workload.canon(DashboardSql.run(spark, table, n).collect().toSeq),
        Workload.canon(Dashboard.all(n)(table).collect().toSeq))
    }
    pairs.foreach { case (n, (sql, df)) => tally.check(s"sql_equals_dataframe.q$n")(sql == df) }
    val (sql, df) = pairs.find(_._2._1.size > 1).get._2
    tally.selfTest("sql_equals_dataframe.drop_row")(sql == df.drop(1))
  }

  private def triageOk(t: Row): Boolean =
    t.getLong(0) == feed.records && t.getLong(1) == feed.nullPrice &&
      t.getLong(2) == feed.zeroPrice && t.getLong(3) == feed.validPrice

  /** Every query returns the rows it returned in the first checked pass
    * (the warm-up), whose planted counts are checked independently. */
  private def queryOk(n: Int, rows: Seq[String]): Boolean = expected.get(n).contains(rows)

  // q1's total_medications is the cleaned table's row count
  private def cleanedRowsOk(queries: Seq[Query]): Boolean =
    queries.filter(_.n == 1).forall(_.rows.head.getLong(0) == feed.validPrice)

  private def mlOk(m: InsuranceModel.Metrics): Boolean =
    m.reloadOk && m.trainRows + m.testRows == feed.mlRows

  def check(out: Out, tally: Tally, selfTest: Boolean): Unit = {
    if (expected.isEmpty)
      expected = out.queries.map(q => q.n -> Workload.canon(q.rows.toSeq)).toMap
    tally.check("triage_buckets_equal_planted")(triageOk(out.triage))
    tally.check("cleaned_rows_equal_planted")(cleanedRowsOk(out.queries))
    out.queries.foreach { q =>
      tally.check(s"dashboard_rows.q${q.n}")(queryOk(q.n, Workload.canon(q.rows.toSeq)))
    }
    out.ml.foreach(m => tally.check("ml_reload_and_row_count")(mlOk(m)))
    events.check(out.upsert, tally, selfTest)
    if (selfTest) {
      val t = out.triage
      tally.selfTest("triage.shift_bucket")(
        triageOk(Row(t.getLong(0), t.getLong(1) + 1, t.getLong(2), t.getLong(3) - 1)))
      val q1 = out.queries.find(_.n == 1).get
      val bumped = Row.fromSeq(q1.rows.head.toSeq.updated(0, q1.rows.head.getLong(0) - 1))
      tally.selfTest("cleaned_rows.drop_row")(cleanedRowsOk(Seq(q1.copy(rows = Array(bumped)))))
      val q = out.queries.find(_.rows.length > 1).get
      tally.selfTest("dashboard_rows.drop_row")(queryOk(q.n, Workload.canon(q.rows.toSeq.drop(1))))
      out.ml.foreach { m =>
        tally.selfTest("ml.lose_test_row")(mlOk(m.copy(testRows = m.testRows - 1)))
        tally.selfTest("ml.reload_mismatch")(mlOk(m.copy(reloadOk = false)))
      }
    }
  }

  override def cleanUp(spark: SparkSession, index: Int): Unit = events.cleanUp(spark, index)

  override def tracedOnly: Seq[String] = Seq("pharma.ml")

  def extraMetrics(outs: Seq[(Out, Spans, Double)]): Map[String, Double] = {
    val qms = outs.flatMap(_._1.queries.map(_.ms))
    val batchMs = outs.flatMap(o => events.batchMs(o._1.upsert))
    Map(
      "refresh_s" -> Stats.median(outs.flatMap(_._2.ms("pharma.refresh")).map(_ / 1e3)),
      "dashboard_p50_ms" -> Stats.median(qms),
      "dashboard_p90_ms" -> Stats.quantile(qms, 0.9),
      "dashboard_queries" -> qms.size.toDouble,
      "batch_p50_ms" -> Stats.median(batchMs),
      "batches" -> batchMs.size.toDouble,
      "events_per_s" -> Stats.median(outs.map(o => events.eventsPerS(o._2))))
  }

  def perLayer(spark: SparkSession, out: Out, spans: Spans, trace: EngineTrace,
      cores: Int): Map[String, Double] = {
    val nq = out.queries.size.toDouble
    val dash = trace("pharma.dashboard")
    val ml = trace("pharma.ml")
    val overwrite = trace("core.overwrite")
    Map(
      "pharma.refresh.s" -> spans.totalS("pharma.refresh"),
      "pharma.refresh.tasks" -> trace("pharma.refresh").tasks.toDouble,
      "pharma.refresh.keep_ratio" ->
        out.queries.find(_.n == 1).get.rows.head.getLong(0).toDouble / out.triage.getLong(0),
      "pharma.triage.s" -> spans.totalS("pharma.triage"),
      "core.overwrite.bytes_written" -> overwrite.bytesWritten.toDouble,
      "core.overwrite.files_written" -> spark.table(Table).inputFiles.length.toDouble,
      "pharma.dashboard.plan_ms" -> out.queries.map(_.planMs).sum / nq,
      "pharma.dashboard.exec_ms" -> out.queries.map(q => q.ms - q.planMs).sum / nq,
      "pharma.dashboard.jobs_per_query" -> dash.jobs / nq,
      "pharma.dashboard.tasks_per_query" -> dash.tasks / nq,
      "pharma.dashboard.shuffle_bytes_per_query" -> dash.shuffleWriteBytes / nq,
      "pharma.ml.s" -> spans.totalS("pharma.ml"),
      "pharma.ml.jobs" -> ml.jobs.toDouble,
      "pharma.ml.tasks" -> ml.tasks.toDouble,
      "pharma.ml.shuffle_bytes" -> ml.shuffleWriteBytes.toDouble) ++
      events.perLayer(spark, out.upsert, trace) ++
      Workload.spanUsage(spans, trace, cores, SpanNames ++ EventUpsert.SpanNames)
  }
}

object PharmaNotebook {
  final case class Query(n: Int, rows: Array[Row], ms: Double, planMs: Double)
  final case class Out(triage: Row, queries: Seq[Query], upsert: EventUpsert.Out,
      ml: Option[InsuranceModel.Metrics])

  val Table = "default.medications"
  /** Feed size: Docs documents of PerDoc records each. */
  val Docs = 10
  val PerDoc = 500
  /** Dashboard rounds per pass; each round issues the 14 queries once. */
  val Rounds = 1
  val SpanNames = Seq("pharma.refresh", "core.overwrite", "pharma.triage", "pharma.dashboard", "pharma.ml")
}
