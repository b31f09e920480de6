package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.TableStore
import graft.streaming.EventPipeline

/** The event-upsert part of a pass: a staged backlog of event micro-batch
  * files drained through the versioned upsert sink (latest event per
  * user), then the head version read back. The key space is large, so the
  * published table grows to about ten thousand rows and the second batch
  * merges against the first. */
final class EventUpsert {
  import EventUpsert._

  private var work: Path = _
  private var stageDir: String = _
  private var stagedFiles = 0
  private var inputBytes = 0L
  private var latest: Map[Long, Long] = Map.empty
  private val progressLog = new ProgressLog
  private var listeningOn: SparkSession = _

  /** Generate the events and stage them as [[Files]] micro-batch files. */
  def prepare(spark: SparkSession, seed: Long, work: Path): InputSize = {
    import spark.implicits._
    this.work = work
    val events = Gen.events(seed, Events, Users)
    val df = events.map(e => (e.eventId, e.tsMicros, e.userId, e.eventType, e.value, e.props))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type", "value", "props")
    stageDir = EventPipeline.stageAsStreamDir(df, parts = Files)
    stagedFiles = Fs.count(Path.of(stageDir), ".parquet")
    inputBytes = Fs.bytes(Path.of(stageDir))
    latest = Gen.latestPerUser(events)
    InputSize(events.size.toLong, inputBytes, Map(
      "events" -> events.size.toDouble,
      "event_users" -> latest.size.toDouble,
      "staged_files" -> stagedFiles.toDouble))
  }

  def drain(spark: SparkSession, spans: Spans, index: Int): Out = {
    if (listeningOn ne spark) { spark.streams.addListener(progressLog); listeningOn = spark }
    progressLog.drain()
    val db = s"perfbench_ev$index"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val table = s"$db.events_head"
    val batches = spans("streaming.upsert") {
      EventPipeline.runUpsertSinkFromDir(spark, stageDir, table,
        checkpoint = Some(work.resolve(s"checkpoint-$index").toString), versioned = true)
    }
    val head = spans("core.read_head") {
      spark.table(table).select("user_id", "event_id").collect()
    }
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    Out(table, batches, head, progressLog.drain())
  }

  private def headOk(head: Seq[Row]): Boolean =
    head.size == latest.size && head.forall(r => latest.get(r.getLong(0)).contains(r.getLong(1)))

  def check(out: Out, tally: Tally, selfTest: Boolean): Unit = {
    tally.check("head_equals_latest_per_key")(headOk(out.head.toSeq))
    tally.check("batches_equal_staged_files")(out.batches == stagedFiles)
    tally.check("progress_per_batch")(out.progress.size == out.batches)
    if (selfTest) {
      tally.selfTest("head.drop_row")(headOk(out.head.toSeq.drop(1)))
      val r = out.head.head
      tally.selfTest("head.stale_event")(headOk(out.head.toSeq.updated(0, Row(r.getLong(0), r.getLong(1) - 1))))
      tally.selfTest("batches.extra")(out.batches + 1 == stagedFiles)
    }
  }

  def cleanUp(spark: SparkSession, index: Int): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS perfbench_ev$index CASCADE")
    Fs.delete(work.resolve(s"checkpoint-$index"))
  }

  /** Per-micro-batch trigger times, in ms. */
  def batchMs(out: Out): Seq[Double] = out.progress.map(ProgressLog.duration(_, "triggerExecution"))

  /** Events drained per second of the sink call. */
  def eventsPerS(spans: Spans): Double = Events / spans.totalS("streaming.upsert")

  def perLayer(spark: SparkSession, out: Out, trace: EngineTrace): Map[String, Double] = {
    val nb = out.batches.toDouble
    def mean(phase: String) = out.progress.map(ProgressLog.duration(_, phase)).sum / nb
    val sink = trace("streaming.upsert")
    Map(
      "streaming.trigger_ms" -> mean("triggerExecution"),
      "streaming.add_batch_ms" -> mean("addBatch"),
      "streaming.query_planning_ms" -> mean("queryPlanning"),
      "streaming.wal_commit_ms" -> mean("walCommit"),
      "streaming.latest_offset_ms" -> mean("latestOffset"),
      "streaming.commit_offsets_ms" -> mean("commitOffsets"),
      "streaming.jobs_per_batch" -> sink.jobs / nb,
      "streaming.tasks_per_batch" -> sink.tasks / nb,
      "streaming.batches" -> nb,
      "core.publish.write_amplification" -> sink.bytesWritten.toDouble / inputBytes,
      "core.publish.versions_retained" -> TableStore.listVersions(spark, out.table).size.toDouble,
      "core.publish.table_rows" -> out.head.length.toDouble)
  }
}

object EventUpsert {
  final case class Out(table: String, batches: Long, head: Array[Row],
      progress: Seq[StreamingQueryProgress])

  /** Events in the backlog, the user-key space, and the staged files (one
    * micro-batch each). */
  val Events = 12000
  val Users = 20000
  val Files = 2
  val SpanNames = Seq("streaming.upsert", "core.read_head")
}
