package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call: its name, the enclosing span, and its wall clock. */
final case class Span(name: String, parent: Option[String], startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Wall-clock spans around the benchmark's calls into the engine.
  *
  * Every span also publishes its path ("outer/inner") as a SparkContext
  * local property, so a [[EngineTrace]] listener can attribute the jobs a
  * call starts to that call. Local properties are inherited by threads
  * the call starts, which covers the streaming query thread.
  */
final class Spans(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil

  def apply[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    stack = name :: stack
    sc.setLocalProperty(Spans.Key, stack.reverse.mkString("/"))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Spans.Key,
        if (stack.isEmpty) null else stack.reverse.mkString("/"))
      done += Span(name, parent, t0, t1)
    }
  }

  def all: Seq[Span] = done.toSeq
  def ms(name: String): Seq[Double] = done.iterator.filter(_.name == name).map(_.ms).toSeq
  def totalS(name: String): Double = ms(name).sum / 1e3
}

object Spans {
  val Key = "perfbench.span"
}

/** Engine counters summed over the tasks of the jobs a span started. */
final class Counters {
  var jobs, tasks, cpuNs = 0L
  var shuffleWriteBytes, shuffleWriteRecords = 0L
  var spillBytes, bytesWritten = 0L
}

/** SparkListener owned by the benchmark: attributes each job (and its
  * stages' tasks) to every span on the path published by [[Spans]]. It is
  * registered only for the traced pass. Listener callbacks run on the one
  * listener-bus thread; readers call [[settle]] first. */
final class EngineTrace(sc: SparkContext) extends SparkListener {
  private val stageSpans = new ConcurrentHashMap[Int, Array[String]]()
  private val counters = new ConcurrentHashMap[String, Counters]()

  private def of(name: String): Counters = counters.computeIfAbsent(name, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val path = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
    path.foreach { p =>
      val names = p.split('/')
      names.foreach(of(_).jobs += 1)
      e.stageIds.foreach(stageSpans.put(_, names))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val names = stageSpans.get(e.stageId)
    val m = e.taskMetrics
    if (names != null && m != null) names.foreach { n =>
      val c = of(n)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.diskBytesSpilled
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until every posted event has reached the listeners. */
  def settle(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def apply(name: String): Counters = counters.getOrDefault(name, new Counters)
}

/** Streaming progress of every micro-batch, in the Structured Streaming
  * progress model (durationMs per phase, numInputRows). Always on: the
  * per-batch trigger time is reported from the untraced passes too. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)

  /** Progress of the batches that carried data, and forget them. */
  def drain(): Seq[StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var p = events.poll()
    while (p != null) { if (p.numInputRows > 0) out += p; p = events.poll() }
    out.toSeq
  }
}

object ProgressLog {
  def duration(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)
}
