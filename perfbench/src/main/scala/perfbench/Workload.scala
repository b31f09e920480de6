package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** What a run attempted and what failed. Calls that throw, result checks
  * that fail, and self-tests whose check accepted a corrupted result all
  * count as failures. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val passed = try ok catch { case scala.util.control.NonFatal(_) => false }
    if (!passed) { failed += 1; if (failures.size < 50) failures += name }
    passed
  }

  /** Mutation self-test: `check` must reject the corrupted result. */
  def selfTest(name: String)(check: => Boolean): Unit =
    this.check(s"selftest.$name")(!check)

  /** One call into the engine; a call that throws counts as failed. */
  def call[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        if (failures.size < 50) failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }
}

/** Facts about one workload's generated input: its size and the shape
  * figures its costs depend on (reported so they can be set beside the
  * input the generator stands in for). */
final case class InputSize(rows: Long, bytes: Long, shape: Map[String, Double] = Map.empty)

/** One benchmark workload. [[Main]] calls [[prepare]] during set-up,
  * then [[pass]] repeatedly; a pass calls the engine's public functions
  * on the prepared input and returns everything the checks need. */
trait Workload {
  type Out

  /** Generate and stage this seed's input under `work`. */
  def prepare(spark: SparkSession, seed: Long, work: Path): InputSize

  /** Costly cross-checks, made once in the traced run, untimed, each with
    * its self-test. */
  def checkOnce(spark: SparkSession, tally: Tally): Unit = ()

  /** One pass over the prepared input. `traced` marks the traced pass,
    * which may also make calls too slow to repeat in every timed pass. */
  def pass(spark: SparkSession, spans: Spans, index: Int, traced: Boolean): Out

  /** Check a pass's results. With `selfTest`, also feed each check a
    * corrupted copy and count it as failed if the check accepts it. */
  def check(out: Out, tally: Tally, selfTest: Boolean): Unit

  /** Work left behind by a pass that a next pass must not see. Untimed. */
  def cleanUp(spark: SparkSession, index: Int): Unit = ()

  /** Spans that only the traced pass makes; `trace_overhead` leaves them
    * out so that it compares the same calls. */
  def tracedOnly: Seq[String] = Nil

  /** Named figures of this workload beyond the shared end-to-end set,
    * over all timed passes. */
  def extraMetrics(outs: Seq[(Out, Spans, Double)]): Map[String, Double]

  /** Per-layer metrics of the traced pass. */
  def perLayer(spark: SparkSession, out: Out, spans: Spans, trace: EngineTrace,
      cores: Int): Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "pharma_notebook" => new PharmaNotebook
    case "curation" => new Curation
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Rows as an order-independent multiset key. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted

  /** `<span>.cpu_util` and `<span>.spill_bytes` for each span. cpu_util
    * is executor CPU time over the span's wall time times the cores. */
  def spanUsage(spans: Spans, trace: EngineTrace, cores: Int,
      names: Seq[String]): Map[String, Double] =
    names.flatMap { n =>
      val wallNs = spans.ms(n).sum * 1e6
      val c = trace(n)
      Seq(s"$n.cpu_util" -> (if (wallNs > 0) c.cpuNs / (wallNs * cores) else 0.0),
        s"$n.spill_bytes" -> c.spillBytes.toDouble)
    }.toMap
}

object Fs {
  import java.nio.file.Files
  import scala.jdk.CollectionConverters._

  private def walk[T](p: Path)(f: Iterator[Path] => T): T = {
    val s = Files.walk(p)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Total size of the regular files under `p`. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L else walk(p)(_.filter(Files.isRegularFile(_)).map(Files.size).sum)

  /** Regular files under `p` whose name ends with `suffix`. */
  def count(p: Path, suffix: String): Int =
    if (!Files.exists(p)) 0 else walk(p)(_.count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)))

  def delete(p: Path): Unit =
    if (Files.exists(p)) walk(p)(_.toSeq.reverse.foreach(Files.deleteIfExists))
}
