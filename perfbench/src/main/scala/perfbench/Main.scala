package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.BenchSession

/** Runs one workload for a fixed time and writes its metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --result <file> --report <dir> [--commit <id>]
  * }}}
  *
  * Set-up (cold session start + input generation, then the warm-up pass)
  * is timed as `setup_s`. Timed passes then run back to back, one
  * client thread with no think time, until `--seconds` have passed (at
  * least [[MinPasses]]); `run_cpu_s` is the median of the CPU time the
  * engine's threads spend in a pass. With `--trace 1` one more
  * pass runs with the benchmark's SparkListener attached and yields the
  * per-layer metrics.
  * The result JSON goes to `--result`; a one-line report with the
  * workload's own figures and the run metadata goes to stdout.
  */
object Main {
  /** The first pass runs cold (class loading, code generation, JIT): it is
    * set-up. Later passes still speed up by 10–20% each for about three
    * passes; two timed passes are what the benchmark's time budget allows,
    * and their median (their mean) was as steady over ten seeds as the
    * median of three. */
  val WarmupPasses = 1
  val MinPasses = 2

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, result: Path, report: Path, commit: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Path.of(need("work")), Path.of(need("result")), Path.of(need("report")),
      kv.getOrElse("commit", "unknown"))
  }

  /** Progress line on stderr, which the runner keeps in the run's log. */
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def topLevel(spans: Spans): String =
    spans.all.filter(_.parent.isEmpty).map(s => f"${s.name}=${s.ms / 1e3}%.2fs").mkString(" ")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Process high-water resident set size, in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Thread names, as `/proc` shows them (cut to 15 characters), of the
    * JVM's own compiler, collector and VM threads. The runner fixes the
    * compiler thread count, so none of them exits during a run. */
  private val JvmThreads =
    Seq("C1 CompilerThre", "C2 CompilerThre", "GC Thread#", "G1 ", "VM Thread", "VM Periodic Tas", "Sweeper thread")

  /** User + system CPU time of a `/proc` stat file, in clock ticks. */
  private def statTicks(path: Path): Long = {
    val s = Files.readString(path)
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }

  /** CPU seconds the engine's threads have used so far: the process's
    * user + system time (exited threads included) less that of the JVM's
    * compiler, collector and VM threads. The kernel leaves out of it the
    * time the host ran other tenants on this machine's CPUs (steal), so it
    * follows the host's load much less than wall time does. */
  private def engineCpuS(): Double = {
    val tasks = Files.list(Path.of("/proc/self/task"))
    val jvm = try tasks.iterator().asScala.map { t =>
        try {
          val comm = Files.readString(t.resolve("comm"))
          if (JvmThreads.exists(comm.startsWith)) statTicks(t.resolve("stat")) else 0L
        } catch { case _: java.io.IOException => 0L } // an engine thread that just exited
      }.sum
      finally tasks.close()
    (statTicks(Path.of("/proc/self/stat")) - jvm) / TicksPerS
  }

  /** USER_HZ, the unit of `/proc` CPU times on Linux. */
  private val TicksPerS = 100.0

  /** (steal, total) CPU time of the host so far, in clock ticks: the
    * time a virtual machine's CPUs were ready but ran someone else. */
  private def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    try run(o)
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def run(o: Opts): Unit = {
    val w = Workload(o.workload)
    val tally = new Tally
    Files.createDirectories(o.work)

    // One set-up per run: the JVM's first session start is the set-up a
    // user pays; a restarted session in the same JVM starts in about 1 s
    // against about 14 s cold, so a median over restarts would hide it.
    val setupCpu0 = engineCpuS()
    val setup0 = System.nanoTime()
    val spark = BenchSession.build()
    val input = w.prepare(spark, o.seed, o.work)
    val prepareS = (System.nanoTime() - setup0) / 1e9
    log(f"setup $prepareS%.2fs")
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism

    // passes are numbered across warm-up, timed and traced passes
    var index = 1
    val warmS = (1 to WarmupPasses).map { _ =>
      val spans = new Spans(sc)
      val t0 = System.nanoTime()
      val out = w.pass(spark, spans, index, traced = false)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"warm-up $s%.2fs ${topLevel(spans)}")
      w.cleanUp(spark, index)
      w.check(out, tally, selfTest = false)
      index += 1
      s
    }
    val setupS = prepareS + warmS.sum
    val setupCpuS = engineCpuS() - setupCpu0

    val timed = mutable.ArrayBuffer.empty[(w.Out, Spans, Double)]
    val passCpuS = mutable.ArrayBuffer.empty[Double]
    val ticks0 = cpuTicks()
    val start = System.nanoTime()
    while (timed.size < MinPasses || (System.nanoTime() - start) / 1e9 < o.seconds) {
      val spans = new Spans(sc)
      val c0 = engineCpuS()
      val t0 = System.nanoTime()
      try tally.call(s"pass $index")(w.pass(spark, spans, index, traced = false))
        .foreach { out =>
          timed += ((out, spans, (System.nanoTime() - t0) / 1e9))
          passCpuS += engineCpuS() - c0
          log(f"pass $index ${timed.last._3}%.2fs cpu ${passCpuS.last}%.2fs ${topLevel(spans)}")
        }
      finally w.cleanUp(spark, index)
      index += 1
    }
    val ticks1 = cpuTicks()
    timed.zipWithIndex.foreach { case ((out, _, _), i) =>
      w.check(out, tally, selfTest = !o.trace && i == timed.size - 1)
    }

    val runS = timed.map(_._3).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "run_cpu_s" -> Stats.median(passCpuS.toSeq))

    val perLayer: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val trace = new EngineTrace(sc)
        sc.addSparkListener(trace)
        val spans = new Spans(sc)
        val gc0 = gcMs()
        val t0 = System.nanoTime()
        val out = w.pass(spark, spans, index, traced = true)
        val tracedS = (System.nanoTime() - t0) / 1e9
        trace.settle()
        val gcS = (gcMs() - gc0) / 1e3
        sc.removeSparkListener(trace)
        tally.attempted += 1 // the traced pass, a call like the timed ones
        w.check(out, tally, selfTest = true)
        val layers = w.perLayer(spark, out, spans, trace, cores) ++ Map(
          "spark.gc_s" -> gcS,
          "peak_rss_mb" -> peakRssMb(),
          "trace_overhead" -> ((tracedS - w.tracedOnly.map(spans.totalS).sum) / Stats.median(runS) - 1))
        w.cleanUp(spark, index)
        w.checkOnce(spark, tally)
        writeTrace(o, spans, layers)
        layers
      }

    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
    val nproc = Runtime.getRuntime.availableProcessors
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload,
      "seed" -> o.seed,
      "nproc" -> nproc,
      "spark_graft_cpus" -> cpus.getOrElse("unset"),
      "oversubscribed" -> cpus.exists(_.toInt > nproc),
      // a share well above 0 marks a run slowed by other tenants of the host
      "host_steal_share_timed" -> (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "commit" -> o.commit,
      "input_rows" -> input.rows,
      "input_bytes" -> input.bytes,
      "input_shape" -> input.shape.toSeq.sortBy(_._1).to(mutable.LinkedHashMap),
      "prepare_s" -> prepareS,
      "setup_cpu_s" -> setupCpuS,
      "warmup_s" -> warmS,
      "peak_rss_mb" -> peakRssMb(),
      "passes" -> timed.size,
      "run_s" -> Stats.median(runS),
      "pass_s" -> runS,
      "pass_cpu_s" -> passCpuS.toSeq,
      "failed_share" -> tally.failed.toDouble / tally.attempted,
      "failed_share_base" -> s"${tally.failed} failed of ${tally.attempted} attempted calls, checks and self-tests",
      "failures" -> tally.failures.toSeq,
      "workload_metrics" -> w.extraMetrics(timed.toSeq))
    println(Json(Map("perfbench_report" -> report)))

    // name -> value; the runner attaches the units BENCHMARK.json declares
    val metrics = if (o.trace) perLayer else endToEnd
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (tally.failed == 0),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "metrics" -> metrics)
    Files.write(o.result, Json(result).getBytes(UTF_8))
    spark.stop()
  }

  /** The traced pass's span tree and per-layer metrics, as one JSON file. */
  private def writeTrace(o: Opts, spans: Spans, layers: Map[String, Double]): Unit = {
    val t0 = spans.all.map(_.startNs).minOption.getOrElse(0L)
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload,
      "seed" -> o.seed,
      "spans" -> spans.all.sortBy(_.startNs).map { s =>
        mutable.LinkedHashMap[String, Any]("name" -> s.name, "parent" -> s.parent,
          "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)
      },
      "per_layer" -> layers.toSeq.sortBy(_._1).to(mutable.LinkedHashMap))
    Files.createDirectories(o.report)
    Files.write(o.report.resolve(s"trace-${o.workload}-seed${o.seed}.json"), Json(doc).getBytes(UTF_8))
  }
}
