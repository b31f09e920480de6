package graft

/** Isolated reproduction of [[Bench]]'s streaming semantic-dedup sink
  * telemetry (the q101g loop) — the BenchOne-style drill-down for
  * vet_sec, built for the round-17 adjudication of the r15→r16
  * per-batch vet-time jump (VERDICT r16 item 1).
  *
  * Runs Bench's own sink section ([[Bench.sinkSection]], in Bench's
  * session) in a fresh JVM, preceded by the q12 control for
  * normalization, in one of two modes:
  *
  *  - `plain`  — the sink with nothing else in the JVM: the sink's own
  *    cost, free of session interleave;
  *  - `memo`   — first force the bench's memoized graph builds exactly
  *    as the r16 bench interleave does (q151d's winnowed edges pin
  *    localCheckpoint blocks for the rest of the JVM), then run the
  *    identical sink: the delta vs `plain` is the interleave cost.
  *
  * `reps` repetitions of the sink section (each rebuilds and drops the
  * kept table) print per-rep batch stats, so steady-state cost is
  * separable from first-run codegen/footer effects.
  *
  * Usage: runMain graft.BenchSink [plain|memo] [reps=3]
  */
object BenchSink {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "plain"
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.build()

    def forceQ(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // control: warm-up + min of 3, the Bench normalization anchor
    forceQ("q12_fact_join")
    val control = (1 to 3).map(_ => forceQ("q12_fact_join")).min

    if (mode == "memo") {
      // the r16 bench interleave: q151d materializes the memoized
      // winnowed edge relation (localCheckpoint, pinned for the JVM)
      val t = forceQ("q151d_triangle_census_winnowed")
      System.err.println(f"[bench-sink] memo build (q151d): $t%.3f s")
    }

    val perRep = (1 to reps).map(_ =>
      Bench.sinkSection(spark, sfDir, "default.semdedup_corpus_benchsink")._2)
    val repsJson = perRep.map(stats => stats.map(s =>
        f"""{"batch":${s.batchId},"rows":${s.batchRows},"kept":${s.keptRows},"vet_sec":${s.vetSec}%.3f}""")
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    println(f"""{"mode":"$mode","control_sec":$control%.3f,"sink_reps":$repsJson}""")
    spark.stop()
  }
}
