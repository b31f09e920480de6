package graft

import org.apache.spark.sql.SparkSession

/** The ONE bench-session builder, shared by [[Bench]], [[BenchOne]],
  * [[BenchSink]], [[PlanDump]] and the probes under `graft.tools`
  * (ADVICE r21): each main used to hand-copy the same six settings, and
  * any drift silently invalidates a drill-down — PlanDump's guarantee
  * that "the captured plan is the timed plan", BenchSink's that it
  * reproduces Bench's sink section.
  *
  * Master/parallelism honor `$SPARK_GRAFT_CPUS` (the driver re-runs the
  * bench at a lower core count to measure scaling — a hard-coded master
  * would ruin that measurement).
  */
object BenchSession {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, must be set before the first session: the default
      // generated-class cache (100 entries) thrashes when ~20 queries
      // rotate through one JVM — every pass re-runs Janino compilation
      // of evicted stages, billing seconds of driver-side compile time
      // to queries whose DATA path is subsecond (q30 read 5.1s vs 1.0s
      // actual; see BASELINE.md r4 note). A long-lived production driver
      // sizes this cache to its workload for exactly the same reason.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // r21 (guide §3.1/§9): let the planner pick shuffled-hash join
      // when its size conditions fit instead of always sort-merge —
      // skips both sort passes on every non-broadcast equi-join. Not a
      // local[32]-only setting: the planner still gates SHJ on per-
      // partition build-side size, so at cluster scale oversized builds
      // keep sort-merge; measured r21 on the SMJ-carrying rows
      // (q101f/q151d/q162) at 7-10% each, no row regressed. Verify
      // keeps the Spark default so the declared-result surface is
      // byte-stable against prior rounds; the SHJ plan family was
      // oracle-certified once in r22 via GRAFT_VERIFY_BENCH_JOINS=1
      // (see OPTIMIZATION_r22.md).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
