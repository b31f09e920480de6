package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name substrings — dump only the
    // matching queries (builder-side drill-down; the driver passes 2 args
    // and gets the full surface)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // r22 (VERDICT r21 item 2): GRAFT_VERIFY_BENCH_JOINS=1 adds the
    // bench session's preferSortMergeJoin=false, so the shuffled-hash
    // plan family the bench TIMES can be run through the DuckDB oracle
    // — the certification that the timed plans compute the declared
    // results. Unset (the driver's path) the session is byte-identical
    // to every prior round.
    val spark = (if (sys.env.contains("GRAFT_VERIFY_BENCH_JOINS"))
        builder.config("spark.sql.join.preferSortMergeJoin", "false")
      else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val matched = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.contains)) }
    // Drill-down coupling (ADVICE r8): the pharma oracles read raw-dump
    // parquet that OTHER queries produce (__PHARMA_RAW__/__LABS_RAW__
    // below). A drill-down that selects a dependent query but filters
    // out its raw dump would hand DuckDB a path to a directory that was
    // never written — force-include the dump whenever any selected
    // oracle references its placeholder.
    val rawDeps = Seq("__PHARMA_RAW__" -> "pharma_q00_raw_feed",
      "__LABS_RAW__" -> "pharma_labs_raw")
    val forced = rawDeps.collect {
      case (placeholder, dump) if matched.keys.exists(k =>
        SparkEntry.oracleSql.get(k).exists(_.contains(placeholder))) => dump
    }
    val selected = matched ++
      SparkEntry.queries.filter { case (name, _) => forced.contains(name) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Self-contained oracles (the pharma family) reference the raw-feed
    // parquet dumped above via read_parquet — substitute the absolute
    // path so the driver's DuckDB run works from any cwd.
    val rawPath = Paths.get(outDir).toAbsolutePath.toString + "/pharma_q00_raw_feed"
    val labsPath = Paths.get(outDir).toAbsolutePath.toString + "/pharma_labs_raw"
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v
        .replace("__PHARMA_RAW__", rawPath)
        .replace("__LABS_RAW__", labsPath))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
