package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Dedup

/** Streaming corpus curation (SURVEY.md §2: dedup × streaming): a
  * continuous semantic-dedup SINK. Each arriving micro-batch of
  * embeddings is vetted against the PUBLISHED kept-table — the standing
  * corpus's retained representatives — plus the batch-internal min-id
  * rule, and only the surviving rows are appended. This is the shape a
  * production training-data pipeline actually runs: the corpus is
  * deduplicated exactly once, then every crawl lands through this sink
  * and the kept table only ever grows by genuinely novel documents.
  *
  * Scale shape: per batch the work is
  * [[graft.ops.Dedup.semanticDedupIncrementalBlocked]]'s —
  * O(batch × probed-cell members) through the persisted centroid index,
  * never a corpus rescan — and the append is an O(batch) file add, so
  * sink cost tracks ingest rate, not corpus size. Sequential semantics
  * (batch N sees the kept set as of batch N−1) come free from
  * foreachBatch's serialized execution; re-ingesting data that already
  * landed adds nothing, because each copy meets its own representative
  * at cosine 1 (the idempotence StreamingSpec pins).
  */
object CurationStream {

  /** Stage an embeddings frame as `parts` parquet files under a fresh
    * temp dir (emb_0.parquet, emb_1.parquet, …) for deterministic
    * file-source replay — the embeddings twin of
    * [[EventPipeline.stageAsStreamDir]], minus the ts shaping (the
    * embeddings schema has no timestamp vintage to normalize). */
  def stageEmbeddings(df: DataFrame, parts: Int = 1): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_stream")
    val stage = dir.resolve("stage")
    val out =
      if (parts == 1) {
        if (df.rdd.getNumPartitions == 0) df.repartition(1) else df.coalesce(1)
      } else df.repartition(parts)
    out.write.parquet(stage.toString)
    val listing = java.nio.file.Files.list(stage)
    try {
      val files = listing.filter(_.toString.endsWith(".parquet"))
        .sorted().iterator()
      var i = 0
      while (files.hasNext) {
        val target = dir.resolve(s"emb_$i.parquet")
        java.nio.file.Files.move(files.next(), target)
        // strictly increasing mtimes: the file source orders batches by
        // modification time, and same-millisecond moves would leave the
        // micro-batch sequence to a tiebreak
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + i * 1000L))
        i += 1
      }
    } finally listing.close()
    EventPipeline.registerTempCleanup(dir)
    dir.toString
  }

  /** Vet ONE batch against the current kept table and return the rows
    * to append — split out so the exact per-batch transform is a
    * testable value and the streaming sink is nothing but this folded
    * over micro-batches. When the table does not exist yet the batch is
    * deduplicated against an empty rep set (the batch-internal rule
    * alone), which seeds the corpus. */
  def vetBatch(
      spark: SparkSession, table: String, batch: DataFrame,
      centroidRel: DataFrame, threshold: Double, probes: Int): DataFrame = {
    val existing =
      if (spark.catalog.tableExists(table)) {
        // drop the cached file listing: under the streaming sink the
        // appends commit through the micro-batch's cloned session, and
        // this session's cached relation would otherwise keep serving
        // the pre-append snapshot — batch N MUST see batch N-1's rows
        spark.catalog.refreshTable(table)
        spark.table(table)
      } else batch.filter(lit(false))
    val keptIds = Dedup.semanticDedupIncrementalBlocked(
        existing, batch, "embedding", "vec_id", threshold, centroidRel,
        probes)
      .filter(col("kept")).select(col("id"))
    // eager snapshot: the caller appends this result to the very table
    // the plan reads — without materializing first, the insert job would
    // rescan the target while writing into it (duplicated rows at best)
    batch.join(keptIds, batch("vec_id") === col("id"))
      .select(batch.columns.map(batch(_)).toIndexedSeq: _*)
      .localCheckpoint(eager = true)
  }

  /** Per-micro-batch sink telemetry (VERDICT r11 item 5): how many rows
    * arrived, how many survived the vet, and what the vet+append cost —
    * the three numbers that make sink drift visible round over round in
    * the bench artifact (a recall regression in the blocked vet shows
    * up as kept-rate drift; a centroid-index problem as vet-cost
    * growth). */
  final case class BatchStat(
      batchId: Long, batchRows: Long, keptRows: Long, vetSec: Double)

  /** Staged-embeddings file stream, one staged file per micro-batch.
    * `schema = null` infers from the directory's current footers —
    * which ABORTS on an empty staging directory (nothing to infer
    * from); pass a pinned schema to start a sink BEFORE the first file
    * lands, the same contract as
    * [[graft.streaming.EventPipeline.readEventStream]]. */
  private def readEmbStream(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val sch = Option(schema).getOrElse(
      spark.read.option("pathGlobFilter", "emb_*.parquet").parquet(dir).schema)
    spark.readStream.schema(sch)
      .option("pathGlobFilter", "emb_*.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
  }

  /** Run the streaming semantic-dedup sink over a staged embeddings
    * directory until exhaustion: one vet-and-append per micro-batch
    * (`maxFilesPerTrigger = 1`, so each staged file is one batch, in
    * name order). The kept table is created by the first surviving
    * batch and appended thereafter; the centroid index is passed in — a
    * deployment trains it once on the seed corpus
    * ([[graft.ops.Similarity.servedCentroids]]) and does NOT retrain per
    * batch. Returns one [[BatchStat]] per processed micro-batch, in
    * batch order (its size is the batch count). The stats are
    * driver-side scalars (row counts the vet already computes plus a
    * wall-clock), so they add no jobs beyond one `count()` of the batch
    * and of the kept snapshot — both bounded by batch size, never
    * corpus size. */
  def runSemanticDedupSink(
      spark: SparkSession, dir: String, table: String,
      centroidRel: DataFrame, threshold: Double,
      probes: Int, checkpoint: Option[String] = None,
      schema: StructType = null): Seq[BatchStat] = {
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[BatchStat]()
    // With a checkpoint the file source's commit log makes the sink
    // RESUMABLE: a restarted run skips every already-consumed file and
    // vets only what arrived since — the cost contract a standing
    // ingestion pipeline needs. WITHOUT one, a rerun re-vets everything
    // and lands nothing new (idempotence, StreamingSpec) — correct but
    // O(history) instead of O(new files).
    EventPipeline.drainForeachBatch(readEmbStream(spark, dir, schema),
        checkpoint) { (batch, batchId) =>
      val t0 = System.nanoTime()
      val kept = vetBatch(spark, table, batch, centroidRel, threshold,
        probes)
      if (spark.catalog.tableExists(table))
        kept.write.mode("append").insertInto(table)
      else if (!kept.isEmpty)
        kept.write.format("parquet").saveAsTable(table)
      val vetSec = (System.nanoTime() - t0) / 1e9
      // kept is an eager localCheckpoint — count() here is a scan of
      // the snapshot RDD, not a recompute of the vet
      stats.add(BatchStat(batchId, batch.count(), kept.count(), vetSec))
      ()
    }
    // the caller reads the table through THIS session next — same stale
    // cached-listing hazard as in vetBatch
    if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
    import scala.jdk.CollectionConverters._
    stats.asScala.toSeq.sortBy(_.batchId)
  }

  /** Streaming bottom-k quantile-sketch sink: each micro-batch's
    * per-source sketch (graft.ops.Quantiles.bottomKSketch over token
    * counts) folds into a persisted sketch table through
    * mergeSketches' order-statistics identity. Unlike the additive
    * token-count sink below, this merge is REPLAY-IDEMPOTENT — the
    * merge dedups on (g, id) before re-ranking, and a given document
    * carries one immutable (hkey, ntok) — so re-processing an
    * already-merged batch is a no-op and a checkpoint is a COST
    * optimization (skip re-reads after restart), not a correctness
    * requirement. The landed table is bit-identical to the batch
    * sketch of all files (q123c pins it; StreamingSpec pins the
    * replay no-op). Per-batch cost: one batch-sized sketch build plus
    * a merge window over ≤ 2k rows per source. Returns the number of
    * micro-batches. */
  def runQuantileSketchSink(
      spark: SparkSession, dir: String, table: String, k: Int = 64,
      checkpoint: Option[String] = None,
      schema: StructType = null): Long = {
    var batches = 0L
    EventPipeline.drainForeachBatch(readEmbStream(spark, dir, schema),
        checkpoint) { (batch, _) =>
      val d = batch.select(col("source"), col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("ntok"))
      val sk = graft.ops.Quantiles.bottomKSketch(
        d, "source", "doc_id", "ntok", k)
      val merged =
        if (spark.catalog.tableExists(table))
          graft.ops.Quantiles.mergeSketches(
            Seq(spark.table(table), sk), k)
        else sk
      graft.core.TableStore.overwriteTable(spark, table,
        merged.localCheckpoint(eager = true))
      batches += 1
    }
    if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
    batches
  }

  /** Streaming k-means sufficient-statistics sink: each micro-batch of
    * embeddings is assigned against the FROZEN `centroidRel` (micro
    * space, (cid, d, cm)) and folded into the standing (cid, d, n, sxm)
    * stats table — exact integer addition, so the standing table after
    * any number of batches EQUALS a scratch pass over every row seen
    * (the [[graft.ops.Similarity.kmeansAssignStatsMicros]] decomposition
    * law; q147b gates it). Per batch the corpus is never rescanned —
    * O(batch) assignment plus an O(k·dims) merge — and
    * [[graft.ops.Similarity.kmeansCentroidsFromStats]] over the standing
    * table yields the next Lloyd centroids whenever the operator
    * chooses to advance the round: streaming mini-batch k-means with
    * exact batch-order-independent state. Returns processed batches. */
  def runKmeansStatsSink(
      spark: SparkSession, dir: String, table: String,
      centroidRel: DataFrame, checkpoint: Option[String] = None,
      schema: StructType = null): Long = {
    var batches = 0L
    EventPipeline.drainForeachBatch(readEmbStream(spark, dir, schema),
        checkpoint) { (batch, _) =>
      val stats = graft.ops.Similarity.kmeansAssignStatsMicros(
        batch, "embedding", "vec_id", centroidRel)
      val merged =
        if (spark.catalog.tableExists(table))
          graft.ops.Similarity.mergeKmeansStats(spark.table(table), stats)
        else stats
      graft.core.TableStore.overwriteTable(spark, table,
        merged.localCheckpoint(eager = true))
      batches += 1
    }
    if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
    batches
  }

  /** Streaming token-count accumulator: each micro-batch's per-(source,
    * token) counts MERGE ADDITIVELY into a persisted counts table — the
    * same mergeable-sufficient-statistics discipline as the NB
    * classifier's counts (q112c) and the HLL sketches (q115b), driven
    * by the real streaming engine. The final table powers any
    * count-derived telemetry (q120's drift KL, vocabulary growth,
    * classifier refreshes) WITHOUT a corpus rescan. The per-batch merge
    * here rewrites the vocabulary-sized table via stage-then-swap
    * (vocabulary-bounded, corpus-free); a deployment at larger vocab
    * partitions the counts table by token hash and rewrites only
    * touched partitions, exactly the q87b bucket-merge shape.
    *
    * Idempotence caveat (correctness contract, not an optimization):
    * the additive merge ignores batchId, so it is NOT replay-safe on
    * its own — re-running an already-merged batch exactly doubles its
    * counts (StreamingSpec pins this behavior). A `checkpoint` is
    * therefore MANDATORY for correctness anywhere outside a
    * fresh-table run: the streaming engine's checkpoint is what
    * guarantees each source file merges exactly once across restarts.
    * (The alternative — recording processed batchIds in the table and
    * anti-joining on them — would make the merge itself idempotent at
    * the cost of a per-batch read-modify-write on the ledger.) Returns
    * the number of micro-batches. */
  def runTokenCountSink(
      spark: SparkSession, dir: String, table: String,
      checkpoint: Option[String] = None,
      schema: StructType = null): Long = {
    var batches = 0L
    EventPipeline.drainForeachBatch(readEmbStream(spark, dir, schema),
        checkpoint) { (batch, _) =>
      val counts = batch.select(col("source"),
          explode(graft.ops.TextAnalysis.tokens(lower(col("text"))))
            .as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
      val merged =
        if (spark.catalog.tableExists(table))
          spark.table(table).unionAll(counts)
            .groupBy(col("source"), col("token"))
            .agg(sum(col("c")).as("c"))
        else counts
      graft.core.TableStore.overwriteTable(spark, table,
        merged.localCheckpoint(eager = true))
      batches += 1
    }
    if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
    batches
  }
}
