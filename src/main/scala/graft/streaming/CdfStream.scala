package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DeltaExport
import graft.ops.Incremental

/** STREAMING CHANGE DATA FEED source (SURVEY.md §2: Delta × streaming;
  * VERDICT r19 item 1): tail a CDF-enabled Delta table as a micro-batch
  * stream — the local re-expression of Databricks'
  * `readStream.option("readChangeFeed", true)` — so the incremental
  * consumer family (incremental aggregates, incremental semantic dedup,
  * IVF upserts) is fed by the table's own feed instead of hand-carried
  * batches.
  *
  * The checkpoint speaks the engine's own two-log protocol, re-expressed
  * for a source the built-in engine lacks:
  *
  *   offsets/<batchId>  {"fromVersion":N,"toVersion":M}  — BEFORE the batch
  *   commits/<batchId>  {}                               — AFTER it
  *
  * A batch is the feed of table versions (fromVersion, toVersion] read
  * through [[DeltaExport.readDeltaCdf]] — per-commit schema resolution,
  * maintenance commits (OPTIMIZE / PURGE / CHECKPOINT) invisible, and
  * expired ranges refused loudly, all inherited from the batch reader.
  * On restart, an offsets entry without its commit marker REPLAYS that
  * exact version range (the feed of a fixed range is deterministic), so
  * a handler that is idempotent per batch — a Delta txn-watermark sink,
  * or the versioned-snapshot fold below — yields exactly-once end to
  * end: the same contract Structured Streaming's offset log gives its
  * built-in sources.
  *
  * Scale shape: per tick the driver reads ONE directory listing and two
  * tiny checkpoint files; all row work is the distributed feed scan,
  * O(changes in range), never O(table). `maxVersionsPerBatch` bounds a
  * cold-start backlog the way maxFilesPerTrigger bounds a file source.
  */
object CdfStream {

  /** One delivered micro-batch: the feed covered table versions
    * (fromVersion, toVersion]. `replayed` marks a redelivery of a batch
    * whose commit marker was lost to a crash. */
  final case class CdfBatch(
      batchId: Long, fromVersion: Long, toVersion: Long, replayed: Boolean)

  private def offsetsDir(ckpt: String): Path = Paths.get(ckpt, "offsets")
  private def commitsDir(ckpt: String): Path = Paths.get(ckpt, "commits")

  /** Atomic publish: write-to-temp, fsync, then ATOMIC_MOVE — a crash
    * never leaves a torn checkpoint entry (a torn offsets file would
    * replay a wrong range, which is silent corruption, not a retry). */
  private def writeAtomic(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    val ch = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try {
      ch.write(java.nio.ByteBuffer.wrap(
        content.getBytes(StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  private def batchIdsIn(d: Path): Seq[Long] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.forall(_.isDigit)).map(_.toLong).toSeq.sorted
      } finally s.close()
    }

  private def offsetOf(ckpt: String, b: Long): (Long, Long) = {
    val txt = new String(Files.readAllBytes(
      offsetsDir(ckpt).resolve(b.toString)), StandardCharsets.UTF_8)
    val re = """"fromVersion":(-?\d+),"toVersion":(-?\d+)""".r
    val m = re.findFirstMatchIn(txt).getOrElse(throw new IllegalStateException(
      s"checkpoint offsets/$b is malformed: $txt"))
    (m.group(1).toLong, m.group(2).toLong)
  }

  /** Deliver every pending commit of `tableDir`'s change feed to
    * `handler`, micro-batch by micro-batch, until the watermark reaches
    * the table's latest version. Returns the batches delivered by THIS
    * call (a quiet table returns empty — the poll-cycle normal case).
    *
    * `startingVersion` is the first table version whose changes the
    * stream delivers when the checkpoint is fresh (0 = full history,
    * the v0 create included); an existing checkpoint always wins. The
    * handler MUST be idempotent per (batchId, range) — a crash between
    * the handler and the commit marker redelivers that batch with
    * `replayed = true`. */
  def processAllAvailable(
      spark: SparkSession, tableDir: String, checkpointDir: String,
      startingVersion: Long = 0L,
      maxVersionsPerBatch: Int = Int.MaxValue)(
      handler: (DataFrame, CdfBatch) => Unit): Seq[CdfBatch] = {
    require(maxVersionsPerBatch >= 1, "maxVersionsPerBatch must be >= 1")
    Files.createDirectories(offsetsDir(checkpointDir))
    Files.createDirectories(commitsDir(checkpointDir))
    val delivered = scala.collection.mutable.ArrayBuffer.empty[CdfBatch]
    val offs = batchIdsIn(offsetsDir(checkpointDir))
    val comms = batchIdsIn(commitsDir(checkpointDir)).toSet
    // a batch with offsets but no commit marker died mid-flight: replay
    // its EXACT recorded range before taking new work (at most one can
    // be pending — batches are strictly sequential)
    var watermark = startingVersion - 1
    var nextId = 0L
    offs.lastOption.foreach { b =>
      val (from, to) = offsetOf(checkpointDir, b)
      if (!comms.contains(b)) {
        val batch = CdfBatch(b, from, to, replayed = true)
        handler(DeltaExport.readDeltaCdf(spark, tableDir, from, Some(to)),
          batch)
        writeAtomic(commitsDir(checkpointDir).resolve(b.toString), "{}")
        delivered += batch
      }
      watermark = to
      nextId = b + 1
    }
    var more = true
    while (more) {
      // a fully-expired log (checkpoint only, every JSON commit
      // reclaimed) still answers the quiet poll: the checkpoint
      // version bounds what could exist
      val latest = (DeltaExport.lastCheckpoint(tableDir)
        .map(_.version).toSeq ++ DeltaExport.logVersions(tableDir)) match {
        case Seq() => throw new IllegalStateException(
          s"$tableDir has neither JSON commits nor a checkpoint")
        case vs => vs.max
      }
      if (latest <= watermark) more = false
      else {
        val to = math.min(latest, watermark + maxVersionsPerBatch)
        val batch = CdfBatch(nextId, watermark, to, replayed = false)
        writeAtomic(offsetsDir(checkpointDir).resolve(nextId.toString),
          s"""{"fromVersion":$watermark,"toVersion":$to}""")
        handler(DeltaExport.readDeltaCdf(spark, tableDir, watermark,
          Some(to)), batch)
        writeAtomic(commitsDir(checkpointDir).resolve(nextId.toString), "{}")
        // bounded checkpoint: only the LAST (offsets, commits) pair is
        // ever consulted on restart — older entries are dead weight a
        // long-lived stream would otherwise accumulate without bound
        // (one extra pair kept for forensics)
        Seq(offsetsDir(checkpointDir), commitsDir(checkpointDir))
          .foreach(d => batchIdsIn(d).filter(_ < nextId - 1)
            .foreach(b => Files.deleteIfExists(d.resolve(b.toString))))
        delivered += batch
        watermark = to
        nextId += 1
      }
    }
    delivered.toSeq
  }

  // ---- versioned-snapshot fold: exactly-once incremental aggregate ----

  private def stateDir(ckpt: String, b: Long): Path =
    Paths.get(ckpt, "state", b.toString)

  /** The standing aggregate after the last COMMITTED batch — the
    * readable face of [[runIncrementalAggregate]]'s checkpoint. None
    * before the first batch lands. */
  def currentAggregate(
      spark: SparkSession, checkpointDir: String): Option[DataFrame] =
    batchIdsIn(commitsDir(checkpointDir)).lastOption
      .map(b => spark.read.parquet(stateDir(checkpointDir, b).toString))

  /** CDF stream → [[graft.ops.Incremental.applyChanges]], exactly-once
    * by construction: each batch folds the feed into the PREVIOUS
    * batch's immutable snapshot and publishes the result as a fresh
    * snapshot directory, so a replayed batch recomputes the identical
    * state instead of double-applying (functional persistence — the
    * same discipline Delta's own versioned log uses). The maintained
    * view is [[Incremental.baseAggregate]] over the table's live rows:
    * O(changes) + O(touched groups) per batch, never a base rescan —
    * the "crawl updates flow to a clean corpus without rescans" loop,
    * driven by the table's own feed. Returns this call's batches. */
  def runIncrementalAggregate(
      spark: SparkSession, tableDir: String, checkpointDir: String,
      keyCols: Seq[String], sumCols: Seq[String],
      startingVersion: Long = 0L,
      maxVersionsPerBatch: Int = Int.MaxValue): Seq[CdfBatch] =
    processAllAvailable(spark, tableDir, checkpointDir, startingVersion,
      maxVersionsPerBatch) { (feed, batch) =>
      val pre =
        if (batch.batchId == 0L)
          // the empty aggregate, shaped off the feed itself — with
          // startingVersion = 0 the v0 inserts arrive through the feed,
          // so the fold needs no out-of-band seed
          Incremental.baseAggregate(
            feed.filter(lit(false))
              .drop("_change_type", "_commit_version"),
            keyCols, sumCols)
        else spark.read.parquet(
          stateDir(checkpointDir, batch.batchId - 1).toString)
      val next = Incremental.applyChanges(pre,
        feed.drop("_commit_version"), keyCols, sumCols)
      // mode overwrite: a replayed batch rewrites ITS OWN snapshot dir
      // (same deterministic content); the pre-state it read is a
      // different, already-committed directory and stays untouched
      next.write.mode("overwrite")
        .parquet(stateDir(checkpointDir, batch.batchId).toString)
      // bounded state: batch b's handler runs only after b-1 committed,
      // so snapshots older than b-1 are unreachable by any replay —
      // prune them or a long-lived stream holds every aggregate ever
      // (batch b-1 itself stays: it is THIS batch's replay pre-state)
      val stateRoot = Paths.get(checkpointDir, "state")
      batchIdsIn(stateRoot).filter(_ < batch.batchId - 1).foreach { b =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          stateDir(checkpointDir, b).toFile)
      }
    }

  // ---- CDF stream → incremental semantic dedup (the clean-corpus loop) ----

  /** Vet one batch of arrivals against the kept Delta corpus AS IT
    * STANDS — the per-batch transform of [[runIncrementalDedup]], split
    * out so a sequential fold in a contract query runs the IDENTICAL
    * plan ([[graft.streaming.CurationStream.vetBatch]]'s discipline,
    * Delta-backed). Returns the surviving arrival rows, eagerly
    * snapshotted (the caller appends them to the very table the plan
    * reads). A missing kept table seeds EMPTY — the first batch
    * deduplicates against itself alone. */
  def vetArrivals(
      spark: SparkSession, keptDir: String, arrivals: DataFrame,
      vecCol: String, idCol: String, threshold: Double,
      centroidRel: DataFrame, probes: Int): DataFrame = {
    if (!Files.isDirectory(Paths.get(keptDir, "_delta_log")))
      DeltaExport.writeDeltaTable(spark, arrivals.filter(lit(false)),
        keptDir)
    val existing = DeltaExport.readDeltaTable(spark, keptDir)
    // the survivor list joins under a reserved alias — a bare "id"
    // would be ambiguous whenever the arrivals frame itself carries a
    // column of that name
    val keptIds = graft.ops.Dedup.semanticDedupIncrementalBlocked(
        existing, arrivals, vecCol, idCol, threshold, centroidRel, probes)
      .filter(col("kept")).select(col("id").as("__kept_id"))
    arrivals.join(keptIds, arrivals(idCol) === col("__kept_id"))
      .select(arrivals.columns.map(arrivals(_)).toIndexedSeq: _*)
      .localCheckpoint(eager = true)
  }

  /** CDF stream → incremental semantic dedup into a Delta-backed kept
    * corpus — "crawl updates flow to a clean corpus without rescans",
    * driven end to end by the source table's own change feed. Each
    * batch's INSERT rows are vetted against the kept corpus as of the
    * previous batch ([[graft.ops.Dedup.semanticDedupIncrementalBlocked]]
    * — O(batch × probed-cell members) through the frozen centroid
    * index, never a corpus rescan) and the survivors land through
    * [[DeltaExport.appendDeltaTableIdempotent]] with the batch id as
    * the txn watermark: a replayed batch is DOUBLY safe — its rows now
    * meet their own representatives at cosine 1 AND the kept table's
    * txn state skips the append — so delivery is exactly-once without
    * a versioned snapshot. Deletes in the source do not retract kept
    * documents (a curation corpus only grows; retraction is a
    * compliance pass, not dedup). Returns this call's batches. */
  def runIncrementalDedup(
      spark: SparkSession, sourceDir: String, checkpointDir: String,
      keptDir: String, vecCol: String, idCol: String, threshold: Double,
      centroidRel: DataFrame, probes: Int,
      startingVersion: Long = 0L,
      maxVersionsPerBatch: Int = Int.MaxValue): Seq[CdfBatch] =
    processAllAvailable(spark, sourceDir, checkpointDir, startingVersion,
      maxVersionsPerBatch) { (feed, batch) =>
      val arrivals = feed.filter(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version")
      val survivors = vetArrivals(spark, keptDir, arrivals, vecCol,
        idCol, threshold, centroidRel, probes)
      if (!survivors.isEmpty) {
        DeltaExport.appendDeltaTableIdempotent(spark, survivors, keptDir,
          s"graft-cdf-dedup:${streamId(checkpointDir)}", batch.batchId)
        ()
      }
    }

  /** Stable per-stream identity, minted once into the checkpoint — the
    * txn appId key (Structured Streaming's queryId discipline). A
    * HARDCODED appId would make two streams feeding the same kept
    * table, or one stream after a checkpoint reset, skip each other's
    * batch ids as "already applied" and silently drop survivors. */
  private def streamId(checkpointDir: String): String = {
    val p = Paths.get(checkpointDir, "stream_id")
    if (!Files.isRegularFile(p)) {
      Files.createDirectories(p.getParent)
      try writeAtomic(p, java.util.UUID.randomUUID().toString)
      catch {
        // a concurrent open of the same checkpoint minted it first —
        // theirs wins (ATOMIC_MOVE onto an existing name may refuse)
        case _: java.nio.file.FileSystemException => ()
      }
    }
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim
  }
}
