package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thrown when a versioned publish loses its compare-and-set check:
  * another writer moved the head between this publish computing its
  * version number and the view swap. The loser's staged version table
  * is dropped and the head keeps serving the winner's complete
  * snapshot — a silent last-writer-wins clobber becomes a loud,
  * retriable error. */
final class ConcurrentPublishException(msg: String)
  extends IllegalStateException(msg)

/** Managed-table persistence shared by every sink that writes through the
  * catalog (the pharma round-trips, the streaming upsert sink): the
  * orphan-location cleanup that each call site used to copy by hand, and
  * a stage-then-swap publish for sinks whose input plan READS the table
  * they replace.
  */
object TableStore {

  private def simpleName(table: String): String = table.split('.').last

  /** The database a (possibly qualified) name resolves to — the shared
    * rule behind every path that must agree on WHERE a table lives:
    * [[tableLocation]] (directory layout), [[listVersions]] (which
    * database to enumerate), [[versionDirs]] (which directory to
    * glob). Qualified names read their own qualifier; bare names read
    * the session's current database. */
  private def databaseOf(spark: SparkSession, table: String): String = {
    val parts = table.split('.')
    if (parts.length >= 2) parts(parts.length - 2).toLowerCase
    else spark.catalog.currentDatabase.toLowerCase
  }

  /** Re-create `table`'s database if the catalog forgot it — the
    * recovery paths' prerequisite: a session restart forgets DATABASES
    * exactly like it forgets tables (the same in-memory-catalog model
    * the adopt* helpers exist for), and a CREATE TABLE into a
    * forgotten database fails with SCHEMA_NOT_FOUND instead of
    * recovering. The database directory on disk is reused as-is. */
  private def ensureDatabase(spark: SparkSession, table: String): Unit = {
    val db = databaseOf(spark, table)
    if (!spark.catalog.databaseExists(db))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
  }

  /** Warehouse directory that holds `table`'s database: the root for
    * `default`, `<root>/<db>.db` otherwise — the catalog's managed
    * layout. */
  private def databaseDir(
      spark: SparkSession, table: String): org.apache.hadoop.fs.Path = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val db = databaseOf(spark, table)
    if (db == "default") wh else new org.apache.hadoop.fs.Path(wh, db + ".db")
  }

  /** The ONE place the table-name → warehouse-directory rule lives: the
    * recovery and cleanup paths below must agree on where a table's
    * data is, or one of them deletes/adopts the wrong directory. A
    * table the catalog knows resolves to its REAL location (managed
    * tables in a non-default database live under `<db>.db/<table>`,
    * not `<table>`); for names the catalog has forgotten — the whole
    * point of the recovery paths — the fallback applies the same
    * layout rule from the name's qualifier or the session's current
    * database. The catalog lowercases identifiers, so managed
    * directories are lowercase regardless of how the caller spells
    * the name. */
  private def tableLocation(
      spark: SparkSession, table: String): org.apache.hadoop.fs.Path = {
    val fromCatalog =
      if (!spark.catalog.tableExists(table)) None
      else scala.util.Try {
        import org.apache.spark.sql.functions.col
        spark.sql(s"DESCRIBE TABLE EXTENDED $table")
          .filter(col("col_name") === "Location")
          .head().getString(1)
      }.toOption
    fromCatalog.map(new org.apache.hadoop.fs.Path(_)).getOrElse(
      new org.apache.hadoop.fs.Path(
        databaseDir(spark, table), simpleName(table).toLowerCase))
  }

  private def fsOf(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Names of `table`'s PARTITION columns (catalog metadata). Shared by
    * every guard that must distinguish a real partition column from a
    * mere data column of the same name. */
  def partitionColumns(spark: SparkSession, table: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    spark.catalog.listColumns(table).collectAsList().asScala.toSeq
      .filter(_.isPartition).map(_.name)
  }

  /** Delete a managed-table LOCATION left behind by a previous session:
    * the in-memory catalog forgets tables across sessions but the
    * warehouse directory persists, and Spark refuses to create a managed
    * table over an existing location (LOCATION_ALREADY_EXISTS). No-op
    * when the table is known to THIS session's catalog — its location is
    * then legitimately owned and `mode("overwrite")` handles it. */
  def clearOrphanLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val loc = tableLocation(spark, table)
      val fs = fsOf(spark, loc)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Overwrite `table` as a managed parquet table, clearing any orphan
    * location first — the S4 sink primitive. */
  def overwriteTable(spark: SparkSession, table: String, df: DataFrame): Unit = {
    clearOrphanLocation(spark, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Stage-then-swap publish: the full data write lands in
    * `<table>__staging` while the target table stays intact and readable,
    * then the swap is two catalog operations (drop + rename — the
    * in-memory/Hive catalog moves the managed directory with the rename).
    *
    * Two properties a direct `saveAsTable(table)` overwrite lacks:
    *  - a plan that READS `table` can be published over it without eager
    *    materialization — the read executes against the still-intact
    *    target while the staging write runs (no self-overwrite hazard);
    *  - a crash during the EXPENSIVE phase (the data write) leaves the
    *    target untouched; the remaining non-atomic window is the two
    *    catalog ops, after the new snapshot is complete on disk in the
    *    staging table — recoverable, unlike a half-rewritten target.
    * A real lakehouse format (Delta/Iceberg) closes even that window by
    * making the swap a single transaction-log commit. */
  def publishTable(spark: SparkSession, table: String, df: DataFrame): Unit = {
    val staging = table + "__staging"
    if (spark.catalog.tableExists(staging)) spark.sql(s"DROP TABLE $staging")
    overwriteTable(spark, staging, df)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    clearOrphanLocation(spark, table)
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  // ---- versioned publish: reader-atomic swap + time travel ----------
  //
  // publishTable's drop+rename swap has a two-catalog-op window in which
  // a concurrent reader resolves nothing, and an overwrite deletes files
  // under any in-flight scan. The versioned publish closes both: data
  // lands in an immutable per-version table `<table>__v{k}` and ONE
  // catalog operation (ALTER VIEW ... AS — in place, the head never
  // transiently vanishes the way a drop+create swap would) repoints
  // `table` at it.
  // Readers therefore always resolve a complete snapshot, and a reader
  // that resolved version k-1 before the swap keeps scanning k-1's
  // files untouched until vacuumVersions reclaims them — snapshot
  // isolation, the same reader contract a lakehouse transaction log
  // provides, emulated on the catalog (versions = immutable snapshots,
  // the view = the log's head pointer, vacuum = retention). Writer
  // concurrency: a compare-and-set check re-reads the head immediately
  // before the view swap and fails the publish loudly
  // (ConcurrentPublishException) if another writer moved it while this
  // one staged its data — silent clobber becomes a retriable error.
  // The check-then-swap pair is still two operations, so a conflict
  // landing INSIDE that metadata-only window can slip through; closing
  // it for good is what genuinely needs a real transaction log's
  // atomic commit (Delta/Iceberg). The window this narrows is the
  // expensive one: the whole data write.

  /** Publish `df` as the next version of `table` and atomically repoint
    * the `table` view at it. Returns the new version number. The name
    * must be free or already a versioned-publish view (it carries the
    * `graft.version` property) — a plain table OR a user's own view
    * under this name fails with a named cause rather than being
    * silently clobbered by the CREATE OR REPLACE. Crash between the
    * data write and the view swap leaves an orphan `__v{k}` table:
    * readers still resolve the previous complete version, and
    * [[vacuumVersions]] reclaims orphans above the published head.
    * Throws [[ConcurrentPublishException]] when another writer
    * published between this call computing its version number and the
    * swap; the staged version table is dropped first, so retrying
    * merges against the winner's head. `beforeSwap` is a test seam —
    * the conflict-injection point between the data write and the
    * compare-and-set. */
  def publishVersioned(spark: SparkSession, table: String, df: DataFrame,
      beforeSwap: () => Unit = () => ()): Long = {
    // ONE head read serves both the view-ownership guard and the CAS
    // baseline — a second identical catalog round-trip per publish (one
    // per micro-batch in the versioned sink) would be exactly the
    // metastore churn the vacuum cadence knob exists to avoid
    val observed = currentVersion(spark, table)
    if (spark.catalog.tableExists(table)) {
      // a concurrent FIRST publish's CREATE VIEW can land between the
      // exists check and this read — treat NOT_FOUND as not-exists and
      // let the swap's own create-race handling surface the conflict.
      // Only that condition: swallowing every failure here would skip
      // both ownership guards on a transient metastore error and let
      // the swap hijack a user's own view
      val tpe = try Some(spark.catalog.getTable(table).tableType) catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(_.contains("NOT_FOUND")) => None
      }
      if (tpe.exists(_ != "VIEW"))
        throw new IllegalStateException(
          s"$table exists as a ${tpe.get} table — " +
            "versioned publish needs the name free or a graft version view")
      // re-read before refusing: `observed` may predate a concurrent
      // writer's create — a stale None must surface as a CONFLICT at
      // the CAS, not as a misleading user-view refusal
      if (tpe.contains("VIEW") && observed.isEmpty &&
          currentVersion(spark, table).isEmpty)
        throw new IllegalStateException(
          s"$table exists as a view without the graft.version property — " +
            "refusing to replace a view this publish path did not create")
    }
    // publishing is allowed to re-create a database a session restart
    // forgot — the versioned SINK resumes through this call even when
    // adoptVersioned found nothing adoptable (markers stripped)
    ensureDatabase(spark, table)
    val next = claimNextVersion(spark, table,
      listVersions(spark, table).lastOption.getOrElse(0L) + 1, df.schema)
    // INSERT OVERWRITE into the claimed table, NOT saveAsTable:
    // saveAsTable(Overwrite) DROPS the existing catalog entry first and
    // re-registers it only when the write finishes, which would release
    // the claim for the entire data write — a concurrent claimant would
    // then orphan-clean the half-written directory and stage under the
    // same number, the exact corruption the claim exists to prevent.
    // insertInto keeps the entry registered throughout.
    df.write.mode("overwrite").insertInto(s"${table}__v$next")
    beforeSwap()
    // compare-and-set: the head this publish numbered against must not
    // have moved during the data write — two interleaved writers would
    // otherwise both swap and the earlier one's snapshot would vanish
    // without any error (see module comment for the residual window)
    val head = currentVersion(spark, table)
    if (head != observed) {
      // the claim guarantees __v{next} is OURS alone (never the head the
      // winner published — same-number staging is impossible), so the
      // drop destroys only this loser's staged data; the head check is
      // defense in depth against a manually forged claim
      val cleanup =
        if (head == Some(next))
          s"staged __v$next RETAINED (it is the current head)"
        else { // destroys only this loser's staged data
          spark.sql(s"DROP TABLE IF EXISTS ${table}__v$next")
          clearOrphanLocation(spark, s"${table}__v$next")
          s"staged __v$next dropped"
        }
      throw new ConcurrentPublishException(
        s"concurrent publish on $table: head moved from " +
          s"${observed.getOrElse("none")} to ${head.getOrElse("none")} while " +
          s"this publish staged — $cleanup; retry merges against the new head")
    }
    // the swap. NOT `CREATE OR REPLACE VIEW`: for v1 permanent views
    // that is drop+create in the catalog, so the head would transiently
    // VANISH — a reader resolving in that window gets TABLE_NOT_FOUND
    // (breaking the reader-atomicity contract), and a concurrent
    // writer's guard reads race it. ALTER VIEW ... AS changes the
    // definition in place (one alterTable — the head never vanishes);
    // only the very FIRST publish creates, and losing that create race
    // to a concurrent first publisher is a conflict like any other.
    // The version property lands in a second catalog op, so a reader
    // can briefly see the new definition with the old property — the
    // same documented check-then-swap metadata window the CAS leaves.
    try {
      if (spark.catalog.tableExists(table)) {
        spark.sql(s"ALTER VIEW $table AS SELECT * FROM ${table}__v$next")
        spark.sql(
          s"ALTER VIEW $table SET TBLPROPERTIES ('graft.version' = '$next')")
      } else {
        spark.sql(
          s"""CREATE VIEW $table
             |TBLPROPERTIES ('graft.version' = '$next')
             |AS SELECT * FROM ${table}__v$next""".stripMargin)
      }
    } catch {
      // CreateViewCommand's own exists check throws a PLAIN
      // AnalysisException (TABLE_OR_VIEW_ALREADY_EXISTS); the
      // TableAlreadyExistsException subclass only covers the narrower
      // catalog-level window — match the error condition so neither
      // shape of losing the first-publish create race escapes un-named
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.contains("ALREADY_EXISTS")) =>
        spark.sql(s"DROP TABLE IF EXISTS ${table}__v$next")
        clearOrphanLocation(spark, s"${table}__v$next")
        throw new ConcurrentPublishException(
          s"concurrent publish on $table: lost the first-publish create " +
            s"race — staged __v$next dropped; retry merges against the " +
            "winner's head")
    }
    // data complete AND head swapped: only now clear the claim marker.
    // Unsetting before the CAS+swap would leave the staged version an
    // unprotected above-head non-claim for that whole window — a
    // concurrent vacuumVersions would drop it, and if the drop landed
    // between the two swap ops the head view would dangle. After the
    // swap this version IS the head, retained unconditionally; a crash
    // before this line leaves a claim-marked head, which vacuum also
    // never drops while it serves — once a later publish moves the head
    // past it, vacuum reclaims it like any other expired claim.
    spark.sql(
      s"ALTER TABLE ${table}__v$next UNSET TBLPROPERTIES ('graft.claim')")
    next
  }

  /** Claim a version NUMBER by creating the (empty) version table —
    * with the REAL schema and a `graft.claim` marker property — before
    * any data is written: catalog CREATE TABLE is atomic on a name, so
    * two racing writers can never stage under the same number — without
    * the claim, both would compute the same `next` (a CTAS only
    * registers at the END of its data write), the slower writer would
    * rewrite the winner's published files and its CAS-failure cleanup
    * would then DROP the live head. The claim stays registered through
    * the data write (the publish writes with INSERT OVERWRITE, which
    * never drops the entry) and the marker — stamped with the claim's
    * birth time — is cleared only after the head swap, so the staged
    * version is vacuum-protected through the whole CAS+swap window. A
    * claim whose writer crashed is reclaimed by [[vacuumVersions]] once
    * the head passes its number AND its stamp ages past the claim TTL,
    * and [[adoptVersioned]]'s marker gate refuses it. Returns the
    * claimed number (≥ `from`). */
  private[graft] def claimNextVersion(
      spark: SparkSession, table: String, from: Long,
      schema: org.apache.spark.sql.types.StructType): Long = {
    val ddl =
      schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    var next = from
    var fsRetries = 0
    var claimed = false
    while (!claimed) {
      // NO preemptive orphan cleanup here: deleting the location before
      // CREATE raced a concurrent claimant's own directory creation
      // (observed as spurious "failed to create its directory") —
      // instead react to the two specific ways the CREATE can fail
      try {
        // marker value = claim birth time: vacuum's below-head claim
        // protection is TTL-gated on it (see vacuumVersions)
        spark.sql(
          s"""CREATE TABLE ${table}__v$next ($ddl) USING parquet
             |TBLPROPERTIES ('graft.claim' = '${System.currentTimeMillis}')""".stripMargin)
        claimed = true
      } catch {
        case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException =>
          // another writer holds this number — take the next one
          next += 1; fsRetries = 0
        case NonFatal(e) if e.getMessage != null &&
            e.getMessage.contains("LOCATION_ALREADY_EXISTS") =>
          // an abandoned run's orphan DIRECTORY under an unregistered
          // number: reclaim it and retry the SAME number (bounded — a
          // persistent failure here is a real fs problem, not a race)
          clearOrphanLocation(spark, s"${table}__v$next")
          fsRetries += 1; if (fsRetries > 3) throw e
        case e: org.apache.spark.SparkException if e.getMessage != null &&
            e.getMessage.contains("failed to create its directory") =>
          // transient filesystem race with a concurrent claimant on this
          // number: if they registered it meanwhile, move past them;
          // otherwise retry it (bounded, same rationale as above)
          if (spark.catalog.tableExists(s"${table}__v$next")) {
            next += 1; fsRetries = 0
          } else {
            fsRetries += 1; if (fsRetries > 3) throw e
          }
      }
    }
    next
  }

  /** The birth timestamp (epoch millis) of `${table}__v$version`'s
    * `graft.claim` marker, if the marker is still set — the version's
    * publish never completed (crashed) or is still in flight
    * (concurrent writer). None = published (marker unset) or the
    * version table is gone. Catches only NOT_FOUND: any other catalog
    * failure must surface, not silently read as "not a claim" (vacuum
    * would then drop a live claim mid-write). */
  private def claimStamp(
      spark: SparkSession, table: String, version: Long): Option[Long] =
    try {
      val v =
        spark.sql(s"SHOW TBLPROPERTIES ${table}__v$version ('graft.claim')")
          .head().getString(1)
      // a missing property yields a "does not have property" sentinel
      // string — parses as no-claim; legacy boolean markers as epoch 0
      // (immediately TTL-expired)
      if (v == "true") Some(0L) else scala.util.Try(v.toLong).toOption
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.contains("NOT_FOUND")) => None
    }

  /** All version numbers of `table` present in the catalog, ascending
    * (catalog METADATA — bounded by the retention policy, not data).
    * Enumerates the database the name RESOLVES to, so a db-qualified
    * versioned table's versions are found regardless of the session's
    * current database; a database the catalog no longer knows (session
    * restart) holds no cataloged versions by definition. */
  def listVersions(spark: SparkSession, table: String): Seq[Long] = {
    if (!spark.catalog.databaseExists(databaseOf(spark, table))) return Nil
    val prefix = simpleName(table).toLowerCase + "__v"
    spark.catalog.listTables(databaseOf(spark, table)).collect().toSeq
      .map(_.name)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)
      .sorted
  }

  /** The version the `table` view currently serves, if any. Absence —
    * no table, concurrently dropped (NOT_FOUND), or no `graft.version`
    * property (the missing-property sentinel string fails the parse) —
    * reads as None; any other catalog failure propagates, because the
    * publish guard and the CAS both key off this value and a swallowed
    * transient would read as "no head", skipping both. */
  def currentVersion(spark: SparkSession, table: String): Option[Long] =
    if (!spark.catalog.tableExists(table)) None
    else try {
      val v = spark.sql(s"SHOW TBLPROPERTIES $table ('graft.version')")
        .head().getString(1)
      scala.util.Try(v.toLong).toOption
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.contains("NOT_FOUND")) => None
    }

  /** Time travel: read version `version` of `table` regardless of what
    * the head view serves. Fails (table not found) once the version has
    * been vacuumed. */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    spark.table(s"${table}__v$version")

  /** Change-data-feed read between two published versions: the row
    * changes that transform snapshot `fromVersion` into `toVersion`,
    * one row per inserted/deleted row image plus TWO rows
    * (`update_preimage`, `update_postimage`) per key whose non-key
    * columns changed — the Delta CDF row shape, derived here by
    * snapshot diff. Output columns are `toVersion`'s, plus
    * `_change_type`; a column added between the versions ([[addColumns]]
    * republish) reads NULL on the pre-image side and surfaces as
    * updates wherever post values differ from that NULL.
    *
    * A snapshot diff (unlike a transaction log) needs a ROW IDENTITY:
    * `keyCols` must be unique per snapshot — exactly what the
    * latest-per-key upsert sinks that feed versioned tables guarantee.
    * Duplicate keys would silently multiply join rows into phantom
    * changes, so the guard scans both snapshots and fails loudly; it
    * costs one aggregation per side, and `checkUniqueKeys = false`
    * skips it when the writer's contract already guarantees uniqueness
    * (the sinks). Scale shape: ONE full-outer hash join keyed on
    * `keyCols` — O(|pre| + |post|) shuffle, never a cross join — and
    * the downstream consumer ([[graft.ops.Incremental]]) is O(changes),
    * which is the whole point: a 100 TB base that changed by a GB
    * yields a GB of changes. */
  def tableChanges(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String],
      checkUniqueKeys: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "tableChanges needs at least one key column")
    require(fromVersion < toVersion,
      s"fromVersion $fromVersion must precede toVersion $toVersion")
    val pre0 = readVersion(spark, table, fromVersion)
    val post = readVersion(spark, table, toVersion)
    keyCols.foreach(k => require(post.columns.contains(k),
      s"key column `$k` missing from ${table}__v$toVersion"))
    // align the pre image to the post schema: columns added between the
    // versions read NULL pre-side (they did not exist); a DROPPED column
    // would be silent data loss in the diff, so refuse it
    val extinct = pre0.columns.filterNot(post.columns.contains)
    require(extinct.isEmpty,
      s"columns ${extinct.mkString(",")} of v$fromVersion are gone in " +
        s"v$toVersion — a snapshot diff cannot represent a dropped column")
    val pre = post.schema.fields.filterNot(f => pre0.columns.contains(f.name))
      .foldLeft(pre0)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
      .select(post.columns.map(col).toIndexedSeq: _*)
    if (checkUniqueKeys) Seq(fromVersion -> pre, toVersion -> post).foreach {
      case (v, df) =>
        val dup = df.groupBy(keyCols.map(col): _*).count()
          .filter(col("count") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"${table}__v$v holds duplicate keys ${dup.head.mkString("(", ",", ")")} " +
            s"— keyCols (${keyCols.mkString(",")}) must identify rows uniquely")
    }
    val dataCols = post.columns.filterNot(keyCols.contains).toIndexedSeq
    def image(df: DataFrame, side: String) = df.select(
      keyCols.map(col) :+
        struct((if (dataCols.nonEmpty) dataCols else keyCols)
          .map(col): _*).as(s"__${side}_img"): _*)
    val joined = image(pre, "pre")
      .join(image(post, "post"), keyCols, "full_outer")
    def rows(pred: org.apache.spark.sql.Column, img: String,
        ctype: String) = joined
      .filter(pred)
      .select(keyCols.map(col) ++
        dataCols.map(d => col(s"$img.$d").as(d)) :+
        lit(ctype).as("_change_type"): _*)
      .select(post.columns.map(col) :+ col("_change_type"): _*)
    val changedPred = col("__pre_img").isNotNull && col("__post_img").isNotNull &&
      !(col("__pre_img") <=> col("__post_img"))
    rows(col("__pre_img").isNull && col("__post_img").isNotNull,
        "__post_img", "insert")
      .unionByName(rows(col("__pre_img").isNotNull && col("__post_img").isNull,
        "__pre_img", "delete"))
      .unionByName(rows(changedPred, "__pre_img", "update_preimage"))
      .unionByName(rows(changedPred, "__post_img", "update_postimage"))
  }

  /** Reclaim old snapshots: retain the newest `keep` published versions
    * — the head COUNTS toward `keep`, so `keep = 2` holds the head plus
    * one previous version — and drop everything else, including orphan
    * versions ABOVE the head, which a crash between data write and view
    * swap leaves behind (they were never visible to any reader). The
    * retention window is the time-travel horizon AND the in-flight
    * reader grace: a reader still scanning a version that falls out of
    * the newest `keep` loses its files, exactly Delta's VACUUM
    * tradeoff — use `keep >= 2` whenever concurrent readers exist
    * (`keep = 1` reclaims the previous version at the instant the next
    * head publishes). CLAIM entries (`graft.claim` marker — a data
    * write that never completed or is still in flight) are handled
    * asymmetrically: they never COUNT toward the `keep` window (an
    * empty claim must not displace the real previous snapshot a reader
    * may be scanning), an above-head claim is never DROPPED (it may be
    * a concurrent writer mid-write; dropping it would hand its number
    * to a later publish and reopen the same-number race), and a
    * BELOW-head claim is protected until its marker timestamp ages past
    * `claimTtlMs` — a later claimant can publish first and move the
    * head past a still-writing claim, which must not lose its table
    * under the write (the slow writer's own CAS failure cleans it up;
    * the TTL only reaps claims whose writer died). Returns the dropped
    * versions. */
  def vacuumVersions(spark: SparkSession, table: String, keep: Int = 2,
      claimTtlMs: Long = DefaultClaimTtlMs): Seq[Long] = {
    val all = listVersions(spark, table)
    val cur = currentVersion(spark, table)
    // steady-state short-circuit: every version at-or-below the head
    // and the count inside the keep window — zero per-version catalog
    // probes for the per-micro-batch calls the versioned sink issues.
    // The only thing this can defer is reclaiming a TTL-expired crashed
    // claim, which the next publish pushes out of the window anyway
    if (all.size <= keep && all.forall(v => cur.forall(_ >= v))) return Nil
    val memo = scala.collection.mutable.Map.empty[Long, Option[Long]]
    // the head never needs a claim probe — it is retained unconditionally
    def stamp(v: Long): Option[Long] = memo.getOrElseUpdate(v,
      if (cur.contains(v)) None else claimStamp(spark, table, v))
    val published = all.filter(v => cur.forall(_ >= v) && stamp(v).isEmpty)
    val retain = published.takeRight(keep).toSet ++ cur
    val now = System.currentTimeMillis
    val dropped = all.filterNot(retain).filterNot { v =>
      stamp(v).exists(s => cur.forall(_ < v) || now - s < claimTtlMs)
    }
    dropped.foreach { v =>
      spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v")
      clearOrphanLocation(spark, s"${table}__v$v")
    }
    dropped
  }

  /** How long [[vacuumVersions]] protects a BELOW-head claim (an
    * in-flight writer the head overtook) before treating it as dead:
    * generous relative to any single data write, so only a genuinely
    * crashed writer's claim is ever reaped out from under it. */
  val DefaultClaimTtlMs: Long = 24L * 60 * 60 * 1000

  // ---- in-place adoption of surviving directories -------------------
  //
  // The in-memory catalog forgets every table when a session dies; the
  // warehouse directories persist. The adopt* helpers re-REGISTER a
  // surviving directory (CREATE TABLE ... LOCATION — metadata only, no
  // data read or moved beyond parquet footers for the schema), so a
  // checkpoint-resumed sink merges into its published state instead of
  // losing it to orphan cleanup. Adopted tables are external
  // (location-pinned): a later DROP TABLE leaves the files — the right
  // bias for recovery paths. adoptTable/adoptPartitionedTable
  // deliberately do NOT require a _SUCCESS marker: they adopt the ONLY
  // surviving copy, and the failure modes are asymmetric — adopting a
  // torn directory surfaces as a LOUD read error (recoverable by
  // deleting the torn file), while refusing to adopt hands the
  // directory to orphan cleanup, which deletes good state
  // unrecoverably. adoptVersioned is the exception: it chooses among
  // SEVERAL surviving snapshots, so a torn never-published newest
  // version must be skipped (marker required) — otherwise the head
  // would silently serve truncated data while a complete older version
  // sits right next to it.

  /** Register a surviving UNPARTITIONED parquet directory as `table` in
    * place. Returns true iff adopted; false when the name is taken, no
    * directory survives, or the residue is not readable parquet (that
    * case is left to normal orphan cleanup). Adoption FREEZES the DDL
    * at the schema the directory holds: a stream whose source schema
    * widened across the restart fails its first merge loudly
    * (unionByName AnalysisException — the sinks' schema-evolution
    * contract) rather than silently dropping the new column; widening
    * is an explicit migration, not an adoption side effect. */
  def adoptTable(spark: SparkSession, table: String): Boolean = {
    ensureDatabase(spark, table)
    if (spark.catalog.tableExists(table)) return false
    val loc = tableLocation(spark, table)
    if (!fsOf(spark, loc).exists(loc)) return false
    val schema = scala.util.Try(spark.read.parquet(loc.toString).schema)
      .getOrElse(return false)
    val ddlCols =
      schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(
      s"CREATE TABLE $table ($ddlCols) USING parquet LOCATION '${loc.toString}'")
    true
  }

  /** Partitioned twin of [[adoptTable]] for the partition-scoped upsert
    * sink: registers the directory and recovers its partitions. The
    * partition column's TYPE comes from partition-value inference on
    * the directory names (the schema read below folds it in, so a
    * date- or string-partitioned directory registers its real type) —
    * EXCEPT that integral inference is widened to BIGINT: small
    * directory names infer INT where the bucket writer wrote BIGINT,
    * an INT registration breaks the sink's positional inserts, and
    * the widening is lossless. Refuses a FLAT directory that merely
    * carries `partitionCol` as a data column (no `partitionCol=` child
    * directories): adopting it would register a zero-partition table
    * whose scans read empty — the same silent-truncation trap the
    * sink's partition-column guard blocks in-catalog. Restores the
    * `graft.buckets` property from the directory's marker file when
    * present, so the sink's bucket-count guard survives the adoption
    * (the catalog entry is rebuilt from scratch here and would
    * otherwise lose it). */
  def adoptPartitionedTable(
      spark: SparkSession, table: String, partitionCol: String): Boolean = {
    ensureDatabase(spark, table)
    if (spark.catalog.tableExists(table)) return false
    val loc = tableLocation(spark, table)
    val fs = fsOf(spark, loc)
    if (!fs.exists(loc)) return false
    // a directory PARTITIONED by the column has partitionCol=... children;
    // a flat one does not, however its file schema reads
    if (!fs.listStatus(loc).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith(partitionCol + "=")))
      return false
    // an empty or non-parquet residue directory is not a table — leave
    // it to the seed branch's normal orphan cleanup rather than failing
    // the sink's start on schema inference
    val schema = scala.util.Try(spark.read.parquet(loc.toString).schema)
      .getOrElse(return false)
    if (!schema.fieldNames.contains(partitionCol)) return false
    val partType = schema(partitionCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => "BIGINT"
      case dt => dt.sql
    }
    val ddlCols = (schema.fields.filterNot(_.name == partitionCol)
      .map(f => s"`${f.name}` ${f.dataType.sql}") :+
      s"`$partitionCol` $partType").mkString(", ")
    spark.sql(
      s"""CREATE TABLE $table ($ddlCols) USING parquet
         |PARTITIONED BY ($partitionCol)
         |LOCATION '${loc.toString}'""".stripMargin)
    spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
    storedBucketMarker(spark, loc).foreach(b =>
      spark.sql(
        s"ALTER TABLE $table SET TBLPROPERTIES ('graft.buckets' = '$b')"))
    true
  }

  // ---- bucket-count contract for hash-partitioned tables ------------
  //
  // The partition-scoped upsert sink computes __bucket =
  // pmod(xxhash64(key), buckets). The modulus is part of the TABLE's
  // identity, not the job's: resuming with a different value computes
  // new buckets for old keys, so a key's old row sits in a partition
  // the touched-bucket merge never reads while its new row lands in
  // another — duplicate keys, silently. The count is therefore
  // recorded at seed time in TWO places: a TBLPROPERTY (what the
  // in-session guard reads) and an `_graft_buckets` marker file beside
  // the data (what a cross-session adoption — which rebuilds the
  // catalog entry from the directory — restores the property from;
  // underscore-prefixed, so parquet readers ignore it like _SUCCESS).

  /** Record `buckets` as `table`'s immutable bucket-count contract:
    * TBLPROPERTY + directory marker (see section comment). */
  def setBucketCount(spark: SparkSession, table: String, buckets: Int): Unit = {
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES ('graft.buckets' = '$buckets')")
    val loc = tableLocation(spark, table)
    val fs = fsOf(spark, loc)
    val out = fs.create(new org.apache.hadoop.fs.Path(loc, "_graft_buckets"), true)
    try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The bucket count `table` was seeded with, if recorded. */
  def bucketCount(spark: SparkSession, table: String): Option[Int] =
    scala.util.Try(
      spark.sql(s"SHOW TBLPROPERTIES $table ('graft.buckets')")
        .head().getString(1).toInt).toOption

  private def storedBucketMarker(spark: SparkSession,
      loc: org.apache.hadoop.fs.Path): Option[Int] = {
    val fs = fsOf(spark, loc)
    val marker = new org.apache.hadoop.fs.Path(loc, "_graft_buckets")
    if (!fs.exists(marker)) None
    else scala.util.Try {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }.toOption
  }

  /** Versioned twin of [[adoptTable]] for the versioned upsert sink: a
    * session restart forgets the head view AND every `__v{k}` version
    * table, so a resumed versioned publish would restart numbering at
    * v1 — and, reaching an old number, orphan-clean the surviving
    * snapshot directory it is about to reuse. This re-registers every
    * surviving version directory in place and repoints the head view at
    * the newest, so publishing continues above it. Returns the restored
    * head version, if any. */
  def adoptVersioned(spark: SparkSession, table: String): Option[Long] = {
    if (spark.catalog.tableExists(table)) return None
    val candidates = versionDirs(spark, table)
    if (candidates.isEmpty) return None
    val fs = fsOf(spark, candidates.head._1)
    // Marker gate, decided by CONFIGURATION rather than observed
    // absence (see module comment): with success markers enabled (the
    // default), every genuinely published version carries _SUCCESS, so
    // an unmarked survivor is torn or foreign and must not become the
    // head — it is reclaimed by clearOrphanLocation when its number is
    // reused. With markers DISABLED by config, marker absence proves
    // nothing; refusing every survivor would let the restarted
    // numbering orphan-clean the published state, so all readable
    // candidates are adopted — torn-newest protection is then only as
    // good as schema readability, the documented markers-disabled
    // tradeoff. Observed-absence gating would conflate the two cases:
    // on a markers-ENABLED cluster whose markers were stripped by
    // external tooling it would adopt a torn newest permanently.
    val markersEnabled = spark.sparkContext.hadoopConfiguration.getBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    val trusted =
      if (!markersEnabled) candidates
      else candidates.filter { case (p, _) =>
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) }
    val survivors = trusted.map(_._2).sorted
    val adopted = survivors.filter(v => adoptTable(spark, s"${table}__v$v"))
    adopted.lastOption.map { head =>
      spark.sql(
        s"""CREATE OR REPLACE VIEW $table
           |TBLPROPERTIES ('graft.version' = '$head')
           |AS SELECT * FROM ${table}__v$head""".stripMargin)
      head
    }
  }

  /** Delete warehouse version-directory residue of `table` that has NO
    * catalog entry — the fresh-run isolation step for the versioned
    * sink. An abandoned earlier run's `__v{k}` directories are
    * invisible to [[vacuumVersions]] (catalog-driven) and would
    * otherwise persist forever — unbounded disk, and stale snapshots
    * that retention policies can no longer reach — or, worse, be
    * adopted into a later resume. Cataloged versions (live state owned
    * by this session) are untouched. */
  def clearVersionResidue(spark: SparkSession, table: String): Unit = {
    val onDisk = versionDirs(spark, table)
    if (onDisk.isEmpty) return
    val cataloged = listVersions(spark, table).toSet
    val fs = fsOf(spark, onDisk.head._1)
    onDisk.filter { case (_, v) => !cataloged.contains(v) }
      .foreach { case (p, _) => fs.delete(p, true) }
  }

  /** Every on-disk version DIRECTORY of `table` as (path, number) —
    * the one shared enumeration behind [[adoptVersioned]] and
    * [[clearVersionResidue]], so the adoption and cleanup paths can
    * never disagree about which directories are `table`'s versions.
    * Uses a glob so the filesystem lists only matching entries (the
    * warehouse may hold thousands of unrelated tables; on an object
    * store a full root listing is a paginated scan). Globs the
    * DATABASE's directory (`<db>.db/` for non-default), the same
    * layout rule as [[tableLocation]] — globbing the warehouse root
    * for a db-qualified table would silently see no versions. */
  private def versionDirs(spark: SparkSession,
      table: String): Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val base = databaseDir(spark, table)
    val fs = fsOf(spark, base)
    if (!fs.exists(base)) return Nil
    val prefix = simpleName(table).toLowerCase + "__v"
    fs.globStatus(new org.apache.hadoop.fs.Path(base, prefix + "*")).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        scala.util.Try(s.getPath.getName.stripPrefix(prefix).toLong)
          .toOption.map(v => (s.getPath, v))
      }
  }

  /** OPTIMIZE-style compaction for an UNPARTITIONED managed table: the
    * many small files accumulated by incremental writes are rewritten as
    * `files` large ones (coalesce — narrow, no shuffle) and published
    * stage-then-swap so a reader never sees a half-compacted table.
    * Pure layout change: same rows, same schema. At 100 TB this is the
    * maintenance op that keeps scan task counts and footer overhead
    * sane after many small appends; `files` should target ~128 MB-1 GB
    * per file on a real cluster. */
  def compactTable(spark: SparkSession, table: String, files: Int = 1): Unit = {
    // a partitioned table would be silently REWRITTEN UNPARTITIONED here
    // (saveAsTable carries no partitioning), losing pruning and breaking
    // the partition-scoped upsert's dynamic overwrite — refuse with the
    // sibling to use instead
    val partCols = partitionColumns(spark, table)
    require(partCols.isEmpty,
      s"$table is partitioned by ${partCols.mkString(",")} — use " +
        "compactPartitions, compactTable would flatten the partitioning")
    publishTable(spark, table, spark.table(table).coalesce(files))
  }

  /** OPTIMIZE for a Hive-partitioned managed table: rewrite each
    * partition's content as a single file (repartition by the partition
    * column co-locates each value in one task, so each partition
    * directory receives exactly one file), committed with dynamic
    * partition overwrite so untouched partitions keep their files. Use
    * after many partition-scoped upserts when per-partition file counts
    * grow.
    *
    * `values` scopes the pass to those partition values. The
    * materialization (insertInto must not read its own target) is
    * bounded by the scoped partitions, so the 100 TB pattern is to ROLL
    * the compaction over the partition space in bounded batches rather
    * than one whole-table pass — same touched-partition discipline as
    * the partition-scoped upsert itself. That discipline is structural,
    * not advisory: an unscoped pass (which materializes the WHOLE table
    * in one localCheckpoint and OOMs a real cluster on a big table)
    * must be confirmed with `allPartitions = true`. */
  def compactPartitions(
      spark: SparkSession, table: String, partitionCol: String,
      values: Seq[Any] = Nil, allPartitions: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    // scoping by a DATA column would be silent data loss, not a layout
    // op: `scoped` keeps only rows matching it, and the dynamic
    // overwrite then replaces every real partition containing a scoped
    // row with ONLY those rows — same guard class as compactTable's
    // partitioned-table refusal
    val partCols = partitionColumns(spark, table)
    require(partCols.contains(partitionCol),
      s"$partitionCol is not a partition column of $table (partitioned by " +
        s"${partCols.mkString(",")}) — a data-column scope would " +
        "dynamic-overwrite whole partitions with only the scoped rows")
    require(values.nonEmpty || allPartitions,
      s"no partition values given — an unscoped pass materializes ALL of " +
        s"$table in one localCheckpoint; pass allPartitions = true to " +
        "confirm, or roll bounded value batches")
    val base = spark.table(table)
    val scoped =
      if (values.isEmpty) base
      else base.filter(col(partitionCol).isin(values: _*))
    val compacted = scoped.repartition(col(partitionCol))
      .localCheckpoint(eager = true)
    Bucketing.overwritePartitions(compacted, table)
  }

  /** Explicit schema-widening migration — the supported path out of
    * the sinks' loud widened-schema failure (their contract: a source
    * that gains a column fails its first merge, it never silently
    * drops data). `cols` are (name, SQL type) pairs. For a plain or
    * partitioned TABLE this is `ALTER TABLE ADD COLUMNS` — metadata
    * only, existing parquet files read NULL for the new columns, and
    * on a partitioned table the catalog keeps the partition columns
    * LAST so positional inserts (the partitioned sink's write path)
    * stay aligned. For a versioned-publish VIEW (which cannot ALTER)
    * the head is republished null-padded as the next version — one
    * more snapshot + head swap, preserving time travel to the
    * narrower versions. Run it between stopping a stream and
    * restarting it with the widened sourceSchema; the restarted merge
    * then unions cleanly. */
  def addColumns(spark: SparkSession, table: String,
      cols: Seq[(String, String)]): Unit = {
    require(cols.nonEmpty, "no columns to add")
    if (currentVersion(spark, table).isDefined) {
      val pad = cols.map { case (n, t) => s"CAST(NULL AS $t) AS `$n`" }
      publishVersioned(spark, table,
        spark.sql(s"SELECT *, ${pad.mkString(", ")} FROM $table"))
      ()
    } else {
      val ddl = cols.map { case (n, t) => s"`$n` $t" }.mkString(", ")
      spark.sql(s"ALTER TABLE $table ADD COLUMNS ($ddl)")
    }
  }

  /** Recover from a crash inside [[publishTable]]: restore or discard
    * whatever the interrupted swap left, so a restarting writer (the
    * upsert sink calls this before its stream starts) finds the table in
    * a consistent state. Cases:
    *
    *  - target intact → any staging residue is STALE (the writer died
    *    before the drop): discard it. The interrupted batch was never
    *    committed to the writer's checkpoint, so it replays and
    *    re-merges idempotently.
    *  - target missing, staging table in the catalog (same-session
    *    crash between drop and rename) → finish the swap with the
    *    rename that was about to run.
    *  - target missing from the catalog, COMPLETE staging directory on
    *    disk (`_SUCCESS` present; the crash killed the session between
    *    the staging write and the swap) → re-publish the snapshot from
    *    that directory. Staging must PROVE completeness (the marker —
    *    present whenever success markers are enabled, the default)
    *    because choosing it discards the previous snapshot; with
    *    markers disabled the branch conservatively falls through to
    *    target re-adoption and the interrupted batch replays.
    *  - target missing from the catalog, staging absent or TORN (no
    *    `_SUCCESS` — the crash hit mid-data-write): discard the torn
    *    residue and re-adopt the target DIRECTORY in place
    *    ([[adoptTable]] — metadata-only, no table copy) if
    *    `adoptOrphanTarget` — it is the previous snapshot, and trusting
    *    a torn staging dir instead would truncate the table in a way
    *    batch replay can never repair (the lost rows are old keys
    *    absent from the replayed batch). This branch also restores the
    *    published state after a clean session exit, where the
    *    in-memory catalog forgot the table but its directory persists.
    *
    * `adoptOrphanTarget` should be true only for a CHECKPOINT-RESUMED
    * writer: a fresh run (new or empty checkpoint) must start clean —
    * adopting residue from an unrelated earlier run would silently
    * contaminate its output with that run's keys forever. The flag
    * gates EVERY branch that would turn residue into published state,
    * including a complete staging snapshot: on a fresh run that
    * snapshot belongs to some abandoned earlier run and is discarded.
    * Only the stale-staging cleanup beside an intact target runs
    * unconditionally.
    *
    * In every case a subsequent checkpoint-resumed batch replays over
    * the restored snapshot; the latest-per-key merge is idempotent
    * under replay of the same batch, so recovery + replay converges to
    * the uninterrupted result. Returns true iff a snapshot was
    * restored. */
  def recoverStaging(spark: SparkSession, table: String,
      adoptOrphanTarget: Boolean = true): Boolean = {
    // the restart that forgot the table may have forgotten its
    // DATABASE too — every republish/adopt branch below creates into it
    ensureDatabase(spark, table)
    val staging = table + "__staging"
    if (spark.catalog.tableExists(table)) {
      if (spark.catalog.tableExists(staging)) spark.sql(s"DROP TABLE $staging")
      clearOrphanLocation(spark, staging)
      false
    } else if (spark.catalog.tableExists(staging)) {
      if (adoptOrphanTarget) {
        clearOrphanLocation(spark, table)
        spark.sql(s"ALTER TABLE $staging RENAME TO $table")
        true
      } else {
        // fresh run: the crashed swap belongs to an earlier query —
        // discard its staging rather than publish it under the new run
        spark.sql(s"DROP TABLE $staging")
        clearOrphanLocation(spark, staging)
        false
      }
    } else {
      val stagingLoc = tableLocation(spark, staging)
      val fs = fsOf(spark, stagingLoc)
      // COMPLETENESS check before trusting staging residue: a crash
      // DURING the staging data write leaves a torn directory (no
      // _SUCCESS marker). Republishing a torn snapshot would destroy
      // the intact previous target directory and truncate the table.
      val stagingComplete = fs.exists(stagingLoc) &&
        fs.exists(new org.apache.hadoop.fs.Path(stagingLoc, "_SUCCESS"))
      if (stagingComplete && adoptOrphanTarget) {
        // distinct locations (staging dir → target dir), so the write can
        // read the snapshot lazily; delete the staging dir only after the
        // republish has fully materialized the target
        overwriteTable(spark, table, spark.read.parquet(stagingLoc.toString))
        fs.delete(stagingLoc, true)
        true
      } else {
        if (fs.exists(stagingLoc)) fs.delete(stagingLoc, true)
        // in-place re-adoption of the surviving previous snapshot —
        // metadata only (no O(table) copy on the common clean-exit path)
        adoptOrphanTarget && adoptTable(spark, table)
      }
    }
  }
}
