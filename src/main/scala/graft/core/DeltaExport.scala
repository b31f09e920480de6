package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.DataType

/** Best-effort Delta Lake interchange: write a dataset as a
  * STRUCTURALLY VALID Delta table — a parquet directory plus a
  * `_delta_log/00000000000000000000.json` commit holding the protocol,
  * metaData and add actions the public Delta transaction protocol
  * (delta-io PROTOCOL.md) specifies for an initial commit. Delta's
  * `schemaString` IS the Spark StructType JSON, so the schema carries
  * over without any Delta library.
  *
  * Honest scope (SURVEY §1.5 / VERDICT "what's missing" #1): no Delta
  * client exists in this sandbox (zero egress — no delta-spark jar, no
  * DuckDB delta extension), so cross-engine readability cannot be
  * DEMONSTRATED here. What the spec pins instead is structural
  * fidelity: every data file in the directory has exactly one `add`
  * action with the correct byte size, the protocol versions are the
  * minimal reader/writer pair for a plain append table, the
  * schemaString round-trips through `DataType.fromJson` to the written
  * DataFrame's schema, and scanning exactly the `add`-listed files
  * reproduces the dataset. Those are the properties a real Delta
  * reader checks first.
  *
  * Implemented feature set. Writers: append (flat, partitioned,
  * idempotent through `txn`), overwrite, copy-on-write MERGE (its
  * delete flag rewrites row deletes), deletion-vector DELETE / UPDATE,
  * RESTORE, flat OPTIMIZE (ZORDER / Hilbert), schema evolution (ADD
  * COLUMNS), column mapping upgrade and RENAME COLUMN, CHECK
  * constraints, identity columns, generated columns, invariants,
  * append-only, change data feed, classic and multi-part checkpoints,
  * log expiry and vacuum. Readers:
  * version time travel, partition- and stats-pruned scans, CDF, and
  * the reader features deletionVectors, columnMapping, timestampNtz,
  * rowTracking, domainMetadata and typeWidening. Refused by name:
  * reader feature `v2Checkpoint` ([[checkReaderProtocol]]), and every
  * write to a table that declares row tracking or in-commit
  * timestamps ([[refuseUnmaintainedFeatures]]).
  *
  * Scale shape: the data write is an ordinary distributed parquet
  * write; only the log (one JSON line per file + 2 header actions) is
  * driver-side — the same O(files) metadata cost every Delta writer
  * pays. */
object DeltaExport {

  private[core] def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Top-level parquet DATA files of `dir` (regular files only — a
    * planted `*.parquet` directory or a hidden/_delta_log entry is not
    * a data file), name-sorted so commit logs are deterministic. */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val files = Files.list(Paths.get(dir))
    try {
      val b = Seq.newBuilder[java.nio.file.Path]
      val it = files.iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith(".") &&
            Files.isRegularFile(p)) b += p
      }
      b.result().sortBy(_.getFileName.toString)
    } finally files.close()
  }

  /** All parquet data files under `dir` INCLUDING Hive-style partition
    * subdirectories, as table-relative paths (`lang=en/part-….parquet`),
    * name-sorted. Skips `_delta_log`, hidden entries, and non-regular
    * files — the recursive twin of [[dataFiles]] for partitioned
    * layouts. */
  private def dataFilesRelative(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.flatMap { p =>
        val rel = root.relativize(p).toString
        val name = p.getFileName.toString
        // _change_data holds CDF files referenced by cdc actions, never
        // by adds — counting them as data files would break the
        // writers' before/after diffs and make vacuum reclaim them all
        if (name.endsWith(".parquet") && Files.isRegularFile(p) &&
            !name.startsWith(".") && !rel.startsWith("_delta_log") &&
            !rel.startsWith("_change_data") &&
            !rel.split('/').exists(_.startsWith(".")))
          Some(rel)
        else None
      }.toSeq.sorted
    } finally walk.close()
  }

  // Hive-style path unescaping — the inverse of the %XX escaping Spark's
  // partitionBy applies to partition directory names
  // (ExternalCatalogUtils.escapePathName): decodes ANY %XX pair, keeping
  // a malformed '%' literal — the same tolerance Hive/Spark readers show.
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The filesystem path a Spark `input_file_name()` URI denotes:
    * input_file_name returns a percent-ENCODED file URI (space → %20,
    * and a Hive-escaped '%' in a partition directory name is encoded
    * AGAIN as %25), so raw suffix comparison against an on-disk
    * relative path silently misses any partition value whose URI
    * encoding differs from its disk spelling. Decode once; fall back
    * to the raw string for anything java.net.URI refuses. */
  private def uriToPath(u: String): String =
    try {
      val p = new java.net.URI(u).getPath
      if (p == null) u else p
    } catch { case _: java.net.URISyntaxException => u }

  /** Whether scanned-file path `uriPath` (input_file_name, decoded) is
    * logged live path `f`: relative adds match by root-relative
    * suffix; ABSOLUTE adds (a foreign shallow clone's references into
    * its source) by their resolved absolute path — the suffix rule would
    * never fire for them (uriPath never contains "//"). */
  private def uriMatchesLogged(dir: String, uriPath: String,
      f: String): Boolean =
    if (isAbsoluteDataPath(f)) uriPath == resolveDataPath(dir, f)
    else uriPath.endsWith("/" + f)

  /** Partition values a Hive-style relative path encodes, in directory
    * order: `lang=en/year=2024/part-….parquet` →
    * (lang -> en, year -> 2024). Directory names are Hive-ESCAPED on
    * disk (Spark's partitionBy escapes ':', '%', '=', '/', … as %XX),
    * so both the column name and the value are unescaped here — the
    * log's partitionValues carry TRUE values, and a pruned read on the
    * true value matches (Delta/Spark unescape the same way). Spark's
    * null-partition sentinel maps to a null value, matching the
    * protocol's partitionValues null. */
  private def hivePartitionValues(relPath: String): Map[String, String] =
    relPath.split('/').init.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val v = seg.substring(i + 1)
        Some(unescapePathName(seg.substring(0, i)) ->
          (if (v == "__HIVE_DEFAULT_PARTITION__") null
           else unescapePathName(v)))
      }
    }.toMap

  private def commitFile(v: Long): String = f"$v%020d.json"

  private def addAction(p: java.nio.file.Path, now: Long,
      stats: Option[String], dataChange: Boolean = true): String = {
    val statsField =
      stats.map(s => s""","stats":"${esc(s)}"""").getOrElse("")
    s"""{"add":{"path":"${esc(p.getFileName.toString)}","partitionValues":{},"size":${Files
        .size(p)},"modificationTime":$now,"dataChange":$dataChange$statsField}}"""
  }

  /** Whether data shaped `writing` may land in a table logged as
    * `table`: same columns (name + type, in order), and every nullable
    * written field maps to a nullable table field (writing non-null
    * data into a nullable column is always fine; the reverse could put
    * NULLs under a non-null contract). Types compare STRUCTURALLY,
    * ignoring field metadata at every depth — the logged schema of a
    * mapped table carries delta.columnMapping.* metadata on nested
    * struct fields that a caller's plain frame cannot (and must not
    * need to) replicate. */
  private def schemaFits(
      writing: org.apache.spark.sql.types.StructType,
      table: org.apache.spark.sql.types.StructType): Boolean =
    fitsType(writing, table)

  /** [[schemaFits]]'s rule, recursive (the top level IS the struct
    * case — one copy, so the top and nested levels can never drift):
    * equal names and types ignoring metadata; nullability may only be
    * EQUAL-OR-TIGHTER on the writing side at every depth. */
  private def fitsType(w: DataType, t: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (w, t) match {
      case (ws: StructType, ts: StructType) =>
        ws.length == ts.length &&
          ws.fields.zip(ts.fields).forall { case (wf, tf) =>
            wf.name == tf.name && fitsType(wf.dataType, tf.dataType) &&
              (!wf.nullable || tf.nullable)
          }
      case (wa: ArrayType, ta: ArrayType) =>
        fitsType(wa.elementType, ta.elementType) &&
          (!wa.containsNull || ta.containsNull)
      case (wm: MapType, tm: MapType) =>
        fitsType(wm.keyType, tm.keyType) &&
          fitsType(wm.valueType, tm.valueType) &&
          (!wm.valueContainsNull || tm.valueContainsNull)
      case _ => w == t
    }
  }

  /** Same SHAPE: equal names and types recursively, ignoring both
    * metadata and nullability — the survivor-identity rule schema
    * evolution and the schema-changing overwrite match columns by. */
  private def sameShape(a: DataType, b: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (as: StructType, bs: StructType) =>
        as.length == bs.length &&
          as.fields.zip(bs.fields).forall { case (af, bf) =>
            af.name == bf.name && sameShape(af.dataType, bf.dataType)
          }
      case (aa: ArrayType, ba: ArrayType) =>
        sameShape(aa.elementType, ba.elementType)
      case (am: MapType, bm: MapType) =>
        sameShape(am.keyType, bm.keyType) &&
          sameShape(am.valueType, bm.valueType)
      case _ => a == b
    }
  }

  /** Recursively widen nullability from `writing` into the LOGGED type
    * `logged` (same shape assumed — call only after [[sameShape]]):
    * names, atomic types and field metadata come from the logged side;
    * nullability at every depth is the OR of both. The schema-changing
    * overwrite keeps a survivor's logged identity, but retaining a
    * non-null NESTED contract over incoming NULLs would corrupt the
    * table — the top-level merge must recurse (ADVICE r19). */
  private def mergeNullability(logged: DataType, writing: DataType): DataType = {
    import org.apache.spark.sql.types._
    (logged, writing) match {
      case (ls: StructType, ws: StructType) =>
        StructType(ls.fields.zip(ws.fields).map { case (lf, wf) =>
          lf.copy(dataType = mergeNullability(lf.dataType, wf.dataType),
            nullable = lf.nullable || wf.nullable)
        })
      case (la: ArrayType, wa: ArrayType) =>
        ArrayType(mergeNullability(la.elementType, wa.elementType),
          la.containsNull || wa.containsNull)
      case (lm: MapType, wm: MapType) =>
        MapType(mergeNullability(lm.keyType, wm.keyType),
          mergeNullability(lm.valueType, wm.valueType),
          lm.valueContainsNull || wm.valueContainsNull)
      case _ => logged
    }
  }

  /** True when `n` TIGHTENS nullability anywhere under `o` (same shape
    * assumed): some old nullable position maps to a non-nullable new
    * twin. Standing data files may carry NULLs there, so schema
    * evolution must refuse — at every depth, not just the top level
    * (ADVICE r19). */
  private def tightensNullability(o: DataType, n: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (o, n) match {
      case (os: StructType, ns: StructType) =>
        os.fields.zip(ns.fields).exists { case (of, nf) =>
          (of.nullable && !nf.nullable) ||
            tightensNullability(of.dataType, nf.dataType)
        }
      case (oa: ArrayType, na: ArrayType) =>
        (oa.containsNull && !na.containsNull) ||
          tightensNullability(oa.elementType, na.elementType)
      case (om: MapType, nm: MapType) =>
        (om.valueContainsNull && !nm.valueContainsNull) ||
          tightensNullability(om.keyType, nm.keyType) ||
          tightensNullability(om.valueType, nm.valueType)
      case _ => false
    }
  }

  // ---- per-file column statistics (the protocol's `add.stats` field) ----

  /** Columns eligible for min/max/nullCount stats: flat atomic types a
    * JSON stats blob can carry losslessly. Arrays, structs, maps,
    * binary and timestamps are skipped (Delta itself restricts and
    * truncates stats types; a pruning reader treats a column absent
    * from the blob as "no information — must read"). */
  private def statsEligible(
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
      case f if f.dataType == StringType => f.name
      case f if f.dataType == BooleanType => f.name
    }.toSeq
  }

  /** One JSON value for a stats min/max entry, or None when the value
    * cannot be represented as a JSON literal (null column, NaN or
    * infinite floating point — Delta omits those and readers fall back
    * to must-read). */
  private def statsJsonValue(v: Any): Option[String] = v match {
    case null => None
    case d: Double if d.isNaN || d.isInfinite => None
    case f: Float if f.isNaN || f.isInfinite => None
    case s: String => Some(s""""${esc(s)}"""")
    case b: Boolean => Some(b.toString)
    case n: java.math.BigDecimal => Some(n.toPlainString)
    case other => Some(other.toString) // integral + finite floating
  }

  /** Compute the `add.stats` JSON for each of `paths` in ONE
    * distributed pass: scan the fresh files, group by source file, and
    * aggregate numRecords plus per-column min/max/nullCount. The
    * collect is bounded metadata — one row per written file, the same
    * O(files) accounting a real Delta writer assembles from its task
    * results (ours runs as a read-back job because the files were
    * written by a plain parquet write that offers no task-level hook).
    * Returns fileName -> stats JSON text (unescaped). */
  private def fileStatsFor(spark: SparkSession,
      paths: Seq[java.nio.file.Path]): Map[String, String] = {
    import org.apache.spark.sql.functions._
    if (paths.isEmpty) return Map.empty
    val df = spark.read.parquet(paths.map(_.toString): _*)
    val cols = statsEligible(df.schema)
    val aggs = count(lit(1L)).as("__n") +: cols.zipWithIndex.flatMap {
      case (c, i) => Seq(
        min(col(c)).as(s"__mn$i"), max(col(c)).as(s"__mx$i"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nc$i"))
    }
    val rows = df
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per fresh file
    rows.map { r =>
      val mins = Seq.newBuilder[String]
      val maxs = Seq.newBuilder[String]
      val ncs = Seq.newBuilder[String]
      cols.zipWithIndex.foreach { case (c, i) =>
        val key = s""""${esc(c)}":"""
        statsJsonValue(r.getAs[Any](s"__mn$i")).foreach(v => mins += (key + v))
        statsJsonValue(r.getAs[Any](s"__mx$i")).foreach(v => maxs += (key + v))
        ncs += (key + r.getAs[Long](s"__nc$i").toString)
      }
      val json =
        s"""{"numRecords":${r.getAs[Long]("__n")},"minValues":{${mins
            .result().mkString(",")}},"maxValues":{${maxs.result()
            .mkString(",")}},"nullCount":{${ncs.result().mkString(",")}}}"""
      r.getAs[String]("__file") -> json
    }.toMap
  }

  private def addActions(spark: SparkSession,
      fresh: Seq[java.nio.file.Path], now: Long,
      dataChange: Boolean = true): Seq[String] = {
    val stats = fileStatsFor(spark, fresh)
    fresh.map(p =>
      addAction(p, now, stats.get(p.getFileName.toString), dataChange))
  }

  /** Per-file stats for table-RELATIVE paths (partitioned layouts): the
    * same one-pass scan as [[fileStatsFor]], but keyed by full file URI
    * and mapped back by relative-path suffix — two partition directories
    * may hold part files with the SAME base name (one write task commits
    * one part per partition it touches), so base-name keys would
    * collide. Partition columns are absent from the files and so carry
    * no stats; partition pruning reads partitionValues instead. */
  private def fileStatsForRelative(spark: SparkSession, dir: String,
      relPaths: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.functions._
    if (relPaths.isEmpty) return Map.empty
    val df = spark.read.parquet(relPaths.map(r => s"$dir/$r"): _*)
    val cols = statsEligible(df.schema)
    val aggs = count(lit(1L)).as("__n") +: cols.zipWithIndex.flatMap {
      case (c, i) => Seq(
        min(col(c)).as(s"__mn$i"), max(col(c)).as(s"__mx$i"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nc$i"))
    }
    val rows = df
      .withColumn("__file", input_file_name())
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per fresh file
    val byUri = rows.map { r =>
      val mins = Seq.newBuilder[String]
      val maxs = Seq.newBuilder[String]
      val ncs = Seq.newBuilder[String]
      cols.zipWithIndex.foreach { case (c, i) =>
        val key = s""""${esc(c)}":"""
        statsJsonValue(r.getAs[Any](s"__mn$i")).foreach(v => mins += (key + v))
        statsJsonValue(r.getAs[Any](s"__mx$i")).foreach(v => maxs += (key + v))
        ncs += (key + r.getAs[Long](s"__nc$i").toString)
      }
      r.getAs[String]("__file") ->
        s"""{"numRecords":${r.getAs[Long]("__n")},"minValues":{${mins
            .result().mkString(",")}},"maxValues":{${maxs.result()
            .mkString(",")}},"nullCount":{${ncs.result().mkString(",")}}}"""
    }
    // match by DECODED path suffix — input_file_name URIs percent-encode
    // partition directory names, so a raw suffix match on a value whose
    // encoding differs (space → %20, Hive-escaped '%' → %25) would
    // silently drop that file's stats
    relPaths.flatMap { rel =>
      byUri.find(p => uriToPath(p._1).endsWith("/" + rel))
        .map(rel -> _._2)
    }.toMap
  }

  /** Add actions for table-relative paths, partitionValues read off the
    * Hive-style directory segments Spark's partitionBy writes. */
  private def addActionsRelative(spark: SparkSession, dir: String,
      fresh: Seq[String], now: Long,
      dataChange: Boolean = true): Seq[String] = {
    val stats = fileStatsForRelative(spark, dir, fresh)
    fresh.map { rel =>
      val pv = hivePartitionValues(rel).toSeq.sortBy(_._1)
        .map { case (k, v) =>
          s""""${esc(k)}":${Option(v).map(x => s""""${esc(x)}"""")
              .getOrElse("null")}"""
        }.mkString(",")
      val statsField =
        stats.get(rel).map(s => s""","stats":"${esc(s)}"""").getOrElse("")
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{$pv},"size":${Files
          .size(Paths.get(dir, rel))},"modificationTime":$now,"dataChange":$dataChange$statsField}}"""
    }
  }

  /** Write `df` under `dir` as an unpartitioned Delta table (version 0
    * commit). Returns the number of `add` actions written. */
  def writeDeltaTable(spark: SparkSession, df: DataFrame, dir: String): Int = {
    df.write.mode("overwrite").parquet(dir)
    val parts = dataFiles(dir)
    val now = System.currentTimeMillis()
    val protocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    val metaData =
      s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(
          dir.getBytes(StandardCharsets.UTF_8))}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(
          df.schema.json)}","partitionColumns":[],"configuration":{},"createdTime":$now}}"""
    val adds = addActions(spark, parts, now)
    Files.createDirectories(Paths.get(dir).resolve("_delta_log"))
    // v0 publishes through the same atomic put-if-absent primitive as
    // every later commit — a torn direct write here would leave a
    // permanently corrupt table root
    writeCommit(dir, 0L, protocol +: metaData +: adds, "WRITE")
    adds.size
  }

  /** Write `df` under `dir` as a PARTITIONED Delta table (version 0
    * commit): Hive-style layout (`col=val/part-….parquet`, what Spark's
    * partitionBy produces and what OSS Delta writes for partitioned
    * tables), add actions carrying each file's `partitionValues`, and a
    * metaData whose `partitionColumns` names the partitioning — the
    * protocol feature that lets a reader prune partitions from the LOG
    * alone ([[readDeltaTablePartitionPruned]]) and obliges it to
    * re-attach the partition columns at scan time (the data files do
    * NOT contain them). schemaString stays the FULL schema, per the
    * protocol. Returns the number of add actions. */
  def writeDeltaTablePartitioned(spark: SparkSession, df: DataFrame,
      dir: String, partitionBy: Seq[String]): Int = {
    require(partitionBy.nonEmpty,
      "partitionBy is empty — use writeDeltaTable for unpartitioned tables")
    val missing = partitionBy.filterNot(df.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} not in schema " +
        df.schema.catalogString)
    df.write.partitionBy(partitionBy: _*).mode("overwrite").parquet(dir)
    val parts = dataFilesRelative(dir)
    val now = System.currentTimeMillis()
    val protocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    val pcols = partitionBy.map(c => s""""${esc(c)}"""").mkString(",")
    val metaData =
      s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(
          dir.getBytes(StandardCharsets.UTF_8))}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(
          df.schema.json)}","partitionColumns":[$pcols],"configuration":{},"createdTime":$now}}"""
    val adds = addActionsRelative(spark, dir, parts, now)
    Files.createDirectories(Paths.get(dir).resolve("_delta_log"))
    // v0 publishes through the same atomic put-if-absent primitive as
    // every later commit — a torn direct write here would leave a
    // permanently corrupt table root
    writeCommit(dir, 0L, protocol +: metaData +: adds, "WRITE")
    adds.size
  }

  /** Append to a PARTITIONED Delta table as the next commit: the
    * partition columns come from the LOG's metaData (never a caller
    * argument — appending with a different layout than the table's
    * would corrupt every pruned read), the new files land in their
    * Hive directories, and each add carries its partitionValues.
    * Same schema gate as [[appendDeltaTable]]. Returns the version. */
  def appendDeltaTablePartitioned(spark: SparkSession, df0: DataFrame,
      dir: String): Long = {
    val df = pinNonDeterministic(df0)
    val v = latestVersion(dir) + 1
    val st = snapshotState(spark, dir, None, keepStats = false)
    val meta = st.meta
    val pcols = partitionColumnsOf(meta)
    require(pcols.nonEmpty,
      "table is not partitioned — use appendDeltaTable")
    val tableSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val (batch, idActions) = applyIdentity(spark, st, tableSchema, df,
      "APPEND")
    require(schemaFits(batch.schema, tableSchema),
      s"append schema ${batch.schema.catalogString} does not match the " +
        s"table's logged schema ${tableSchema.catalogString} — a Delta " +
        "append never evolves the schema implicitly")
    val cmCtx = mappingCtx(spark, meta, tableSchema)
    enforceCheckConstraints(meta, batch, "APPEND")
    enforceWriterObligations(meta, "APPEND", removesData = false, Some(df),
      protocol = st.protocol)
    val before = dataFilesRelative(dir).toSet
    // under mapping the Hive directories (and therefore the adds'
    // partitionValues keys) carry PHYSICAL names — the protocol rule
    // the pruned reader translates back through logicalPvals
    toPhysicalFrame(batch, tableSchema.fields.toSeq, cmCtx.mode)
      .write.partitionBy(pcols.map(cmCtx.phys): _*)
      .mode("append").parquet(dir)
    val fresh = dataFilesRelative(dir).filterNot(before)
    require(fresh.nonEmpty, "append produced no data files")
    writeCommit(dir, v,
      idActions ++
        addActionsRelative(spark, dir, fresh, System.currentTimeMillis()),
      "APPEND")
    v
  }

  /** Sorted commit versions present in `dir`'s log. */
  def logVersions(dir: String): Seq[Long] = {
    val logDir = Paths.get(dir, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log under $dir")
    val files = Files.list(logDir)
    try {
      val b = Seq.newBuilder[Long]
      val it = files.iterator()
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        // strictly NNN.json commit names: a staging temp file, a
        // foreign writer's extra log file, or a checksum twin must not
        // crash (or miscount) the version listing
        if (n.endsWith(".json"))
          n.stripSuffix(".json").toLongOption.foreach(b += _)
      }
      b.result().sorted
    } finally files.close()
  }

  /** The commitInfo action every commit leads with — the protocol's
    * free-form provenance record; its `timestamp` is the dead-since
    * clock of the timed vacuum ([[commitTimestamp]]). */
  private def commitInfoLine(now: Long, op: String): String =
    s"""{"commitInfo":{"timestamp":$now,"operation":"${esc(op)}"}}"""

  /** PUT-IF-ABSENT commit — the Delta protocol's one concurrency
    * primitive: version N commits atomically or not at all, and a
    * writer that lost the race to N must NOT overwrite the winner (the
    * default Files.write TRUNCATEs, silently destroying a committed
    * version — data loss, not a conflict). A lost race surfaces as a
    * ConcurrentModificationException naming the version; the caller
    * re-reads the table and redoes its operation against the new
    * snapshot (optimistic concurrency — graft's writers are
    * driver-serial by design, so this is the safety net, not a retry
    * loop).
    *
    * "Atomically" is delivered by staging the FULL content in a hidden
    * temp file and HARD-LINKING it to the commit name: link(2) fails
    * with EEXIST when the target exists (the put-if-absent leg) and
    * either publishes the whole file or nothing (the torn-write leg —
    * a direct CREATE_NEW write that died mid-flush would leave a
    * permanent partial commit that replays as a silently truncated
    * snapshot AND blocks every retry of that version). An object store
    * deployment swaps this for its conditional put. */
  private[core] def writeCommit(dir: String, v: Long, actions: Seq[String],
      op: String): Unit = {
    val logDir = Paths.get(dir, "_delta_log")
    val target = logDir.resolve(commitFile(v))
    // Files.createFile (unlike createTempFile's forced 0600) creates
    // with the default mode filtered by the PROCESS UMASK — the same
    // permissions the old direct write published, so a umask-0022 host
    // still shares the log and a umask-0077 deployment keeps its
    // _delta_log private (add.stats embed min/max data values)
    val tmp = {
      var p: java.nio.file.Path = null
      while (p == null) {
        val cand = logDir.resolve(
          s".tmp_commit_$v-${java.util.UUID.randomUUID().toString}.tmp")
        try { Files.createFile(cand); p = cand }
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
      p
    }
    try {
      // write + fsync the CONTENT before the link publishes the name —
      // without the force, a crash after the directory entry persists
      // but before the page cache flushes leaves a truncated commit
      // that replays as a silently short snapshot
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        ch.write(java.nio.ByteBuffer.wrap(
          ((commitInfoLine(System.currentTimeMillis(), op) +: actions)
            .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)))
        ch.force(true)
      } finally ch.close()
      try Files.createLink(target, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"commit v$v already exists — another writer advanced the " +
              s"table during this $op; re-read the snapshot and retry " +
              "against the new version")
      }
      // fsync the directory so the LINK itself survives a crash
      try {
        val dch = java.nio.channels.FileChannel.open(logDir,
          java.nio.file.StandardOpenOption.READ)
        try dch.force(true) finally dch.close()
      } catch { case _: Exception => () } // not all FS expose dir fsync
    } finally Files.deleteIfExists(tmp)
  }

  private val ciTsRe = """"timestamp":(\d+)""".r

  /** The commitInfo object's TOP-LEVEL text: characters at nesting
    * depth 0 inside the commitInfo value, with nested objects/arrays
    * elided and string contents skipped (braces inside strings are
    * data, not structure). This is what makes commitTimestamp immune
    * to a foreign writer serializing a nested object that itself
    * carries a "timestamp" key (operationParameters) BEFORE the real
    * field — the first-'}' anchor lost the field entirely, and a bare
    * first-match would read the nested one. */
  private def commitInfoTopLevel(line: String): String = {
    val key = """{"commitInfo":{"""
    if (!line.startsWith(key)) return line
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    var escNext = false
    var i = key.length
    while (i < line.length && depth >= 0) {
      val c = line.charAt(i)
      if (inStr) {
        if (depth == 0) sb.append(c)
        if (escNext) escNext = false
        else if (c == '\\') escNext = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true; if (depth == 0) sb.append(c)
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case _ => if (depth == 0) sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Commit timestamp of a surviving JSON commit: its commitInfo's
    * top-level `timestamp` (nested objects a foreign writer serializes
    * first are elided — see [[commitInfoTopLevel]]), else the commit
    * file's modification time. */
  private def commitTimestamp(dir: String, v: Long): Long = {
    val p = Paths.get(dir, "_delta_log", commitFile(v))
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    txt.split("\n").find(_.startsWith("""{"commitInfo""""))
      .flatMap(l => ciTsRe.findFirstMatchIn(commitInfoTopLevel(l))
        .map(_.group(1).toLong))
      .getOrElse(Files.getLastModifiedTime(p).toMillis)
  }

  /** Parsed `_delta_log/_last_checkpoint` pointer. `parts` is None for
    * the classic single-file form, Some(n) for a multi-part checkpoint
    * (n sibling `<v>.checkpoint.<i>.<n>.parquet` files whose ROWS union
    * to the snapshot — the protocol's "Checkpoints" section; row order
    * across parts carries no semantics, a path is either live or a
    * tombstone, never both). */
  final case class CheckpointPointer(version: Long, size: Long,
      parts: Option[Int])

  /** Last-checkpoint pointer parsed from `_delta_log/_last_checkpoint`,
    * None when the table has never been checkpointed. */
  def lastCheckpoint(dir: String): Option[CheckpointPointer] = {
    val p = Paths.get(dir, "_delta_log", "_last_checkpoint")
    if (!Files.isRegularFile(p)) None
    else {
      val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val vRe = """"version":(\d+)""".r
      val sRe = """"size":(\d+)""".r
      val pRe = """"parts":(\d+)""".r
      val v = vRe.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(s"malformed _last_checkpoint: $txt"))
        .group(1).toLong
      val parts = pRe.findFirstMatchIn(txt).map(_.group(1).toInt)
      require(parts.forall(_ >= 1),
        s"malformed _last_checkpoint (parts must be >= 1): $txt")
      val size = sRe.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(0L)
      Some(CheckpointPointer(v, size, parts))
    }
  }

  /** Latest version of the table: max over JSON commits and the
    * checkpoint (after log expiry the checkpoint may be newer than any
    * surviving JSON commit). */
  private def latestVersion(dir: String): Long =
    (lastCheckpoint(dir).map(_.version).toSeq ++ logVersions(dir)).max

  /** Append `df` to an existing Delta table as the next commit: write
    * the new parquet files beside the old ones (append mode — Delta
    * never rewrites committed data files) and log one `add` per new
    * file. Per the protocol, an append commit carries no protocol or
    * metaData action — those are inherited from the last commit that
    * set them. Returns the new version number.
    *
    * The before/after directory diff that identifies the new files is
    * driver-side METADATA (file names only), the same O(new files)
    * bookkeeping every Delta writer performs when it collects the
    * task-level write results into add actions. */
  def appendDeltaTable(spark: SparkSession, df0: DataFrame, dir: String): Long = {
    val df = pinNonDeterministic(df0)
    val v = latestVersion(dir) + 1
    // schema gate (same posture as TableStore's sinks): the reader scans
    // with the LOG's schemaString, so appending a frame with different
    // columns would silently drop or null the mismatch at read time —
    // refuse loudly instead (schema evolution is a deliberate metaData
    // commit, not an accidental append)
    val st = snapshotState(spark, dir, None, keepStats = false)
    val appendMeta = st.meta
    require(partitionColumnsOf(appendMeta).isEmpty,
      "table is partitioned — use appendDeltaTablePartitioned (a flat " +
        "append would write files the partition-aware reader cannot place)")
    val tableSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(appendMeta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // identity columns the batch omits are ALLOCATED here (watermark
    // grid values; the commit then carries the advanced watermark)
    val (batch, idActions) = applyIdentity(spark, st, tableSchema, df,
      "APPEND")
    require(schemaFits(batch.schema, tableSchema),
      s"append schema ${batch.schema.catalogString} does not match the " +
        s"table's logged schema ${tableSchema.catalogString} — a Delta " +
        "append never evolves the schema implicitly")
    // mapped tables append natively: the batch lands under PHYSICAL
    // column names + field ids (the ctx construction also vets the
    // mapping — nested mapping and id-less id-mode fields refuse)
    val cmCtx = mappingCtx(spark, appendMeta, tableSchema)
    enforceCheckConstraints(appendMeta, batch, "APPEND")
    // obligations validate the USER batch: a provided GENERATED ALWAYS
    // identity column must refuse, but the writer's own allocation is
    // not an explicit insert
    enforceWriterObligations(appendMeta, "APPEND", removesData = false,
      Some(df), protocol = st.protocol)
    val before = dataFiles(dir).map(_.getFileName.toString).toSet
    toPhysicalFrame(batch, tableSchema.fields.toSeq, cmCtx.mode)
      .write.mode("append").parquet(dir)
    val fresh = dataFiles(dir).filterNot(p => before(p.getFileName.toString))
    require(fresh.nonEmpty, "append produced no data files")
    writeCommit(dir, v,
      idActions ++ addActions(spark, fresh, System.currentTimeMillis()),
      "APPEND")
    v
  }

  /** Replace the table's contents as the next commit: `remove` every
    * currently-live file and `add` the replacement files. The OLD data
    * files stay on disk — that is what makes time travel
    * ([[readDeltaTable]] with `versionAsOf`) work; only a vacuum may
    * reclaim them. Returns the new version number. */
  def overwriteDeltaTable(spark: SparkSession, df0: DataFrame, dir: String): Long = {
    val df = pinNonDeterministic(df0)
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None, keepStats = false)
    require(partitionColumnsOf(snap.meta).isEmpty,
      "table is partitioned — a flat overwrite would drop the partition " +
        "layout the reader re-attaches columns from; re-create the table " +
        "with writeDeltaTablePartitioned instead")
    // an overwrite MAY change the schema — but then the commit must
    // carry a superseding metaData action (same table id, new
    // schemaString), or readers keep scanning the new files with the
    // stale logged schema
    val tableSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(snap.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val sameSchema = schemaFits(df.schema, tableSchema)
    // EVERY overwrite honors the CDF obligation (r19): every old row
    // feeds as a delete, every new one as an insert — O(table) change
    // data, which IS what an overwrite logically is. A schema-CHANGING
    // overwrite emits its feed in its OWN commit's schema (the
    // committed metaData), old rows ALIGNED into it by mapping id /
    // name — the per-commit schema rule the CDF reader resolves by.
    val cdf = cdfEnabled(snap.meta)
    enforceCheckConstraints(snap.meta, df, "OVERWRITE")
    enforceWriterObligations(snap.meta, "OVERWRITE", removesData = true,
      Some(df), emitsChangeData = cdf, protocol = snap.protocol)
    val live = snap.live.toSet
    val cmCtx = mappingCtx(spark, snap.meta, tableSchema)
    var conf = configurationOf(snap.meta)
    // the schema a schema-CHANGING overwrite commits: on a MAPPED
    // table, columns surviving by (name, type) KEEP their logged
    // identity (id + physical name — a renamed-later column must stay
    // renameable, and time travel across the overwrite must resolve
    // both sides), while genuinely new columns ALLOCATE fresh ids +
    // uuid physical names against maxColumnId, the evolve rule
    val overwriteSchema: org.apache.spark.sql.types.StructType =
      if (sameSchema) tableSchema
      else {
        // BOTH mapping modes: columns surviving by (name, type) keep
        // their LOGGED field metadata — mapping identity where mapped,
        // and identity/invariant/generation metadata everywhere (an
        // unmapped overwrite that silently dropped delta.identity.*
        // would de-identity the table as a side effect); genuinely
        // new columns allocate mapping identity when mapped, or pass
        // through verbatim when not
        val (survivors, freshFields) = df.schema.fields.partition(f =>
          tableSchema.fields.exists(o =>
            o.name == f.name && sameShape(o.dataType, f.dataType)))
        val kept = survivors.map { f =>
          val o = tableSchema.fields.find(x =>
            x.name == f.name && sameShape(x.dataType, f.dataType)).get
          // nullability merges RECURSIVELY — keeping the logged nested
          // non-null contract over an incoming nullable twin would
          // land NULL data under it (ADVICE r19)
          f.name -> o.copy(
            dataType = mergeNullability(o.dataType, f.dataType),
            nullable = o.nullable || f.nullable)
        }.toMap
        val freshByName =
          if (cmCtx.mode == "none")
            freshFields.map(f => f.name -> f).toMap
          else {
            val (alloc, newConf) =
              allocateMappedFields(freshFields, tableSchema, conf)
            conf = newConf
            alloc.map(f => f.name -> f).toMap
          }
        org.apache.spark.sql.types.StructType(df.schema.fields.map(f =>
          kept.getOrElse(f.name, freshByName(f.name))))
      }
    val before = dataFiles(dir).map(_.getFileName.toString).toSet
    toPhysicalFrame(df, overwriteSchema.fields.toSeq, cmCtx.mode)
      .write.mode("append").parquet(dir)
    val fresh = dataFiles(dir).filterNot(p => before(p.getFileName.toString))
    require(fresh.nonEmpty, "overwrite produced no data files")
    val cdcActions =
      if (!cdf) Seq.empty[String]
      else {
        import org.apache.spark.sql.functions.lit
        // the feed's schema is THIS commit's schema; a schema-changing
        // overwrite aligns the old rows into it (survivors keep their
        // mapping identity, dropped columns leave, fresh columns read
        // NULL on the delete side)
        val cdfMeta =
          if (sameSchema) snap.meta
          else withConfiguration(
            metaActionReplacingSchema(snap.meta, overwriteSchema), conf)
        val oldRows = alignToSchema(
          scanFiles(spark, dir, snap.meta, live.toSeq.sorted,
              None, snap.pvals.toMap, snap.dvs.toMap)
            .withColumn("_change_type", lit("delete")),
          tableSchema, overwriteSchema, Seq("_change_type"))
        // the insert feed reads back the WRITTEN files, never `df`
        // itself — re-evaluating a non-deterministic batch (sample,
        // rand) would land one row set in the table and record a
        // DIFFERENT one in the feed
        val newRows = scanFiles(spark, dir, cdfMeta,
            fresh.map(_.getFileName.toString), None)
          .withColumn("_change_type", lit("insert"))
        writeCdcFiles(spark, dir, cdfMeta, oldRows.unionByName(newRows))
      }
    val now = System.currentTimeMillis()
    // explicit identity values in the replacement rows advance the
    // watermark — an overwrite REPLACES the row set, so bootstrapping
    // an untracked column is safe. One commit carries at most ONE
    // metaData action, so the schema-changing branch folds the
    // watermark into its own.
    val idAdvance = {
      import org.apache.spark.sql.types.LongType
      if (!snap.meta.contains("delta.identity.")) Map.empty[String, Long]
      else {
        val fields = overwriteSchema.fields.toSeq.filter(f =>
          isIdentityField(f) && df.columns.contains(f.name) &&
            f.dataType == LongType)
        if (fields.isEmpty) Map.empty[String, Long]
        else advancedWatermarks(fields, identityExtrema(df, fields))
      }
    }
    // a watermark-bearing metaData declares the identityColumns
    // protocol like every other watermark commit
    val idProtocol =
      if (idAdvance.isEmpty) Seq.empty[String]
      else identityColumnsProtocol(snap).toSeq
    val metaActions =
      if (sameSchema) {
        if (idAdvance.isEmpty) Seq.empty[String]
        else idProtocol :+ metaActionReplacingSchema(snap.meta,
          withWatermarks(tableSchema, idAdvance))
      } else {
        // in-place surgery on the logged metaData — schemaString and
        // configuration replaced, a foreign writer's name/description/
        // createdTime kept verbatim (the metaActionReplacingSchema
        // invariant; flat tables keep partitionColumns [] either way)
        idProtocol :+ withConfiguration(
          metaActionReplacingSchema(snap.meta,
            withWatermarks(overwriteSchema, idAdvance)),
          conf)
      }
    val removes = live.toSeq.sorted.map(p =>
      s"""{"remove":{"path":"${esc(p)}","deletionTimestamp":$now,"dataChange":true}}""")
    writeCommit(dir, v,
      metaActions ++ removes ++ addActions(spark, fresh, now) ++ cdcActions,
      "OVERWRITE")
    v
  }

  /** Row-level CDC between two versions computed from ONLY the files
    * that changed — the O(changes) classification a CDF-less Delta
    * reader performs: because data files are immutable, a row can
    * change between v₁ and v₂ only if its containing file was removed
    * or added in between, so the pre-images live entirely in
    * v₁-live-but-v₂-gone files and the post-images in v₂-live-but-
    * v₁-absent files; the standing (untouched) table is NEVER read.
    * A full-outer join on `keyCols` over those two slices classifies:
    * pre-only → delete, post-only → insert, both with differing images
    * → update_preimage/update_postimage — and both with IDENTICAL
    * images (the copy-on-write carry-over: MERGE/OPTIMIZE rewrite
    * unmatched rows of a touched file verbatim) drop as non-changes,
    * which is exactly why a naive added-files read over-reports.
    * Columns added between the versions read NULL on the pre side.
    * Keys must identify rows uniquely per snapshot (the MERGE writer's
    * own invariant); uniqueness is asserted within the scanned slices —
    * a full-table check would defeat the O(changes) contract. Output:
    * the table's columns (post-schema) + `_change_type`, the
    * [[TableStore.tableChanges]] convention. */
  def deltaChangesBetween(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "deltaChangesBetween needs key column(s)")
    require(fromVersion < toVersion,
      s"fromVersion $fromVersion must precede toVersion $toVersion")
    val stFrom = snapshotState(spark, dir, Some(fromVersion), keepStats = false)
    val stTo = snapshotState(spark, dir, Some(toVersion), keepStats = false)
    // a file live in BOTH versions counts as changed when its deletion
    // vector differs — its rows changed without the file moving, so its
    // pre-image scans DV-filtered at v1 and its post-image at v2 (a
    // DV-only delete classifies as `delete`, per CDF semantics)
    val dvChanged = stFrom.live.toSet.intersect(stTo.live.toSet)
      .filter(f => stFrom.dvs.get(f) != stTo.dvs.get(f))
    val removed = (stFrom.live -- stTo.live ++ dvChanged).toSeq
    val added = (stTo.live -- stFrom.live ++ dvChanged).toSeq
    val toSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(stTo.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val fromSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(stFrom.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val extinct = fromSchema.fieldNames.filterNot(toSchema.fieldNames.contains)
    require(extinct.isEmpty,
      s"columns ${extinct.mkString(",")} of v$fromVersion are gone in " +
        s"v$toVersion — a snapshot diff cannot represent a dropped column")
    val pre0 = scanFiles(spark, dir, stFrom.meta, removed,
      Some(fromVersion), stFrom.pvals.toMap, stFrom.dvs.toMap)
    val post = scanFiles(spark, dir, stTo.meta, added,
      Some(toVersion), stTo.pvals.toMap, stTo.dvs.toMap)
    val pre = toSchema.fields
      .filterNot(f => fromSchema.fieldNames.contains(f.name))
      .foldLeft(pre0)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      .select(toSchema.fieldNames.map(col).toIndexedSeq: _*)
    Seq(fromVersion -> pre, toVersion -> post).foreach { case (v, df) =>
      val dup = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).limit(1)
        .collect()
      require(dup.isEmpty,
        s"changed files of v$v hold duplicate key " +
          s"${dup.head.mkString("(", ",", ")")} — keyCols " +
          s"(${keyCols.mkString(",")}) must identify rows uniquely")
    }
    val cols = toSchema.fieldNames.toSeq
    def image(df: DataFrame, side: String) = df.select(
      keyCols.map(col) :+ struct(cols.map(col): _*).as(s"__$side"): _*)
    val joined = image(pre, "pre").join(image(post, "post"),
      keyCols, "full_outer")
    val inserts = joined.filter(col("__pre").isNull)
      .select(col("__post").as("__r"))
      .withColumn("_change_type", lit("insert"))
    val deletes = joined.filter(col("__post").isNull)
      .select(col("__pre").as("__r"))
      .withColumn("_change_type", lit("delete"))
    val updated = joined
      .filter(col("__pre").isNotNull && col("__post").isNotNull &&
        !(col("__pre") <=> col("__post")))
    val prims = updated.select(col("__pre").as("__r"))
      .withColumn("_change_type", lit("update_preimage"))
    val posts = updated.select(col("__post").as("__r"))
      .withColumn("_change_type", lit("update_postimage"))
    inserts.unionByName(deletes).unionByName(prims).unionByName(posts)
      .select(cols.map(c => col(s"__r.$c").as(c)) :+ col("_change_type"): _*)
  }

  // ---- CHANGE DATA FEED (writer feature `changeDataFeed`) ----

  /** Whether the table binds the CDF writer obligation. */
  private def cdfEnabled(meta: String): Boolean =
    configurationOf(meta).get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))

  /** CDF parquet files under `_change_data`, table-relative. */
  private def cdcFilesRelative(dir: String): Set[String] = {
    val root = Paths.get(dir, "_change_data")
    if (!Files.isDirectory(root)) return Set.empty
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.flatMap { p =>
        val name = p.getFileName.toString
        if (name.endsWith(".parquet") && Files.isRegularFile(p) &&
            !name.startsWith("."))
          Some("_change_data/" +
            root.relativize(p).toString)
        else None
      }.toSet
    } finally walk.close()
  }

  /** Write `changes` — the table's LOGICAL columns plus `_change_type`
    * — as protocol `_change_data` parquet and return the commit's
    * `cdc` action lines (dataChange=false, per the protocol). The DML
    * triad calls this when `delta.enableChangeDataFeed=true`, turning
    * the old obligation refusal into the feature. Partitioned tables
    * land their change files in Hive directories under `_change_data`
    * (physical column names under mapping, like every write) and the
    * cdc actions carry the same physical-keyed partitionValues their
    * adds would. Cost is O(changed rows) — the change set is already
    * materialized by the DML's own plan. */
  private def writeCdcFiles(spark: SparkSession, dir: String,
      meta: String, changes: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val pcols = partitionColumnsOf(meta)
    val ctx = mappingCtx(spark, meta, schema)
    val cdcRoot = s"$dir/_change_data"
    val before = cdcFilesRelative(dir)
    // _change_type rides along as an unmapped literal column — the
    // protocol stores it IN the change files
    val phys = toPhysicalFrame(
      changes.select((schema.fieldNames.toSeq :+ "_change_type")
        .map(col): _*),
      schema.fields.toSeq :+ org.apache.spark.sql.types.StructField(
        "_change_type", org.apache.spark.sql.types.StringType),
      ctx.mode)
    if (pcols.isEmpty) phys.write.mode("append").parquet(cdcRoot)
    else phys.write.partitionBy(pcols.map(ctx.phys): _*)
      .mode("append").parquet(cdcRoot)
    var fresh = (cdcFilesRelative(dir) -- before).toSeq.sorted
    if (fresh.isEmpty) {
      // a DML whose change set is EMPTY (an idempotent merge whose
      // matches are all identical carry-overs) must STILL commit a cdc
      // action — a dataChange remove without one reads as a broken
      // writer and poisons every later CDF read of the range. The
      // dynamic-partition writer emits no file for empty output, so
      // land one schema-only flat file explicitly.
      phys.limit(0).repartition(1).write.mode("append").parquet(cdcRoot)
      fresh = (cdcFilesRelative(dir) -- before).toSeq.sorted
      require(fresh.nonEmpty,
        "empty change-data write produced no file — the commit would " +
          "carry removes without cdc actions")
    }
    fresh.map { rel =>
      val pv = hivePartitionValues(rel).toSeq.sortBy(_._1)
        .map { case (k, value) =>
          s""""${esc(k)}":${Option(value).map(x => s""""${esc(x)}"""")
              .getOrElse("null")}"""
        }.mkString(",")
      s"""{"cdc":{"path":"${esc(rel)}","partitionValues":{$pv},"size":${Files
          .size(Paths.get(dir, rel))},"dataChange":false}}"""
    }
  }

  /** CHANGE DATA FEED read — the consumer side of the protocol's cdc
    * actions: row-level changes of commits `fromVersion` (exclusive)
    * through `toVersion` (inclusive; latest when None), each row
    * tagged `_change_type` and `_commit_version`. A commit CARRYING
    * cdc actions delivers exactly its `_change_data` files (the DML
    * triad's output — per the protocol, readers must prefer them over
    * re-deriving from data files); an append-shaped commit (no
    * dataChange removes) synthesizes `insert` rows from its
    * dataChange adds; a data-removing commit WITHOUT cdc actions
    * (pre-CDF history, or a foreign writer that broke the obligation)
    * is refused by name — silently re-deriving would repeat exactly
    * the mis-derivation the obligation exists to prevent. Cost:
    * O(commits in range) log metadata + a scan of exactly the change
    * and fresh files. */
  /** Whether source field `ff` IS target field `tf` across a schema
    * change: by column-mapping id when both carry one (survives
    * renames — the id IS the identity); when only the TARGET is
    * mapped, by the target's physicalName equalling the source's
    * display name — the upgrade rule sets physicalName = the
    * then-display name, so PRE-UPGRADE history stays bound to a
    * later-renamed column through its physical identity; else by
    * display name. */
  private def sameFieldIdentity(
      ff: org.apache.spark.sql.types.StructField,
      tf: org.apache.spark.sql.types.StructField): Boolean = {
    def key(f: org.apache.spark.sql.types.StructField): Option[Long] =
      if (f.metadata.contains(cmIdKey)) Some(f.metadata.getLong(cmIdKey))
      else None
    (key(ff), key(tf)) match {
      case (Some(a), Some(b)) => a == b
      case (None, Some(_)) if tf.metadata.contains(cmPhysKey) =>
        tf.metadata.getString(cmPhysKey) == ff.name
      // the mirror direction — a RESTORE back across the mapping
      // upgrade aligns a mapped source into the unmapped then-schema;
      // the source's physicalName IS the then-display name
      case (Some(_), None) if ff.metadata.contains(cmPhysKey) =>
        ff.metadata.getString(cmPhysKey) == tf.name
      case _ => ff.name == tf.name
    }
  }

  /** One column of `from`-typed data reshaped as `toT` — the
    * recursive leg of [[alignToSchema]]: structs align FIELD BY FIELD
    * (matched by [[sameFieldIdentity]]; unmatched target fields read
    * NULL — a bare struct cast would demand equal field counts and
    * crash any feed spanning a nested DROP/ADD), arrays/maps align
    * their elements, atomic mismatches cast, and kind mismatches
    * (struct vs atomic) read NULL. A NULL source struct stays NULL —
    * never a struct of NULLs. */
  /** Whether two types are identical THROUGH the field-identity
    * layer — same names/types at every depth AND every nested field
    * pair shares one identity ([[sameFieldIdentity]]). The passthrough
    * gate of [[alignCol]]: a dropped-then-re-added nested namesake has
    * the same SHAPE but a fresh id, and its old values must read NULL,
    * not flow into the new field. */
  private def identicalThroughIdentity(f: DataType, t: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (f, t) match {
      case (fs: StructType, ts: StructType) =>
        fs.length == ts.length &&
          fs.fields.zip(ts.fields).forall { case (a, b) =>
            a.name == b.name && sameFieldIdentity(a, b) &&
              identicalThroughIdentity(a.dataType, b.dataType)
          }
      case (fa: ArrayType, ta: ArrayType) =>
        identicalThroughIdentity(fa.elementType, ta.elementType)
      case (fm: MapType, tm: MapType) =>
        identicalThroughIdentity(fm.keyType, tm.keyType) &&
          identicalThroughIdentity(fm.valueType, tm.valueType)
      case _ => f == t
    }
  }

  private def alignCol(src: org.apache.spark.sql.Column,
      fromT: DataType, toT: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    (fromT, toT) match {
      case (f, t) if identicalThroughIdentity(f, t) => src
      case (fs: StructType, ts: StructType) =>
        val children = ts.fields.map { tf =>
          fs.fields.find(ff => sameFieldIdentity(ff, tf)) match {
            case Some(ff) =>
              alignCol(src.getField(ff.name), ff.dataType, tf.dataType)
                .as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }
        when(src.isNull, lit(null).cast(ts))
          .otherwise(struct(children.toIndexedSeq: _*)).cast(ts)
      case (fa: ArrayType, ta: ArrayType) =>
        transform(src, x => alignCol(x, fa.elementType, ta.elementType))
          .cast(ta)
      case (fm: MapType, tm: MapType)
          if identicalThroughIdentity(fm.keyType, tm.keyType) =>
        transform_values(src,
          (_, v) => alignCol(v, fm.valueType, tm.valueType)).cast(tm)
      case (fm: MapType, tm: MapType)
          if !fm.keyType.isInstanceOf[StructType] &&
            !fm.keyType.isInstanceOf[ArrayType] &&
            !fm.keyType.isInstanceOf[MapType] &&
            !tm.keyType.isInstanceOf[StructType] &&
            !tm.keyType.isInstanceOf[ArrayType] &&
            !tm.keyType.isInstanceOf[MapType] =>
        // atomic key retype (a foreign writer's widening): cast keys,
        // align values — never NULL the whole map
        map_from_arrays(
          transform(map_keys(src), k => k.cast(tm.keyType)),
          transform(map_values(src),
            v => alignCol(v, fm.valueType, tm.valueType))).cast(tm)
      case (_: StructType, _) | (_, _: StructType) |
           (_: ArrayType, _) | (_, _: ArrayType) |
           (_: MapType, _) | (_, _: MapType) =>
        lit(null).cast(toT)
      case _ => src.cast(toT)
    }
  }

  /** Align a frame shaped `from` into target schema `to`, carrying
    * `extras` through: fields match by [[sameFieldIdentity]] (mapping
    * id, physical-name bridge for pre-upgrade history, display name)
    * and reshape recursively through [[alignCol]]; unmatched target
    * fields read NULL — the protocol's read-schema rule for a feed
    * range spanning schema changes (r19). */
  private def alignToSchema(df: DataFrame,
      from: org.apache.spark.sql.types.StructType,
      to: org.apache.spark.sql.types.StructType,
      extras: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val cols = to.fields.map { tf =>
      from.fields.find(ff => sameFieldIdentity(ff, tf)) match {
        case Some(ff) =>
          alignCol(col(ff.name), ff.dataType, tf.dataType).as(tf.name)
        case None => lit(null).cast(tf.dataType).as(tf.name)
      }
    } ++ extras.map(col)
    df.select(cols.toIndexedSeq: _*)
  }

  /** The metaData action governing AT version `v` — the newest one at
    * or before it: scanned off the surviving JSON commits newest-first
    * (each read is one file, no replay state built), falling back to
    * the checkpoint's metaData when no governing JSON survives. A JSON
    * metaData found at or before a covering checkpoint is NOT trusted
    * over the checkpoint's own (a foreign partial cleanup can leave
    * stale early commits while the real schema change was expired into
    * the checkpoint). */
  private def governingMetaAt(spark: SparkSession, dir: String,
      v: Long): String = {
    val cp = lastCheckpoint(dir).filter(_.version <= v)
    val floor = cp.map(_.version).getOrElse(-1L)
    val versions = logVersions(dir)
    // contiguity is required only ABOVE the newest surviving
    // metaData-bearing commit: a missing commit there could have
    // carried a newer (governing) metaData, so attribution breaks;
    // a missing commit BELOW it is superseded by the survivor and
    // harmless. Demanding the full floor..v chain refused feeds a
    // foreign partial cleanup had left perfectly attributable
    // (ADVICE r19).
    val found = versions.filter(u => u <= v && u > floor)
      .reverseIterator
      .flatMap { u =>
        new String(
          Files.readAllBytes(Paths.get(dir, "_delta_log", commitFile(u))),
          StandardCharsets.UTF_8).split("\n")
          .find(_.startsWith("""{"metaData""""))
          .map(m => (u, m))
      }
      .nextOption()
    found match {
      case Some((u, m)) =>
        val gapAbove = ((u + 1) to v).filterNot(versions.contains)
        require(gapAbove.isEmpty,
          s"commit(s) ${gapAbove.mkString(",")} after the newest " +
            s"surviving metaData (v$u) and at or before v$v are " +
            "missing — a schema change there is no longer attributable")
        m
      case None =>
        // no surviving metaData in (floor, v]: EVERY commit there must
        // survive, or a missing one might have carried the governing
        // schema over the checkpoint's copy
        val gap = ((floor + 1) to v).filterNot(versions.contains)
        require(gap.isEmpty,
          s"commit(s) ${gap.mkString(",")} at or before v$v are " +
            "missing — the governing schema there is no longer " +
            "attributable")
        cp.map(c => loadCheckpoint(spark, dir, c,
            keepStats = false).meta).filter(_ != null)
          .getOrElse(
            // no checkpoint at/below v: the chain to v must carry one
            snapshotState(spark, dir, Some(v), keepStats = false).meta)
    }
  }

  def readDeltaCdf(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val versions = logVersions(dir)
    val until = toVersion.getOrElse(
      (lastCheckpoint(dir).map(_.version).toSeq ++ versions).max)
    require(until > fromVersion,
      s"toVersion $until does not follow fromVersion $fromVersion")
    val range = versions.filter(v => v > fromVersion && v <= until)
    val missing = ((fromVersion + 1) to until).filterNot(range.contains)
    require(missing.isEmpty,
      s"commit(s) ${missing.mkString(",")} in the requested range have " +
        "been expired — their change data is no longer attributable")
    val st = snapshotState(spark, dir, Some(until), keepStats = false)
    val untilSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(st.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val ctCol = org.apache.spark.sql.types.StructField(
      "_change_type", org.apache.spark.sql.types.StringType)
    val dcRe = """"dataChange":(true|false)""".r
    val outCols = untilSchema.fieldNames.toSeq ++
      Seq("_change_type", "_commit_version")
    // PER-COMMIT schema resolution (r19): each commit's change files
    // were written at THAT commit's schema (the metaData governing at
    // v), not the until-schema — a range spanning ADD COLUMNS or a
    // schema-changing overwrite must read each commit at its own
    // schema and ALIGN the rows into the until-schema (by mapping id
    // where mapped — renames keep identity — else by name, NULL-padded
    // both ways). The governing meta walks forward with the range:
    // seeded from the snapshot at fromVersion, replaced by each
    // commit's own metaData action.
    var currentMeta: String =
      if (fromVersion < 0) null
      else governingMetaAt(spark, dir, fromVersion)
    val perCommit = range.map { v =>
      val lines = new String(
        Files.readAllBytes(Paths.get(dir, "_delta_log", commitFile(v))),
        StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
      lines.find(_.startsWith("""{"metaData""""))
        .foreach(m => currentMeta = m)
      require(currentMeta != null,
        s"no metaData governs commit v$v — the log is malformed")
      val meta = currentMeta
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(schemaStringOf(meta))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val pcols = partitionColumnsOf(meta)
      val ctx = mappingCtx(spark, meta, schema)
      val dataSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(f => pcols.contains(f.name)))
      def dataChange(l: String) =
        dcRe.findFirstMatchIn(l).forall(_.group(1) == "true")
      val cdcLines = lines.filter(_.startsWith("""{"cdc""""))
      val atCommitSchema: DataFrame =
        if (cdcLines.nonEmpty) {
          // the protocol's exclusive rule: cdc actions ARE this
          // commit's change set; its adds/removes describe storage
          val groups = cdcLines.map { l =>
            (pathOf(l, "cdc"), logicalPvals(partitionValuesOf(l), ctx.phys))
          }.groupBy(_._2).view.mapValues(_.map(_._1)).toSeq
            .sortBy(_._1.toSeq.sortBy(_._1).mkString("/"))
          val rs = org.apache.spark.sql.types.StructType(
            ctx.physSchema(dataSchema).fields :+ ctCol)
          groups.map { case (pv, files) =>
            val base = ctx.toLogical(
              ctx.session.read.schema(rs)
                .parquet(files.sorted.map(f => s"$dir/$f"): _*),
              dataSchema, Seq("_change_type"))
            pcols.foldLeft(base) { case (d, c) =>
              d.withColumn(c, lit(pv.getOrElse(c, null))
                .cast(schema(c).dataType))
            }
          }.reduce(_.unionByName(_))
            .select((schema.fieldNames.toSeq :+ "_change_type")
              .map(col): _*)
        } else {
          val isChangeCommit = lines.exists(l =>
            l.startsWith("""{"remove"""") && dataChange(l))
          if (isChangeCommit) throw new IllegalStateException(
            s"commit v$v changes existing data but carries no cdc " +
              "actions — its writer predates the CHANGE DATA FEED " +
              "obligation (or broke it); the row-level changes are not " +
              "attributable. Use tableChanges (CDC derivation) instead")
          val newFiles = lines.collect {
            case l if l.startsWith("""{"add"""") && dataChange(l) =>
              pathOf(l, "add")
          }
          if (newFiles.isEmpty) null
          else scanFiles(spark, dir, meta, newFiles, Some(v),
              st.pvals.toMap)
            .withColumn("_change_type", lit("insert"))
        }
      if (atCommitSchema == null) null
      else alignToSchema(atCommitSchema, schema, untilSchema,
          Seq("_change_type"))
        .withColumn("_commit_version", lit(v))
        .select(outCols.map(col): _*)
    }.filter(_ != null)
    if (perCommit.isEmpty) {
      // only maintenance commits (OPTIMIZE / CHECKPOINT) in
      // range — an EMPTY feed, not an error: a quiet poll cycle is the
      // incremental consumer's normal case
      val fields = untilSchema.fields ++ Seq(
        ctCol,
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = false))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(fields))
    } else perCommit.reduce(_.unionByName(_))
  }

  /** Highest committed writer-transaction version for `appId` — the
    * protocol's `txn` watermark, replayed from the log (and restored
    * through checkpoints). None when the app never committed. */
  def lastTxnVersion(spark: SparkSession, dir: String,
      appId: String): Option[Long] =
    snapshotState(spark, dir, None, keepStats = false).txns.get(appId)

  /** IDEMPOTENT append — the protocol's exactly-once writer contract:
    * the commit carries a `txn` action (appId, txnVersion), and a
    * retry of an ALREADY-COMMITTED transaction is skipped by comparing
    * against [[lastTxnVersion]] BEFORE writing anything. This is what
    * lets a streaming sink replay its batches after losing its OWN
    * checkpoint without double-landing rows: the table itself
    * remembers how far each writer got (Delta's txn/SetTransaction
    * mechanism; the watermark survives log checkpoints because
    * checkpoint rows carry txn state per the protocol). Returns
    * (table version, landed) — landed=false means the transaction was
    * already in the log and the call changed nothing. `txnVersion`
    * must increase per appId; a REGRESSION (replaying an older batch
    * id than committed) is also skipped, matching Delta's
    * txnVersion <= last rule. */
  def appendDeltaTableIdempotent(spark: SparkSession, df0: DataFrame,
      dir: String, appId: String, txnVersion: Long): (Long, Boolean) = {
    val df = pinNonDeterministic(df0)
    val snap = snapshotState(spark, dir, None, keepStats = false)
    val last = snap.txns.get(appId)
    if (last.exists(txnVersion <= _))
      return (latestVersion(dir), false)
    // the idempotent path is still an APPEND: the same guards every
    // other row-adding writer runs, in the same ORDER — schema first
    // (a constraint expression evaluated against a wrong-schema batch
    // would die as an unresolved-column AnalysisException instead of
    // the schema-mismatch refusal), then mapping, then constraints
    val v = latestVersion(dir) + 1
    val pcols = partitionColumnsOf(snap.meta)
    val tableSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(snap.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val (batch, idActions) = applyIdentity(spark, snap, tableSchema, df,
      "APPEND")
    require(schemaFits(batch.schema, tableSchema),
      s"append schema ${batch.schema.catalogString} does not match the " +
        s"table's logged schema ${tableSchema.catalogString}")
    val cmCtx = mappingCtx(spark, snap.meta, tableSchema)
    enforceCheckConstraints(snap.meta, batch, "APPEND")
    enforceWriterObligations(snap.meta, "APPEND", removesData = false,
      Some(df), protocol = snap.protocol)
    // partitioned tables take the Hive-layout write and relative-path
    // adds; flat tables the top-level form — the txn line is the same
    val before = dataFilesRelative(dir).toSet
    val physDf = toPhysicalFrame(batch, tableSchema.fields.toSeq, cmCtx.mode)
    if (pcols.isEmpty) physDf.write.mode("append").parquet(dir)
    else physDf.write.partitionBy(pcols.map(cmCtx.phys): _*)
      .mode("append").parquet(dir)
    val fresh = dataFilesRelative(dir).filterNot(before)
    require(fresh.nonEmpty, "append produced no data files")
    writeCommit(dir, v,
      s"""{"txn":{"appId":"${esc(appId)}","version":$txnVersion}}""" +:
        (idActions ++
          addActionsRelative(spark, dir, fresh, System.currentTimeMillis())),
      "APPEND")
    (v, true)
  }

  /** RESTORE the table to `versionAsOf` as a NEW commit — Delta's
    * RESTORE TABLE ... VERSION AS OF: one metadata commit that removes
    * the files live now but not then, re-adds the files live then but
    * not now (their bytes never moved — restore is pure log surgery,
    * which is why it is instant at any size), and re-asserts the
    * restored version's metaData when the schema drifted in between.
    * History is preserved in BOTH directions: time travel to the
    * pre-restore head still works (nothing was deleted), and the
    * restore itself is just another commit a later restore can undo.
    * Refuses when a needed old file has been vacuumed — a restore that
    * silently resurrects a partial snapshot would be data loss.
    *
    * CHANGE DATA FEED (r18): on a `delta.enableChangeDataFeed` table
    * whose schema did not drift across the range, the restore emits
    * its row-level feed — rows of files LEAVING the table feed as
    * deletes (under the current vectors), rows of files RETURNING feed
    * as inserts (under the then-vectors), and a file whose deletion
    * vector CHANGED feeds exactly its position DIFF (masked-then ∖
    * masked-now rows leave, masked-now ∖ masked-then rows return) —
    * O(changed files + vector cardinality), never a table diff. A
    * schema-drift restore still refuses through the obligation by
    * name: its feed is not expressible in one schema.
    * Returns the new version. */
  def restoreDeltaTable(spark: SparkSession, dir: String,
      versionAsOf: Long): Long = {
    // column-mapped tables restore fine: this is PURE log surgery —
    // re-adds carry partitionValues/stats/deletionVector verbatim from
    // the then-snapshot and the then-metaData (mapping config included)
    // is re-asserted when it drifted; no display-named file is written
    val v = latestVersion(dir) + 1
    val now = snapshotState(spark, dir, None, keepStats = false)
    val then_ = snapshotState(spark, dir, Some(versionAsOf))
    // the restore's feed emits in the RESTORED commit's schema (r19):
    // the commit re-asserts then-metaData as governing, so its change
    // files write under the then-mapping and the per-commit CDF reader
    // resolves them at exactly that schema — a schema-CHANGING restore
    // aligns the departing now-rows into the then-schema by mapping
    // id / name, the same rule the overwrite feed follows.
    val cdf = cdfEnabled(now.meta)
    enforceWriterObligations(now.meta, "RESTORE", removesData = true, None,
      emitsChangeData = cdf, protocol = now.protocol)
    // the restored metaData governs from this commit on
    refuseUnmaintainedFeatures(then_.meta, now.protocol, "RESTORE")
    val gone = then_.live.toSeq
      .filterNot(f => Files.isRegularFile(
        Paths.get(resolveDataPath(dir, f))))
    require(gone.isEmpty,
      s"cannot restore to v$versionAsOf — file(s) ${gone.mkString(", ")} " +
        "have been vacuumed; the snapshot is no longer reconstructible")
    // DV-aware: the restored snapshot needs its then-vectors, so their
    // .bin files must still exist (the vacuumed-DV sibling of the data
    // check above), and a file live in BOTH versions whose vector
    // CHANGED must be re-issued with the then-vector — its rows moved
    // without the file moving, exactly the CDC rule in reverse
    val dvGone = then_.dvs.values.toSeq
      .flatMap(DeletionVectors.referencedRelPath)
      .filterNot(rel => Files.isRegularFile(Paths.get(dir, rel)))
    require(dvGone.isEmpty,
      s"cannot restore to v$versionAsOf — deletion vector file(s) " +
        s"${dvGone.mkString(", ")} have been vacuumed; the snapshot is " +
        "no longer reconstructible")
    val dvChanged = now.live.toSet.intersect(then_.live.toSet)
      .filter(f => now.dvs.get(f) != then_.dvs.get(f))
    val removes = (now.live -- then_.live).toSeq.sorted
    val readds = ((then_.live -- now.live) ++ dvChanged).toSeq.sorted
    require(removes.nonEmpty || readds.nonEmpty ||
      now.meta != then_.meta,
      s"restore to v$versionAsOf is a no-op — the snapshot is identical")
    val ts = System.currentTimeMillis()
    // the restore's row-level feed, BEFORE the commit (the DML-triad
    // order: change files land, then the commit references them)
    val cdcActions =
      if (!cdf || (removes.isEmpty && readds.isEmpty)) Seq.empty[String]
      else {
        import org.apache.spark.sql.functions.lit
        val nowSchema = org.apache.spark.sql.types.DataType
          .fromJson(schemaStringOf(now.meta))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val thenSchema = org.apache.spark.sql.types.DataType
          .fromJson(schemaStringOf(then_.meta))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val readdsOnly = (then_.live -- now.live).toSeq.sorted
        // departing rows scan at the NOW schema (theirs) and ALIGN
        // into the restored schema; returning rows and dv diffs scan
        // at the then-schema directly (the files carry then-columns)
        val dels =
          if (removes.isEmpty) Nil
          else Seq(alignToSchema(
            scanFiles(spark, dir, now.meta, removes, None,
                now.pvals.toMap, now.dvs.toMap)
              .withColumn("_change_type", lit("delete")),
            nowSchema, thenSchema, Seq("_change_type")))
        val ins =
          if (readdsOnly.isEmpty) Nil
          else Seq(scanFiles(spark, dir, then_.meta, readdsOnly,
              Some(versionAsOf), then_.pvals.toMap, then_.dvs.toMap)
            .withColumn("_change_type", lit("insert")))
        val dvParts = dvChanged.toSeq.sorted.flatMap { f =>
          val thenPos = then_.dvs.get(f)
            .map(d => DeletionVectors.positions(dir, d).toSet)
            .getOrElse(Set.empty[Long])
          val nowPos = now.dvs.get(f)
            .map(d => DeletionVectors.positions(dir, d).toSet)
            .getOrElse(Set.empty[Long])
          val delPos = (thenPos -- nowPos).toSeq.sorted
          val insPos = (nowPos -- thenPos).toSeq.sorted
          (if (delPos.isEmpty) Nil
           else Seq(scanFileAtPositions(spark, dir, then_.meta, f,
               then_.pvals.toMap, delPos)
             .withColumn("_change_type", lit("delete")))) ++
          (if (insPos.isEmpty) Nil
           else Seq(scanFileAtPositions(spark, dir, then_.meta, f,
               then_.pvals.toMap, insPos)
             .withColumn("_change_type", lit("insert"))))
        }
        val parts = dels ++ dvParts ++ ins
        val changes =
          if (parts.nonEmpty) parts.reduce(_.unionByName(_))
          else {
            // data files moved but every row-level diff is empty (a
            // descriptor swap masking identical positions): the commit
            // still needs its cdc action — writeCdcFiles lands the
            // schema-only file
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(thenSchema.fields :+
                org.apache.spark.sql.types.StructField("_change_type",
                  org.apache.spark.sql.types.StringType)))
          }
        writeCdcFiles(spark, dir, then_.meta, changes)
      }
    val metaActions =
      if (now.meta == then_.meta) Seq.empty[String] else Seq(then_.meta)
    val removeActions = (removes ++ dvChanged.toSeq.sorted).map(p =>
      s"""{"remove":{"path":"${esc(p)}","deletionTimestamp":$ts,"dataChange":true}}""")
    val addActions = readds.map { p =>
      val statsField = then_.stats.get(p)
        .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
      val dvField = then_.dvs.get(p)
        .map(d => s""","deletionVector":${DeletionVectors.descriptorJson(d)}""")
        .getOrElse("")
      val pv = then_.pvals.getOrElse(p, Map.empty).toSeq.sortBy(_._1)
        .map { case (k, value) =>
          s""""${esc(k)}":${Option(value).map(x => s""""${esc(x)}"""")
              .getOrElse("null")}"""
        }.mkString(",")
      s"""{"add":{"path":"${esc(p)}","partitionValues":{$pv},"size":${Files
          .size(Paths.get(resolveDataPath(dir, p)))},"modificationTime":$ts,"dataChange":true$statsField$dvField}}"""
    }
    writeCommit(dir, v,
      metaActions ++ removeActions ++ addActions ++ cdcActions,
      "RESTORE")
    v
  }

  /** ALTER TABLE ADD COLUMNS — schema evolution as a METADATA-ONLY
    * commit, the deliberate act [[appendDeltaTable]]'s schema gate
    * points at: the new schema must keep every existing column (same
    * name, same type, nullability may only widen) and may APPEND
    * nullable columns at the end. Appended columns must be nullable
    * because the standing data files do not carry them — the reader's
    * pinned-schema scan fills NULL for them in pre-evolution files,
    * which is exactly Delta's ADD COLUMNS read semantics. No data file
    * is touched; time travel BEFORE this commit replays the old
    * metaData and keeps the old schema. Works on partitioned tables
    * (partitionColumns carry through unchanged). Returns the new
    * version. */
  def evolveDeltaTableSchema(spark: SparkSession, dir: String,
      newSchema: org.apache.spark.sql.types.StructType): Long = {
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None, keepStats = false)
    refuseUnmaintainedFeatures(snap.meta, snap.protocol, "ADD COLUMNS")
    val old = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(snap.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    require(newSchema.length > old.length,
      s"new schema adds no columns (${newSchema.length} <= ${old.length}) " +
        "— evolution here is ADD COLUMNS only; renames/drops/retypes " +
        "rewrite data and belong to overwrite")
    val prefix = newSchema.fields.take(old.length)
    val drift = prefix.zip(old.fields).collect {
      case (n, o) if n.name != o.name ||
          !sameShape(n.dataType, o.dataType) ||
          (o.nullable && !n.nullable) ||
          // tightening must be refused at EVERY depth — standing files
          // may carry NULLs under a nested position too (ADVICE r19)
          tightensNullability(o.dataType, n.dataType) =>
        s"${o.name} -> ${n.name}"
    }
    require(drift.isEmpty,
      s"existing column(s) changed (${drift.mkString(", ")}) — ADD " +
        "COLUMNS may not rename, retype, or tighten nullability")
    val appended = newSchema.fields.drop(old.length)
    val notNullable = appended.filterNot(_.nullable).map(_.name)
    require(notNullable.isEmpty,
      s"added column(s) ${notNullable.mkString(", ")} are non-nullable — " +
        "existing files do not carry them, so reads would violate the " +
        "contract; add them nullable")
    // COLUMN-MAPPED tables evolve natively (r18): each appended column
    // ALLOCATES a fresh field id (maxColumnId + 1, …) and a uuid
    // physical name — the protocol's rule, and what lets the new
    // column later RENAME for free. Existing fields keep their LOGGED
    // metadata verbatim (never the caller's copy — a caller-supplied
    // prefix without the physicalName/id metadata would strip the
    // mapping off every standing column).
    val cmMode = columnMappingMode(snap.meta)
    var conf = configurationOf(snap.meta)
    // existing fields: LOGGED metadata (mapping info) + the caller's
    // permitted nullability WIDENING — the drift check deliberately
    // allows non-nullable -> nullable, so the commit must honor it
    val prefixFinal = old.fields.zip(prefix).map { case (o, n) =>
      o.copy(dataType = mergeNullability(o.dataType, n.dataType),
        nullable = o.nullable || n.nullable)
    }
    val finalSchema =
      if (cmMode == "none")
        org.apache.spark.sql.types.StructType(prefixFinal ++ appended)
      else {
        val (mapped, newConf) = allocateMappedFields(appended, old, conf)
        conf = newConf
        org.apache.spark.sql.types.StructType(prefixFinal ++ mapped)
      }
    val idRe = """"id":"((?:[^"\\]|\\.)+)"""".r
    val id = idRe.findFirstMatchIn(snap.meta)
      .map(m => unescapeJson(m.group(1)))
      .getOrElse(throw new IllegalStateException("metaData carries no id"))
    val pcolsJson = partitionColumnsOf(snap.meta)
      .map(c => s""""${esc(c)}"""").mkString(",")
    val now = System.currentTimeMillis()
    writeCommit(dir, v, Seq(
      s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(
          finalSchema.json)}","partitionColumns":[$pcolsJson],"configuration":{${renderConfiguration(
          conf)}},"createdTime":$now}}"""),
      "ADD COLUMNS")
    v
  }

  /** Upgrade an UNMAPPED table to column mapping, mode 'name' —
    * Delta's `ALTER TABLE … SET TBLPROPERTIES (delta.columnMapping
    * .mode = 'name')`: every existing column's physical name becomes
    * its CURRENT display name (the standing files already carry those
    * columns, so reads keep resolving byte-for-byte) and gets a field
    * id 1…n; the configuration records the mode and maxColumnId; the
    * protocol upgrades to reader 2 / writer 5 (the legacy mapping
    * levels) or — when the table already speaks table features —
    * merges `columnMapping` into BOTH feature lists. Pure metaData
    * surgery: no file moves, time travel before the upgrade keeps the
    * unmapped schema. After the upgrade, renames are metadata-only
    * ([[renameDeltaTableColumn]]) and ADD COLUMNS allocates ids.
    * Returns the new version. */
  def upgradeToColumnMapping(spark: SparkSession, dir: String): Long = {
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None, keepStats = false)
    refuseUnmaintainedFeatures(snap.meta, snap.protocol,
      "UPGRADE TO COLUMN MAPPING")
    val mode = columnMappingMode(snap.meta)
    require(mode == "none",
      s"table already column-mapped (mode '$mode')")
    val old = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(snap.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // EVERY field gets mapping identity, nested struct fields included
    // (r19 — Databricks' upgrade rule): physical name = the CURRENT
    // display name at every depth (the standing files already carry
    // those columns under those names, so reads keep resolving
    // byte-for-byte), ids in depth-first pre-order.
    var nAssigned = 0L
    def upgradeField(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.types.StructField = {
      nAssigned += 1
      val id = nAssigned
      f.copy(
        dataType = upgradeType(f.dataType),
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(cmIdKey, id)
          .putString(cmPhysKey, f.name)
          .build())
    }
    def upgradeType(dt: DataType): DataType = {
      import org.apache.spark.sql.types._
      dt match {
        case st: StructType => StructType(st.fields.map(upgradeField))
        case a: ArrayType => a.copy(elementType = upgradeType(a.elementType))
        case m: MapType => m.copy(keyType = upgradeType(m.keyType),
          valueType = upgradeType(m.valueType))
        case other => other
      }
    }
    val mapped = org.apache.spark.sql.types.StructType(
      old.fields.map(upgradeField))
    val conf = configurationOf(snap.meta) +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> nAssigned.toString)
    val idRe = """"id":"((?:[^"\\]|\\.)+)"""".r
    val id = idRe.findFirstMatchIn(snap.meta)
      .map(m => unescapeJson(m.group(1)))
      .getOrElse(throw new IllegalStateException("metaData carries no id"))
    val pcolsJson = partitionColumnsOf(snap.meta)
      .map(c => s""""${esc(c)}"""").mkString(",")
    val now = System.currentTimeMillis()
    writeCommit(dir, v,
      columnMappingUpgradedProtocol(snap).toSeq :+
        s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(
            mapped.json)}","partitionColumns":[$pcolsJson],"configuration":{${renderConfiguration(
            conf)}},"createdTime":$now}}""",
      "UPGRADE COLUMN MAPPING")
    v
  }

  /** The protocol action a column-mapping upgrade needs, if any:
    * legacy protocols rise to reader 2 / writer 5 (mapping's legacy
    * levels); a table-features protocol merges `columnMapping` into
    * BOTH lists (the dvUpgradedProtocol never-clobber rule). None when
    * already sufficient. */
  private def columnMappingUpgradedProtocol(
      st: ReplayState): Option[String] = {
    val cur = Option(st.protocol).getOrElse(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val mrvRe = """"minReaderVersion":(\d+)""".r
    val mwvRe = """"minWriterVersion":(\d+)""".r
    val rfRe = """"readerFeatures":\[([^\]]*)\]""".r
    val wfRe = """"writerFeatures":\[([^\]]*)\]""".r
    val mrv = mrvRe.findFirstMatchIn(cur).map(_.group(1).toInt).getOrElse(1)
    val mwv = mwvRe.findFirstMatchIn(cur).map(_.group(1).toInt).getOrElse(2)
    def feats(re: scala.util.matching.Regex): Option[Set[String]] =
      re.findFirstMatchIn(cur).map(m => jsonStrRe.findAllMatchIn(m.group(1))
        .map(e => unescapeJson(e.group(1))).toSet)
    (feats(rfRe), feats(wfRe)) match {
      case (Some(rf), Some(wf))
          if rf.contains("columnMapping") && wf.contains("columnMapping") =>
        None
      case (rfo, wfo) if mrv >= 3 || mwv >= 7 || rfo.isDefined || wfo.isDefined =>
        val rf0 = rfo.getOrElse(Set.empty[String])
        val wf0 = wfo.getOrElse(legacyWriterFeatures(mwv))
        def render(fs: Set[String]) = (fs + "columnMapping").toSeq.sorted
          .map(f => s""""${esc(f)}"""").mkString(",")
        Some(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[${render(
            rf0)}],"writerFeatures":[${render(wf0)}]}}""")
      case _ if mrv >= 2 && mwv >= 5 => None
      case _ =>
        Some(s"""{"protocol":{"minReaderVersion":${math.max(mrv, 2)},"minWriterVersion":${math.max(mwv, 5)}}}""")
    }
  }

  /** Whether-an-expression-binds-this-column regex: the bare word with
    * identifier-character boundaries, OR the backtick-quoted spelling —
    * Spark SQL's standard identifier quoting, which a plain
    * word-boundary class that excluded backticks would silently miss
    * (`bal` >= 0 must block a rename of bal). */
  private def exprBindsRe(name: String): scala.util.matching.Regex = {
    val q = java.util.regex.Pattern.quote(name)
    // bare spelling: full identifier-boundary INCLUDING backticks, so
    // 'bal' neither false-positives as a prefix inside a DIFFERENT
    // quoted identifier (`bal-2`) nor matches a suffix; the quoted
    // spelling is its own exact alternative
    ("""(?<![A-Za-z0-9_`])""" + q + """(?![A-Za-z0-9_`])""" +
      """|`""" + q + """`""").r
  }

  /** Apply `leafOp` to the struct CONTAINING the dotted path's leaf —
    * the shared walk nested RENAME/DROP use (r19). Segments address
    * STRUCT fields only (a segment landing on an array/map/atomic
    * refuses by name); the leaf's existence is the caller's leafOp's
    * concern. Returns the rebuilt root. */
  private def transformAtParent(
      root: org.apache.spark.sql.types.StructType, path: Seq[String],
      leafOp: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def walk(st: StructType, segs: Seq[String],
        at: String): StructType = segs match {
      case Seq(_) => leafOp(st)
      case head +: rest =>
        require(st.fieldNames.contains(head),
          s"no field '$at$head' — have ${st.fieldNames.mkString(", ")}")
        StructType(st.fields.map { f =>
          if (f.name != head) f
          else f.dataType match {
            case inner: StructType =>
              f.copy(dataType = walk(inner, rest, s"$at$head."))
            case other => throw new IllegalArgumentException(
              s"path segment '$at$head' is ${other.simpleString} — " +
                "nested column paths address STRUCT fields only")
          }
        })
      case _ => throw new IllegalArgumentException("empty column path")
    }
    walk(root, path, "")
  }

  /** ALTER TABLE RENAME COLUMN — the operation column mapping EXISTS
    * for: on a mapped table the display name is log metadata, so the
    * rename is ONE metaData commit (the physical name — and with it
    * every standing parquet byte, stats key and partitionValues key —
    * never changes; reads, prunes, appends and DML all keep resolving
    * through the unchanged physical layer). Unmapped tables refuse:
    * there the file columns ARE the display names, so a rename would
    * strand every standing file (Delta refuses the same way — it
    * demands the mapping upgrade first, [[upgradeToColumnMapping]]).
    * A column referenced by a CHECK constraint, a legacy invariant, or
    * a generation expression refuses by name — those expressions bind
    * the LOGICAL name and would silently stop matching (Delta's
    * dependency check). partitionColumns rename with the column (they
    * are logical names; the Hive directories and partitionValues keys
    * are physical and stay put). Returns the new version. */
  def renameDeltaTableColumn(spark: SparkSession, dir: String,
      oldName: String, newName: String): Long = {
    require(newName.nonEmpty && oldName != newName,
      s"bad rename: '$oldName' -> '$newName'")
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None, keepStats = false)
    refuseUnmaintainedFeatures(snap.meta, snap.protocol, "RENAME COLUMN")
    val mode = columnMappingMode(snap.meta)
    require(mode == "name" || mode == "id",
      "RENAME COLUMN requires column mapping — on an unmapped table " +
        "the parquet columns ARE the display names, so a rename would " +
        "strand every standing file; run upgradeToColumnMapping first")
    val old = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(snap.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // NESTED rename (r19): a dotted oldName addresses a struct field
    // at any depth (`record.a` -> `record.x`, Databricks' RENAME
    // COLUMN on nested fields); newName is the bare new LEAF name.
    // Same metadata-only property — the nested physicalName/id (and
    // therefore every standing byte) never moves.
    val nested = oldName.contains(".")
    val segs = oldName.split('.').toSeq
    require(!newName.contains("."),
      s"new name '$newName' must be a bare field name — the rename " +
        "stays inside its parent struct")
    if (!nested) {
      require(old.fieldNames.contains(oldName),
        s"no column '$oldName' — have ${old.fieldNames.mkString(", ")}")
      require(!old.fieldNames.contains(newName),
        s"column '$newName' already exists")
    }
    // dependency check: expressions bind LOGICAL names — a rename
    // would silently unbind them (word-boundary match, so 'bal' does
    // not false-positive on 'balance'; backtick-QUOTED spellings
    // `bal` must still bind, so the boundary admits backticks; a
    // dotted path quotes whole, so 'record.a' binds as a unit)
    val word = exprBindsRe(oldName)
    val boundConstraints = checkConstraintsOf(snap.meta).collect {
      case (n, e) if word.findFirstIn(e).isDefined => n
    }
    require(boundConstraints.isEmpty,
      s"column '$oldName' is referenced by CHECK constraint(s) " +
        s"${boundConstraints.mkString(", ")} — drop them first (their " +
        "expressions bind the logical name)")
    val boundFields = old.fields.filter { f =>
      (f.metadata.contains("delta.invariants") &&
        word.findFirstIn(f.metadata.getString("delta.invariants")).isDefined) ||
      (f.metadata.contains("delta.generationExpression") &&
        word.findFirstIn(
          f.metadata.getString("delta.generationExpression")).isDefined)
    }.map(_.name)
    require(boundFields.isEmpty,
      s"column '$oldName' is referenced by invariant/generation " +
        s"expression(s) on ${boundFields.mkString(", ")} — renames " +
        "would silently unbind them")
    val renamed =
      if (!nested) org.apache.spark.sql.types.StructType(
        old.fields.map(f => if (f.name == oldName) f.copy(name = newName)
                            else f))
      else transformAtParent(old, segs, { parent =>
        val leaf = segs.last
        require(parent.fieldNames.contains(leaf),
          s"no field '$oldName' — parent has " +
            parent.fieldNames.mkString(", "))
        require(!parent.fieldNames.contains(newName),
          s"field '$newName' already exists beside '$oldName'")
        org.apache.spark.sql.types.StructType(parent.fields.map(f =>
          if (f.name == leaf) f.copy(name = newName) else f))
      })
    val pcolsJson = partitionColumnsOf(snap.meta)
      .map(c => if (!nested && c == oldName) newName else c)
      .map(c => s""""${esc(c)}"""").mkString(",")
    val idRe = """"id":"((?:[^"\\]|\\.)+)"""".r
    val id = idRe.findFirstMatchIn(snap.meta)
      .map(m => unescapeJson(m.group(1)))
      .getOrElse(throw new IllegalStateException("metaData carries no id"))
    val now = System.currentTimeMillis()
    writeCommit(dir, v, Seq(
      s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(
          renamed.json)}","partitionColumns":[$pcolsJson],"configuration":{${renderConfiguration(
          configurationOf(snap.meta))}},"createdTime":$now}}"""),
      "RENAME COLUMN")
    v
  }

  /** COPY-ON-WRITE MERGE into a Delta table — the lakehouse upsert:
    * WHEN MATCHED on `keyCols` the batch row replaces the target row
    * (every matched target row, Delta's update-all-columns form; a
    * matched row whose batch `deleteCol` flag is true is deleted
    * instead), WHEN NOT MATCHED the batch row inserts (unless
    * delete-flagged — deleting what does not exist is a no-op, per
    * MERGE). Only the files that actually CONTAIN a matched key are
    * rewritten: a distributed semi-join tags each live file, the
    * touched list collects as bounded file-name metadata, untouched
    * files keep their add actions untouched (no rewrite, no re-stats —
    * the property that makes MERGE affordable on a 100 TB table where
    * a batch touches a few files), and one dataChange=true commit
    * carries removes for the touched files plus stats-bearing adds for
    * their rewrites and the inserts. Old files stay on disk for time
    * travel until vacuum, exactly like overwrite.
    *
    * Batch keys must be UNIQUE (Delta itself aborts when a target row
    * matches multiple source rows — nondeterministic update order);
    * refused loudly here. `batch` carries the table's full schema
    * (plus the optional boolean `deleteCol`). PARTITIONED tables merge
    * natively: the touched files scan with their partition columns
    * re-attached from the log, the rewrite lands back in its Hive
    * directories (inserts route by their own partition values), and the
    * fresh adds carry partitionValues — a batch whose update CHANGES a
    * partition column simply lands the row in its new partition (the
    * old copy's file is touched and rewritten without it). Returns the
    * new version. */
  def mergeDeltaTable(spark: SparkSession, batch0: DataFrame, dir: String,
      keyCols: Seq[String], deleteCol: Option[String] = None): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "keyCols is empty")
    val batch = pinNonDeterministic(batch0)
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None, keepStats = false)
    val pcols = partitionColumnsOf(snap.meta)
    val tableSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(snap.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val cmCtx = mappingCtx(spark, snap.meta, tableSchema)
    val dataBatch = deleteCol.fold(batch)(c => batch.drop(c))
    require(schemaFits(dataBatch.schema, tableSchema),
      s"batch schema ${dataBatch.schema.catalogString} does not match " +
        s"the table's logged schema ${tableSchema.catalogString}")
    val dupKeys = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).limit(1)
      .collect()
    require(dupKeys.isEmpty,
      s"batch carries duplicate merge key(s), first: ${dupKeys.head} — " +
        "a target row matching multiple source rows has no deterministic " +
        "update (Delta aborts the same way)")
    val live = snap.live.toSeq
    require(live.nonEmpty, "no live files to merge into")
    val cols = tableSchema.fieldNames.toSeq
    // the live snapshot with the file name kept for touched-file
    // detection. DVs APPLIED: a touched DV file's rewrite materializes
    // its deletes (and drops the vector with the remove); untouched
    // files keep their vectors
    val target = scanFiles(spark, dir, snap.meta, live, None,
      snap.pvals.toMap, snap.dvs.toMap, tags = Seq("__file"))
    // bounded collect: the DISTINCT file names containing a matched key
    val touchedUris = target
      .join(batch.select(keyCols.map(col): _*), keyCols, "left_semi")
      .select(col("__file")).distinct()
      .collect().map(_.getString(0)).toSet
    // decoded-suffix match (the fileStatsForRelative rule): a raw match
    // would drop the remove action for any partition directory whose URI
    // encoding differs from its disk name, leaving the old file live and
    // silently duplicating its rows after the rewrite
    val touchedPaths = touchedUris.map(uriToPath)
    val touched = live.filter(f =>
      touchedPaths.exists(uriMatchesLogged(dir, _, f)))
    val del = deleteCol.map(c => col(c) === true).getOrElse(lit(false))
    val bKeyed = batch.select(
      keyCols.map(col) :+ struct(cols.map(col): _*).as("__b")
        :+ del.as("__del"): _*)
    val tKeyed = target
      .filter(col("__file").isin(touchedUris.toSeq: _*))
      .select(keyCols.map(col) :+ struct(cols.map(col): _*).as("__t"): _*)
    // row fate in one predicate: a delete-flagged batch row drops its
    // match (and inserts nothing on a non-match); everything else keeps
    // the batch row when present (update/insert), else the target row
    // (unmatched row of a touched file, rewritten unchanged)
    val joined = tKeyed.join(bKeyed, keyCols, "full_outer")
    val merged = joined
      .filter(!coalesce(col("__del"), lit(false)))
      .select(coalesce(col("__b"), col("__t")).as("__r"))
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
    enforceCheckConstraints(snap.meta, merged, "MERGE")
    // a pure-insert merge (no file touched) is append-shaped and stays
    // legal on append-only tables; a CDF table takes ANY merge — the
    // change set is emitted below
    val cdf = cdfEnabled(snap.meta)
    enforceWriterObligations(snap.meta, "MERGE",
      removesData = touched.nonEmpty, Some(merged), emitsChangeData = cdf,
      protocol = snap.protocol)
    val before = dataFilesRelative(dir).toSet
    val freshNeeded = merged.limit(1).collect().nonEmpty
    if (freshNeeded) {
      // partitioned rewrites land back in their Hive directories —
      // updates stay in place, inserts route by their own partition
      // values (the appendDeltaTablePartitioned write shape); mapped
      // tables land physically, like every other writer
      val physMerged =
        toPhysicalFrame(merged, tableSchema.fields.toSeq, cmCtx.mode)
      if (pcols.isEmpty) physMerged.write.mode("append").parquet(dir)
      else physMerged.write.partitionBy(pcols.map(cmCtx.phys): _*)
        .mode("append").parquet(dir)
    }
    val fresh = dataFilesRelative(dir).filterNot(before)
    require(!freshNeeded || fresh.nonEmpty, "merge produced no data files")
    // CDF: classify the merge's row fates exactly as the CDC deriver
    // would — delete-flagged matches → delete, differing-image matches
    // → update pre/post pairs (IDENTICAL carry-overs are non-changes),
    // unmatched non-flagged batch rows → insert
    val cdcActions =
      if (!cdf) Seq.empty[String]
      else {
        val matchedBoth =
          joined.filter(col("__t").isNotNull && col("__b").isNotNull)
        val delRows = matchedBoth
          .filter(coalesce(col("__del"), lit(false)))
          .select(cols.map(c => col(s"__t.$c").as(c)): _*)
          .withColumn("_change_type", lit("delete"))
        val updPairs = matchedBoth
          .filter(!coalesce(col("__del"), lit(false)) &&
            !(col("__t") <=> col("__b")))
        val pre = updPairs
          .select(cols.map(c => col(s"__t.$c").as(c)): _*)
          .withColumn("_change_type", lit("update_preimage"))
        val post = updPairs
          .select(cols.map(c => col(s"__b.$c").as(c)): _*)
          .withColumn("_change_type", lit("update_postimage"))
        val ins = joined
          .filter(col("__t").isNull && !coalesce(col("__del"), lit(false)))
          .select(cols.map(c => col(s"__b.$c").as(c)): _*)
          .withColumn("_change_type", lit("insert"))
        writeCdcFiles(spark, dir, snap.meta,
          delRows.unionByName(pre).unionByName(post).unionByName(ins))
      }
    val now = System.currentTimeMillis()
    val removes = touched.sorted.map(p =>
      s"""{"remove":{"path":"${esc(p)}","deletionTimestamp":$now,"dataChange":true}}""")
    require(removes.nonEmpty || fresh.nonEmpty,
      "merge is a no-op — no matched files and no inserts")
    // explicit identity values in the batch advance the watermark, so
    // a later omitted-column append can never re-allocate them (a
    // merge batch is a partial slice — bootstrap only on empty tables)
    val idActions = trackProvidedIdentity(snap, tableSchema, batch,
      allowBootstrap = snap.live.isEmpty)
    writeCommit(dir, v,
      idActions ++ removes ++ addActionsRelative(spark, dir, fresh, now) ++
        cdcActions,
      "MERGE")
    v
  }

  // Legacy writer versions IMPLY features; upgrading to the
  // table-features protocol (v7) must re-declare them (the Delta
  // upgrade rule — dropping one would stop later writers enforcing it)
  private def legacyWriterFeatures(mwv: Int): Set[String] =
    Seq(
      2 -> Set("appendOnly", "invariants"),
      3 -> Set("checkConstraints"),
      4 -> Set("generatedColumns", "changeDataFeed"),
      5 -> Set("columnMapping"),
      6 -> Set("identityColumns"))
      .filter(_._1 <= mwv).flatMap(_._2).toSet

  /** The protocol action that declares WRITER feature `feature`, if
    * any — the one upgrade rule check constraints and identity
    * columns share: a table-features protocol MERGES the feature into
    * writerFeatures (readerFeatures renders only when already
    * declared — a foreign {1,7} writerFeatures-only table must
    * NOT gain an empty readerFeatures list, or spec-strict clients
    * reject it); a legacy protocol rises to the feature's legacy
    * writer level. None when already declared. */
  private def writerFeatureProtocol(st: ReplayState, feature: String,
      legacyLevel: Int): Option[String] = {
    val cur = Option(st.protocol).getOrElse(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val mrvRe = """"minReaderVersion":(\d+)""".r
    val mwvRe = """"minWriterVersion":(\d+)""".r
    val wfRe = """"writerFeatures":\[([^\]]*)\]""".r
    val rfRe = """"readerFeatures":\[([^\]]*)\]""".r
    val mrv = mrvRe.findFirstMatchIn(cur).map(_.group(1).toInt).getOrElse(1)
    val mwv = mwvRe.findFirstMatchIn(cur).map(_.group(1).toInt).getOrElse(2)
    wfRe.findFirstMatchIn(cur) match {
      case Some(m) =>
        val wf = jsonStrRe.findAllMatchIn(m.group(1))
          .map(e => unescapeJson(e.group(1))).toSet
        if (wf.contains(feature)) None
        else {
          val rfPart = rfRe.findFirstMatchIn(cur)
            .map(m => s""","readerFeatures":[${m.group(1)}]""").getOrElse("")
          val merged = (wf + feature).toSeq.sorted
            .map(f => s""""${esc(f)}"""").mkString(",")
          Some(s"""{"protocol":{"minReaderVersion":$mrv,"minWriterVersion":7$rfPart,"writerFeatures":[$merged]}}""")
        }
      case None if mwv >= legacyLevel => None
      case None => Some(
        s"""{"protocol":{"minReaderVersion":$mrv,"minWriterVersion":$legacyLevel}}""")
    }
  }

  /** The protocol action a DV write leads with: the table's CURRENT
    * protocol upgraded to table features with deletionVectors ADDED —
    * existing declared features (timestampNtz, appendOnly, …) are
    * MERGED in, never clobbered (a replacement protocol would
    * undeclare them for every later reader/writer). None when the
    * table already declares the feature on both sides. */
  private def dvUpgradedProtocol(st: ReplayState): Option[String] = {
    val cur = Option(st.protocol).getOrElse(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val mrvRe = """"minReaderVersion":(\d+)""".r
    val mwvRe = """"minWriterVersion":(\d+)""".r
    val rfRe = """"readerFeatures":\[([^\]]*)\]""".r
    val wfRe = """"writerFeatures":\[([^\]]*)\]""".r
    def feats(re: scala.util.matching.Regex): Option[Set[String]] =
      re.findFirstMatchIn(cur).map(m => jsonStrRe.findAllMatchIn(m.group(1))
        .map(e => unescapeJson(e.group(1))).toSet)
    val mrv = mrvRe.findFirstMatchIn(cur).map(_.group(1).toInt).getOrElse(1)
    val mwv = mwvRe.findFirstMatchIn(cur).map(_.group(1).toInt).getOrElse(2)
    val rf0 = feats(rfRe).getOrElse(
      if (mrv >= 2) Set("columnMapping") else Set.empty[String])
    val wf0 = feats(wfRe).getOrElse(legacyWriterFeatures(mwv))
    if (rf0.contains("deletionVectors") && wf0.contains("deletionVectors"))
      None
    else {
      def render(fs: Set[String]) = (fs + "deletionVectors").toSeq.sorted
        .map(f => s""""${esc(f)}"""").mkString(",")
      Some(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[${render(
          rf0)}],"writerFeatures":[${render(wf0)}]}}""")
    }
  }

  /** remove + re-add pair re-issuing `rel`'s add with `positions` as
    * its deletion vector (the CALLER merges prior positions in):
    * vectors up to 512 bytes inline (Z85), larger ones in framed
    * `.bin` files; partitionValues and stats carried verbatim from the
    * snapshot (min/max stay valid bounds over a subset; numRecords
    * keeps the protocol's physical-row meaning). Shared by the DV
    * DELETE and DV UPDATE writers. */
  private def dvRewriteActions(dir: String, snap: ReplayState,
      rel: String, positions: Seq[Long], now: Long): Seq[String] = {
    val bytes = DeletionVectors.serializePortable(positions)
    val desc =
      if (bytes.length <= 512)
        DeletionVectors.Descriptor("i", DeletionVectors.z85encode(bytes),
          None, bytes.length.toLong, positions.size.toLong)
      else DeletionVectors.writeDvFile(dir, positions)
        .copy(cardinality = positions.size.toLong)
    val pv = snap.pvals.getOrElse(rel, Map.empty).toSeq.sortBy(_._1)
      .map { case (k, value) =>
        s""""${esc(k)}":${Option(value).map(x => s""""${esc(x)}"""")
            .getOrElse("null")}"""
      }.mkString(",")
    val statsField = snap.stats.get(rel)
      .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
    Seq(
      s"""{"remove":{"path":"${esc(rel)}","deletionTimestamp":$now,"dataChange":true}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{$pv},"size":${Files
          .size(Paths.get(resolveDataPath(dir, rel)))},"modificationTime":$now,"dataChange":true$statsField,"deletionVector":${DeletionVectors
          .descriptorJson(desc)}}}""")
  }

  // ---- CHECK constraints (writer feature, legacy minWriterVersion 3) ----

  // one `"key":"value"` entry of the metaData configuration object
  private val confEntryRe =
    """"((?:[^"\\]|\\.)+)":"((?:[^"\\]|\\.)*)"""".r

  /** The metaData action's `configuration` map, parsed with the
    * anchored entry scanner (the partitionValuesOf rule — a
    * brace-bounded regex truncates at any value containing '}',
    * which CHECK expressions routinely do). */
  private[core] def configurationOf(meta: String): Map[String, String] = {
    val key = """"configuration":{"""
    val at = meta.indexOf(key)
    if (at < 0) return Map.empty
    var pos = at + key.length
    val out = Map.newBuilder[String, String]
    var done = pos < meta.length && meta.charAt(pos) == '}'
    while (!done) {
      confEntryRe.findPrefixMatchOf(meta.substring(pos)) match {
        case Some(m) =>
          out += unescapeJson(m.group(1)) -> unescapeJson(m.group(2))
          pos += m.end
          if (pos < meta.length && meta.charAt(pos) == ',') pos += 1
          else done = true
        case None => done = true
      }
    }
    out.result()
  }

  private def renderConfiguration(conf: Map[String, String]): String =
    conf.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString(",")

  /** The table's CHECK constraints: name -> SQL expression, from the
    * protocol's `delta.constraints.<name>` configuration entries. */
  def checkConstraintsOf(meta: String): Map[String, String] =
    configurationOf(meta).collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }

  /** Whether `df`'s ANALYZED plan carries a non-deterministic
    * expression (rand, uuid, shuffle, …) anywhere. */
  private def hasNonDeterministic(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .find(p => p.expressions.exists(
        _.find(!_.deterministic).isDefined))
      .isDefined

  /** `df` pinned to ONE evaluation per partition when its plan is
    * non-deterministic: batch-level validation, the data-file write
    * and the CDF feed all re-execute the plan, and a rand()/uuid
    * batch would land one row set while the validators approved — and
    * the feed recorded — ANOTHER. A lazy localCheckpoint caches each
    * partition at its first computation, so every later consumer sees
    * the same rows; deterministic plans pass through untouched. */
  private def pinNonDeterministic(df: DataFrame): DataFrame =
    if (hasNonDeterministic(df)) df.localCheckpoint(eager = false) else df

  /** Refuse a non-deterministic DML predicate BY NAME — Delta's own
    * rule: the predicate evaluates in more than one job (touched-file
    * detection, the rewrite's survivor filter, the CDF feed), and a
    * rand() predicate would select DIFFERENT rows in each. `filtered`
    * is the target with the predicate applied; only the TOP Filter's
    * condition is inspected — the scan underneath legitimately carries
    * non-deterministic tags (input_file_name). */
  private def requireDeterministicPredicate(filtered: DataFrame,
      op: String): Unit = {
    val topFilter = filtered.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    val nd = topFilter.exists(_.condition.find(!_.deterministic).isDefined)
    require(!nd,
      s"non-deterministic $op predicate — it evaluates in multiple " +
        "jobs (match detection, rewrite, change feed) and would select " +
        "different rows in each; Delta refuses the same way")
  }

  /** Enforce every logged CHECK constraint over `rows` (the incoming
    * batch / merged relation / updated images — never the standing
    * table): a row where the expression is FALSE or NULL violates,
    * per the protocol ("violated if it evaluates to false or null").
    * One limit(1) probe per constraint so the refusal can NAME the
    * constraint and show a violating row. */
  private def enforceCheckConstraints(meta: String, rows: DataFrame,
      op: String): Unit =
    checkConstraintsOf(meta).toSeq.sortBy(_._1).foreach { case (name, e) =>
      firstViolation(rows, e, s"CHECK constraint '$name'").foreach(bad =>
        throw new IllegalArgumentException(
          s"requirement failed: CHECK constraint '$name' ($e) violated " +
            s"by row $bad — $op refused (the protocol counts FALSE and " +
            "NULL both as violations)"))
    }

  /** Table features whose writer obligations this module does not
    * implement, each with the property that enables it: ROW TRACKING
    * (every new add must carry a `baseRowId` and rewrites must
    * preserve row ids) and IN-COMMIT TIMESTAMPS (every commit must
    * carry a strictly increasing `inCommitTimestamp`). Reads need
    * neither: a scan ignores row ids, and the timed vacuum clocks
    * commits by commitInfo's `timestamp`. */
  private val unmaintainedWriterFeatures = Seq(
    "rowTracking" -> "delta.enableRowTracking",
    "inCommitTimestamp" -> "delta.enableInCommitTimestamps")

  /** Refuse `op`, naming the feature, on a table whose protocol
    * declares or whose configuration enables one of
    * [[unmaintainedWriterFeatures]] — the check every commit,
    * checkpoint and log expiry runs before it writes. A null `meta` or
    * `protocol` means the log carries no such action. */
  private def refuseUnmaintainedFeatures(meta: String, protocol: String,
      op: String): Unit = {
    val conf = Option(meta).map(configurationOf).getOrElse(Map.empty)
    unmaintainedWriterFeatures.foreach { case (feature, property) =>
      if (Option(protocol).exists(_.contains(s""""$feature"""")) ||
          conf.get(property).exists(_.equalsIgnoreCase("true")))
        throw new IllegalArgumentException(
          s"$op on a table with table feature $feature is refused — " +
            s"this writer does not maintain $feature (declared in the " +
            s"protocol or enabled by $property=true); reads still work")
    }
  }

  /** Writer OBLIGATIONS bound by table properties and schema metadata
    * — the protocol binds writers, not just readers. graft enforces
    * what it can honor and refuses BY NAME what it cannot:
    *
    *  - the [[unmaintainedWriterFeatures]] (row tracking, in-commit
    *    timestamps) refuse every write.
    *  - `delta.appendOnly=true` forbids dataChange=true remove actions
    *    (deletes, DV masks, updates, overwrites, merges that touch
    *    files, restores); dataChange=false maintenance (OPTIMIZE,
    *    CHECKPOINT) and plain appends stay allowed.
    *  - `delta.enableChangeDataFeed=true` obliges a writer committing
    *    a partial-file rewrite to emit `_change_data` files; the DML
    *    triad (DV DELETE, DV UPDATE, MERGE), OVERWRITE, and
    *    RESTORE all DO (schema-CHANGING forms included since r19 —
    *    each emits its feed in its OWN commit's schema, which the
    *    per-commit CDF reader resolves) and pass `emitsChangeData=
    *    true`; the refusal below remains for any writer that truly
    *    emits nothing (appends are exempt — CDF readers synthesize
    *    inserts from dataChange=true adds alone).
    *  - GENERATED columns (schema metadata delta.generationExpression)
    *    are VALIDATED: graft's writers always provide the full schema,
    *    and the protocol's rule for provided values is equality with
    *    the generation expression — enforced null-safe per batch, the
    *    invariant discipline. IDENTITY columns accept explicit values
    *    when delta.identity.allowExplicitInsert=true (GENERATED BY
    *    DEFAULT); the ALWAYS form refuses an EXPLICIT value by name —
    *    a batch that OMITS the column gets it allocated from the high
    *    watermark instead ([[applyIdentity]], the r18 feature).
    *  - legacy column INVARIANTS (schema metadata `delta.invariants`,
    *    writer protocol v2) are ENFORCED on every added batch, same
    *    FALSE-and-NULL rule as CHECK constraints.
    *
    * `removesData` = the operation commits dataChange=true removes or
    * deletion vectors; `batch` = the rows the operation adds, if any. */
  private def enforceWriterObligations(meta: String, op: String,
      removesData: Boolean, batch: Option[DataFrame],
      emitsChangeData: Boolean = false, protocol: String): Unit = {
    refuseUnmaintainedFeatures(meta, protocol, op)
    val conf = configurationOf(meta)
    // Delta parses boolean properties case-insensitively
    // (Boolean.parseBoolean) — "True"/"TRUE" bind the same obligation
    def boolProp(key: String): Boolean =
      conf.get(key).exists(_.equalsIgnoreCase("true"))
    if (removesData && boolProp("delta.appendOnly"))
      throw new IllegalArgumentException(
        s"$op on an APPEND-ONLY table (delta.appendOnly=true) is " +
          "refused — the property forbids dataChange=true remove " +
          "actions; dataChange=false maintenance (OPTIMIZE / " +
          "CHECKPOINT) and appends remain allowed")
    if (removesData && !emitsChangeData &&
        boolProp("delta.enableChangeDataFeed"))
      throw new IllegalArgumentException(
        s"$op on a CHANGE DATA FEED table (delta.enableChangeDataFeed" +
          "=true) is not supported — this writer emits no _change_data " +
          "files, so a CDF consumer would mis-derive the row-level " +
          "changes of a partial-file rewrite; appends and the DML " +
          "triad (DELETE / UPDATE / MERGE, which DO emit change data) " +
          "are fine")
    // the raw-string probe dodges a second schemaString JSON parse on
    // the hot append path when no column-level obligation exists
    val anyColumnObligation =
      meta.contains("delta.generationExpression") ||
        meta.contains("delta.identity.") ||
        meta.contains("delta.invariants")
    batch.filter(_ => anyColumnObligation).foreach { rows =>
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(schemaStringOf(meta))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      // GENERATED columns: graft's writers take the FULL table schema,
      // so the batch always PROVIDES the column — the protocol's rule
      // for explicitly-provided values is that they must EQUAL the
      // generation expression (null-safe), which is enforceable here
      // exactly like an invariant. A mismatching batch refuses naming
      // the column; nothing is ever silently recomputed.
      // column obligations bind only columns the batch CARRIES — a
      // schema-changing overwrite that drops the column drops its
      // metadata with it (the committed schema no longer has it)
      val batchCols = rows.schema.fieldNames.toSet
      schema.fields
        .filter(f => batchCols.contains(f.name) &&
          f.metadata.contains("delta.generationExpression"))
        .sortBy(_.name).foreach { f =>
          val e = f.metadata.getString("delta.generationExpression")
          firstViolation(rows, s"`${f.name}` <=> ($e)",
              s"GENERATED column '${f.name}' rule").foreach(bad =>
            throw new IllegalArgumentException(
              s"requirement failed: GENERATED column '${f.name}' must " +
                s"equal its generation expression ($e); row $bad " +
                s"provides a different value — $op refused"))
        }
      // IDENTITY columns: a table that ALLOWS explicit inserts
      // (delta.identity.allowExplicitInsert=true) takes the batch's
      // own values — Delta's GENERATED BY DEFAULT form; the ALWAYS
      // form (no explicit inserts) still refuses by name, because
      // this writer does not allocate from the high watermark.
      val ident = schema.fields.filter(f =>
          batchCols.contains(f.name) &&
          (f.metadata.contains("delta.identity.start") ||
            f.metadata.contains("delta.identity.allowExplicitInsert")) &&
          !(f.metadata.contains("delta.identity.allowExplicitInsert") &&
            f.metadata.getBoolean("delta.identity.allowExplicitInsert")))
        .map(_.name)
      require(ident.isEmpty,
        s"$op providing explicit value(s) for GENERATED ALWAYS " +
          s"identity column(s) ${ident.mkString(", ")} is refused — " +
          "the ALWAYS form accepts no explicit inserts; OMIT the " +
          "column and the writer allocates from the high watermark, " +
          "or use delta.identity.allowExplicitInsert=true (GENERATED " +
          "BY DEFAULT)")
      val exprRe = """"expression"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      schema.fields.filter(f => batchCols.contains(f.name) &&
          f.metadata.contains("delta.invariants"))
        .sortBy(_.name).foreach { f =>
          val raw = f.metadata.getString("delta.invariants")
          val e = exprRe.findFirstMatchIn(raw)
            .map(m => unescapeJson(m.group(1)))
            .getOrElse(throw new IllegalStateException(
              s"unparseable delta.invariants on '${f.name}': $raw"))
          firstViolation(rows, e, s"column INVARIANT on '${f.name}'")
            .foreach(bad => throw
            new IllegalArgumentException(
              s"requirement failed: column INVARIANT on '${f.name}' " +
                s"($e) violated by row $bad — $op refused (FALSE and " +
                "NULL both violate, the constraint rule)"))
        }
    }
  }

  /** The one violation probe both constraint kinds share: the first
    * row (if any) where `e` evaluates FALSE or NULL — the protocol
    * counts both as violations for CHECK constraints, and graft
    * applies the same rule to legacy invariants. An expression that
    * cannot RESOLVE against the batch (a schema-changing overwrite
    * dropped a column it references) refuses BY NAME instead of dying
    * with a bare AnalysisException mid-write. */
  private def firstViolation(rows: DataFrame, e: String,
      label: String): Option[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    try rows.filter(not(coalesce(expr(e), lit(false)))).limit(1)
      .collect().headOption
    catch {
      case ae: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"requirement failed: $label ($e) cannot be evaluated " +
            s"against this batch — ${ae.getMessage.linesIterator.next()} " +
            "— a write whose schema drops a referenced column must " +
            "drop the constraint/column metadata first")
    }
  }

  // ---- GENERATED … AS IDENTITY (delta.identity.* schema metadata) ----

  /** Whether `f` is an IDENTITY column — any delta.identity.* schema
    * metadata key marks it (Delta writes start/step always, and
    * allowExplicitInsert for the BY DEFAULT form). */
  private def isIdentityField(
      f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains("delta.identity.start") ||
      f.metadata.contains("delta.identity.step") ||
      f.metadata.contains("delta.identity.allowExplicitInsert")

  /** GENERATED BY DEFAULT AS IDENTITY — explicit inserts allowed. */
  private def identityAllowsExplicit(
      f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains("delta.identity.allowExplicitInsert") &&
      f.metadata.getBoolean("delta.identity.allowExplicitInsert")

  private def identityStart(
      f: org.apache.spark.sql.types.StructField): Long =
    if (f.metadata.contains("delta.identity.start"))
      f.metadata.getLong("delta.identity.start") else 1L

  private def identityStep(
      f: org.apache.spark.sql.types.StructField): Long = {
    val s = if (f.metadata.contains("delta.identity.step"))
      f.metadata.getLong("delta.identity.step") else 1L
    require(s != 0L, s"identity column '${f.name}' declares step 0 — " +
      "the allocation grid is degenerate")
    s
  }

  /** First grid value `start + k·step` (k ≥ 0) STRICTLY beyond `hwm`
    * in the step's direction. BigInt floor math: an off-grid watermark
    * (explicit BY DEFAULT inserts) still yields an on-grid next value,
    * and a watermark near Long.MinValue/MaxValue cannot
    * overflow-invert the comparison (the ADVICE r17 negate() lesson
    * applied to allocation). */
  private def identityGridNext(hwm: Long, start: Long, step: Long): Long = {
    val pastStart = if (step > 0) hwm >= start else hwm <= start
    if (!pastStart) start
    else {
      // numerator and step share sign here, so BigInt's
      // truncate-toward-zero IS floor and k ≥ 1
      val k = (BigInt(hwm) - BigInt(start)) / BigInt(step) + 1
      val next = BigInt(start) + k * BigInt(step)
      require(next.isValidLong,
        s"identity allocation overflows Long (watermark $hwm, start " +
          s"$start, step $step)")
      next.toLong
    }
  }

  /** The metaData action with ONLY its schemaString replaced —
    * in-place surgery, so everything else a (possibly foreign) writer
    * logged — name, description, format options, createdTime —
    * survives verbatim. The watermark-advance commits' one
    * mutation. */
  private def metaActionReplacingSchema(meta: String,
      newSchema: org.apache.spark.sql.types.StructType): String = {
    val re = """"schemaString":"((?:[^"\\]|\\.)*)"""".r
    require(re.findFirstIn(meta).isDefined,
      "metaData carries no schemaString")
    re.replaceFirstIn(meta, java.util.regex.Matcher.quoteReplacement(
      s""""schemaString":"${esc(newSchema.json)}""""))
  }

  /** One aggregate row of per-field identity extrema over `rows` —
    * max for ascending steps, min for descending. */
  private def identityExtrema(rows: DataFrame,
      fields: Seq[org.apache.spark.sql.types.StructField])
      : org.apache.spark.sql.Row = {
    import org.apache.spark.sql.functions.{col, max, min}
    val aggs = fields.map(f =>
      if (identityStep(f) > 0) max(col(f.name)).as(f.name)
      else min(col(f.name)).as(f.name))
    rows.agg(aggs.head, aggs.tail: _*).head()
  }

  private def identityHwmOf(
      f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains("delta.identity.highWaterMark"))
      Some(f.metadata.getLong("delta.identity.highWaterMark"))
    else None

  /** Which watermarks `row`'s extrema ADVANCE (strictly beyond the
    * recorded value, in the step's direction) — the one comparison
    * rule allocation and explicit-insert tracking share. `row`
    * column i is field i's extremum. */
  private def advancedWatermarks(
      fields: Seq[org.apache.spark.sql.types.StructField],
      row: org.apache.spark.sql.Row): Map[String, Long] = {
    var advanced = Map.empty[String, Long]
    fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) {
        val observed = row.getLong(i)
        val step = identityStep(f)
        val beyond = identityHwmOf(f).forall(h =>
          if (step > 0) observed > h else observed < h)
        if (beyond) advanced += f.name -> observed
      }
    }
    advanced
  }

  /** `schema` with the advanced watermarks stamped into the identity
    * fields' metadata. */
  private def withWatermarks(
      schema: org.apache.spark.sql.types.StructType,
      advanced: Map[String, Long]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      advanced.get(f.name) match {
        case Some(h) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.identity.highWaterMark", h)
            .build())
        case None => f
      }))

  /** Watermark tracking for writers that land EXPLICIT identity values
    * OUTSIDE the append path (BY DEFAULT overwrites, merge batches, DV
    * updates): the protocol declaration + metaData action the commit
    * must carry when `rows` pushes any identity column's extremum past
    * its recorded watermark — without it, a later omitted-column
    * append would re-allocate values these rows already hold.
    *
    * A column with NO recorded watermark is tracked only when
    * `allowBootstrap` (the writer replaces or creates the whole row
    * set — OVERWRITE, or any writer on a previously-empty table):
    * bootstrapping from a PARTIAL slice (a MERGE batch, DV-UPDATE
    * images) would record an extremum the untouched rows exceed,
    * defeating the no-watermark allocation refusal and re-enabling
    * exactly the collision it prevents. Nil when nothing qualifies or
    * nothing advanced. Cost: one tiny aggregate, and only on identity
    * tables (the raw-string probe). */
  private def trackProvidedIdentity(st: ReplayState,
      schema: org.apache.spark.sql.types.StructType,
      rows: DataFrame, allowBootstrap: Boolean): Seq[String] = {
    import org.apache.spark.sql.types.LongType
    if (!st.meta.contains("delta.identity.")) return Nil
    val rowCols = rows.columns.toSet
    val fields = schema.fields.toSeq.filter(f => isIdentityField(f) &&
      rowCols.contains(f.name) && f.dataType == LongType &&
      (allowBootstrap || identityHwmOf(f).isDefined))
    if (fields.isEmpty) return Nil
    val adv = advancedWatermarks(fields, identityExtrema(rows, fields))
    if (adv.isEmpty) Nil
    else identityColumnsProtocol(st).toSeq :+
      metaActionReplacingSchema(st.meta, withWatermarks(schema, adv))
  }

  /** The protocol action an identity ALLOCATION needs, if any —
    * legacy level 6, what Delta itself stamps on identity tables
    * ([[writerFeatureProtocol]]). */
  private def identityColumnsProtocol(st: ReplayState): Option[String] =
    writerFeatureProtocol(st, "identityColumns", legacyLevel = 6)

  /** Identity handling for an appending batch — the r18 turn of the
    * GENERATED ALWAYS refusal into the feature:
    *
    *  - identity columns the batch OMITS are ALLOCATED: values on the
    *    column's grid (`start + k·step`), strictly past the recorded
    *    `delta.identity.highWaterMark`, assigned distributively — one
    *    narrow per-partition count job, then a mapPartitionsWithIndex
    *    fill; nothing but the O(#partitions) count vector touches the
    *    driver, so the shape survives a 10⁹-row batch
    *  - identity columns a BY DEFAULT batch PROVIDES advance the
    *    watermark past the batch's extremum (one aggregate job over
    *    the provided columns), Delta's tracking rule — a later
    *    allocation can never collide with an explicit insert
    *  - a non-empty table with NO recorded watermark refuses by
    *    name: allocating blind could re-issue values already present
    *    (creation-time rows predate tracking)
    *
    * Returns the batch ready to write (identity columns filled, table
    * column order) and the protocol/metaData actions the commit must
    * carry (watermark advance; identityColumns protocol declaration on
    * first allocation). `(df, Nil)` when the table has no identity
    * columns or nothing advanced. */
  private def applyIdentity(spark: SparkSession, st: ReplayState,
      schema: org.apache.spark.sql.types.StructType, df: DataFrame,
      op: String): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.types.{LongType, StructType}
    val idFields = schema.fields.toSeq.filter(isIdentityField)
    if (idFields.isEmpty) return (df, Nil)
    val batchCols = df.schema.fieldNames.toSet
    val missing = idFields.filterNot(f => batchCols.contains(f.name))
    // watermark tracking binds only PROTOCOL-shaped (bigint) identity
    // columns — a foreign fixture with loose typing keeps its old
    // accept-explicit behavior, untracked. An UNTRACKED column on a
    // non-empty table is skipped too (the trackProvidedIdentity
    // bootstrap rule): an append batch is a partial slice, and
    // recording ITS extremum as the watermark would let a later
    // allocation collide with the untracked standing rows.
    val providedByDefault = idFields.filter(f =>
      batchCols.contains(f.name) && identityAllowsExplicit(f) &&
        f.dataType == LongType &&
        (identityHwmOf(f).isDefined || st.live.isEmpty))
    // ALWAYS + provided falls through untouched — the writer
    // obligations refuse it by name downstream, exactly as before
    if (missing.isEmpty && providedByDefault.isEmpty) return (df, Nil)
    missing.foreach(f =>
      require(f.dataType == LongType,
        s"identity column '${f.name}' is ${f.dataType.simpleString} — " +
          "the protocol defines identity over bigint only, so this " +
          "writer cannot allocate its values; provide them explicitly"))
    val pcolsSet = partitionColumnsOf(st.meta).toSet
    val badPart = missing.map(_.name).filter(pcolsSet)
    require(badPart.isEmpty,
      s"identity column(s) ${badPart.mkString(", ")} are PARTITION " +
        "columns — allocating a fresh value per row would explode the " +
        s"partition layout; provide them explicitly or re-layout — $op " +
        "refused")
    var advanced = Map.empty[String, Long]
    // ---- allocation for omitted columns ----
    val filled: DataFrame =
      if (missing.isEmpty) df
      else {
        missing.foreach(f =>
          require(identityHwmOf(f).isDefined || st.live.isEmpty,
          s"table has data but identity column '${f.name}' records no " +
            "high watermark — its rows predate tracking, so a blind " +
            "allocation could collide; provide the column's values " +
            "explicitly (recording a watermark from the data is Delta's " +
            s"ALTER TABLE … SYNC IDENTITY, not implemented here) — $op " +
            "refused"))
        // the user batch must be the table schema MINUS the omitted
        // identity columns, in table order — same gate the plain
        // append runs, stated against the right shape
        val expected = StructType(
          schema.fields.filterNot(f => missing.exists(_.name == f.name)))
        require(schemaFits(df.schema, expected),
          s"append schema ${df.schema.catalogString} does not match " +
            s"the table's logged schema minus its generated identity " +
            s"column(s) ${expected.catalogString} — $op refused")
        // PIN the SOURCE first (lazy localCheckpoint, materialized by
        // the count job): the offsets computed below are only valid
        // against the exact partition row distribution they counted,
        // and a plan whose distribution can change between evaluations
        // (limit without ordering, an external source mutated
        // mid-write) would otherwise pair rows with stale offsets —
        // duplicate or skipped identity values (ADVICE r18). Both the
        // count and the fill below read this one materialization, and
        // every downstream re-evaluation (constraint probe, obligation
        // probe, parquet write) replays a deterministic narrow map
        // over the same pinned partitions — no second pin needed.
        val rdd = df.localCheckpoint(eager = false).rdd
        val counts = rdd.mapPartitionsWithIndex((i, it) =>
            Iterator((i, it.size.toLong)))
          .collect().sortBy(_._1).map(_._2)
        val offsets = counts.scanLeft(0L)(_ + _)
        val total = offsets.last
        val allocs = missing.map { f =>
          val start = identityStart(f)
          val step = identityStep(f)
          val next = identityHwmOf(f).map(identityGridNext(_, start, step))
            .getOrElse(start)
          if (total > 0) {
            val last = BigInt(next) + BigInt(total - 1) * BigInt(step)
            require(last.isValidLong,
              s"allocating $total identity value(s) for '${f.name}' " +
                s"from $next by $step overflows Long")
            advanced += f.name -> last.toLong
          }
          (schema.fieldNames.indexOf(f.name), next, step)
        }.sortBy(_._1)
        val filledRdd = rdd.mapPartitionsWithIndex { (pi, it) =>
          val base = offsets(pi)
          var k = 0L
          it.map { row =>
            val vals = scala.collection.mutable.ArrayBuffer(row.toSeq: _*)
            // ascending final positions: earlier inserts complete the
            // prefix below each later position
            allocs.foreach { case (pos, next, step) =>
              vals.insert(pos, next + (base + k) * step)
            }
            k += 1L
            org.apache.spark.sql.Row.fromSeq(vals.toSeq)
          }
        }
        // the fill is a deterministic narrow map over the pinned
        // source partitions, so the validated pairing IS the written
        // pairing without a second full materialization
        spark.createDataFrame(filledRdd, schema)
      }
    // ---- watermark tracking for provided BY DEFAULT columns ----
    if (providedByDefault.nonEmpty)
      advanced ++= advancedWatermarks(providedByDefault,
        identityExtrema(df, providedByDefault))
    if (advanced.isEmpty) (filled, Nil)
    else (filled, identityColumnsProtocol(st).toSeq :+
      metaActionReplacingSchema(st.meta, withWatermarks(schema, advanced)))
  }

  /** The protocol action an ADD CONSTRAINT needs, if any — legacy
    * level 3, checkConstraints' level ([[writerFeatureProtocol]]). */
  private def checkConstraintProtocol(st: ReplayState): Option[String] =
    writerFeatureProtocol(st, "checkConstraints", legacyLevel = 3)

  /** ALTER TABLE ADD CONSTRAINT — the row-level data contract beside
    * the schema gate: a named SQL predicate every CURRENT row must
    * already satisfy (the whole table is scanned once, Delta's own
    * ADD CONSTRAINT rule — a constraint the standing data violates is
    * refused naming a violating row) and every future append / merge /
    * update batch is validated against before its commit lands.
    * Stored as the protocol's `delta.constraints.<name>` configuration
    * entry; the commit upgrades the writer protocol when needed.
    * Returns the new version. */
  def addCheckConstraintDeltaTable(spark: SparkSession, dir: String,
      name: String, constraintExpr: String): Long = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'),
      s"constraint name must be alphanumeric/underscore: '$name'")
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None, keepStats = false)
    refuseUnmaintainedFeatures(snap.meta, snap.protocol, "ADD CONSTRAINT")
    // constraints are pure configuration surgery expressed over
    // LOGICAL names — mapped tables take them natively (the standing
    // scan and every writer's enforcement both run on logical frames)
    val existing = checkConstraintsOf(snap.meta)
    require(!existing.contains(name),
      s"constraint '$name' already exists: ${existing(name)}")
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val current = readDeltaTable(spark, dir)
    val bad = current.filter(not(coalesce(expr(constraintExpr), lit(false))))
      .limit(1).collect()
    require(bad.isEmpty,
      s"cannot add CHECK constraint '$name' ($constraintExpr) — the " +
        s"standing table violates it, e.g. ${bad.headOption.getOrElse("")}")
    val conf = configurationOf(snap.meta) +
      (s"delta.constraints.$name" -> constraintExpr)
    writeCommit(dir, v,
      checkConstraintProtocol(snap).toSeq :+
        withConfiguration(snap.meta, conf),
      "ADD CONSTRAINT")
    v
  }

  /** `meta` with its configuration object REPLACED by `conf` — the
    * constraint commits' metaData rewrite, preserving id, schema and
    * partitioning byte for byte. */
  private def withConfiguration(meta: String,
      conf: Map[String, String]): String = {
    val key = """"configuration":{"""
    val at = meta.indexOf(key)
    require(at >= 0, s"metaData carries no configuration object: $meta")
    // find the end of the existing (flat, string-valued) object with
    // the same anchored walk configurationOf uses
    var pos = at + key.length
    var done = pos < meta.length && meta.charAt(pos) == '}'
    while (!done) {
      confEntryRe.findPrefixMatchOf(meta.substring(pos)) match {
        case Some(m) =>
          pos += m.end
          if (pos < meta.length && meta.charAt(pos) == ',') pos += 1
          else done = true
        case None => done = true
      }
    }
    require(pos < meta.length && meta.charAt(pos) == '}',
      s"malformed configuration object in: $meta")
    meta.substring(0, at + key.length) + renderConfiguration(conf) +
      meta.substring(pos)
  }

  /** Row-level DELETE via DELETION VECTORS — the O(matched rows)
    * delete: no data file moves; each touched file's add is re-issued
    * with a DV marking the deleted positions (merged with any DV it
    * already carries, so deletes COMPOUND), small vectors inline
    * (Z85), larger ones in framed `deletion_vector_<uuid>.bin` files.
    * The commit leads with the protocol upgrade to reader 3 / writer 7
    * + deletionVectors (idempotent when already upgraded — and a
    * foreign protocol with OTHER features would have been refused at
    * replay before reaching here). Old stats are carried verbatim:
    * min/max stay valid bounds over a subset and numRecords keeps the
    * protocol's physical-row meaning. Time travel to pre-delete
    * versions sees every row; vacuum never reclaims the file (it is
    * still live); CDC classifies a DV-only change as row-level
    * deletes.
    *
    * The matched (file, position) pairs COLLECT to the driver — the
    * irreducible cost of any DV writer (per-file bitmaps must be
    * materialized to serialize into the commit), bounded by the
    * DELETE's own row count. A delete too big to hold as positions is
    * a rewrite, not a vector — [[mergeDeltaTable]] with a delete flag
    * rewrites the touched files instead. Returns the new version. */
  def deleteFromDeltaTableDv(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None)
    // mapped tables DV-delete natively: the scan resolves physical
    // columns, and the re-issued adds carry partitionValues/stats
    // VERBATIM from the snapshot (already physical-keyed) — no
    // display-named byte is written
    val cdf = cdfEnabled(snap.meta)
    enforceWriterObligations(snap.meta, "DELETE (deletion vectors)",
      removesData = true, None, emitsChangeData = cdf,
      protocol = snap.protocol)
    val live = snap.live.toSeq
    require(live.nonEmpty, "no live files to delete from")
    val target = scanFiles(spark, dir, snap.meta, live, None,
      snap.pvals.toMap, tags = Seq("__file", "__pos"))
    requireDeterministicPredicate(target.filter(predicate), "DELETE")
    val matched = target.filter(predicate)
      .select(col("__file"), col("__pos"))
      .collect()
    require(matched.nonEmpty,
      "DELETE matched no rows — refusing a no-op commit")
    // resolve each DISTINCT uri once (the updateDeltaTableDv pattern)
    // — resolving inside the groupBy key function would rescan the
    // live list per matched ROW, an O(matched x files) driver stall
    val uriToRelD = matched.map(_.getString(0)).distinct.map { u =>
      val p = uriToPath(u)
      u -> live.find(f => uriMatchesLogged(dir, p, f)).getOrElse(
        throw new IllegalStateException(
          s"matched file $p is not in the live set"))
    }.toMap
    val byRel = matched.groupBy(r => uriToRelD(r.getString(0)))
      .map { case (rel, rows) => rel -> rows.map(_.getLong(1)).toSeq }
    // positions an EXISTING vector already masks are invisible rows —
    // a "delete" of only those is the no-op commit this function's
    // contract refuses (the updateDeltaTableDv freshMatches twin), and
    // a file with nothing fresh must not get a byte-identical DV
    // re-issued
    val priorByRel: Map[String, Set[Long]] = byRel.keySet
      .flatMap(rel => snap.dvs.get(rel)
        .map(d => rel -> DeletionVectors.positions(dir, d).toSet))
      .toMap
    val freshByRel = byRel.flatMap { case (rel, pos) =>
      val prior = priorByRel.getOrElse(rel, Set.empty)
      val freshPos = pos.filterNot(prior)
      if (freshPos.isEmpty) None else Some(rel -> freshPos)
    }
    require(freshByRel.nonEmpty,
      "DELETE matched only rows a deletion vector already deleted — " +
        "refusing a no-op commit")
    // CDF: the freshly-masked rows (never already-masked ones — they
    // were deleted in an earlier commit's feed) are this commit's
    // change set
    val cdcActions =
      if (!cdf) Seq.empty[String]
      else {
        import spark.implicits._
        val schemaCols = org.apache.spark.sql.types.DataType
          .fromJson(schemaStringOf(snap.meta))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.toSeq
        val freshKeys = matched
          .filter { r =>
            !priorByRel.getOrElse(uriToRelD(r.getString(0)), Set.empty)
              .contains(r.getLong(1))
          }
          .map(r => (r.getString(0), r.getLong(1))).toSeq
          .toDF("__file", "__pos")
        writeCdcFiles(spark, dir, snap.meta,
          target.join(freshKeys, Seq("__file", "__pos"), "left_semi")
            .select(schemaCols.map(col): _*)
            .withColumn("_change_type", lit("delete")))
      }
    val now = System.currentTimeMillis()
    val actions = freshByRel.toSeq.sortBy(_._1).flatMap { case (rel, pos) =>
      val prior = priorByRel.getOrElse(rel, Set.empty).toSeq
      dvRewriteActions(dir, snap, rel, (prior ++ pos).distinct.sorted, now)
    }
    writeCommit(dir, v,
      dvUpgradedProtocol(snap).toSeq ++ actions ++ cdcActions, "DELETE")
    v
  }

  /** Row-level UPDATE via DELETION VECTORS — the third member of the
    * DML triad (COW MERGE / DV DELETE / DV UPDATE): matched rows'
    * OLD copies are masked by a deletion vector in place (no rewrite
    * of the standing file) and their NEW images land in a fresh
    * appended file, all in ONE commit — O(matched rows) data movement
    * where a copy-on-write update pays O(touched files).
    *
    * Set expressions may reference the row's own columns
    * (`bal -> col("bal") + 100`). Partition columns cannot be updated
    * here — the row would change partitions, which is MERGE's job
    * (its rewrite routes rows by their new values). Rows an EXISTING
    * DV already deleted are invisible and must not resurrect as
    * updates: matched positions are checked against the standing
    * vectors and already-deleted copies are excluded from both the
    * new DV (harmlessly re-masking) and — the part that matters —
    * the appended images. Same driver-side position collect as
    * [[deleteFromDeltaTableDv]], same bound, same rationale. Returns
    * the new version. */
  def updateDeltaTableDv(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions._
    require(set.nonEmpty, "no SET expressions — nothing to update")
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None)
    // property refusals (append-only, CDF) need no batch — fire BEFORE
    // the live-table scan and driver-side position collect, like the
    // DELETE twins; the batch-level obligations run later on `updated`
    val cdf = cdfEnabled(snap.meta)
    enforceWriterObligations(snap.meta, "UPDATE (deletion vectors)",
      removesData = true, None, emitsChangeData = cdf,
      protocol = snap.protocol)
    val pcols = partitionColumnsOf(snap.meta)
    val updSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(snap.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val cmCtx = mappingCtx(spark, snap.meta, updSchema)
    val cols = updSchema.fieldNames.toSeq
    val badSet = set.keys.filterNot(cols.contains)
    require(badSet.isEmpty,
      s"SET column(s) ${badSet.mkString(", ")} are not table columns")
    val badPart = set.keys.filter(pcols.contains)
    require(badPart.isEmpty,
      s"SET column(s) ${badPart.mkString(", ")} are partition columns — " +
        "an update that moves rows between partitions is a MERGE")
    val live = snap.live.toSeq
    require(live.nonEmpty, "no live files to update")
    val target = scanFiles(spark, dir, snap.meta, live, None,
      snap.pvals.toMap, tags = Seq("__file", "__pos"))
      .localCheckpoint(eager = false)
    requireDeterministicPredicate(target.filter(predicate), "UPDATE")
    val matchedPos = target.filter(predicate)
      .select(col("__file"), col("__pos"))
      .collect()
    require(matchedPos.nonEmpty,
      "UPDATE matched no rows — refusing a no-op commit")
    val uriToRel = matchedPos.map(_.getString(0)).distinct.map { u =>
      val p = uriToPath(u)
      u -> live.find(f => uriMatchesLogged(dir, p, f)).getOrElse(
        throw new IllegalStateException(
          s"matched file $p is not in the live set"))
    }.toMap
    val priorByRel: Map[String, Set[Long]] = uriToRel.values.toSeq.distinct
      .flatMap(rel => snap.dvs.get(rel)
        .map(d => rel -> DeletionVectors.positions(dir, d).toSet))
      .toMap
    // matched copies an existing DV already deleted are INVISIBLE —
    // drop them from the update entirely
    val freshMatches = matchedPos.filter { r =>
      !priorByRel.getOrElse(uriToRel(r.getString(0)), Set.empty)
        .contains(r.getLong(1))
    }
    require(freshMatches.nonEmpty,
      "UPDATE matched only rows a deletion vector already deleted — " +
        "refusing a no-op commit")
    import spark.implicits._
    val freshKeys = freshMatches
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("__file", "__pos")
    // ONE projection so every SET expression sees the OLD row (SQL
    // UPDATE semantics — a sequential withColumn fold would let
    // Map("a" -> col("b"), "b" -> col("a")) half-apply the swap, in
    // whatever order the Map iterates)
    val updated = pinNonDeterministic(target
      .join(freshKeys, Seq("__file", "__pos"), "left_semi")
      .select(cols.map(c => set.getOrElse(c, col(c)).as(c)): _*))
    enforceCheckConstraints(snap.meta, updated, "UPDATE")
    // batch-level obligations only — the removesData leg already fired
    enforceWriterObligations(snap.meta, "UPDATE (deletion vectors)",
      removesData = false, Some(updated), protocol = snap.protocol)
    val before = dataFilesRelative(dir).toSet
    val physUpd = toPhysicalFrame(updated, updSchema.fields.toSeq, cmCtx.mode)
    if (pcols.isEmpty) physUpd.write.mode("append").parquet(dir)
    else physUpd.write.partitionBy(pcols.map(cmCtx.phys): _*)
      .mode("append").parquet(dir)
    val fresh = dataFilesRelative(dir).filterNot(before)
    require(fresh.nonEmpty, "update produced no data files")
    // CDF: the OLD images of the freshly-matched rows pair with their
    // NEW images — exactly the update_preimage/update_postimage feed
    val cdcActions =
      if (!cdf) Seq.empty[String]
      else writeCdcFiles(spark, dir, snap.meta,
        target.join(freshKeys, Seq("__file", "__pos"), "left_semi")
          .select(cols.map(col): _*)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(updated
            .withColumn("_change_type", lit("update_postimage"))))
    val now = System.currentTimeMillis()
    val byRel = freshMatches
      .groupBy(r => uriToRel(r.getString(0)))
      .map { case (rel, rows) => rel -> rows.map(_.getLong(1)).toSeq }
    val dvActions = byRel.toSeq.sortBy(_._1).flatMap { case (rel, pos) =>
      dvRewriteActions(dir, snap, rel,
        (priorByRel.getOrElse(rel, Set.empty).toSeq ++ pos).distinct.sorted,
        now)
    }
    // a SET that writes explicit identity values advances the
    // watermark (tracked over the post-images — a partial slice, so
    // never a bootstrap)
    val idActions = trackProvidedIdentity(snap, updSchema, updated,
      allowBootstrap = false)
    writeCommit(dir, v,
      dvUpgradedProtocol(snap).toSeq ++ idActions ++
        (dvActions ++ addActionsRelative(spark, dir, fresh, now)) ++
        cdcActions,
      "UPDATE")
    v
  }

  // key-order-tolerant field extractors: other writers may serialize the
  // same action with keys in any order, so never anchor one key to the next
  private val pathRe = """"path":"((?:[^"\\]|\\.)+)"""".r
  private val sizeRe = """"size":(\d+)""".r

  private def pathOf(line: String, what: String): String =
    unescapeJson(pathRe.findFirstMatchIn(line)
      .getOrElse(throw new IllegalStateException(s"malformed $what: $line"))
      .group(1))

  /** Parse a [[writeDeltaTable]] log back into its action lines,
    * grouped — the structural-fidelity check surface. Returns
    * (protocolLines, metaDataLines, addPathsWithSizes). */
  def readDeltaLog(dir: String): (Seq[String], Seq[String], Seq[(String, Long)]) = {
    val log = Paths.get(dir, "_delta_log", "00000000000000000000.json")
    val lines = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    val protocol = lines.filter(_.startsWith("""{"protocol""""))
    val meta = lines.filter(_.startsWith("""{"metaData""""))
    val adds = lines.collect {
      case l if l.startsWith("""{"add"""") =>
        (pathOf(l, "add"),
          sizeRe.findFirstMatchIn(l)
            .getOrElse(throw new IllegalStateException(s"malformed add: $l"))
            .group(1).toLong)
    }
    (protocol, meta, adds)
  }

  /** OPTIMIZE as a Delta commit — bin-packing compaction, optionally
    * ZORDER BY: rewrite the latest snapshot's live files into
    * `targetFiles` larger ones and log ONE commit that removes the old
    * adds and adds the compacted files, all with `dataChange=false` —
    * the protocol's marker that the commit reshapes storage without
    * changing table content (streaming consumers skip it). Old data
    * files stay on disk, so time travel to pre-OPTIMIZE versions keeps
    * working until a vacuum reclaims them.
    *
    * DV-AWARE, like real Delta's OPTIMIZE: files carrying deletion
    * vectors compact WITHOUT their masked rows (logical content is
    * unchanged, so dataChange=false still holds) and the re-adds carry
    * no vectors — compaction doubles as the DV purge, after which the
    * orphaned vector files are vacuum-reclaimable.
    *
    * With `zorderBy` non-empty the rewrite range-partitions on the
    * Morton key ([[Zorder.withKey]]) and sorts within partitions, so
    * each compacted file owns a hyper-rectangle of the clustered
    * column space — the fresh per-file `stats` tighten on EVERY
    * clustered column at once and [[readDeltaTablePruned]] skips more
    * files from the log alone. That composition (layout in the data,
    * min/max in the LOG) is exactly Delta's OPTIMIZE ZORDER BY; the
    * plain form is its bin-packing OPTIMIZE. The scan reads the
    * snapshot's explicit file list (never a directory listing), so
    * writing the compacted files beside them is not a self-overwrite.
    * Returns the new version. */
  def optimizeDeltaTable(spark: SparkSession, dir: String,
      targetFiles: Int = 1, zorderBy: Seq[String] = Nil,
      curve: String = "morton"): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val v = latestVersion(dir) + 1
    val snap = snapshotState(spark, dir, None, keepStats = false)
    refuseUnmaintainedFeatures(snap.meta, snap.protocol, "OPTIMIZE")
    require(partitionColumnsOf(snap.meta).isEmpty,
      "table is partitioned — OPTIMIZE compacts unpartitioned tables " +
        "only; a flat compaction would destroy the partition layout")
    val live = snap.live.toSeq
    require(live.nonEmpty, "nothing to optimize — no live files")
    val optSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(snap.meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val cmCtx = mappingCtx(spark, snap.meta, optSchema)
    // DV-aware (real Delta's OPTIMIZE): the compaction scan APPLIES
    // each file's deletion vector, so the rewrite materializes the
    // deletes and the re-adds carry no vectors — compaction doubles as
    // the DV purge, and the orphaned .bin files become vacuumable
    val df = scanFiles(spark, dir, snap.meta, live, None,
      snap.pvals.toMap, snap.dvs.toMap)
    // curve picks the multi-column layout: "morton" is Delta's
    // OPTIMIZE ZORDER BY; "hilbert" is the liquid-clustering walk
    // (unit steps — tighter per-file hyper-rectangles, measured by
    // Zorder.skipProbe / hilbert_skip_ratio)
    val shaped =
      if (zorderBy.isEmpty) df.repartition(targetFiles)
      else Zorder.curveShaped(df, zorderBy, bits = 8, targetFiles, curve)
    val before = dataFiles(dir).map(_.getFileName.toString).toSet
    toPhysicalFrame(shaped, optSchema.fields.toSeq, cmCtx.mode)
      .write.mode("append").parquet(dir)
    val fresh = dataFiles(dir).filterNot(p => before(p.getFileName.toString))
    require(fresh.nonEmpty, "optimize produced no data files")
    val now = System.currentTimeMillis()
    val removes = live.sorted.map(p =>
      s"""{"remove":{"path":"${esc(p)}","deletionTimestamp":$now,"dataChange":false}}""")
    writeCommit(dir, v,
      removes ++ addActions(spark, fresh, now, dataChange = false),
      "OPTIMIZE")
    v
  }

  /** Vacuum with retention 0: physically delete the data files that
    * are no longer live at the LATEST version (the superseded
    * history), keeping the log intact — exactly Delta's trade: the
    * latest snapshot is untouched, but time travel to a version whose
    * snapshot needs a deleted file now fails loudly at read time
    * ([[readDeltaTable]]'s existence check names the missing files).
    * Returns the deleted file names. Driver-side METADATA only — the
    * same O(files) listing every Delta vacuum performs. */
  def vacuumDeltaTable(spark: SparkSession, dir: String): Seq[String] =
    vacuumDeltaTableImpl(spark, dir, retentionMs = 0L)

  /** TIMED vacuum — Delta's production retention semantics: a
    * superseded file is reclaimed only once it has been DEAD longer
    * than `retentionHours`, so time travel and concurrent readers
    * within the window keep working while older history is paid down.
    * The dead-since clock is the file's remove-action
    * `deletionTimestamp` from the surviving JSON commits (exactly what
    * Delta's vacuum reads); a file with no surviving tombstone (its
    * remove expired with the log, or it was never committed at all —
    * a crashed write's orphan) falls back to its filesystem mtime,
    * Delta's own rule for untracked files. Deletion-vector `.bin`
    * files take the same clock: a bin unreferenced by the latest
    * snapshot is reclaimed only when the commit that UN-referenced it
    * (a superseding rewrite or a materializing compaction) is older
    * than the window — tracked by replaying the surviving log
    * and recording when each bin dropped out of the referenced set
    * (a later RESTORE that re-references it clears the tombstone).
    *
    * `retentionHours < 168` is refused unless `force` — Delta's
    * retention-duration check: a short window silently breaks any
    * reader or time travel older than it, so shrinking the window is
    * an explicit, named decision. Retention 0 (with force) reclaims
    * all dead files, the [[vacuumDeltaTable]] overload's behavior. */
  def vacuumDeltaTable(spark: SparkSession, dir: String,
      retentionHours: Double, force: Boolean): Seq[String] = {
    require(retentionHours >= 0, s"negative retention: $retentionHours")
    require(retentionHours >= 168.0 || force,
      f"retentionHours $retentionHours%.1f is below Delta's 168 h " +
        "default window — readers and time travel inside the window " +
        "would break silently; pass force=true to accept that")
    vacuumDeltaTableImpl(spark, dir,
      math.round(retentionHours * 3600d * 1000d))
  }

  private def vacuumDeltaTableImpl(spark: SparkSession, dir: String,
      retentionMs: Long): Seq[String] = {
    // tombstone clocks, cdc reachability and the latest snapshot come
    // from ONE incremental replay of the surviving log (retention 0
    // skips the clock bookkeeping entirely — every dead file reclaims
    // unconditionally, the pre-existing behavior)
    val scan = removeTombstones(spark, dir)
    val (tombstones, dvDeadSince, st) = (scan.tomb, scan.dvDead, scan.st)
    val live = st.live.toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    def mtimeOk(rel: String): Boolean =
      try Files.getLastModifiedTime(Paths.get(dir, rel)).toMillis <= cutoff
      catch { case _: java.io.IOException => false }
    // recursive relative listing so partitioned layouts vacuum their
    // Hive subdirectories too; live paths are table-relative either way
    val stale = dataFilesRelative(dir).filterNot(live).filter(rel =>
      retentionMs == 0L || tombstones.get(rel).map(_ <= cutoff)
        .getOrElse(mtimeOk(rel)))
    stale.foreach(rel => Files.delete(Paths.get(dir, rel)))
    // deletion-vector files take the same trade: a `.bin` the LATEST
    // snapshot's vectors do not reference (superseded by a newer
    // vector, or orphaned by a rewrite that materialized the deletes)
    // is reclaimed once dead past the window; time travel to a version
    // needing it then fails loudly at the DV read, like a vacuumed
    // data file
    val referenced = st.dvs.values
      .flatMap(DeletionVectors.referencedRelPath).toSet
    // a bin with no tracked death takes the unknown-death clock when
    // the replay was checkpoint-seeded: its death certainly precedes
    // the checkpoint write, so max(own mtime, checkpoint mtime) past
    // the cutoff is safe — and keeps a FRESH orphan alive
    def dvClockOk(rel: String): Boolean = scan.dvUnknownClock match {
      case Some(cp) =>
        val own = try Files.getLastModifiedTime(Paths.get(dir, rel))
          .toMillis catch { case _: java.io.IOException => Long.MaxValue }
        math.max(own, cp) <= cutoff
      case None => mtimeOk(rel)
    }
    val staleDvs = dvFilesRelative(dir).filterNot(referenced).filter(rel =>
      retentionMs == 0L || dvDeadSince.get(rel).map(_ <= cutoff)
        .getOrElse(dvClockOk(rel)))
    staleDvs.foreach(rel => Files.delete(Paths.get(dir, rel)))
    // CDF change files: reclaimable once NO surviving commit's cdc
    // action references them (the actions expired with the log, or a
    // failed write orphaned the file) and the clock passed. The mtime
    // IS the clock — a change file is written exactly once, at its
    // commit's time, and is never re-referenced later.
    val cdcRef = scan.cdcRefs
    val staleCdc = cdcFilesRelative(dir).toSeq.sorted
      .filterNot(cdcRef)
      .filter(rel => retentionMs == 0L || mtimeOk(rel))
    staleCdc.foreach(rel => Files.delete(Paths.get(dir, rel)))
    // crash leftovers from atomic-commit staging (.tmp_commit_* files a
    // dying JVM never linked or unlinked): logVersions ignores them, so
    // the only cost is litter — vacuum is the reclaim entry point. Only
    // files past a GRACE WINDOW are reclaimed: a vacuum racing a LIVE
    // writer mid-writeCommit would otherwise unlink its staging file
    // and fail that commit with NoSuchFileException instead of a clean
    // conflict (the exact race the put-if-absent commit exists for).
    val tmpGraceMs = 10 * 60 * 1000L
    val tmpCutoff = System.currentTimeMillis() - tmpGraceMs
    val logDir = Paths.get(dir, "_delta_log")
    val tmpList = Files.list(logDir)
    val staleTmps =
      try {
        import scala.jdk.CollectionConverters._
        tmpList.iterator().asScala
          .filter(_.getFileName.toString.startsWith(".tmp_commit_"))
          .filter(p =>
            try Files.getLastModifiedTime(p).toMillis < tmpCutoff
            catch { case _: java.io.IOException => false })
          .toSeq
      } finally tmpList.close()
    staleTmps.foreach(Files.deleteIfExists(_))
    stale ++ staleDvs ++ staleCdc ++
      staleTmps.map(p => s"_delta_log/${p.getFileName.toString}")
  }

  /** Tombstone clocks for the TIMED vacuum, from one incremental
    * replay of the surviving log: (data-file dead-since, DV-bin
    * dead-since), both table-relative path -> epoch millis.
    *
    * Data files: each remove action's own `deletionTimestamp` (Delta's
    * vacuum clock); a later re-add (RESTORE) clears the tombstone —
    * the file is live again, not dying. DV bins carry no remove of
    * their own, so their clock is the commit that UN-referenced them:
    * replay commit by commit, record the commit timestamp when a bin
    * drops out of the referenced set, clear it when a restore brings
    * the bin back. Entries expired with the log are simply absent —
    * the caller falls back to file mtime, Delta's untracked-file
    * rule. */
  /** One pass over the surviving log for the timed vacuum: remove
    * tombstones, DV dead-since clocks, the cdc reachability set, the
    * unknown-death fallback clock for checkpoint-seeded replays, and
    * the final snapshot. */
  private final case class TombstoneScan(
      tomb: Map[String, Long], dvDead: Map[String, Long],
      cdcRefs: Set[String], dvUnknownClock: Option[Long],
      st: ReplayState)

  private def removeTombstones(spark: SparkSession,
      dir: String): TombstoneScan = {
    val versions = logVersions(dir)
    val dtRe = """"deletionTimestamp":(\d+)""".r
    val tomb = scala.collection.mutable.Map.empty[String, Long]
    val dvDead = scala.collection.mutable.Map.empty[String, Long]
    val cdcRefs = scala.collection.mutable.Set.empty[String]
    // tombstone clocks come from EVERY surviving JSON commit — a
    // checkpoint carries no remove tombstones, and JSON at or before
    // the checkpoint routinely SURVIVES (expiry is a separate op), so
    // skipping it would drop the deletionTimestamp of every
    // pre-checkpoint remove and let the mtime fallback (file CREATION
    // time) reclaim within-window files. cdc references ride the same
    // scan (ONE pass over the log, as documented).
    def scanTombstones(v: Long): Unit = {
      val ts = commitTimestamp(dir, v)
      val lines = new String(
        Files.readAllBytes(Paths.get(dir, "_delta_log", commitFile(v))),
        StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
      lines.foreach { l =>
        if (l.startsWith("""{"remove"""")) {
          val p = pathOf(l, "remove")
          val t = dtRe.findFirstMatchIn(l).map(_.group(1).toLong)
            .getOrElse(ts)
          tomb(p) = math.max(tomb.getOrElse(p, Long.MinValue), t)
        } else if (l.startsWith("""{"add""""))
          tomb -= pathOf(l, "add")
        else if (l.startsWith("""{"cdc""""))
          cdcRefs += pathOf(l, "cdc")
      }
    }
    // DV transitions need ordered REPLAY: when the full JSON history
    // survives, replay it from scratch (exact clocks everywhere); once
    // early history has expired, seed from the checkpoint — surviving
    // JSON at or before it still contributes tombstones above, and a
    // bin whose death predates the seed takes the UNKNOWN-DEATH clock:
    // its death certainly happened before the checkpoint was WRITTEN,
    // so the checkpoint file's mtime is a safe upper bound (paired
    // with the bin's own mtime for fresh orphans — max of the two
    // never reclaims a within-window death)
    val (st, dvTail, unknownClock) = lastCheckpoint(dir) match {
      case Some(p) if !versions.headOption.contains(0L) =>
        // a GAP in the tail means the replayed live set is partial —
        // the same data-loss hazard the no-checkpoint branch refuses
        // (snapshotState's rule, applied to the vacuum's own replay)
        val latest = (p.version +: versions).max
        val gap = ((p.version + 1) to latest).filterNot(versions.contains)
        require(gap.isEmpty,
          s"commits after checkpoint v${p.version} are missing: " +
            gap.mkString(","))
        versions.filter(_ <= p.version).foreach(scanTombstones)
        val cpClock = checkpointPaths(dir, p.version, p.parts)
          .headOption.filter(Files.isRegularFile(_))
          .map(f => Files.getLastModifiedTime(f).toMillis)
        (loadCheckpoint(spark, dir, p, keepStats = false),
          versions.filter(_ > p.version), cpClock)
      case _ =>
        // no checkpoint seed: the replay below starts from EMPTY state,
        // which is only the true snapshot when the FULL history
        // survives — a partial log would yield a partial live set and
        // let vacuum destroy still-live files as "orphans"
        require(versions.headOption.contains(0L),
          s"log does not start at 0: $versions")
        val s0 = new ReplayState
        s0.keepStats = false
        (s0, versions, None)
    }
    var prevRef = st.dvs.values
      .flatMap(DeletionVectors.referencedRelPath).toSet
    dvTail.foreach { v =>
      val ts = commitTimestamp(dir, v)
      scanTombstones(v)
      applyCommit(dir, v, st)
      val ref = st.dvs.values
        .flatMap(DeletionVectors.referencedRelPath).toSet
      (prevRef -- ref).foreach(b => dvDead(b) = ts)
      (ref -- prevRef).foreach(dvDead -= _)
      prevRef = ref
    }
    require(st.meta != null, "no metaData action in the replayed log")
    TombstoneScan(tomb.toMap, dvDead.toMap, cdcRefs.toSet, unknownClock, st)
  }

  /** All `deletion_vector_*.bin` files under `dir` as table-relative
    * paths — [[vacuumDeltaTable]]'s DV listing surface. */
  private def dvFilesRelative(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.flatMap { p =>
        val name = p.getFileName.toString
        val rel = root.relativize(p).toString
        if (name.startsWith("deletion_vector_") && name.endsWith(".bin") &&
            Files.isRegularFile(p) && !rel.startsWith("_delta_log"))
          Some(rel)
        else None
      }.toSeq.sorted
    } finally walk.close()
  }

  /** Replay the commit log through `versionAsOf` (latest when None)
    * and return (last metaData line seen, live file paths): `add`
    * inserts a path into the live set, `remove` deletes it, later
    * metaData supersedes earlier — the snapshot-reconstruction rule of
    * the Delta protocol. Every protocol action encountered must be one
    * this reader supports (minReaderVersion 1). */
  def liveFilesAt(dir: String, versionAsOf: Option[Long]): (String, Seq[String]) = {
    val st = replayedState(dir, versionAsOf, keepStats = false)
    (st.meta, st.live.toSeq)
  }

  private def replayedState(dir: String,
      versionAsOf: Option[Long], keepStats: Boolean = true): ReplayState = {
    val versions = logVersions(dir)
    require(versions.headOption.contains(0L), s"log does not start at 0: $versions")
    val cut = versionAsOf.getOrElse(versions.max)
    require(versions.contains(cut),
      s"version $cut not in log (have ${versions.mkString(",")})")
    val st = new ReplayState
    st.keepStats = keepStats
    versions.takeWhile(_ <= cut).foreach(v => applyCommit(dir, v, st))
    require(st.meta != null, "no metaData action in the replayed log")
    st
  }

  private final class ReplayState {
    var meta: String = null
    // whether per-file stats JSON is RETAINED during replay. Stats are
    // the driver-memory hog of a snapshot (~0.5-1 KB of string per
    // file — ~1 GB at a 10⁶-file table); consumers that never prune
    // (full scans, DML target scans, vacuum, CDC) opt out and hold
    // only paths + partitionValues + DV descriptors.
    var keepStats: Boolean = true
    // last protocol action seen — what a feature-adding writer must
    // MERGE with, never replace (clobbering would undeclare features
    // like timestampNtz for every later reader)
    var protocol: String = null
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    // path -> that file's `stats` JSON (unescaped), when its add carried
    // one. A path absent here is a must-read file for any pruner.
    val stats = scala.collection.mutable.Map.empty[String, String]
    // path -> the add action's partitionValues (column -> string value,
    // null for a null partition). RETAINED on remove — the live set
    // governs what is scanned.
    val pvals =
      scala.collection.mutable.Map.empty[String, Map[String, String]]
    // appId -> highest committed writer txn version (the protocol's
    // `txn` action — the idempotent-writer watermark)
    val txns = scala.collection.mutable.Map.empty[String, Long]
    // path -> the add action's deletionVector descriptor (reader
    // feature `deletionVectors`): rows at the DV's positions are
    // logically deleted and must be filtered at scan. A re-add
    // WITHOUT a descriptor clears it (the rewrite materialized the
    // deletes), exactly like stats.
    val dvs = scala.collection.mutable
      .Map.empty[String, DeletionVectors.Descriptor]
    // domain -> (configuration JSON text UNESCAPED, removed) — the
    // protocol's domainMetadata actions (writer feature
    // `domainMetadata`): latest action per domain wins; ALL domains
    // are retained and checkpointed verbatim, ours or foreign (a
    // checkpoint that dropped a foreign domain would silently strip
    // that writer's state at expiry)
    val domains = scala.collection.mutable
      .Map.empty[String, (String, Boolean)]
  }

  private val domainNameRe = """"domain":"((?:[^"\\]|\\.)+)"""".r
  private val domainConfRe =
    """"configuration":"((?:[^"\\]|\\.)*)"""".r
  private val domainRemovedRe = """"removed":(true|false)""".r

  // the stats field is a JSON STRING inside the add action (escaped);
  // key-order-tolerant like the other extractors
  private val statsRe = """"stats":"((?:[^"\\]|\\.)*)"""".r

  // one `"key":"value"` or `"key":null` entry of the partitionValues
  // object (values are JSON strings or null)
  private val pvalEntryRe =
    """"((?:[^"\\]|\\.)+)":(?:"((?:[^"\\]|\\.)*)"|null)""".r

  /** The add action's partitionValues as column -> value (null inside
    * the map for a null partition); empty for an unpartitioned add.
    * Parsed by locating the key and consuming successive
    * string-or-null entries ANCHORED at the cursor — bounding the
    * object by the first '}' would truncate any partition value whose
    * string contains a literal brace, silently dropping the remaining
    * columns and attaching nulls on read-back. */
  private def partitionValuesOf(line: String): Map[String, String] = {
    val key = """"partitionValues":{"""
    val at = line.indexOf(key)
    if (at < 0) return Map.empty
    var pos = at + key.length
    val out = Map.newBuilder[String, String]
    var done = pos < line.length && line.charAt(pos) == '}'
    while (!done) {
      pvalEntryRe.findPrefixMatchOf(line.substring(pos)) match {
        case Some(m) =>
          out += unescapeJson(m.group(1)) ->
            Option(m.group(2)).map(unescapeJson).orNull
          pos += m.end
          if (pos < line.length && line.charAt(pos) == ',') pos += 1
          else done = true
        case None => done = true
      }
    }
    out.result()
  }

  // `"partitionColumns":[...]` of a metaData action
  private val pcolsRe = """"partitionColumns":\[([^\]]*)\]""".r
  private val jsonStrRe = """"((?:[^"\\]|\\.)*)"""".r

  /** The metaData action's partitionColumns, in declared order. */
  def partitionColumnsOf(metaDataLine: String): Seq[String] =
    pcolsRe.findFirstMatchIn(metaDataLine).map { m =>
      jsonStrRe.findAllMatchIn(m.group(1))
        .map(e => unescapeJson(e.group(1))).toSeq
    }.getOrElse(Seq.empty)

  /** Apply one JSON commit's actions to the replay state. Paths are
    * JSON-unescaped before entering the live set, so logs written by
    * other writers (paths containing quotes, backslashes, or escaped
    * control characters) resolve to the actual filenames. */
  private def applyCommit(dir: String, v: Long, st: ReplayState): Unit = {
    val lines = new String(
      Files.readAllBytes(Paths.get(dir, "_delta_log", commitFile(v))),
      StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
    lines.foreach { l =>
      if (l.startsWith("""{"protocol"""")) {
        checkReaderProtocol(l, s"at v$v")
        st.protocol = l
      } else if (l.startsWith("""{"metaData"""")) st.meta = l
      else if (l.startsWith("""{"txn"""")) {
        val appRe = """"appId":"((?:[^"\\]|\\.)+)"""".r
        val verRe = """"version":(\d+)""".r
        for (a <- appRe.findFirstMatchIn(l); x <- verRe.findFirstMatchIn(l)) {
          val app = unescapeJson(a.group(1))
          val ver = x.group(1).toLong
          st.txns(app) = math.max(st.txns.getOrElse(app, Long.MinValue), ver)
        }
      } else if (l.startsWith("""{"add"""")) {
        val p = pathOf(l, "add")
        st.live += p
        st.pvals(p) = partitionValuesOf(l)
        statsRe.findFirstMatchIn(l) match {
          case Some(m) if st.keepStats =>
            st.stats(p) = unescapeJson(m.group(1))
          case _ => st.stats -= p // a re-add without stats supersedes
        }
        DeletionVectors.descriptorOf(l) match {
          case Some(d) => st.dvs(p) = d
          case None => st.dvs -= p // a re-add without a DV supersedes
        }
      } else if (l.startsWith("""{"domainMetadata"""")) {
        for (d <- domainNameRe.findFirstMatchIn(l)) {
          val conf = domainConfRe.findFirstMatchIn(l)
            .map(m => unescapeJson(m.group(1))).getOrElse("")
          val removed = domainRemovedRe.findFirstMatchIn(l)
            .exists(_.group(1) == "true")
          st.domains(unescapeJson(d.group(1))) = (conf, removed)
        }
      } else if (l.startsWith("""{"remove"""")) {
        val p = pathOf(l, "remove")
        st.live -= p
        st.stats -= p
        st.dvs -= p
      }
    }
  }

  /** Reader protocol gate: minReaderVersion 1 is native, 2 is column
    * mapping, and version 3 is accepted when every declared
    * readerFeature is one this consumer implements: deletionVectors,
    * columnMapping, timestampNtz, rowTracking, domainMetadata and
    * typeWidening. Everything else — `v2Checkpoint` among them, since
    * the checkpoint reader loads only the classic and multi-part
    * forms — is refused BY NAME: "unsupported protocol 3" tells an
    * operator nothing; "v2Checkpoint" names the missing capability. */
  private def checkReaderProtocol(l: String, where: String): Unit = {
    val mrvRe = """"minReaderVersion":(\d+)""".r
    val rfRe = """"readerFeatures":\[([^\]]*)\]""".r
    val mrv = mrvRe.findFirstMatchIn(l).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"protocol action without minReaderVersion $where: $l"))
    mrv match {
      case 1 => ()
      // v2 = column mapping; supported at scan for mode 'name' (an
      // 'id'-mode table is refused by name when its metaData is read)
      case 2 => ()
      case 3 =>
        // v3 REQUIRES the readerFeatures list (table features protocol);
        // its absence is malformed, not "no features"
        val rf = rfRe.findFirstMatchIn(l)
        require(rf.isDefined,
          s"malformed protocol $where: minReaderVersion 3 without " +
            s"readerFeatures: $l")
        val feats = rf
          .map(m => jsonStrRe.findAllMatchIn(m.group(1))
            .map(e => unescapeJson(e.group(1))).toSet)
          .getOrElse(Set.empty[String])
        val unsupported =
          // timestampNtz needs no reader machinery beyond the type
          // itself: schemaString's timestamp_ntz parses natively
          // (Spark's TimestampNTZType) and parquet scans it directly —
          // the feature flag exists because OLDER readers would
          // misread the column as instant-semantics timestamps.
          // rowTracking needs no reader machinery for a plain scan (row
          // ids are not surfaced; writes refuse the feature by name,
          // [[refuseUnmaintainedFeatures]]); it is formally a writer
          // feature, but some writers mirror it into readerFeatures —
          // accepted either way. domainMetadata
          // needs no reader machinery: domains configure writers, and a
          // reader ignoring an unknown domain is the spec'd behavior.
          // typeWidening is consumed natively since r20: the logged
          // (post-widening) schema is requested from parquet and the
          // reader's widening promotions (SPARK-40876) upcast each
          // pre-widening file's narrow physical type; time travel to a
          // pre-widening version pins that version's narrow schema, and
          // the CDF reader's alignCol casts across the boundary. The
          // delta.typeChanges field metadata needs no interpretation on
          // this path — it records history the request schema already
          // reflects.
          (feats -- Set("deletionVectors", "columnMapping",
            "timestampNtz", "rowTracking", "domainMetadata",
            "typeWidening")).toSeq.sorted
        if (unsupported.nonEmpty) throw new IllegalArgumentException(
          s"unsupported reader feature(s) $where: " +
            s"${unsupported.mkString(", ")} — this reader implements " +
            "only deletionVectors, columnMapping, timestampNtz, " +
            "rowTracking, domainMetadata and typeWidening")
      case other => throw new IllegalArgumentException(
        s"unsupported reader protocol $where: minReaderVersion $other")
    }
  }

  // ---- column mapping (reader protocol v2 / table feature) ----

  /** The table's column-mapping mode, from metaData.configuration:
    * "none" (default), "name" (supported — parquet columns are stored
    * under per-field physical names), or "id" (resolution by parquet
    * FIELD ID via Spark's field-id reader). The regex
    * cannot false-match the schemaString's own copy of the key — that
    * copy is JSON-escaped (backslashed quotes), this pattern requires
    * bare ones. */
  private val cmModeRe = """"delta\.columnMapping\.mode":"(\w+)"""".r
  private def columnMappingMode(meta: String): String =
    cmModeRe.findFirstMatchIn(meta).map(_.group(1)).getOrElse("none")

  private val cmPhysKey = "delta.columnMapping.physicalName"
  private val cmIdKey = "delta.columnMapping.id"

  /** logical field name -> physical parquet name for the TOP-LEVEL
    * fields, from the schemaString's per-field
    * `delta.columnMapping.physicalName` metadata (a field without one
    * keeps its display name — the protocol's pre-upgrade columns).
    * Used for the layers that are top-level by construction —
    * partitionValues keys, Hive directory names, stats keys. NESTED
    * mapped fields (r19) are handled by the recursive
    * [[physDataType]] transform the scan/write schemas run through. */
  private def physicalNames(
      schema: org.apache.spark.sql.types.StructType,
      mode: String): Map[String, String] = {
    if (mode == "none") return schema.fieldNames.map(n => n -> n).toMap
    schema.fields.map { f =>
      f.name -> (if (f.metadata.contains(cmPhysKey))
                   f.metadata.getString(cmPhysKey)
                 else f.name)
    }.toMap
  }

  /** The PHYSICAL twin of a logical data type, recursively: every
    * struct field AT ANY DEPTH renamed to its
    * `delta.columnMapping.physicalName` (when `rename`) and stamped
    * with its `delta.columnMapping.id` as `parquet.field.id` (when
    * `stampIds`) — Databricks' mapping upgrade assigns physical
    * names/ids to EVERY field including nested ones, so a mapped
    * table with a struct column must resolve nested fields through
    * the same layer. A field without mapping metadata keeps its
    * display name (pre-upgrade columns). Identity for atomic types. */
  private def physDataType(dt: DataType, rename: Boolean,
      stampIds: Boolean): DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val name =
          if (rename && f.metadata.contains(cmPhysKey))
            f.metadata.getString(cmPhysKey)
          else f.name
        val md =
          if (stampIds && f.metadata.contains(cmIdKey))
            new MetadataBuilder().withMetadata(f.metadata)
              .putLong("parquet.field.id", f.metadata.getLong(cmIdKey))
              .build()
          else f.metadata
        f.copy(name = name,
          dataType = physDataType(f.dataType, rename, stampIds),
          metadata = md)
      })
      case a: ArrayType =>
        a.copy(elementType = physDataType(a.elementType, rename, stampIds))
      case m: MapType =>
        m.copy(keyType = physDataType(m.keyType, rename, stampIds),
          valueType = physDataType(m.valueType, rename, stampIds))
      case other => other
    }
  }

  /** 'id'-mode resolution needs a `delta.columnMapping.id` on every
    * field AT EVERY DEPTH (the protocol assigns ids to all columns
    * when mapping is enabled); a field without one is a malformed
    * table, refused by name with its path. */
  private def requireFieldIds(
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType, path: String): Unit = dt match {
      case st: StructType => st.fields.foreach { f =>
        val p = if (path.isEmpty) f.name else s"$path.${f.name}"
        require(f.metadata.contains(cmIdKey),
          s"id-mode COLUMN MAPPING field '$p' carries no " +
            "delta.columnMapping.id — cannot resolve it by parquet " +
            "field id")
        walk(f.dataType, p)
      }
      case a: ArrayType => walk(a.elementType, path)
      case m: MapType => walk(m.keyType, path); walk(m.valueType, path)
      case _ => ()
    }
    walk(schema, "")
  }

  /** Translate an add action's partitionValues (keyed by PHYSICAL
    * names under column mapping, per the protocol) back to logical
    * column names. Identity when the table is unmapped. */
  private def logicalPvals(pv: Map[String, String],
      phys: Map[String, String]): Map[String, String] = {
    val inv = phys.collect { case (l, p) if l != p => p -> l }
    if (inv.isEmpty) pv else pv.map { case (k, v) => inv.getOrElse(k, k) -> v }
  }

  /** The per-table mapping context every mapped scan and write shares:
    * mode, logical->physical names, logical->field ids, and the
    * session to scan with (id mode resolves columns by parquet FOOTER
    * id, enabled on a CHILD session so the caller's conf is never
    * mutated — scan-time conf resolves from the relation's session). */
  private final case class MappingCtx(mode: String,
      phys: Map[String, String], session: SparkSession) {
    /** The schema to REQUEST from parquet: physical names in name
      * mode (recursively — nested struct fields rename through their
      * own physicalName metadata, r19); logical names stamped with
      * parquet.field.id at every depth in id mode (Spark's field-id
      * reader then matches footer ids, names irrelevant, nested
      * included); identity when unmapped. */
    def physSchema(s: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType = mode match {
      case "name" =>
        physDataType(s, rename = true, stampIds = false)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      case "id" =>
        physDataType(s, rename = false, stampIds = true)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      case _ => s
    }
    /** Rename a physically-scanned frame back to logical names,
      * carrying `extras` (scan tags like __file/__pos) through. Only
      * name mode renames — id mode already scanned under logical
      * names. A column whose TYPE holds nested physical names casts
      * back to the logical struct type: struct casts resolve
      * POSITIONALLY in Spark, and the physical twin is a pure
      * per-field rename of the logical shape, so the cast is exactly
      * the nested rename and nothing else. */
    def toLogical(df: DataFrame,
        s: org.apache.spark.sql.types.StructType,
        extras: Seq[String] = Nil): DataFrame =
      if (mode != "name") df
      else {
        import org.apache.spark.sql.functions.col
        df.select((s.fields.map { f =>
          val physDt = physDataType(f.dataType, rename = true,
            stampIds = false)
          val c = col(phys(f.name))
          (if (physDt == f.dataType) c else c.cast(f.dataType))
            .as(f.name)
        } ++ extras.map(col)).toIndexedSeq: _*)
      }
  }

  private def mappingCtx(spark: SparkSession, meta: String,
      schema: org.apache.spark.sql.types.StructType): MappingCtx = {
    val mode = columnMappingMode(meta)
    require(mode == "none" || mode == "name" || mode == "id",
      s"unsupported COLUMN MAPPING mode '$mode' — only 'name' and " +
        "'id' (and none) are implemented")
    if (mode == "id") requireFieldIds(schema)
    val session =
      if (mode != "id") spark
      else {
        val s2 = spark.newSession()
        s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        s2
      }
    MappingCtx(mode, physicalNames(schema, mode), session)
  }

  /** Every `delta.columnMapping.id` a data type carries, at any
    * nesting depth — the standing-id scan the allocators advance
    * past. */
  private def mappedIdsIn(dt: DataType): Seq[Long] = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => st.fields.toSeq.flatMap(f =>
        (if (f.metadata.contains(cmIdKey))
           Seq(f.metadata.getLong(cmIdKey))
         else Nil) ++ mappedIdsIn(f.dataType))
      case a: ArrayType => mappedIdsIn(a.elementType)
      case m: MapType => mappedIdsIn(m.keyType) ++ mappedIdsIn(m.valueType)
      case _ => Nil
    }
  }

  /** Allocate column-mapping identity for `fresh` fields AND every
    * nested struct field inside them (r19 — the protocol assigns
    * ids/physical names to all fields, nested included): each gets a
    * field id above BOTH the configuration's maxColumnId and every id
    * the standing schema carries anywhere, plus a uuid physical name
    * — the ADD COLUMNS rule, shared by schema evolution and the
    * schema-changing overwrite. Ids assign in depth-first pre-order
    * (parent before children), Delta's traversal. Returns (mapped
    * fields, configuration with maxColumnId advanced). */
  private def allocateMappedFields(
      fresh: Seq[org.apache.spark.sql.types.StructField],
      standing: org.apache.spark.sql.types.StructType,
      conf: Map[String, String])
      : (Seq[org.apache.spark.sql.types.StructField], Map[String, String]) = {
    import org.apache.spark.sql.types._
    val existingIds = mappedIdsIn(standing)
    val confMax = conf.get("delta.columnMapping.maxColumnId")
      .flatMap(_.toLongOption).getOrElse(0L)
    var nextId = math.max(confMax,
      if (existingIds.isEmpty) 0L else existingIds.max)
    def mapField(f: StructField): StructField = {
      nextId += 1
      val id = nextId
      f.copy(
        dataType = mapType(f.dataType),
        metadata = new MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(cmIdKey, id)
          .putString(cmPhysKey, s"col-${java.util.UUID.randomUUID()}")
          .build())
    }
    def mapType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(mapField))
      case a: ArrayType => a.copy(elementType = mapType(a.elementType))
      case m: MapType => m.copy(keyType = mapType(m.keyType),
        valueType = mapType(m.valueType))
      case other => other
    }
    val mapped = fresh.map(mapField)
    (mapped,
      if (mapped.isEmpty) conf
      else conf + ("delta.columnMapping.maxColumnId" -> nextId.toString))
  }

  /** The physical-layout twin of a logical frame — what a mapped
    * table's WRITERS put on disk: every column renamed to its
    * `delta.columnMapping.physicalName` and stamped with its
    * `delta.columnMapping.id` as the parquet field id (Spark's parquet
    * writer emits footer ids for schema fields carrying
    * parquet.field.id — its write-side default), so name-mode readers
    * resolve by physical name and id-mode readers by footer id, which
    * is exactly what Databricks writes for mapped tables. `fields`
    * must be (a subset of) the LOGGED schema's fields in df column
    * order — their metadata carries the mapping. Identity when the
    * table is unmapped. */
  private def toPhysicalFrame(df: DataFrame,
      fields: Seq[org.apache.spark.sql.types.StructField],
      mode: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (mode == "none") return df
    df.select(fields.map { f =>
      val p = if (f.metadata.contains(cmPhysKey))
                f.metadata.getString(cmPhysKey)
              else f.name
      val md = new org.apache.spark.sql.types.MetadataBuilder()
      if (f.metadata.contains(cmIdKey))
        md.putLong("parquet.field.id", f.metadata.getLong(cmIdKey))
      // NESTED mapped fields (r19): cast to the recursive physical
      // twin — a pure positional rename that also stamps each nested
      // field's parquet.field.id into the cast's target type, which
      // Spark's parquet writer emits as footer ids at every depth
      val physDt = physDataType(f.dataType, rename = true,
        stampIds = true)
      val c = col(f.name)
      (if (physDt == f.dataType) c else c.cast(physDt)).as(p, md.build())
    }.toIndexedSeq: _*)
  }

  /** Read a Delta table THROUGH ITS LOG — the consumer side of the
    * protocol: verify every protocol action is one this reader
    * supports (minReaderVersion 1), reconstruct the live-file snapshot
    * at `versionAsOf` (latest when None) by replaying add/remove
    * actions in commit order, parse the governing metaData's
    * schemaString into a StructType, and scan exactly the live files
    * with that schema. Never lists the directory for data files — a
    * Delta reader trusts the log, not the filesystem, which is what
    * makes stale, torn, or superseded data files invisible
    * (TableStoreSpec pins both: a planted orphan parquet file the read
    * must NOT surface, and time travel across append + overwrite
    * commits). */
  def readDeltaTable(spark: SparkSession, dir: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val st = snapshotState(spark, dir, versionAsOf, keepStats = false)
    require(st.live.nonEmpty,
      s"no live files at version ${versionAsOf.getOrElse("latest")}")
    scanFiles(spark, dir, st.meta, st.live.toSeq, versionAsOf,
      st.pvals.toMap, st.dvs.toMap)
  }

  // RFC 3986 scheme: ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) ":" —
  // any scheme-qualified URI (s3://, hdfs://, abfss://, file:) a
  // foreign shallow clone may log is absolute, not just the two local
  // forms; mangling s3://… into "$dir/s3://…" would surface as a
  // misleading "vacuumed or missing" error instead of the
  // clone-specific handling (ADVICE r18)
  private val uriSchemeRe = """^[a-zA-Z][a-zA-Z0-9+.\-]*:""".r

  /** Whether a logged data path is ABSOLUTE (a foreign shallow clone's
    * reference into its source table) rather than table-root-relative
    * — the protocol allows both ("path: relative path … or absolute
    * path"), and absolute paths may be plain or scheme-qualified
    * URIs. */
  private[core] def isAbsoluteDataPath(p: String): Boolean =
    p.startsWith("/") || uriSchemeRe.findFirstIn(p).isDefined

  /** Resolve a logged data path against the table root: relative
    * paths join under `dir`; absolute paths resolve to themselves —
    * file: URIs to their local path, other scheme-qualified URIs
    * (s3://, hdfs://) verbatim, so a scan attempt fails with the
    * filesystem's own error naming the real location. */
  private[core] def resolveDataPath(dir: String, p: String): String =
    if (p.startsWith("file:"))
      Paths.get(java.net.URI.create(p)).toString
    else if (p.startsWith("/") || uriSchemeRe.findFirstIn(p).isDefined) p
    else s"$dir/$p"

  /** Anti-join a single file's scan against its deletion vector's
    * positions (attached via the parquet row index) — the one DV
    * application primitive, shared by [[scanFiles]] and the DV-aware
    * compaction paths. Positions decode once on the driver (bounded by
    * one file's row count) and distribute as a join side. */
  private def dvAntiJoin(spark: SparkSession, dir: String,
      base: DataFrame, desc: DeletionVectors.Descriptor,
      outCols: Seq[String]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val deleted = DeletionVectors.positions(dir, desc).toSeq
      .toDF("__dv_pos")
    base
      .withColumn("__dv_pos", col("_metadata.row_index"))
      .join(deleted, Seq("__dv_pos"), "left_anti")
      .select(outCols.map(col): _*)
  }

  /** The inverse of [[dvAntiJoin]]: ONE file's rows at exactly the
    * given parquet positions (semi-join on the row index), in logged
    * column order with partition columns re-attached — what the
    * RESTORE change feed uses to express a deletion-vector DIFF as
    * row-level changes. `keep` is bounded by the larger vector's
    * cardinality, the DV writer's own driver bound. */
  private def scanFileAtPositions(spark: SparkSession, dir: String,
      meta: String, file: String,
      pvals: Map[String, Map[String, String]],
      keep: Seq[Long]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val pcols = partitionColumnsOf(meta)
    val ctx = mappingCtx(spark, meta, schema)
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(f => pcols.contains(f.name)))
    val rs = ctx.physSchema(dataSchema)
    val keepDf = keep.toDF("__dv_pos")
    val base = ctx.session.read.schema(rs)
      .parquet(resolveDataPath(dir, file))
      .withColumn("__dv_pos", col("_metadata.row_index"))
      .join(keepDf, Seq("__dv_pos"), "left_semi")
      .select(rs.fieldNames.toSeq.map(col): _*)
    val logical = ctx.toLogical(base, dataSchema)
    val pv = logicalPvals(
      pvals.getOrElse(file, hivePartitionValues(file)), ctx.phys)
    pcols.foldLeft(logical) { case (d, c) =>
      d.withColumn(c, lit(pv.getOrElse(c, null)).cast(schema(c).dataType))
    }.select(schema.fieldNames.map(col): _*)
  }

  /** Scan exactly `files` with the logged schema — the one scan every
    * read and every DML target shares. Files group by their partition
    * tuple (bounded driver metadata — one group per live partition, the
    * same planning state every Delta reader holds; a flat table is one
    * group with no partition columns). For a PARTITIONED table the data
    * files do not contain the partition columns — the protocol obliges
    * the reader to re-attach them from each add's partitionValues: each
    * group scans with the data-only schema plus literal partition
    * columns cast to their logged types, and the groups union back in
    * logged column order.
    *
    * A file in `dvs` scans ALONE with the parquet row index attached,
    * anti-joined against its deletion vector's positions — per the
    * protocol, the DV indexes rows by their position within that one
    * file; the other files of a group scan in bulk. `tags` (`__file` =
    * the scan URI, `__pos` = the parquet row index) attach at the scan,
    * before the DV mask, and trail the logged columns: the DML target
    * relation. MERGE passes the snapshot's vectors, so matches and
    * rewrites see only live rows and a rewrite MATERIALIZES the
    * deletes; the DV writers pass none and scan files RAW — they merge
    * prior DV positions themselves, and a DV-deleted row re-matching a
    * predicate is a harmless superset there. */
  private def scanFiles(spark: SparkSession, dir: String, meta: String,
      files: Seq[String], versionAsOf: Option[Long],
      pvals: Map[String, Map[String, String]] = Map.empty,
      dvs: Map[String, DeletionVectors.Descriptor] = Map.empty,
      tags: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(schemaStringOf(meta))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val gone = files.filterNot(f =>
      Files.isRegularFile(Paths.get(resolveDataPath(dir, f))))
    // a foreign clone of a REMOTE table logs scheme-qualified adds
    // this local-filesystem reader cannot open — its own refusal, not
    // the vacuumed-history one
    val (remote, missing) = gone.partition(f =>
      isAbsoluteDataPath(f) && !f.startsWith("/") &&
        !f.startsWith("file:"))
    require(remote.isEmpty,
      s"live file(s) reference remote URI(s) this local-filesystem " +
        s"reader cannot open: ${remote.mkString(", ")} — a shallow " +
        "clone of a remote table needs that filesystem")
    require(missing.isEmpty,
      s"snapshot at version ${versionAsOf.getOrElse("latest")} is no longer " +
        s"reconstructible — add-listed file(s) vacuumed or missing: " +
        missing.mkString(", "))
    val pcols = partitionColumnsOf(meta)
    // column mapping: in 'name' mode parquet stores columns under the
    // schemaString's per-field physical names — read physically,
    // rename to logical LAST (after tagging and masking, which both
    // need the scan's own _metadata column). In 'id' mode (the
    // Databricks default for evolved tables) resolution is by PARQUET
    // FIELD ID: the requested schema keeps its logical names but
    // carries each field's delta.columnMapping.id as parquet.field.id
    // metadata, and Spark's field-id reader matches footer ids instead
    // of names (the file's physical column names are irrelevant — a
    // renamed column still resolves). The field-id flag is enabled on
    // a CHILD session (shared context and catalog, OWN conf) whose
    // reader builds these relations — scan-time conf resolves from the
    // relation's session, so the caller's session conf is never
    // mutated behind its back.
    val ctx = mappingCtx(spark, meta, schema)
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(f => pcols.contains(f.name)))
    val rs = ctx.physSchema(dataSchema)
    def scan(fs: Seq[String]): DataFrame =
      tags.foldLeft(ctx.session.read.schema(rs)
          .parquet(fs.map(f => resolveDataPath(dir, f)): _*)) { (d, t) =>
        d.withColumn(t,
          if (t == "__pos") col("_metadata.row_index") else input_file_name())
      }
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else files
      .groupBy { f =>
        lazy val pv = logicalPvals(
          pvals.getOrElse(f, hivePartitionValues(f)), ctx.phys)
        pcols.map(c => pv.getOrElse(c, null))
      }
      .toSeq.sortBy(_._1.mkString("/"))
      .map { case (vals, fs) =>
        val (dvFiles, plain) = fs.sorted.partition(dvs.contains)
        val parts = (if (plain.nonEmpty) Seq(scan(plain)) else Nil) ++
          dvFiles.map(f => dvAntiJoin(spark, dir, scan(Seq(f)), dvs(f),
            rs.fieldNames.toSeq ++ tags))
        val base =
          ctx.toLogical(parts.reduce(_.unionByName(_)), dataSchema, tags)
        pcols.zip(vals).foldLeft(base) { case (d, (c, v)) =>
          d.withColumn(c, lit(v).cast(schema(c).dataType))
        }
      }
      .reduce(_.unionByName(_))
      .select((schema.fieldNames.toSeq ++ tags).map(col): _*)
  }

  /** PARTITION-pruned read — the log-only prune every partitioned Delta
    * table exists for: live files whose partitionValues satisfy the
    * equality `filters` are selected from the log's add actions BEFORE
    * any file is opened; no directory listing, no footer reads for
    * pruned partitions. Filter keys must be logged partition columns (a
    * data-column filter here would silently prune nothing — refused
    * loudly; use [[readDeltaTablePruned]]'s stats bands for data
    * columns). A file's partition value is the one the scan attaches:
    * its add's value, null when the add's partitionValues lack the
    * column — so a null filter value matches null partitions and those
    * files alike. Candidates come from [[prunedScan]], checkpointed or
    * not. Returns (result, candidateFiles, liveFiles). */
  def readDeltaTablePartitionPruned(spark: SparkSession, dir: String,
      filters: Map[String, String],
      versionAsOf: Option[Long] = None): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    require(filters.nonEmpty, "no partition filters — use readDeltaTable")
    prunedScan(spark, dir, versionAsOf, keepStats = false) { meta =>
      val pcols = partitionColumnsOf(meta)
      val bad = filters.keys.filterNot(pcols.contains)
      require(bad.isEmpty,
        s"filter column(s) ${bad.mkString(", ")} are not partition " +
          s"columns (${pcols.mkString(", ")}) — a partition prune on a " +
          "data column would scan nothing it should")
      // the null-safe <=> lets a null filter value match a null or
      // missing partition value
      filters.map { case (k, v) =>
        col("pv").getItem(physicalKey(meta, k)) <=> lit(v)
      }.reduce(_ && _)
    }
  }

  /** Stats-pruned band read — the planning move that makes Delta fast
    * at 100 TB: candidate files for `lo <= bandCol <= hi` are chosen
    * from the LOG's `add.stats` alone, before any parquet footer is
    * opened (a plain parquet scan must stat + footer-read every file
    * just to discover its min/max; here the log already carries them).
    * A file is skipped only on positive evidence: its stats parse (via
    * Spark's JSON parser — third-party blobs that are malformed,
    * nested, or missing the column fall back to must-read), its
    * [min,max] misses the band, or the column is provably all-NULL
    * there (nullCount == numRecords — a range predicate excludes
    * NULLs). The residual filter still runs on the survivors, so
    * pruning is an optimization, never a correctness dependency.
    * Existence is checked for candidate files only — a pruned read
    * touches exactly the files it scans, the same O(candidates)
    * posture a real Delta reader has. Candidates come from
    * [[prunedScan]], checkpointed or not. Returns
    * (result, candidateFiles, liveFiles). */
  def readDeltaTablePruned(spark: SparkSession, dir: String,
      bandCol: String, lo: Double, hi: Double,
      versionAsOf: Option[Long] = None): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    val (out, cands, live) =
      prunedScan(spark, dir, versionAsOf, keepStats = true) { meta =>
        pruneKeepExpr(physicalKey(meta, bandCol), lo, hi)
      }
    require(live > 0,
      s"no live files at version ${versionAsOf.getOrElse("latest")}")
    (out.filter(col(bandCol).between(lit(lo), lit(hi))), cands, live)
  }

  /** `s` parsed + keep decision over (stats, s) columns — the ONE
    * stats prune policy: a file is skipped only on positive evidence
    * (parseable stats whose [min,max] misses the band, or a provably
    * all-NULL column); anything malformed or absent stays must-read. */
  private def statsParsedSchema: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL(
      "numRecords BIGINT, minValues MAP<STRING,STRING>, " +
        "maxValues MAP<STRING,STRING>, nullCount MAP<STRING,STRING>")

  private def pruneKeepExpr(statsKey: String, lo: Double,
      hi: Double): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val mn = element_at(col("s.minValues"), statsKey).cast("double")
    val mx = element_at(col("s.maxValues"), statsKey).cast("double")
    val nc = element_at(col("s.nullCount"), statsKey).cast("bigint")
    val allNull = nc.isNotNull && col("s.numRecords").isNotNull &&
      nc === col("s.numRecords") && col("s.numRecords") > 0L
    val mustRead = col("stats").isNull || col("s").isNull ||
      mn.isNull || mx.isNull
    val bandHit = mn <= lit(hi) && mx >= lit(lo)
    when(allNull, lit(false)).otherwise(mustRead || bandHit)
  }

  /** A column's key in the log's stats maps and partitionValues: under
    * column mapping both are keyed by PHYSICAL names (the protocol
    * rule) — look it up by physical name or a prune silently degrades
    * (stats to must-read, partitions to no match). */
  private def physicalKey(meta: String, column: String): String =
    physicalNames(
      org.apache.spark.sql.types.DataType.fromJson(schemaStringOf(meta))
        .asInstanceOf[org.apache.spark.sql.types.StructType],
      columnMappingMode(meta)).getOrElse(column, column)

  /** The ONE candidate-file path of the pruned reads: the live
    * snapshot's add rows `(path, stats, pv, dv)` — `s` the parsed
    * stats, `pv` the physical-keyed partitionValues, Hive-path parsed
    * where an add carries none (the [[scanFiles]] rule) — are kept by
    * `keepOf(meta)` and the candidates scanned.
    *
    * Where `_last_checkpoint` covers `versionAsOf`, the rows are the
    * checkpoint's adds, filtered DISTRIBUTED — the 100 TB shape: the
    * base state is NEVER materialized on the driver, only candidate
    * rows (path + partitionValues + DV descriptor) collect — plus the
    * JSON tail after it (bounded by the checkpoint cadence) replayed
    * driver-side. Files the tail touched (re-added with a DV, removed,
    * compacted) defer to the tail's word over the checkpoint's.
    * Otherwise the replayed JSON log is the row source (young tables,
    * or time travel to before the checkpoint, which [[snapshotState]]
    * refuses once the commits it needs are expired). Returns (result,
    * candidateFiles, liveFiles). */
  private def prunedScan(spark: SparkSession, dir: String,
      versionAsOf: Option[Long], keepStats: Boolean)(
      keepOf: String => org.apache.spark.sql.Column)
      : (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (st, cpAdds) =
      lastCheckpoint(dir).filter(cp => versionAsOf.forall(_ >= cp.version))
      match {
        case None =>
          (snapshotState(spark, dir, versionAsOf, keepStats), None)
        case Some(cp) =>
          // the tail window: driver-side, O(commits since checkpoint)
          val tail = new ReplayState
          tail.keepStats = keepStats
          val touched = scala.collection.mutable.LinkedHashSet.empty[String]
          checkpointTail(dir, cp.version, versionAsOf).foreach { v =>
            new String(
              Files.readAllBytes(Paths.get(dir, "_delta_log", commitFile(v))),
              StandardCharsets.UTF_8).split("\n").foreach { l =>
              if (l.startsWith("""{"add"""")) touched += pathOf(l, "add")
              else if (l.startsWith("""{"remove""""))
                touched += pathOf(l, "remove")
            }
            applyCommit(dir, v, tail)
          }
          val cpBase = checkpointFrame(spark, dir, cp)
          // protocol + metaData: an O(1) filtered collect — the only
          // head rows a reader needs from the whole checkpoint
          val head = cpBase
            .filter(col("protocol").isNotNull || col("metaData").isNotNull)
            .collect()
          head.flatMap(structField(_, "protocol")).foreach { pr =>
            checkReaderProtocol(protocolLineOfRow(pr),
              s"in checkpoint v${cp.version}")
          }
          if (tail.meta == null) tail.meta = head
            .flatMap(structField(_, "metaData")).lastOption
            .map(metaLineOfRow).orNull
          require(tail.meta != null,
            s"checkpoint v${cp.version} carries no metaData")
          val addT = cpBase.schema.fields.find(_.name == "add")
            .map(_.dataType.asInstanceOf[org.apache.spark.sql.types.StructType])
            .getOrElse(new org.apache.spark.sql.types.StructType())
          def addCol(name: String, tpe: String) =
            if (addT.fieldNames.contains(name)) col(s"add.$name")
            else lit(null).cast(tpe)
          (tail, Some(cpBase.filter(col("add").isNotNull)
            .select(col("add.path").as("path"),
              addCol("stats", "string").as("stats"),
              addCol("partitionValues", "map<string,string>").as("pv"),
              addCol("deletionVector",
                "struct<storageType:string,pathOrInlineDv:string," +
                  "offset:bigint,sizeInBytes:bigint,cardinality:bigint>")
                .as("dv"))
            .join(broadcast(touched.toSeq.toDF("path")), Seq("path"),
              "left_anti")))
      }
    val keep = keepOf(st.meta)
    // the replayed adds — the whole snapshot, or the checkpoint's tail —
    // join as a local frame; their vectors are `st.dvs`
    val replayed = st.live.toSeq
      .map(f => (f, st.stats.get(f).orNull, st.pvals.get(f).orNull))
      .toDF("path", "stats", "pv")
      .withColumn("dv", lit(null).cast(cpAdds.fold[DataType](
        org.apache.spark.sql.types.NullType)(_.schema("dv").dataType)))
    val hivePv = udf((p: String) => hivePartitionValues(p))
    // ONE job: the live total aggregates beside the candidate rows
    // (collect_list skips the null non-candidates), so the checkpoint
    // parquet is scanned once, not twice
    val agg = cpAdds.fold(replayed)(_.unionByName(replayed))
      .withColumn("pv", coalesce(col("pv"), hivePv(col("path"))))
      .withColumn("s", from_json(col("stats"), statsParsedSchema))
      .agg(count(lit(1)),
        collect_list(when(keep, struct(col("path"), col("pv"), col("dv")))))
      .collect().head
    val cands = agg.getSeq[org.apache.spark.sql.Row](1)
    val candidates = cands.map(_.getString(0)).sorted
    val pvals = cands.map(r => r.getString(0) -> r.getMap[String, String](1)
      .toMap).toMap
    val dvs = cands.filterNot(_.isNullAt(2))
      .map(r => r.getString(0) -> dvDescriptorOfRow(r.getStruct(2)))
      .toMap ++ st.dvs
    (scanFiles(spark, dir, st.meta, candidates, versionAsOf, pvals, dvs),
      candidates.size, agg.getLong(0).toInt)
  }

  /** Checkpoint-aware snapshot reconstruction — the real consumer entry
    * point: when `_last_checkpoint` exists and the requested version is
    * at or past it, load the checkpoint parquet as the base state and
    * replay only the JSON commits AFTER it (the protocol's recipe, and
    * what makes a table readable after old JSON commits expire). A
    * time travel BEFORE the checkpoint still needs the full 0..cut JSON
    * chain and fails loudly once that chain is expired. Tables without
    * a checkpoint take the pure JSON replay of [[liveFilesAt]]. */
  def snapshotAt(spark: SparkSession, dir: String,
      versionAsOf: Option[Long]): (String, Seq[String]) = {
    val st = snapshotState(spark, dir, versionAsOf, keepStats = false)
    (st.meta, st.live.toSeq)
  }

  private def snapshotState(spark: SparkSession, dir: String,
      versionAsOf: Option[Long], keepStats: Boolean = true): ReplayState =
    lastCheckpoint(dir) match {
      case Some(cp) if versionAsOf.forall(_ >= cp.version) =>
        val tail = checkpointTail(dir, cp.version, versionAsOf)
        val st = loadCheckpoint(spark, dir, cp, keepStats)
        tail.foreach(v => applyCommit(dir, v, st))
        require(st.meta != null, s"checkpoint v${cp.version} carries no metaData")
        st
      case Some(CheckpointPointer(cpV, _, _)) =>
        val versions = logVersions(dir)
        val cut = versionAsOf.get
        val missing = (0L to cut).filterNot(versions.contains)
        require(missing.isEmpty,
          s"version $cut precedes checkpoint v$cpV and JSON commit(s) " +
            s"${missing.mkString(",")} have been expired — snapshot is " +
            "no longer reconstructible")
        replayedState(dir, versionAsOf, keepStats)
      case None => replayedState(dir, versionAsOf, keepStats)
    }

  /** The live snapshot's deletion-vector descriptors at `versionAsOf`
    * (latest when None): path -> descriptor. Empty when no live file
    * carries a vector — the observable postcondition of DV-aware
    * OPTIMIZE (it materializes the masked deletes). */
  def deletionVectorsAt(spark: SparkSession, dir: String,
      versionAsOf: Option[Long] = None)
      : Map[String, DeletionVectors.Descriptor] =
    snapshotState(spark, dir, versionAsOf, keepStats = false).dvs.toMap

  /** The per-file `stats` JSON of the live snapshot at `versionAsOf`
    * (latest when None): path -> unescaped stats text. Files whose add
    * carried no stats are absent — a pruner must read them. */
  def statsAt(spark: SparkSession, dir: String,
      versionAsOf: Option[Long] = None): Map[String, String] =
    snapshotState(spark, dir, versionAsOf).stats.toMap

  // minimal classic-checkpoint row: one action per row, null elsewhere
  // (delta-io PROTOCOL.md "Checkpoints"); other writers add more columns
  // (txn, remove, stats) — the loader reads by field name so extras and
  // absences both survive
  final case class CpProtocol(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None)
  final case class CpFormat(provider: String, options: Map[String, String])
  final case class CpMetaData(id: String, schemaString: String,
      partitionColumns: Seq[String], createdTime: Long,
      configuration: Map[String, String] = Map.empty)
  final case class CpDv(storageType: String, pathOrInlineDv: String,
      offset: Option[Long], sizeInBytes: Long, cardinality: Long)
  final case class CpAdd(path: String, partitionValues: Map[String, String],
      size: Long, modificationTime: Long, dataChange: Boolean,
      stats: Option[String], deletionVector: Option[CpDv] = None)
  final case class CpTxn(appId: String, version: Long)
  final case class CpDomainMetadata(domain: String, configuration: String,
      removed: Boolean)
  final case class CpRow(protocol: Option[CpProtocol],
      metaData: Option[CpMetaData], add: Option[CpAdd],
      txn: Option[CpTxn] = None,
      domainMetadata: Option[CpDomainMetadata] = None)

  private def checkpointFile(v: Long): String = f"$v%020d.checkpoint.parquet"

  // multi-part naming per the protocol: <v>.checkpoint.<i>.<n>.parquet,
  // part index i 1-based out of n
  private def checkpointPartFile(v: Long, i: Int, n: Int): String =
    f"$v%020d.checkpoint.$i%010d.$n%010d.parquet"

  /** The parquet file(s) a checkpoint pointer names — one classic file,
    * or all n parts of a multi-part checkpoint. */
  private def checkpointPaths(dir: String, v: Long,
      parts: Option[Int]): Seq[java.nio.file.Path] = {
    val logDir = Paths.get(dir, "_delta_log")
    parts match {
      case None => Seq(logDir.resolve(checkpointFile(v)))
      case Some(n) =>
        (1 to n).map(i => logDir.resolve(checkpointPartFile(v, i, n)))
    }
  }

  /** Write a checkpoint of the LATEST snapshot + `_last_checkpoint`:
    * the compaction that lets a reader skip — and a retention job
    * expire — every JSON commit at or before it. One parquet row per
    * action; the data files themselves are untouched. `parts = 1`
    * (default) writes the classic single-file form
    * (`<v>.checkpoint.parquet`); `parts > 1` writes the protocol's
    * multi-part form (`<v>.checkpoint.<i>.<n>.parquet`, rows split
    * round-robin across parts — large production tables checkpoint this
    * way so no single writer task owns the whole action list) and a
    * pointer carrying `"parts":n`. Returns the checkpointed version. */
  def checkpointDeltaTable(spark: SparkSession, dir: String,
      parts: Int = 1): Long = {
    require(parts >= 1, "parts must be >= 1")
    val v = latestVersion(dir)
    val snap = snapshotState(spark, dir, None)
    refuseUnmaintainedFeatures(snap.meta, snap.protocol, "CHECKPOINT")
    // mapped tables checkpoint natively — pure log surgery: the
    // schemaString (mapping metadata included), configuration (mode),
    // and physical-keyed partitionValues/stats all carry VERBATIM
    val (meta, files) = (snap.meta, snap.live.toSeq)
    val idRe = """"id":"((?:[^"\\]|\\.)+)"""".r
    val ctRe = """"createdTime":(\d+)""".r
    val id = idRe.findFirstMatchIn(meta)
      .map(m => unescapeJson(m.group(1)))
      .getOrElse(throw new IllegalStateException("metaData carries no id"))
    val createdTime = ctRe.findFirstMatchIn(meta).map(_.group(1).toLong).getOrElse(0L)
    // the checkpoint must carry the table's ACTUAL protocol (features
    // included) and the metaData's configuration — a checkpoint that
    // re-wrote {1,2} / {} would, after log expiry, undeclare features
    // (deletionVectors, timestampNtz) and DROP every CHECK constraint
    // and table property for all later readers
    val curP = Option(snap.protocol).getOrElse(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val mrvRe = """"minReaderVersion":(\d+)""".r
    val mwvRe = """"minWriterVersion":(\d+)""".r
    def featsOf(key: String): Option[Seq[String]] = {
      val re = (s""""$key":\\[([^\\]]*)\\]""").r
      re.findFirstMatchIn(curP).map(m =>
        jsonStrRe.findAllMatchIn(m.group(1))
          .map(e => unescapeJson(e.group(1))).toSeq)
    }
    val cpProtocol = CpProtocol(
      mrvRe.findFirstMatchIn(curP).map(_.group(1).toInt).getOrElse(1),
      mwvRe.findFirstMatchIn(curP).map(_.group(1).toInt).getOrElse(2),
      featsOf("readerFeatures"), featsOf("writerFeatures"))
    val rows: Seq[CpRow] =
      (Seq(
        CpRow(Some(cpProtocol), None, None),
        CpRow(None,
          Some(CpMetaData(id, schemaStringOf(meta),
            partitionColumnsOf(meta), createdTime,
            configurationOf(meta))),
          None)) ++
      // one txn row per writer app — the idempotence watermark must
      // survive the JSON commits its carrier expired with
      snap.txns.toSeq.sortBy(_._1).map { case (app, ver) =>
        CpRow(None, None, None, Some(CpTxn(app, ver)))
      } ++
      // domainMetadata rows, ours or foreign, verbatim — dropping one
      // at expiry would strip that writer's state
      snap.domains.toSeq.sortBy(_._1).map { case (d, (conf, rm)) =>
        CpRow(None, None, None, None,
          Some(CpDomainMetadata(d, conf, rm)))
      }) ++
      files.sorted.map { f =>
        // a clone's absolute add checkpoints VERBATIM (the protocol
        // permits absolute paths); size/mtime read from its resolved
        // location
        val p = Paths.get(resolveDataPath(dir, f))
        // live deletion vectors checkpoint as the protocol's per-add
        // deletionVector struct — the reader side already restores them
        CpRow(None, None, Some(CpAdd(f,
          snap.pvals.getOrElse(f, Map.empty), Files.size(p),
          Files.getLastModifiedTime(p).toMillis, dataChange = false,
          stats = snap.stats.get(f),
          deletionVector = snap.dvs.get(f).map(d =>
            CpDv(d.storageType, d.pathOrInlineDv, d.offset,
              d.sizeInBytes, d.cardinality)))))
      }
    require(rows.size >= parts,
      s"cannot split ${rows.size} checkpoint action(s) into $parts parts")
    import spark.implicits._
    val logDir = Paths.get(dir, "_delta_log")
    val tmp = logDir.resolve(s".tmp_checkpoint_$v")
    // repartition (round-robin) over >= parts rows leaves no partition
    // empty, so exactly `parts` files come out; which action lands in
    // which part carries no protocol meaning
    spark.createDataset(rows).repartition(parts).write
      .mode("overwrite").parquet(tmp.toString)
    val written = dataFiles(tmp.toString).sortBy(_.getFileName.toString)
    require(written.size == parts,
      s"checkpoint write produced ${written.size} file(s), expected $parts")
    val targets =
      if (parts == 1) Seq(logDir.resolve(checkpointFile(v)))
      else checkpointPaths(dir, v, Some(parts))
    written.zip(targets).foreach { case (src, dst) =>
      Files.move(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val walk = Files.walk(tmp)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    } finally walk.close()
    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    Files.write(logDir.resolve("_last_checkpoint"),
      s"""{"version":$v,"size":${rows.size}$partsField"""
        .concat("}").getBytes(StandardCharsets.UTF_8))
    v
  }

  /** Log-retention cleanup: delete JSON commits at or before the
    * checkpoint (they are superseded by it). Refuses without a
    * checkpoint covering them — that would orphan the table — and
    * refuses when the pointer names checkpoint parquet file(s) that do
    * not actually exist (a stale or partially-copied pointer): deleting
    * the JSON chain on the pointer's word alone would orphan the table
    * despite this function's stated guarantee. Returns the deleted
    * commit file names. */
  def expireLogBefore(dir: String): Seq[String] = {
    val cp = lastCheckpoint(dir)
      .getOrElse(throw new IllegalStateException(
        "no checkpoint — expiring JSON commits would orphan the table"))
    val gone = checkpointPaths(dir, cp.version, cp.parts)
      .filterNot(Files.isRegularFile(_))
    if (gone.nonEmpty) throw new IllegalStateException(
      s"_last_checkpoint names v${cp.version} but checkpoint file(s) " +
        s"${gone.map(_.getFileName).mkString(", ")} are missing — " +
        "expiring JSON commits would orphan the table")
    val allJson = logVersions(dir)
    // the newest protocol and metaData the JSON commits carry: what
    // the checkpoint covers passed the same refusal when
    // checkpointDeltaTable wrote it
    var protocol: String = null
    var meta: String = null
    allJson.foreach { v =>
      new String(Files.readAllBytes(
        Paths.get(dir, "_delta_log", commitFile(v))), StandardCharsets.UTF_8)
        .split("\n").foreach { l =>
          if (l.startsWith("""{"protocol"""")) protocol = l
          else if (l.startsWith("""{"metaData"""")) meta = l
        }
    }
    refuseUnmaintainedFeatures(meta, protocol, "LOG EXPIRY")
    allJson.filter(_ <= cp.version).map { v =>
      Files.delete(Paths.get(dir, "_delta_log", commitFile(v)))
      commitFile(v)
    }
  }

  /** The JSON commits after checkpoint `cpV` up to `versionAsOf`
    * (latest when None) — the tail a checkpointed snapshot replays on
    * top of its base. Every one must exist. */
  private def checkpointTail(dir: String, cpV: Long,
      versionAsOf: Option[Long]): Seq[Long] = {
    val versions = logVersions(dir)
    val tail = (cpV + 1) to versionAsOf.getOrElse((cpV +: versions).max)
    val missing = tail.filterNot(versions.contains)
    require(missing.isEmpty,
      s"commits after checkpoint v$cpV are missing: ${missing.mkString(",")}")
    tail
  }

  /** A checkpoint's parquet (classic single-file or all parts of a
    * multi-part one) as a frame. Every named part must exist — loading
    * a subset would silently reconstruct a partial snapshot, so missing
    * parts fail loudly by name. mergeSchema: a foreign MULTI-PART
    * checkpoint may split action kinds across parts with heterogeneous
    * file schemas. */
  private def checkpointFrame(spark: SparkSession, dir: String,
      cp: CheckpointPointer): DataFrame = {
    val cls = checkpointPaths(dir, cp.version, cp.parts)
    val gone = cls.filterNot(Files.isRegularFile(_))
    require(gone.isEmpty,
      s"_last_checkpoint names v${cp.version}" +
        s"${cp.parts.map(n => s" ($n parts)").getOrElse("")} but " +
        s"checkpoint file(s) ${gone.map(_.getFileName).mkString(", ")} " +
        "are missing")
    spark.read.option("mergeSchema", "true").parquet(cls.map(_.toString): _*)
  }

  /** Load a checkpoint into replay state. The collect is bounded: a
    * checkpoint holds O(live files) metadata rows — the same
    * driver-side cost every Delta reader pays to load a snapshot. */
  private def loadCheckpoint(spark: SparkSession, dir: String,
      cp: CheckpointPointer, keepStats: Boolean = true): ReplayState = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = cp.version
    val cpDf = checkpointFrame(spark, dir, cp)
    // the executor-side stats NULLing a no-prune consumer wants — the
    // driver then holds only paths/partitionValues/DV descriptors
    // instead of ~1 KB of stats string per live file (the 10⁶-file
    // driver-memory hazard)
    val hasAddStats = cpDf.schema.fields.find(_.name == "add").exists(
      _.dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          st.fieldNames.contains("stats")
        case _ => false
      })
    val rows: Array[org.apache.spark.sql.Row] =
      (if (keepStats || !hasAddStats) cpDf
       else cpDf.withColumn("add",
         col("add").withField("stats",
           lit(null).cast(org.apache.spark.sql.types.StringType))))
        .collect()
    val st = new ReplayState
    st.keepStats = keepStats
    rows.foreach { r =>
      structField(r, "protocol").foreach { p =>
        val line = protocolLineOfRow(p)
        // same gate as the JSON replay: v1 native, v3 accepted iff
        // every reader feature is implemented, everything else refused
        // BY NAME. The row is re-rendered as a protocol line so one
        // checker owns the policy.
        checkReaderProtocol(line, s"in checkpoint v$v")
        st.protocol = line
      }
      structField(r, "metaData").foreach(m => st.meta = metaLineOfRow(m))
      structField(r, "add").foreach { a =>
        val p = a.getAs[String]("path")
        st.live += p
        val pvIdx = a.schema.fieldNames.indexOf("partitionValues")
        if (pvIdx >= 0 && !a.isNullAt(pvIdx))
          st.pvals(p) = a.getMap[String, String](pvIdx).toMap
        val si = a.schema.fieldNames.indexOf("stats")
        if (si >= 0 && !a.isNullAt(si)) st.stats(p) = a.getString(si)
        // a foreign checkpoint may carry per-file deletionVector
        // structs — parse them into the same descriptor the JSON
        // replay produces, so a checkpointed DV table reads correctly
        val dvIdx = a.schema.fieldNames.indexOf("deletionVector")
        if (dvIdx >= 0 && !a.isNullAt(dvIdx))
          st.dvs(p) = dvDescriptorOfRow(a.getStruct(dvIdx))
      }
      structField(r, "txn").foreach { t =>
        val app = t.getAs[String]("appId")
        val ver = t.getAs[Long]("version")
        st.txns(app) = math.max(st.txns.getOrElse(app, Long.MinValue), ver)
      }
      structField(r, "domainMetadata").foreach { d =>
        st.domains(d.getAs[String]("domain")) = (
          Option(d.getAs[String]("configuration")).getOrElse(""),
          d.getAs[Boolean]("removed"))
      }
      // remove rows in a checkpoint are expired tombstones, never live
      structField(r, "remove").foreach(rm => st.live -= rm.getAs[String]("path"))
    }
    st
  }

  /** Non-null struct field of a checkpoint row, by name. */
  private def structField(r: org.apache.spark.sql.Row,
      name: String): Option[org.apache.spark.sql.Row] = {
    val i = r.schema.fieldNames.indexOf(name)
    if (i >= 0 && !r.isNullAt(i)) Some(r.getStruct(i)) else None
  }

  /** Re-render a checkpoint protocol struct as the JSON action line —
    * one renderer so [[checkReaderProtocol]] owns the gate policy for
    * both log and checkpoint spellings. */
  private def protocolLineOfRow(p: org.apache.spark.sql.Row): String = {
    val rfIdx = p.schema.fieldNames.indexOf("readerFeatures")
    val rf =
      if (rfIdx >= 0 && !p.isNullAt(rfIdx))
        p.getSeq[String](rfIdx).map(f => s""""${esc(f)}"""")
          .mkString(""","readerFeatures":[""", ",", "]")
      else ""
    val wfIdx = p.schema.fieldNames.indexOf("writerFeatures")
    val wf =
      if (wfIdx >= 0 && !p.isNullAt(wfIdx))
        p.getSeq[String](wfIdx).map(f => s""""${esc(f)}"""")
          .mkString(""","writerFeatures":[""", ",", "]")
      else ""
    val mwvIdx = p.schema.fieldNames.indexOf("minWriterVersion")
    val mwv = if (mwvIdx >= 0 && !p.isNullAt(mwvIdx)) p.getInt(mwvIdx) else 2
    s"""{"protocol":{"minReaderVersion":${p.getAs[Int]("minReaderVersion")},"minWriterVersion":$mwv$rf$wf}}"""
  }

  /** Re-render a checkpoint metaData struct as the JSON action line.
    * The configuration map carries semantics (CHECK constraints,
    * column-mapping mode, table properties) — re-rendered so
    * post-expiry readers keep enforcing/translating. */
  private def metaLineOfRow(m: org.apache.spark.sql.Row): String = {
    def str(f: String) = m.getAs[String](f)
    val ctIdx = m.schema.fieldNames.indexOf("createdTime")
    val ct = if (ctIdx >= 0 && !m.isNullAt(ctIdx)) m.getLong(ctIdx) else 0L
    val pcIdx = m.schema.fieldNames.indexOf("partitionColumns")
    val pcols =
      if (pcIdx >= 0 && !m.isNullAt(pcIdx))
        m.getSeq[String](pcIdx).map(c => s""""${esc(c)}"""")
          .mkString(",")
      else ""
    val cfIdx = m.schema.fieldNames.indexOf("configuration")
    val conf =
      if (cfIdx >= 0 && !m.isNullAt(cfIdx))
        m.getMap[String, String](cfIdx).toSeq.sortBy(_._1)
          .map { case (k, value) =>
            s""""${esc(k)}":"${esc(value)}"""" }
          .mkString(",")
      else ""
    s"""{"metaData":{"id":"${esc(str("id"))}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(
        str("schemaString"))}","partitionColumns":[$pcols],"configuration":{$conf},"createdTime":$ct}}"""
  }

  /** A checkpoint add's deletionVector struct as the replay
    * descriptor. */
  private def dvDescriptorOfRow(
      d: org.apache.spark.sql.Row): DeletionVectors.Descriptor = {
    def optLong(f: String): Option[Long] = {
      val i = d.schema.fieldNames.indexOf(f)
      if (i >= 0 && !d.isNullAt(i)) Some(d.getAs[Number](i).longValue)
      else None
    }
    DeletionVectors.Descriptor(
      d.getAs[String]("storageType"),
      d.getAs[String]("pathOrInlineDv"),
      optLong("offset"),
      optLong("sizeInBytes").getOrElse(-1L),
      optLong("cardinality").getOrElse(-1L))
  }

  /** Extract the schemaString from the metaData action (JSON-unescaped)
    * so callers can `DataType.fromJson` it. */
  def schemaStringOf(metaDataLine: String): String = {
    val re = """"schemaString":"((?:[^"\\]|\\.)*)"""".r
    val raw = re.findFirstMatchIn(metaDataLine)
      .getOrElse(throw new IllegalStateException("no schemaString")).group(1)
    unescapeJson(raw)
  }

  /** Inverse of [[esc]] for a captured JSON string value. */
  private[core] def unescapeJson(raw: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < raw.length) {
      raw(i) match {
        case '\\' if i + 1 < raw.length =>
          raw(i + 1) match {
            case '"'  => sb += '"'; i += 2
            case '\\' => sb += '\\'; i += 2
            case 'n'  => sb += '\n'; i += 2
            case 'r'  => sb += '\r'; i += 2
            case 't'  => sb += '\t'; i += 2
            case 'u' =>
              sb += Integer.parseInt(raw.substring(i + 2, i + 6), 16).toChar
              i += 6
            case c => sb += c; i += 2
          }
        case c => sb += c; i += 1
      }
    }
    sb.toString
  }
}
