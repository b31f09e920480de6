package graft

import org.apache.spark.sql.functions._

import graft.core.DeltaExport

/** CHANGE DATA FEED tests (writer obligation
  * `delta.enableChangeDataFeed` → protocol `cdc` actions +
  * `_change_data` files): since r18 the DML triad EMITS change data
  * instead of refusing, and [[DeltaExport.readDeltaCdf]] consumes it.
  * The core contract: for every DML commit, the CDF read of that
  * commit equals the log-derived CDC diff (`deltaChangesBetween`) on
  * the same versions — two independent derivations of the same
  * row-level truth. */
class DeltaCdfSpec extends SparkTestBase {
  import spark.implicits._

  /** A fresh CDF-enabled table: id 0..n-1, bal = id * 10; the property
    * lands by configuration surgery on v0 (graft's own writer creates
    * plain tables — CDF arrives on tables made elsewhere). */
  private def newCdfTable(n: Int): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdf").toString
    DeltaExport.writeDeltaTable(spark,
      spark.range(n).select(col("id"), (col("id") * 10).as("bal"))
        .repartition(2), dir)
    val p0 = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000000.json")
    val raw = new String(java.nio.file.Files.readAllBytes(p0), "UTF-8")
    java.nio.file.Files.write(p0, raw.replace(""""configuration":{}""",
      """"configuration":{"delta.enableChangeDataFeed":"true"}""")
      .getBytes("UTF-8"))
    dir
  }

  /** Multiset of (id, bal, _change_type) — the comparison surface both
    * derivations share ( _commit_version is CDF-only). */
  private def changeSet(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long, String), Long] =
    df.select(col("id"), col("bal"), col("_change_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  test("DV delete on a CDF table emits delete rows that match the CDC derivation") {
    val dir = newCdfTable(20)
    val v = DeltaExport.deleteFromDeltaTableDv(spark, dir,
      col("id") % 5 === 0)
    val cdf = DeltaExport.readDeltaCdf(spark, dir, v - 1, Some(v))
    assert(cdf.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("delete"))
    assert(cdf.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(v))
    assert(changeSet(cdf) === changeSet(
      DeltaExport.deltaChangesBetween(spark, dir, v - 1, v, Seq("id"))))
    // a SECOND DV delete feeds only the freshly-masked rows — rows the
    // standing vector already deleted must not re-deliver
    val v2 = DeltaExport.deleteFromDeltaTableDv(spark, dir,
      col("id") % 5 === 0 || col("id") === 1L)
    val cdf2 = DeltaExport.readDeltaCdf(spark, dir, v2 - 1, Some(v2))
    assert(changeSet(cdf2) === Map((1L, 10L, "delete") -> 1L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("DV update on a CDF table emits pre/post image pairs that match the CDC derivation") {
    val dir = newCdfTable(12)
    val v = DeltaExport.updateDeltaTableDv(spark, dir, col("id") < 3,
      Map("bal" -> (col("bal") + 1L)))
    val cdf = DeltaExport.readDeltaCdf(spark, dir, v - 1, Some(v))
    assert(changeSet(cdf) === changeSet(
      DeltaExport.deltaChangesBetween(spark, dir, v - 1, v, Seq("id"))))
    assert(changeSet(cdf).keys.map(_._3).toSet ===
      Set("update_preimage", "update_postimage"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("MERGE on a CDF table matches the CDC derivation; appends synthesize inserts") {
    val dir = newCdfTable(10)
    // append-shaped commit: no cdc actions, inserts synthesized
    val vA = DeltaExport.appendDeltaTable(spark,
      Seq((100L, 1000L), (101L, 1010L)).toDF("id", "bal"), dir)
    val cdfA = DeltaExport.readDeltaCdf(spark, dir, vA - 1, Some(vA))
    assert(changeSet(cdfA) ===
      Map((100L, 1000L, "insert") -> 1L, (101L, 1010L, "insert") -> 1L))
    // MERGE: one update (id 1), one delete-flag (id 2), one insert
    // (id 50); unmatched carry-over rows of touched files must NOT
    // appear in the feed (they did not change)
    val batch = Seq((1L, 999L, false), (2L, 0L, true), (50L, 500L, false))
      .toDF("id", "bal", "del")
    val vM = DeltaExport.mergeDeltaTable(spark, batch, dir, Seq("id"),
      deleteCol = Some("del"))
    val cdfM = DeltaExport.readDeltaCdf(spark, dir, vM - 1, Some(vM))
    assert(changeSet(cdfM) === changeSet(
      DeltaExport.deltaChangesBetween(spark, dir, vM - 1, vM, Seq("id"))))
    assert(changeSet(cdfM) === Map(
      (1L, 10L, "update_preimage") -> 1L,
      (1L, 999L, "update_postimage") -> 1L,
      (2L, 20L, "delete") -> 1L,
      (50L, 500L, "insert") -> 1L))
    // the WHOLE range in one read spans both commits, tagged by commit
    // version
    val all = DeltaExport.readDeltaCdf(spark, dir, vA - 1, Some(vM))
    assert(all.select("_commit_version").distinct().count() === 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("partitioned CDF table: change files land in Hive dirs under _change_data and read back with partition columns") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdf_part").toString
    DeltaExport.writeDeltaTablePartitioned(spark,
      Seq((1L, 10L, "en"), (2L, 20L, "en"), (3L, 30L, "fr"))
        .toDF("id", "bal", "lang"), dir, Seq("lang"))
    val p0 = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000000.json")
    val raw = new String(java.nio.file.Files.readAllBytes(p0), "UTF-8")
    java.nio.file.Files.write(p0, raw.replace(""""configuration":{}""",
      """"configuration":{"delta.enableChangeDataFeed":"true"}""")
      .getBytes("UTF-8"))
    val v = DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 2L)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "_change_data", "lang=en")))
    val cdf = DeltaExport.readDeltaCdf(spark, dir, v - 1, Some(v))
    assert(cdf.select("id", "bal", "lang", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSeq === Seq((2L, 20L, "en", "delete")))
    // vacuum must never reclaim _change_data (it is cdc-referenced,
    // not add-referenced)
    DeltaExport.vacuumDeltaTable(spark, dir)
    assert(DeltaExport.readDeltaCdf(spark, dir, v - 1, Some(v))
      .count() === 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a data-removing commit WITHOUT cdc actions refuses the CDF read by name; expired ranges refuse too") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdf_refuse").toString
    DeltaExport.writeDeltaTable(spark,
      spark.range(8).select(col("id"), (col("id") * 10).as("bal")), dir)
    // v1: a change commit from BEFORE the table enabled CDF
    val v1 = DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 3L)
    val e = intercept[IllegalStateException](
      DeltaExport.readDeltaCdf(spark, dir, v1 - 1, Some(v1)).collect())
    assert(e.getMessage.contains("cdc"), e.getMessage)
    // checkpoint + expiry: the range is gone, refused by name
    DeltaExport.checkpointDeltaTable(spark, dir)
    DeltaExport.expireLogBefore(dir)
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.readDeltaCdf(spark, dir, 0L, Some(v1)))
    assert(e2.getMessage.contains("expired"), e2.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("an idempotent merge (all carry-overs) still commits a cdc action; maintenance-only ranges read as an EMPTY feed") {
    val dir = newCdfTable(10)
    // merge the table's own rows back: every match is an identical
    // carry-over — files rewrite (removes land) but the change set is
    // EMPTY. The commit must still carry a cdc action, or every later
    // CDF read of the range refuses.
    val vM = DeltaExport.mergeDeltaTable(spark,
      spark.range(5).select(col("id"), (col("id") * 10).as("bal")),
      dir, Seq("id"))
    val cdfM = DeltaExport.readDeltaCdf(spark, dir, vM - 1, Some(vM))
    assert(cdfM.count() === 0L, "identical carry-overs are non-changes")
    // a maintenance-only range is an empty feed with the right schema,
    // not an error (the quiet poll cycle)
    val vO = DeltaExport.optimizeDeltaTable(spark, dir, targetFiles = 1)
    val quiet = DeltaExport.readDeltaCdf(spark, dir, vO - 1, Some(vO))
    assert(quiet.count() === 0L)
    assert(quiet.schema.fieldNames.toSeq ===
      Seq("id", "bal", "_change_type", "_commit_version"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("vacuum reclaims _change_data only after its cdc actions expire with the log") {
    val dir = newCdfTable(10)
    val v = DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 2L)
    assert(DeltaExport.readDeltaCdf(spark, dir, v - 1, Some(v)).count() === 1L)
    // while the cdc action survives, the file is reachable — kept
    assert(!DeltaExport.vacuumDeltaTable(spark, dir)
      .exists(_.startsWith("_change_data/")))
    // checkpoint + expiry discard the cdc action → the file is
    // unreachable litter and retention-0 vacuum reclaims it
    DeltaExport.checkpointDeltaTable(spark, dir)
    DeltaExport.expireLogBefore(dir)
    val reclaimed = DeltaExport.vacuumDeltaTable(spark, dir)
    assert(reclaimed.exists(_.startsWith("_change_data/")), reclaimed.toString)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 9L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("non-deterministic DML predicates refuse by name; a non-deterministic batch pins so feed == table") {
    val dir = newCdfTable(10)
    // rand() predicates select different rows in every job — refused
    // (Delta's rule) for DELETE and UPDATE
    for ((nm, op) <- Seq[(String, () => Any)](
        ("dv delete", () => DeltaExport.deleteFromDeltaTableDv(spark, dir,
          rand() < 0.5)),
        ("dv update", () => DeltaExport.updateDeltaTableDv(spark, dir,
          rand() < 0.5, Map("bal" -> lit(0L)))))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("non-deterministic"), s"$nm: ${e.getMessage}")
    }
    // a merge batch with RANDOM values: validation, the data write and
    // the CDF feed all re-execute the plan — the pin makes every
    // consumer see ONE row set, so the feed's post-images must equal
    // the table's landed rows exactly
    // coalesce keeps the column NON-nullable (the logged schema's
    // contract) while staying non-deterministic
    val batch = spark.range(5).select(col("id"),
      coalesce((rand() * 1000).cast("long"), lit(0L)).as("bal"))
    val v = DeltaExport.mergeDeltaTable(spark, batch, dir, Seq("id"))
    val landed = DeltaExport.readDeltaTable(spark, dir)
      .filter(col("id") < 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fed = DeltaExport.readDeltaCdf(spark, dir, v - 1, Some(v))
      .filter(col("_change_type") === "update_postimage").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fed === landed,
      s"feed/table divergence: fed=$fed landed=$landed")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("OVERWRITE feeds full deletes + inserts; schema-CHANGING overwrite and restore feed in their own commit's schema") {
    val dir = newCdfTable(5)
    val v1 = DeltaExport.overwriteDeltaTable(spark,
      spark.range(100, 103).select(col("id"), (col("id") * 10).as("bal")),
      dir)
    val cdf = DeltaExport.readDeltaCdf(spark, dir, v1 - 1, Some(v1))
    assert(changeSet(cdf) === (
      (0L until 5L).map(i => (i, i * 10, "delete") -> 1L) ++
        (100L until 103L).map(i => (i, i * 10, "insert") -> 1L)).toMap)
    assert(changeSet(cdf) === changeSet(
      DeltaExport.deltaChangesBetween(spark, dir, v1 - 1, v1, Seq("id"))))
    // a SCHEMA-CHANGING overwrite (r19) feeds in ITS OWN commit's
    // schema: departing rows align into it (id survives by name, bal
    // leaves, s reads NULL on the delete side)
    val v2 = DeltaExport.overwriteDeltaTable(spark,
      Seq((1L, "x")).toDF("id", "s"), dir)
    def idsTypes(df: org.apache.spark.sql.DataFrame)
        : Map[(Long, Option[String], String), Long] =
      df.select(col("id"), col("s"), col("_change_type")).collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cdf2 = DeltaExport.readDeltaCdf(spark, dir, v2 - 1, Some(v2))
    assert(cdf2.schema.fieldNames.toSeq ===
      Seq("id", "s", "_change_type", "_commit_version"))
    assert(idsTypes(cdf2) === (
      (100L until 103L).map(i => (i, None: Option[String], "delete") -> 1L)
        :+ ((1L, Some("x"), "insert") -> 1L)).toMap)
    // a range SPANNING the schema change reads each commit at ITS
    // schema and aligns into the until-schema (bal drops, s pads)
    val span = DeltaExport.readDeltaCdf(spark, dir, 0L, Some(v2))
    assert(span.schema.fieldNames.toSeq ===
      Seq("id", "s", "_change_type", "_commit_version"))
    assert(span.count() === 12L) // v1: 5 del + 3 ins; v2: 3 del + 1 ins
    assert(span.filter(col("_commit_version") === v1 &&
      col("s").isNotNull).count() === 0L)
    // RESTORE ACROSS the schema change (r19): the feed emits in the
    // RESTORED schema — the departing (id, s) row aligns into
    // (id, bal) with bal NULL; the returning rows carry their values
    val vR = DeltaExport.restoreDeltaTable(spark, dir, v1)
    val cdfR = DeltaExport.readDeltaCdf(spark, dir, vR - 1, Some(vR))
    assert(cdfR.schema.fieldNames.toSeq ===
      Seq("id", "bal", "_change_type", "_commit_version"))
    val got = cdfR.select(col("id"),
        coalesce(col("bal"), lit(-1L)), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set((1L, -1L, "delete"), (100L, 1000L, "insert"),
      (101L, 1010L, "insert"), (102L, 1020L, "insert")), got.toString)
    // and the restored table reads as v1's snapshot
    assert(changeSet(DeltaExport.readDeltaTable(spark, dir)
        .withColumn("_change_type", lit("live"))) ===
      (100L until 103L).map(i => (i, i * 10, "live") -> 1L).toMap)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a feed range spanning ADD COLUMNS reads old change files at their own schema, NULL-padded into the until-schema") {
    val dir = newCdfTable(6)
    // v1: DV delete under the ORIGINAL schema — change files (id, bal)
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") % 3 === 1L)
    // v2: ADD COLUMNS note (metadata-only; contributes nothing)
    DeltaExport.evolveDeltaTableSchema(spark, dir,
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.DataType.fromJson(
          DeltaExport.schemaStringOf(
            DeltaExport.snapshotAt(spark, dir, None)._1))
          .asInstanceOf[org.apache.spark.sql.types.StructType].fields :+
          org.apache.spark.sql.types.StructField("note",
            org.apache.spark.sql.types.StringType, nullable = true)))
    // v3: append under the evolved schema
    DeltaExport.appendDeltaTable(spark,
      Seq((50L, 500L, "n")).toDF("id", "bal", "note"), dir)
    val span = DeltaExport.readDeltaCdf(spark, dir, 0L, Some(3L))
    assert(span.schema.fieldNames.toSeq ===
      Seq("id", "bal", "note", "_change_type", "_commit_version"))
    val rows = span.select(col("_commit_version"), col("id"),
        col("bal"), col("note"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), r.getString(4))).toSet
    assert(rows === Set(
      (1L, 1L, 10L, None, "delete"), (1L, 4L, 40L, None, "delete"),
      (3L, 50L, 500L, Some("n"), "insert")), rows.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("feed ranges spanning a mapping upgrade + rename keep pre-upgrade history bound through the PHYSICAL identity") {
    // pre-upgrade change files carry no mapping ids; the upgrade sets
    // physicalName = the then-display name, so a later-renamed column
    // must keep binding its pre-upgrade history (matching by display
    // name alone would silently NULL it — the r19 review finding)
    val dir = newCdfTable(6)
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") % 3 === 1) // v1
    DeltaExport.upgradeToColumnMapping(spark, dir)                      // v2
    DeltaExport.renameDeltaTableColumn(spark, dir, "bal", "balance")    // v3
    val span = DeltaExport.readDeltaCdf(spark, dir, 0L, Some(3L))
    assert(span.schema.fieldNames.toSeq ===
      Seq("id", "balance", "_change_type", "_commit_version"))
    val dels = span.filter(col("_change_type") === "delete")
      .select(col("id"), col("balance")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dels === Set((1L, 10L), (4L, 40L)), dels.toString)
    // the MIRROR direction: restoring back to the UNMAPPED v0 aligns
    // the renamed now-schema (balance, phys 'bal') into the unmapped
    // then-schema (bal) — the departing appended row must carry its
    // value through the source's physicalName, never NULL
    DeltaExport.appendDeltaTable(spark,
      Seq((50L, 500L)).toDF("id", "balance"), dir)                    // v4
    val vR = DeltaExport.restoreDeltaTable(spark, dir, 0L)            // v5
    val feedR = DeltaExport.readDeltaCdf(spark, dir, vR - 1, Some(vR))
    assert(feedR.schema.fieldNames.toSeq ===
      Seq("id", "bal", "_change_type", "_commit_version"))
    assert(feedR.filter(col("_change_type") === "delete" &&
        col("id") === 50L)
      .select(col("bal")).head().getLong(0) === 500L)
    // the DV-masked rows return as inserts with their then-values
    assert(feedR.filter(col("_change_type") === "insert")
      .select(col("id")).collect().map(_.getLong(0)).toSet ===
      Set(1L, 4L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("feed ranges spanning a NESTED drop align struct fields one by one — never a field-count cast crash") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdf_nested").toString
    val baseSchema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("obj", StructType(Seq(
        StructField("a", LongType, nullable = true),
        StructField("b", StringType, nullable = true))), nullable = true)))
    def row(id: Long) =
      org.apache.spark.sql.Row(id, org.apache.spark.sql.Row(id * 10, s"s$id"))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 4L).map(row), 1),
      baseSchema), dir)
    val p0 = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000000.json")
    val raw = new String(java.nio.file.Files.readAllBytes(p0), "UTF-8")
    java.nio.file.Files.write(p0, raw.replace(""""configuration":{}""",
      """"configuration":{"delta.enableChangeDataFeed":"true"}""")
      .getBytes("UTF-8"))
    DeltaExport.upgradeToColumnMapping(spark, dir)                     // v1
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 2L)   // v2
    // v3: a foreign writer's metadata-only nested DROP — obj.b leaves
    // the logged schema (mapping metadata kept), the bytes stay put
    val meta2 = DeltaExport.snapshotAt(spark, dir, None)._1
    val schema2 = DataType.fromJson(DeltaExport.schemaStringOf(meta2))
      .asInstanceOf[StructType]
    val dropped = StructType(schema2.fields.map {
      case f if f.name == "obj" => f.copy(dataType = StructType(
        f.dataType.asInstanceOf[StructType].fields.filter(_.name != "b")))
      case f => f
    })
    val escJson = dropped.json.replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000003.json"), (Seq(
        """{"commitInfo":{"timestamp":1,"operation":"DROP COLUMN"}}""",
        """"schemaString":"(?:[^"\\]|\\.)*"""".r.replaceFirstIn(meta2,
          java.util.regex.Matcher.quoteReplacement(
            s""""schemaString":"$escJson""""))).mkString("\n") + "\n")
      .getBytes("UTF-8"))
    // spanning read: v2's change files carry obj{a,b}; the until
    // schema is obj{a} — field-by-field alignment, b just leaves
    val span = DeltaExport.readDeltaCdf(spark, dir, 0L, Some(3L))
    val del = span.filter(col("_change_type") === "delete")
      .select(col("id"), col("obj.a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(del === Set((2L, 20L)), del.toString)
    // RESTORE back across the mapping upgrade itself: the feed emits
    // in the RESTORED (unmapped obj{a,b}) schema — the DV-masked row
    // returns as an insert with BOTH nested fields populated
    val vR = DeltaExport.restoreDeltaTable(spark, dir, 0L)             // v4
    val feedR = DeltaExport.readDeltaCdf(spark, dir, vR - 1, Some(vR))
    assert(feedR.schema("obj").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("a", "b"))
    val ins = feedR.filter(col("_change_type") === "insert")
      .select(col("id"), col("obj.a"), col("obj.b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(ins === Set((2L, 20L, "s2")), ins.toString)
    // and the spanning read ACROSS the restore re-reads v2's change
    // files at their own schema — the dropped-then-restored nested
    // field keeps its REAL value (it was always in the change file)
    val span2 = DeltaExport.readDeltaCdf(spark, dir, 1L, Some(vR))
    assert(span2.filter(col("_commit_version") === 2L &&
      col("_change_type") === "delete")
      .select(col("obj.b")).head().getString(0) === "s2")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("RESTORE across deletion-vector commits feeds exactly the position diff, both directions") {
    val dir = newCdfTable(20)
    val v1 = DeltaExport.deleteFromDeltaTableDv(spark, dir,
      col("id") % 5 === 0) // masks 0, 5, 10, 15
    val v2 = DeltaExport.deleteFromDeltaTableDv(spark, dir,
      col("id") === 1L) // masks 1 on top
    // back to v1: only the freshly-masked row returns — the rows the
    // v1 vector already masked must NOT re-feed
    val vR = DeltaExport.restoreDeltaTable(spark, dir, v1)
    val cdfR = DeltaExport.readDeltaCdf(spark, dir, vR - 1, Some(vR))
    assert(changeSet(cdfR) === Map((1L, 10L, "insert") -> 1L))
    assert(changeSet(cdfR) === changeSet(
      DeltaExport.deltaChangesBetween(spark, dir, vR - 1, vR, Seq("id"))))
    // back to v0: the v1 vector's four rows return
    val vR2 = DeltaExport.restoreDeltaTable(spark, dir, 0L)
    val cdfR2 = DeltaExport.readDeltaCdf(spark, dir, vR2 - 1, Some(vR2))
    assert(changeSet(cdfR2) ===
      Seq(0L, 5L, 10L, 15L).map(i => (i, i * 10, "insert") -> 1L).toMap)
    // forward again to the v2 state: the DELETE direction of the diff
    val vR3 = DeltaExport.restoreDeltaTable(spark, dir, v2)
    val cdfR3 = DeltaExport.readDeltaCdf(spark, dir, vR3 - 1, Some(vR3))
    assert(changeSet(cdfR3) ===
      Seq(0L, 1L, 5L, 10L, 15L).map(i => (i, i * 10, "delete") -> 1L).toMap)
    assert(changeSet(cdfR3) === changeSet(
      DeltaExport.deltaChangesBetween(spark, dir, vR3 - 1, vR3, Seq("id"))))
    // the table itself reads as the v2 snapshot
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 15L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("the governing meta tolerates a gap BELOW the newest surviving metaData; a gap ABOVE it still refuses (ADVICE r19)") {
    val dir = newCdfTable(4)
    // v1: append under the original schema (no metaData action)
    DeltaExport.appendDeltaTable(spark,
      Seq((100L, 1000L)).toDF("id", "bal"), dir)
    // v2: ADD COLUMNS — the metaData-bearing commit a later feed's
    // governing-schema walk lands on
    DeltaExport.evolveDeltaTableSchema(spark, dir,
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.DataType.fromJson(
          DeltaExport.schemaStringOf(
            DeltaExport.snapshotAt(spark, dir, None)._1))
          .asInstanceOf[org.apache.spark.sql.types.StructType].fields :+
          org.apache.spark.sql.types.StructField("note",
            org.apache.spark.sql.types.StringType, nullable = true)))
    // v3: append under the evolved schema — the commit the feed reads
    DeltaExport.appendDeltaTable(spark,
      Seq((200L, 2000L, "n")).toDF("id", "bal", "note"), dir)
    // checkpoint at v3 so the until-snapshot stays reconstructible
    // after the cleanup below
    DeltaExport.checkpointDeltaTable(spark, dir)
    // FOREIGN partial cleanup deletes v1 — a commit BELOW the newest
    // surviving metaData (v2), which supersedes whatever v1 carried.
    // The old full-contiguity rule refused this perfectly attributable
    // feed (ADVICE r19).
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir,
      "_delta_log", "00000000000000000001.json"))
    val feed = DeltaExport.readDeltaCdf(spark, dir, 2L, Some(3L))
    assert(feed.select(col("id"), col("note"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet === Set((200L, "n", "insert")))
    // now delete v2 too: the newest surviving metaData at or before
    // fromVersion drops to v0, and the gap ABOVE it (v1, v2) could
    // have carried a governing schema change — must refuse loudly
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir,
      "_delta_log", "00000000000000000002.json"))
    val e = intercept[IllegalArgumentException](
      DeltaExport.readDeltaCdf(spark, dir, 2L, Some(3L)).collect())
    assert(e.getMessage.contains("missing"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
