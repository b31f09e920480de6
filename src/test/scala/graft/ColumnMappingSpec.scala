package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.DeltaExport

/** Column-mapping tests (reader protocol v2 / table feature
  * `columnMapping`): in 'name' mode parquet stores columns under
  * per-field physical names carried in the schemaString's metadata —
  * the reader scans physically and renames to logical; in 'id' mode
  * (the Databricks default for evolved tables) columns resolve by
  * parquet FIELD ID against delta.columnMapping.id. Fixtures are
  * hand-built protocol-shaped logs, the DeletionVectorSpec posture.
  * Since r18 the WRITERS work too: appends, overwrite, DML, OPTIMIZE
  * and CHECKPOINT land PHYSICAL column names + field ids
  * (toPhysicalFrame); ADD COLUMNS allocates fresh ids/physical names
  * against maxColumnId; upgradeToColumnMapping converts an unmapped
  * table and renameDeltaTableColumn is the metadata-only rename the
  * mapping exists for. Only a schema-CHANGING overwrite still refuses
  * by name. */
class ColumnMappingSpec extends SparkTestBase {
  import spark.implicits._

  private def physField(name: String, dt: DataType, phys: String,
      id: Long): StructField =
    StructField(name, dt, nullable = true,
      new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())

  private def escJson(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def metaLine(schema: StructType, pcols: Seq[String]): String = {
    val pc = pcols.map(c => s""""$c"""").mkString(",")
    s"""{"metaData":{"id":"11111111-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"${escJson(
        schema.json)}","partitionColumns":[$pc],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"9"},"createdTime":1}}"""
  }

  private def writeLog(dir: String, v: Long, lines: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_delta_log"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", f"$v%020d.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  test("name-mode flat table: physical parquet columns read back under logical names; native writers extend it physically") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_flat").toString
    // the FILES carry physical names
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("col-a1", "col-b2")
      .repartition(1).write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      physField("id", LongType, "col-a1", 1L),
      physField("s", StringType, "col-b2", 2L)))
    val file = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine(schema, Nil),
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true}}"""))
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "s"))
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // APPEND lands physically: the fresh file's parquet columns carry
    // the physicalNames, and the logical read unions old + new
    val preAppend = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    DeltaExport.appendDeltaTable(spark, Seq((9L, "z")).toDF("id", "s"), dir)
    val freshFile = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
      .filterNot(preAppend).head
    assert(spark.read.parquet(s"$dir/$freshFile").schema.fieldNames.toSeq
      === Seq("col-a1", "col-b2"))
    assert(DeltaExport.readDeltaTable(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z")))
    // the append's add.stats are PHYSICAL-keyed: a band prune over the
    // logical column still prunes the fresh file from the log alone
    // (the stats-less FIXTURE add stays must-read — candidate 1)
    val (_, cand, liveN) = DeltaExport.readDeltaTablePruned(
      spark, dir, "id", 100.0, 200.0)
    assert(liveN === 2 && cand === 1, s"cand=$cand live=$liveN")
    // MERGE updates a row through the physical scan + physical rewrite
    DeltaExport.mergeDeltaTable(spark,
      Seq((1L, "x"), (20L, "w")).toDF("id", "s"), dir, Seq("id"))
    assert(DeltaExport.readDeltaTable(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "x"), (2L, "b"), (3L, "c"), (9L, "z"), (20L, "w")))
    // OPTIMIZE compacts to one physical-named file
    DeltaExport.optimizeDeltaTable(spark, dir)
    assert(DeltaExport.liveFilesAt(dir, None)._2.size === 1)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 5L)
    // CHECKPOINT + log expiry preserve the mapping: the table still
    // reads logically and a same-schema OVERWRITE still lands
    DeltaExport.checkpointDeltaTable(spark, dir)
    DeltaExport.expireLogBefore(dir)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .schema.fieldNames.toSeq === Seq("id", "s"))
    DeltaExport.overwriteDeltaTable(spark,
      Seq((7L, "q")).toDF("id", "s"), dir)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toSeq === Seq((7L, "q")))
    // schema EVOLUTION allocates a fresh id + uuid physical name for
    // the appended column (maxColumnId rule)
    DeltaExport.evolveDeltaTableSchema(spark, dir,
      schema.add(StructField("extra", LongType, nullable = true)))
    val evolved = org.apache.spark.sql.types.DataType
      .fromJson(DeltaExport.schemaStringOf(
        DeltaExport.snapshotAt(spark, dir, None)._1))
      .asInstanceOf[StructType]
    val extraF = evolved("extra")
    // the fixture's configuration pins maxColumnId=9 — allocation must
    // respect IT, not the max existing field id
    assert(extraF.metadata.getLong("delta.columnMapping.id") === 10L)
    assert(extraF.metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    // standing file reads NULL in the new column; an append carrying
    // it lands under the allocated PHYSICAL name
    assert(DeltaExport.readDeltaTable(spark, dir)
      .filter(col("extra").isNull).count() === 1L)
    DeltaExport.appendDeltaTable(spark,
      Seq((8L, "y", Option(80L))).toDF("id", "s", "extra"), dir)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .filter(col("extra") === 80L).count() === 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("upgrade to column mapping, then RENAME COLUMN as pure metadata — standing files, stats and prunes keep resolving") {
    import graft.core.DeltaExport
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_upgrade").toString
    DeltaExport.writeDeltaTable(spark,
      spark.range(100).select(col("id"), (col("id") * 2).as("bal"))
        .repartitionByRange(2, col("id")), dir)
    // unmapped tables refuse the rename by name — the parquet columns
    // ARE the display names there
    val e = intercept[IllegalArgumentException](
      DeltaExport.renameDeltaTableColumn(spark, dir, "bal", "balance"))
    assert(e.getMessage.contains("upgradeToColumnMapping"), e.getMessage)
    DeltaExport.upgradeToColumnMapping(spark, dir)
    // reads unchanged; protocol upgraded to the mapping levels
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 100L)
    val meta1 = DeltaExport.snapshotAt(spark, dir, None)._1
    assert(meta1.contains(""""delta.columnMapping.mode":"name""""))
    assert(meta1.contains(""""delta.columnMapping.maxColumnId":"2""""))
    // the rename: ONE metaData commit; old files resolve through the
    // unchanged physical name, stats keys keep pruning
    DeltaExport.renameDeltaTableColumn(spark, dir, "bal", "balance")
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "balance"))
    assert(back.agg(sum(col("balance"))).head().getLong(0) === 9900L)
    val (_, cand, live) = DeltaExport.readDeltaTablePruned(
      spark, dir, "id", 0.0, 10.0)
    assert(live === 2 && cand === 1, s"cand=$cand live=$live")
    // appends and DV DML keep working under the NEW logical name
    DeltaExport.appendDeltaTable(spark,
      spark.range(100, 110).select(col("id"), (col("id") * 2).as("balance")),
      dir)
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("balance") === 0L)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 109L)
    // time travel BEFORE the upgrade replays the unmapped schema
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L))
      .schema.fieldNames.toSeq === Seq("id", "bal"))
    // a rename bound by a CHECK constraint refuses by name; an
    // UNRELATED column with a prefix-sharing name does not block it
    DeltaExport.addCheckConstraintDeltaTable(spark, dir, "bpos",
      "balance >= 0")
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.renameDeltaTableColumn(spark, dir, "balance", "b2"))
    assert(e2.getMessage.contains("bpos"), e2.getMessage)
    DeltaExport.renameDeltaTableColumn(spark, dir, "id", "key")
    assert(DeltaExport.readDeltaTable(spark, dir)
      .schema.fieldNames.toSeq === Seq("key", "balance"))
    // a BACKTICK-quoted reference (Spark SQL's identifier quoting)
    // must bind the dependency guard exactly like the bare spelling
    DeltaExport.addCheckConstraintDeltaTable(spark, dir, "bq",
      "`balance` >= 0")
    val e3 = intercept[IllegalArgumentException](
      DeltaExport.renameDeltaTableColumn(spark, dir, "balance", "b3"))
    assert(e3.getMessage.contains("bq"), e3.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("schema-changing OVERWRITE on a mapped table: surviving columns keep their identity, new ones allocate") {
    import graft.core.DeltaExport
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_swow").toString
    DeltaExport.writeDeltaTable(spark,
      spark.range(10).select(col("id"), (col("id") * 2).as("bal")), dir)
    DeltaExport.upgradeToColumnMapping(spark, dir)
    // overwrite with a DIFFERENT schema: id survives (same name+type),
    // bal is gone, note is new
    DeltaExport.overwriteDeltaTable(spark,
      spark.range(3).select(col("id"),
        concat(lit("n"), col("id")).as("note")), dir)
    val after = org.apache.spark.sql.types.DataType
      .fromJson(DeltaExport.schemaStringOf(
        DeltaExport.snapshotAt(spark, dir, None)._1))
      .asInstanceOf[StructType]
    // the SURVIVOR keeps its logged identity (id 1, physical "id");
    // the newcomer allocated id 3 (maxColumnId was 2) + a uuid name
    assert(after("id").metadata.getLong("delta.columnMapping.id") === 1L)
    assert(after("id").metadata
      .getString("delta.columnMapping.physicalName") === "id")
    assert(after("note").metadata.getLong("delta.columnMapping.id") === 3L)
    assert(after("note").metadata
      .getString("delta.columnMapping.physicalName").startsWith("col-"))
    assert(DeltaExport.readDeltaTable(spark, dir)
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "n0"), (1L, "n1"), (2L, "n2")))
    // pre-overwrite time travel keeps the OLD schema and values
    assert(DeltaExport.readDeltaTable(spark, dir, Some(1L))
      .schema.fieldNames.toSeq === Seq("id", "bal"))
    // the new column is immediately renameable — it carries mapping
    DeltaExport.renameDeltaTableColumn(spark, dir, "note", "label")
    assert(DeltaExport.readDeltaTable(spark, dir)
      .schema.fieldNames.toSeq === Seq("id", "label"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("rename of a partition column updates partitionColumns; physical Hive dirs and prunes survive") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_renpart").toString
    DeltaExport.writeDeltaTablePartitioned(spark,
      Seq((1L, "en"), (2L, "en"), (3L, "fr")).toDF("id", "lang"),
      dir, Seq("lang"))
    DeltaExport.upgradeToColumnMapping(spark, dir)
    DeltaExport.renameDeltaTableColumn(spark, dir, "lang", "language")
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "language"))
    // the LOGICAL prune binds the new name; directories stay physical
    val (pruned, cand, live) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("language" -> "fr"))
    assert(cand === 1 && cand < live, s"cand=$cand live=$live")
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(3L))
    // appends route by the new logical name into the OLD physical dir
    DeltaExport.appendDeltaTablePartitioned(spark,
      Seq((4L, "fr")).toDF("id", "language"), dir)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "lang=fr")))
    assert(DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("language" -> "fr"))._1.count() === 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("RESTORE and CDC work on mapped tables: log surgery and DV-aware diffs carry physical metadata verbatim") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_restore").toString
    // v0: file A (ids 1-3); v1 (hand-written, as a foreign writer
    // would): remove A, add B (ids 10-11) — both physical-named
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("col-a1", "col-b2")
      .repartition(1).write.parquet(s"$dir/fa")
    Seq((10L, "x"), (11L, "y")).toDF("col-a1", "col-b2")
      .repartition(1).write.parquet(s"$dir/fb")
    def relOf(sub: String) = {
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
      s"$sub/$f"
    }
    val (ra, rb) = (relOf("fa"), relOf("fb"))
    val schema = StructType(Seq(
      physField("id", LongType, "col-a1", 1L),
      physField("s", StringType, "col-b2", 2L)))
    def add(rel: String) =
      s"""{"add":{"path":"$rel","partitionValues":{},"size":${java.nio.file.Files
          .size(java.nio.file.Paths.get(dir, rel))},"modificationTime":1,"dataChange":true}}"""
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine(schema, Nil), add(ra)))
    writeLog(dir, 1L, Seq(
      """{"commitInfo":{"timestamp":2,"operation":"OVERWRITE"}}""",
      s"""{"remove":{"path":"$ra","deletionTimestamp":2,"dataChange":true}}""",
      add(rb)))
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(10L, 11L))
    // CDC across the overwrite classifies under LOGICAL names
    val cdc = DeltaExport.deltaChangesBetween(spark, dir, 0L, 1L, Seq("id"))
    assert(cdc.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("delete" -> 3L, "insert" -> 2L))
    // RESTORE to v0 is log surgery — works on the mapped table and
    // reads back under logical names
    DeltaExport.restoreDeltaTable(spark, dir, 0L)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("name-mode partitioned table: physical partition dirs and physical-keyed partitionValues prune on LOGICAL filters") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_part").toString
    Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr"))
      .toDF("col-a1", "col-b2", "col-p9")
      .repartition(1).write.partitionBy("col-p9")
      .mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      physField("id", LongType, "col-a1", 1L),
      physField("s", StringType, "col-b2", 2L),
      physField("lang", StringType, "col-p9", 3L)))
    val rels = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .map(p => root.relativize(p).toString).toSeq.sorted
      } finally walk.close()
    }
    val adds = rels.map { rel =>
      val pv = rel.split('/').head.split('=')(1) // physical dir value
      s"""{"add":{"path":"$rel","partitionValues":{"col-p9":"$pv"},"size":${java.nio.file.Files
          .size(java.nio.file.Paths.get(dir, rel))},"modificationTime":1,"dataChange":true}}"""
    }
    // table-features protocol spelling: v3 + readerFeatures columnMapping
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      metaLine(schema, Seq("lang"))) ++ adds)
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "s", "lang"))
    assert(back.orderBy("id").as[(Long, String, String)].collect().toSeq ===
      Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr")))
    // log-only prune on the LOGICAL column and value
    val (pruned, cand, live) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("lang" -> "fr"))
    assert(cand === 1 && live === 2, s"cand=$cand live=$live")
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(3L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def metaWithMode(sch: StructType, mode: String): String =
    s"""{"metaData":{"id":"11111111-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"${escJson(
        sch.json)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"$mode"},"createdTime":1}}"""

  test("id-mode flat table: columns resolve by parquet FIELD ID, not by any name; appends land with footer ids") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_id").toString
    // the FILE's column names match NEITHER the logical names nor the
    // schemaString's physicalNames — only the footer field ids line
    // up, so a passing read proves genuine id resolution
    val fid = (n: Long) => new MetadataBuilder()
      .putLong("parquet.field.id", n).build()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("x", "y")
      .select(col("x").as("fileonly-x", fid(1L)),
        col("y").as("fileonly-y", fid(2L)))
      .repartition(1).write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      physField("id", LongType, "col-a1", 1L),
      physField("s", StringType, "col-b2", 2L)))
    val file = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaWithMode(schema, "id"),
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true}}"""))
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "s"))
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel goes through the same resolution
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 3L)
    // the field-id flag lives on a CHILD session — the caller's conf
    // is never flipped behind its back
    assert(spark.conf.get("spark.sql.parquet.fieldId.read.enabled")
      === "false")
    // APPEND lands a file whose parquet columns are the PHYSICAL
    // names ("col-a1"/"col-b2") — matching NEITHER the fixture file's
    // names nor the logical ones — so the union read returning every
    // row non-null proves both files resolve by FOOTER FIELD ID
    DeltaExport.appendDeltaTable(spark, Seq((9L, "z")).toDF("id", "s"), dir)
    val allRows = DeltaExport.readDeltaTable(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(allRows === Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z")))
    // and the fresh add's stats (physical-keyed) still prune — only
    // the stats-less fixture file stays must-read
    val (_, cand, liveN) = DeltaExport.readDeltaTablePruned(
      spark, dir, "id", 100.0, 200.0)
    assert(liveN === 2 && cand === 1, s"cand=$cand live=$liveN")
    // a malformed id-mode table (field with no columnMapping.id) is
    // refused by name, not silently name-matched
    val noId = StructType(Seq(
      physField("id", LongType, "col-a1", 1L),
      StructField("s", StringType, nullable = true)))
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaWithMode(noId, "id"),
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true}}"""))
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.readDeltaTable(spark, dir).collect())
    assert(e2.getMessage.contains("delta.columnMapping.id"), e2.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("id-mode table with a deletion vector: field-id resolution and DV masking compose") {
    import graft.core.DeletionVectors
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_id_dv").toString
    val fid = (n: Long) => new MetadataBuilder()
      .putLong("parquet.field.id", n).build()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("x", "y")
      .select(col("x").as("fileonly-x", fid(1L)),
        col("y").as("fileonly-y", fid(2L)))
      .repartition(1).sortWithinPartitions("fileonly-x")
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      physField("id", LongType, "col-a1", 1L),
      physField("s", StringType, "col-b2", 2L)))
    val file = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val dvBytes = DeletionVectors.serializePortable(Seq(1L)) // id 2
    val desc = DeletionVectors.Descriptor("i",
      DeletionVectors.z85encode(dvBytes), None, dvBytes.length.toLong, 1L)
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","deletionVectors"],"writerFeatures":["columnMapping","deletionVectors"]}}""",
      metaWithMode(schema, "id"),
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true,"deletionVector":${DeletionVectors.descriptorJson(desc)}}}"""))
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "s"))
    // position 1 (id 2) masked, columns still resolved by field id
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (3L, "c")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("stats-pruned band read resolves the band column's PHYSICAL stats key") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_prune").toString
    // two files with disjoint id ranges; stats keyed by the physical
    // name (the protocol rule for mapped tables)
    Seq(1L, 2L, 3L).toDF("col-a1").repartition(1)
      .write.parquet(s"$dir/f1")
    Seq(100L, 101L).toDF("col-a1").repartition(1)
      .write.parquet(s"$dir/f2")
    def relOf(sub: String) = {
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
      s"$sub/$f"
    }
    val (r1, r2) = (relOf("f1"), relOf("f2"))
    val schema = StructType(Seq(physField("id", LongType, "col-a1", 1L)))
    def add(rel: String, mn: Long, mx: Long, n: Long) =
      s"""{"add":{"path":"$rel","partitionValues":{},"size":${java.nio.file.Files
          .size(java.nio.file.Paths.get(dir, rel))},"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":$n,\\"minValues\\":{\\"col-a1\\":$mn},\\"maxValues\\":{\\"col-a1\\":$mx},\\"nullCount\\":{\\"col-a1\\":0}}"}}"""
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine(schema, Nil),
      add(r1, 1L, 3L, 3L), add(r2, 100L, 101L, 2L)))
    // band over the LOGICAL column name must prune file 2 from the
    // LOG alone (physical stats key resolved through the mapping)
    val (out, cand, live) = DeltaExport.readDeltaTablePruned(
      spark, dir, "id", 1.0, 10.0)
    assert(live === 2 && cand === 1, s"cand=$cand live=$live")
    assert(out.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  // ---- nested-struct column mapping (r19) ----

  /** Logical schema every nested fixture shares: k bigint, obj
    * struct<a bigint, b string> — with physical names that differ
    * from the display names AT EVERY DEPTH, so a passing read proves
    * the nested layer resolves (a reader that matched nested fields
    * by display name would find nothing). */
  private def nestedLogical: StructType = StructType(Seq(
    physField("k", LongType, "col-k1", 1L),
    StructField("obj", StructType(Seq(
        physField("a", LongType, "col-a3", 3L),
        physField("b", StringType, "col-b4", 4L))), nullable = true,
      new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", "col-obj2")
        .putLong("delta.columnMapping.id", 2L).build())))

  /** One parquet fixture file whose columns carry the PHYSICAL names
    * of [[nestedLogical]] (col-k1, col-obj2<col-a3, col-b4>) AND
    * footer field ids 1/2/3/4 at the matching depths — what a
    * Databricks writer lands for that mapped table. Returns the file
    * name. */
  private def writeNestedFixture(dir: String): String = {
    val fileSchema = StructType(Seq(
      StructField("col-k1", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("col-obj2", StructType(Seq(
          StructField("col-a3", LongType, nullable = true,
            new MetadataBuilder().putLong("parquet.field.id", 3L).build()),
          StructField("col-b4", StringType, nullable = true,
            new MetadataBuilder().putLong("parquet.field.id", 4L).build()))),
        nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(10L, "x")),
      org.apache.spark.sql.Row(2L, org.apache.spark.sql.Row(20L, "y")),
      org.apache.spark.sql.Row(3L, org.apache.spark.sql.Row(30L, "z")))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), fileSchema)
      .write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
  }

  test("nested mapping resolves in BOTH modes: physical names at every depth (name), footer ids at every depth (id)") {
    for (mode <- Seq("name", "id")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_cm_nested_$mode").toString
      val file = writeNestedFixture(dir)
      writeLog(dir, 0L, Seq(
        """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        metaWithMode(nestedLogical, mode),
        s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true}}"""))
      val back = DeltaExport.readDeltaTable(spark, dir)
      assert(back.schema.fieldNames.toSeq === Seq("k", "obj"))
      assert(back.schema("obj").dataType
        .asInstanceOf[StructType].fieldNames.toSeq === Seq("a", "b"),
        s"$mode: nested display names")
      val got = back.orderBy("k")
        .select(col("k"), col("obj.a"), col("obj.b"))
        .as[(Long, Long, String)].collect().toSeq
      assert(got === Seq((1L, 10L, "x"), (2L, 20L, "y"), (3L, 30L, "z")),
        s"$mode: $got")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("id-mode refusal walks NESTED fields: a nested field without an id refuses by path, never name-matches") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_nested_noid").toString
    val file = writeNestedFixture(dir)
    val noNestedId = StructType(Seq(
      physField("k", LongType, "col-k1", 1L),
      StructField("obj", StructType(Seq(
          physField("a", LongType, "col-a3", 3L),
          StructField("b", StringType, nullable = true))), nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-obj2")
          .putLong("delta.columnMapping.id", 2L).build())))
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaWithMode(noNestedId, "id"),
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException](
      DeltaExport.readDeltaTable(spark, dir).collect())
    assert(e.getMessage.contains("obj.b") &&
      e.getMessage.contains("delta.columnMapping.id"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("id-mode nested round trip: rename the struct's parent, append, DV delete, pruned band read") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_nested_id_rt").toString
    val file = writeNestedFixture(dir)
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaWithMode(nestedLogical, "id"),
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true}}"""))
    // rename the struct column — metadata-only; nested ids untouched
    DeltaExport.renameDeltaTableColumn(spark, dir, "obj", "record")
    // append a PLAIN frame (no mapping metadata anywhere) — the
    // physical write must land col-obj2<col-a3,col-b4> + footer ids
    val batchSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("record", StructType(Seq(
        StructField("a", LongType, nullable = true),
        StructField("b", StringType, nullable = true))), nullable = true)))
    DeltaExport.appendDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(4L, org.apache.spark.sql.Row(40L, "w"))), 1),
      batchSchema), dir)
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("k") === 2L)
    val back = DeltaExport.readDeltaTable(spark, dir).orderBy("k")
      .select(col("k"), col("record.a"), col("record.b"))
      .as[(Long, Long, String)].collect().toSeq
    assert(back === Seq((1L, 10L, "x"), (3L, 30L, "z"), (4L, 40L, "w")),
      back.toString)
    // the appended add's stats prune on the top-level band; the
    // stats-less fixture file stays must-read
    val (_, cand, liveN) = DeltaExport.readDeltaTablePruned(
      spark, dir, "k", 100.0, 200.0)
    assert(liveN === 2 && cand === 1, s"cand=$cand live=$liveN")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("NESTED field rename is metadata-only: display names move, the physical layer and standing bytes never do") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_nested_ren").toString
    val baseSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("obj", StructType(Seq(
        StructField("a", LongType, nullable = true),
        StructField("b", StringType, nullable = true))), nullable = true),
      StructField("arr", ArrayType(LongType), nullable = true)))
    def row(k: Long, a: Long, b: String) =
      org.apache.spark.sql.Row(k, org.apache.spark.sql.Row(a, b), Seq(k))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row(1L, 10L, "x"),
        row(2L, 20L, "y")), 1), baseSchema), dir)
    DeltaExport.upgradeToColumnMapping(spark, dir)
    val filesBefore = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        f.getName -> f.lastModified).toMap
    // rename the NESTED field obj.a -> alpha: one metaData commit
    DeltaExport.renameDeltaTableColumn(spark, dir, "obj.a", "alpha")
    assert(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        f.getName -> f.lastModified).toMap === filesBefore,
      "nested rename touched data files")
    val back = DeltaExport.readDeltaTable(spark, dir).orderBy("k")
      .select(col("k"), col("obj.alpha"), col("obj.b"))
      .as[(Long, Long, String)].collect().toSeq
    assert(back === Seq((1L, 10L, "x"), (2L, 20L, "y")), back.toString)
    // append under the NEW display name lands the SAME physical column
    val newSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("obj", StructType(Seq(
        StructField("alpha", LongType, nullable = true),
        StructField("b", StringType, nullable = true))), nullable = true),
      StructField("arr", ArrayType(LongType), nullable = true)))
    DeltaExport.appendDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(3L,
          org.apache.spark.sql.Row(30L, "z"), Seq(3L))), 1),
      newSchema), dir)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .agg(sum(col("obj.alpha"))).head().getLong(0) === 60L)
    // a CHECK constraint binding obj.b blocks its rename — and blocks
    // renaming the PARENT too (the dotted spelling contains it)
    DeltaExport.addCheckConstraintDeltaTable(spark, dir, "b_set",
      "obj.b IS NOT NULL")
    for ((what, op) <- Seq[(String, () => Any)](
        ("rename leaf", () => DeltaExport
          .renameDeltaTableColumn(spark, dir, "obj.b", "beta")),
        ("rename parent", () => DeltaExport
          .renameDeltaTableColumn(spark, dir, "obj", "rec")))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("b_set"), s"$what: ${e.getMessage}")
    }
    // guards: a path through an array refuses by name; a bad leaf
    // refuses naming the parent set
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.renameDeltaTableColumn(spark, dir, "arr.x", "y"))
    assert(e2.getMessage.contains("STRUCT"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      DeltaExport.renameDeltaTableColumn(spark, dir, "obj.zzz", "y"))
    assert(e3.getMessage.contains("obj.zzz"), e3.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("name-mode nested lifecycle: upgrade assigns ids/names at every depth; rename parent, evolve a struct, append, DV delete, band read") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_nested_life").toString
    val baseSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("obj", StructType(Seq(
        StructField("a", LongType, nullable = true),
        StructField("b", StringType, nullable = true))), nullable = true),
      StructField("tags", ArrayType(StructType(Seq(
        StructField("t", LongType, nullable = true)))), nullable = true)))
    def row(k: Long, a: Long, b: String, t: Long) =
      org.apache.spark.sql.Row(k, org.apache.spark.sql.Row(a, b),
        Seq(org.apache.spark.sql.Row(t)))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(row(1L, 10L, "x", 7L), row(2L, 20L, "y", 8L)), 1),
      baseSchema), dir)
    DeltaExport.upgradeToColumnMapping(spark, dir)
    // EVERY field got identity — k, obj, obj.a, obj.b, tags, tags.t
    val metaTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    assert(metaTxt.contains(""""delta.columnMapping.maxColumnId":"6""""),
      metaTxt)
    // rename the struct's PARENT — the reference's lab/class shape
    DeltaExport.renameDeltaTableColumn(spark, dir, "obj", "record")
    // evolve: a fresh STRUCT column allocates nested ids/uuid names
    val renamed = org.apache.spark.sql.types.DataType
      .fromJson(DeltaExport.schemaStringOf(
        DeltaExport.snapshotAt(spark, dir, None)._1))
      .asInstanceOf[StructType]
    DeltaExport.evolveDeltaTableSchema(spark, dir, renamed.add(
      StructField("meta", StructType(Seq(
        StructField("src", StringType, nullable = true))),
        nullable = true)))
    val evolved = org.apache.spark.sql.types.DataType
      .fromJson(DeltaExport.schemaStringOf(
        DeltaExport.snapshotAt(spark, dir, None)._1))
      .asInstanceOf[StructType]
    val metaField = evolved("meta")
    val srcField = metaField.dataType.asInstanceOf[StructType]("src")
    assert(metaField.metadata.getLong("delta.columnMapping.id") === 7L)
    assert(srcField.metadata.getLong("delta.columnMapping.id") === 8L)
    assert(srcField.metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"), "nested uuid physical name")
    // append under the evolved schema: nested uuid physical names land
    val batchSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("record", StructType(Seq(
        StructField("a", LongType, nullable = true),
        StructField("b", StringType, nullable = true))), nullable = true),
      StructField("tags", ArrayType(StructType(Seq(
        StructField("t", LongType, nullable = true)))), nullable = true),
      StructField("meta", StructType(Seq(
        StructField("src", StringType, nullable = true))),
        nullable = true)))
    DeltaExport.appendDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(3L, org.apache.spark.sql.Row(30L, "z"),
          Seq(org.apache.spark.sql.Row(9L)),
          org.apache.spark.sql.Row("crawl"))), 1),
      batchSchema), dir)
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("k") === 1L)
    val back = DeltaExport.readDeltaTable(spark, dir).orderBy("k")
      .select(col("k"), col("record.a"), col("record.b"),
        expr("tags[0].t"), col("meta.src"))
      .as[(Long, Long, String, Long, Option[String])].collect().toSeq
    // pre-evolution rows read meta as NULL; the DV-masked row is gone
    assert(back === Seq((2L, 20L, "y", 8L, None),
      (3L, 30L, "z", 9L, Some("crawl"))), back.toString)
    // the physical FILE columns are the physical names, not display
    val physCols = spark.read.parquet(
        new java.io.File(dir).listFiles()
          .filter(f => f.getName.endsWith(".parquet"))
          .sortBy(_.getName).last.toString)
      .schema.fieldNames.toSet
    assert(!physCols.contains("record") && !physCols.contains("meta"),
      physCols.toString)
    // stats-band read over the top-level column still prunes
    val (bandDf, _, _) = DeltaExport.readDeltaTablePruned(
      spark, dir, "k", 3.0, 3.0)
    assert(bandDf.filter(col("k") === 3L).count() === 1L)
    // time travel to v0 keeps the UNMAPPED schema + original rows
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("name-mode partitioned table: native append routes to the PHYSICAL Hive directory and the prune still holds") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_part_w").toString
    Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr"))
      .toDF("col-a1", "col-b2", "col-p9")
      .repartition(1).write.partitionBy("col-p9")
      .mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      physField("id", LongType, "col-a1", 1L),
      physField("s", StringType, "col-b2", 2L),
      physField("lang", StringType, "col-p9", 3L)))
    val rels = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .map(p => root.relativize(p).toString).toSeq.sorted
      } finally walk.close()
    }
    val adds = rels.map { rel =>
      val pv = rel.split('/').head.split('=')(1)
      s"""{"add":{"path":"$rel","partitionValues":{"col-p9":"$pv"},"size":${java.nio.file.Files
          .size(java.nio.file.Paths.get(dir, rel))},"modificationTime":1,"dataChange":true}}"""
    }
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine(schema, Seq("lang"))) ++ adds)
    // the append lands under the PHYSICAL partition directory
    DeltaExport.appendDeltaTablePartitioned(spark,
      Seq((4L, "d", "fr")).toDF("id", "s", "lang"), dir)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "col-p9=fr")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "lang=fr")),
      "append must never create a LOGICAL-named partition directory")
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.orderBy("id").as[(Long, String, String)].collect().toSeq ===
      Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr"),
        (4L, "d", "fr")))
    // the LOGICAL prune sees both fr files (fixture + fresh)
    val (pruned, cand, live) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("lang" -> "fr"))
    assert(cand === 2 && live === 3, s"cand=$cand live=$live")
    assert(pruned.select("id").as[Long].collect().sorted.toSeq ===
      Seq(3L, 4L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("mapped-table DML: DV delete masks in place, DV update lands physical images, purge materializes") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cm_dml").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("col-a1", "col-b2")
      .repartition(1).write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      physField("id", LongType, "col-a1", 1L),
      physField("s", StringType, "col-b2", 2L)))
    val file = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    writeLog(dir, 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine(schema, Nil),
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true}}"""))
    // DV DELETE over the LOGICAL predicate — no data file moves
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 2L)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L, 4L))
    // DV UPDATE: old copy masked, new image lands PHYSICAL-named
    val pre = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    DeltaExport.updateDeltaTableDv(spark, dir, col("id") === 3L,
      Map("s" -> lit("C")))
    val freshImg = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
      .filterNot(pre).head
    assert(spark.read.parquet(s"$dir/$freshImg").schema.fieldNames.toSeq
      === Seq("col-a1", "col-b2"))
    assert(DeltaExport.readDeltaTable(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (3L, "C"), (4L, "d")))
    // DV-aware OPTIMIZE rewrites the live files without their masked
    // rows, physically named; content unchanged, vectors gone
    DeltaExport.optimizeDeltaTable(spark, dir)
    assert(DeltaExport.deletionVectorsAt(spark, dir).isEmpty)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (3L, "C"), (4L, "d")))
    // a MERGE delete rewrites through the same physical path
    DeltaExport.mergeDeltaTable(spark,
      Seq((4L, "d", true)).toDF("id", "s", "del"), dir, Seq("id"),
      Some("del"))
    assert(DeltaExport.readDeltaTable(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (3L, "C")))
    // a CHECK constraint added over LOGICAL names gates future writes
    DeltaExport.addCheckConstraintDeltaTable(spark, dir, "pos", "id > 0")
    val bad = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((-5L, "x")).toDF("id", "s"), dir))
    assert(bad.getMessage.contains("pos"), bad.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
