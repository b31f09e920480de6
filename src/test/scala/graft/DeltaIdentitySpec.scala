package graft

import org.apache.spark.sql.types._

import graft.core.DeltaExport

/** GENERATED … AS IDENTITY — the r18 turn of the ALWAYS refusal into
  * the feature: a batch that OMITS an identity column gets its values
  * ALLOCATED on the column's grid (start + k·step) strictly past the
  * recorded high watermark, the commit publishes the advanced
  * watermark as a metaData action (plus the identityColumns protocol
  * declaration on first allocation), and explicit BY DEFAULT inserts
  * advance the watermark too, so later allocations can never collide.
  * A table whose rows predate tracking refuses allocation by name
  * until an OVERWRITE with explicit values bootstraps its watermark.
  *
  * Reference behavior anchor: the reference pipeline (README.md,
  * notebook cells) relies on Databricks-managed tables whose surrogate
  * keys Databricks allocates; this is the protocol mechanism behind
  * that (Delta PROTOCOL.md, identity columns / delta.identity.*). */
class DeltaIdentitySpec extends SparkTestBase {
  import spark.implicits._

  /** A fresh table `(id BIGINT identity, v DOUBLE)` whose v0 seeds one
    * row (id = seeded watermark) — identity metadata lands via the
    * creation df's own schema, the writeDeltaTable path. */
  private def identityTable(start: Long, step: Long,
      allowExplicit: Boolean = false, seedWatermark: Long): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_identity").toString
    val mdb = new MetadataBuilder()
      .putLong("delta.identity.start", start)
      .putLong("delta.identity.step", step)
      .putLong("delta.identity.highWaterMark", seedWatermark)
    if (allowExplicit) mdb.putBoolean("delta.identity.allowExplicitInsert", true)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false, mdb.build()),
      StructField("v", DoubleType, nullable = true)))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(seedWatermark, 0.0)), 1), schema), dir)
    dir
  }

  test("omitted ALWAYS identity column allocates on the grid past the watermark and advances it") {
    val dir = identityTable(start = 10L, step = 5L,
      seedWatermark = 10L)
    // batch OMITS id entirely — allocation fills 15, 20, 25 (grid past
    // watermark 10) in partition order
    DeltaExport.appendDeltaTable(spark,
      Seq(1.0, 2.0, 3.0).toDF("v").repartition(2), dir)
    val got = DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(10L, 15L, 20L, 25L))
    // a SECOND omitted append continues from the ADVANCED watermark —
    // the commit published it, a fresh reader replays it
    DeltaExport.appendDeltaTable(spark, Seq(4.0).toDF("v"), dir)
    val got2 = DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got2 === Seq(10L, 15L, 20L, 25L, 30L))
    // the allocation commit declared the identityColumns protocol
    val log1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    assert(log1.contains(""""minWriterVersion":6"""), log1)
    assert(log1.contains("delta.identity.highWaterMark"), log1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("negative step allocates downward; off-grid watermark realigns to the grid") {
    val dir = identityTable(start = 0L, step = -3L,
      seedWatermark = -2L) // off-grid (explicit-insert history)
    DeltaExport.appendDeltaTable(spark,
      Seq(1.0, 2.0).toDF("v").repartition(1), dir)
    val got = DeltaExport.readDeltaTable(spark, dir)
      .filter("v > 0").select("id").as[Long].collect().sorted.toSeq
    // grid 0, -3, -6, …; first value strictly beyond -2 downward is -3
    assert(got === Seq(-6L, -3L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("non-empty table without a watermark refuses allocation by name and commits nothing") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_identity_sync").toString
    val md = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 2L).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false, md),
      StructField("v", DoubleType, nullable = true)))
    // creation rows predate tracking: ids 1, 7 (7 is ON grid 1,3,5,7)
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 0.1),
        org.apache.spark.sql.Row(7L, 0.2)), 1), schema), dir)
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark, Seq(1.0).toDF("v"), dir))
    assert(e.getMessage.contains("records no high watermark") &&
      e.getMessage.contains("'id'"), e.getMessage)
    assert(DeltaExport.logVersions(dir) === Seq(0L),
      "the refused allocation must commit nothing")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("explicit BY DEFAULT inserts advance the watermark so later allocations never collide") {
    val dir = identityTable(start = 1L, step = 1L, allowExplicit = true,
      seedWatermark = 1L)
    // explicit insert far ahead of the watermark
    DeltaExport.appendDeltaTable(spark,
      Seq((100L, 2.0)).toDF("id", "v"), dir)
    // omitted append must allocate PAST 100, not at 2
    DeltaExport.appendDeltaTable(spark, Seq(3.0).toDF("v"), dir)
    val got = DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 100L, 101L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("partitioned and idempotent appends allocate; identity as partition column refuses by name") {
    val dirP = java.nio.file.Files
      .createTempDirectory("graft_identity_part").toString
    val md = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putLong("delta.identity.highWaterMark", 2L).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false, md),
      StructField("part", StringType, nullable = true),
      StructField("v", DoubleType, nullable = true)))
    DeltaExport.writeDeltaTablePartitioned(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "a", 0.1),
        org.apache.spark.sql.Row(2L, "b", 0.2)), 1), schema),
      dirP, Seq("part"))
    DeltaExport.appendDeltaTablePartitioned(spark,
      Seq(("a", 1.0), ("b", 2.0)).toDF("part", "v"), dirP)
    val got = DeltaExport.readDeltaTable(spark, dirP)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 2L, 3L, 4L))
    // idempotent: replaying the SAME txn does not re-allocate
    val (_, landed) = DeltaExport.appendDeltaTableIdempotent(spark,
      Seq(("a", 9.0)).toDF("part", "v"), dirP, "ident-app", 1L)
    assert(landed)
    val (_, replayed) = DeltaExport.appendDeltaTableIdempotent(spark,
      Seq(("a", 9.0)).toDF("part", "v"), dirP, "ident-app", 1L)
    assert(!replayed)
    val got2 = DeltaExport.readDeltaTable(spark, dirP)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got2 === Seq(1L, 2L, 3L, 4L, 5L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirP))

    // identity AS partition column: allocation refuses by name
    val dirQ = java.nio.file.Files
      .createTempDirectory("graft_identity_partcol").toString
    val schemaQ = StructType(Seq(
      StructField("id", LongType, nullable = false, md),
      StructField("v", DoubleType, nullable = true)))
    DeltaExport.writeDeltaTablePartitioned(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 0.1)), 1), schemaQ),
      dirQ, Seq("id"))
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTablePartitioned(spark,
        Seq(5.0).toDF("v"), dirQ))
    assert(e.getMessage.contains("PARTITION"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirQ))
    ()
  }

  test("explicit inserts through MERGE and OVERWRITE advance the watermark too — no path can set up a collision") {
    // MERGE leg: a batch whose inserts carry ids far past the watermark
    val dirM = identityTable(start = 1L, step = 1L, allowExplicit = true,
      seedWatermark = 1L)
    DeltaExport.mergeDeltaTable(spark,
      Seq((50L, 5.0), (60L, 6.0)).toDF("id", "v"), dirM, Seq("id"))
    DeltaExport.appendDeltaTable(spark, Seq(7.0).toDF("v"), dirM)
    val gotM = DeltaExport.readDeltaTable(spark, dirM)
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotM === Seq(1L, 50L, 60L, 61L))

    // OVERWRITE leg: the replacement rows' ids must not be re-issued
    val dirO = identityTable(start = 1L, step = 1L, allowExplicit = true,
      seedWatermark = 1L)
    DeltaExport.overwriteDeltaTable(spark,
      Seq((200L, 2.0)).toDF("id", "v"), dirO)
    DeltaExport.appendDeltaTable(spark, Seq(3.0).toDF("v"), dirO)
    val gotO = DeltaExport.readDeltaTable(spark, dirO)
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotO === Seq(200L, 201L))

    // DV UPDATE leg: a SET that raises the identity value advances it
    val dirU = identityTable(start = 1L, step = 1L, allowExplicit = true,
      seedWatermark = 1L)
    DeltaExport.updateDeltaTableDv(spark, dirU,
      org.apache.spark.sql.functions.col("id") === 1L,
      Map("id" -> org.apache.spark.sql.functions.lit(500L)))
    DeltaExport.appendDeltaTable(spark, Seq(9.0).toDF("v"), dirU)
    val gotU = DeltaExport.readDeltaTable(spark, dirU)
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotU === Seq(500L, 501L))
    Seq(dirM, dirO, dirU).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    ()
  }

  test("a partial slice never BOOTSTRAPS a watermark on an untracked table — the sync refusal survives DML") {
    // BY DEFAULT identity table with rows 1..8 and NO recorded
    // watermark (creation predates tracking)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_identity_boot").toString
    val md = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false, md),
      StructField("v", DoubleType, nullable = true)))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 8L).map(i => org.apache.spark.sql.Row(i, i * 0.5)), 1),
      schema), dir)
    // a MERGE touching only id=5 sees extremum 5 — recording it as the
    // watermark would let a later allocation collide with rows 6..8
    DeltaExport.mergeDeltaTable(spark,
      Seq((5L, 9.9)).toDF("id", "v"), dir, Seq("id"))
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark, Seq(1.0).toDF("v"), dir))
    assert(e.getMessage.contains("records no high watermark"),
      e.getMessage)
    // an OVERWRITE replaces the whole row set, so it may bootstrap the
    // watermark from the TRUE extremum; allocation then continues at 9
    DeltaExport.overwriteDeltaTable(spark,
      DeltaExport.readDeltaTable(spark, dir).localCheckpoint(eager = true),
      dir)
    DeltaExport.appendDeltaTable(spark, Seq(2.0).toDF("v"), dir)
    val got = DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === (1L to 9L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("allocation works on a COLUMN-MAPPED table: physical-named files, watermark in the mapped schema") {
    val dir = identityTable(start = 1L, step = 1L, seedWatermark = 1L)
    DeltaExport.upgradeToColumnMapping(spark, dir)
    DeltaExport.renameDeltaTableColumn(spark, dir, "v", "value")
    // omitted append allocates THROUGH the mapping: the batch fills
    // under logical names, lands under physical ones
    DeltaExport.appendDeltaTable(spark, Seq(2.0).toDF("value"), dir)
    val got = DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 2L))
    // the advanced watermark rides the MAPPED schema — mapping keys
    // survive the metadata surgery, so a second allocation continues
    DeltaExport.appendDeltaTable(spark, Seq(3.0).toDF("value"), dir)
    val got2 = DeltaExport.readDeltaTable(spark, dir)
      .select("id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got2 === Seq((1L, 0.0), (2L, 2.0), (3L, 3.0)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("allocation survives checkpoint + log expiry, and time travel keeps pre-allocation reads") {
    val dir = identityTable(start = 1L, step = 1L,
      seedWatermark = 1L)
    DeltaExport.appendDeltaTable(spark, Seq(1.0).toDF("v"), dir) // id 2
    DeltaExport.checkpointDeltaTable(spark, dir)
    DeltaExport.expireLogBefore(dir)
    // the checkpoint carries the watermark metadata — allocation
    // continues from 2 even with the JSON history gone
    DeltaExport.appendDeltaTable(spark, Seq(2.0).toDF("v"), dir) // id 3
    val got = DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 2L, 3L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
