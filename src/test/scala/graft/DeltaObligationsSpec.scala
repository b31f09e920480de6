package graft

import org.apache.spark.sql.functions._

import graft.core.DeltaExport

/** Writer-obligation tests: the protocol binds WRITERS to table
  * properties and schema metadata, not just readers to features.
  * graft enforces delta.appendOnly and legacy column invariants, and
  * refuses by name the obligations it cannot honor (change-data-feed
  * emission, generated/identity column computation). Fixtures flip the
  * properties by editing the v0 metaData, the foreign-writer
  * posture. */
class DeltaObligationsSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(conf: String = ""): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_obligations").toString
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal").repartition(1), dir)
    if (conf.nonEmpty) {
      val p = java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000000.json")
      val raw = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      java.nio.file.Files.write(p,
        raw.replace(""""configuration":{}""",
          s""""configuration":{$conf}""").getBytes("UTF-8"))
    }
    dir
  }

  test("delta.appendOnly: appends and dataChange=false maintenance work; every data-removing writer refuses by name") {
    val dir = newTable(""""delta.appendOnly":"true"""")
    DeltaExport.appendDeltaTable(spark,
      Seq((3L, 30.0)).toDF("id", "bal"), dir)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 3L)
    for ((name, op) <- Seq[(String, () => Any)](
        ("merge-delete", () => DeltaExport.mergeDeltaTable(spark,
          Seq((1L, 10.0, true)).toDF("id", "bal", "del"), dir, Seq("id"),
          Some("del"))),
        ("deleteDv", () => DeltaExport.deleteFromDeltaTableDv(spark, dir,
          col("id") === 1L)),
        ("updateDv", () => DeltaExport.updateDeltaTableDv(spark, dir,
          col("id") === 1L, Map("bal" -> lit(99.0)))),
        ("overwrite", () => DeltaExport.overwriteDeltaTable(spark,
          Seq((9L, 9.0)).toDF("id", "bal"), dir)),
        ("merge-touching", () => DeltaExport.mergeDeltaTable(spark,
          Seq((1L, 11.0)).toDF("id", "bal"), dir, Seq("id"))),
        ("restore", () => DeltaExport.restoreDeltaTable(spark, dir, 0L)))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("APPEND-ONLY"), s"$name: ${e.getMessage}")
    }
    // a PURE-INSERT merge commits no removes — append-shaped, allowed
    DeltaExport.mergeDeltaTable(spark,
      Seq((4L, 40.0)).toDF("id", "bal"), dir, Seq("id"))
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 4L)
    // dataChange=false maintenance stays allowed
    DeltaExport.optimizeDeltaTable(spark, dir, targetFiles = 1)
    DeltaExport.checkpointDeltaTable(spark, dir)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 4L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("delta.enableChangeDataFeed: appends pass, the DML triad emits change data, non-emitting writers refuse by name") {
    val dir = newTable(""""delta.enableChangeDataFeed":"true"""")
    DeltaExport.appendDeltaTable(spark,
      Seq((3L, 30.0)).toDF("id", "bal"), dir)
    // since r18 the obligation is HONORED, not refused: the DML triad
    // writes _change_data + cdc actions (contract ≡ CDC derivation,
    // DeltaCdfSpec); only non-emitting writers still refuse
    val vDel = DeltaExport.deleteFromDeltaTableDv(spark, dir,
      col("id") === 1L)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "_change_data")))
    assert(DeltaExport.readDeltaCdf(spark, dir, vDel - 1, Some(vDel))
      .select("_change_type").collect().map(_.getString(0)).toSeq ===
      Seq("delete"))
    val vUpd = DeltaExport.updateDeltaTableDv(spark, dir,
      col("id") === 2L, Map("bal" -> lit(1.0)))
    assert(DeltaExport.readDeltaCdf(spark, dir, vUpd - 1, Some(vUpd))
      .select("_change_type").distinct().collect()
      .map(_.getString(0)).sorted.toSeq ===
      Seq("update_postimage", "update_preimage"))
    // a SCHEMA-CHANGING overwrite honors the obligation too since
    // r19: its feed emits in its OWN commit's schema (departing rows
    // aligned into it — DeltaCdfSpec holds the value-level coverage)
    val vOw = DeltaExport.overwriteDeltaTable(spark,
      Seq((9L, "nine")).toDF("id", "label"), dir)
    val feed = DeltaExport.readDeltaCdf(spark, dir, vOw - 1, Some(vOw))
    assert(feed.schema.fieldNames.toSeq ===
      Seq("id", "label", "_change_type", "_commit_version"))
    assert(feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("delete" -> 2L, "insert" -> 1L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("generated and identity columns refuse row-adding writes by name") {
    import org.apache.spark.sql.types._
    def fixture(md: Metadata): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_obl_gen").toString
      DeltaExport.writeDeltaTable(spark,
        Seq((1L, 10.0)).toDF("id", "bal").repartition(1), dir)
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = true),
        StructField("bal", DoubleType, nullable = true, md)))
      val p = java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000000.json")
      val raw = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val escd = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
      java.nio.file.Files.write(p, raw.replaceAll(
        """"schemaString":"((?:[^"\\]|\\.)*)"""",
        java.util.regex.Matcher.quoteReplacement(
          s""""schemaString":"$escd"""")).getBytes("UTF-8"))
      dir
    }
    // GENERATED columns VALIDATE since r18: a batch whose provided
    // value EQUALS the generation expression lands; a mismatch refuses
    // naming the column (the protocol's explicit-values rule)
    val gen = fixture(new MetadataBuilder()
      .putString("delta.generationExpression", "id * 2").build())
    DeltaExport.appendDeltaTable(spark,
      Seq((2L, 4.0)).toDF("id", "bal"), gen)
    assert(DeltaExport.readDeltaTable(spark, gen).count() === 2L)
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((3L, 5.0)).toDF("id", "bal"), gen))
    assert(e.getMessage.contains("GENERATED") &&
      e.getMessage.contains("bal"), e.getMessage)
    // IDENTITY: the ALWAYS form (no explicit inserts) still refuses by
    // name; GENERATED BY DEFAULT (allowExplicitInsert=true) accepts
    // the batch's own values
    val ident = fixture(new MetadataBuilder()
      .putLong("delta.identity.start", 1L).build())
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((2L, 4.0)).toDF("id", "bal"), ident))
    assert(e2.getMessage.contains("identity"), e2.getMessage)
    val identByDefault = fixture(new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build())
    DeltaExport.appendDeltaTable(spark,
      Seq((2L, 4.0)).toDF("id", "bal"), identByDefault)
    assert(DeltaExport.readDeltaTable(spark, identByDefault).count() === 2L)
    Seq(gen, ident, identByDefault).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    ()
  }

  test("legacy column invariants gate every added batch, FALSE and NULL both violating") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_obl_inv").toString
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, Option(10.0))).toDF("id", "bal").repartition(1), dir)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("bal", DoubleType, nullable = true,
        new MetadataBuilder().putString("delta.invariants",
          """{"expression":{"expression":"bal > 0.0"}}""").build())))
    val p = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000000.json")
    val raw = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val escd = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.write(p, raw.replaceAll(
      """"schemaString":"((?:[^"\\]|\\.)*)"""",
      java.util.regex.Matcher.quoteReplacement(
        s""""schemaString":"$escd"""")).getBytes("UTF-8"))
    val eFalse = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((2L, Option(-1.0))).toDF("id", "bal"), dir))
    assert(eFalse.getMessage.contains("INVARIANT") &&
      eFalse.getMessage.contains("bal > 0.0"), eFalse.getMessage)
    val eNull = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((2L, Option.empty[Double])).toDF("id", "bal"), dir))
    assert(eNull.getMessage.contains("INVARIANT"), eNull.getMessage)
    DeltaExport.appendDeltaTable(spark,
      Seq((2L, Option(5.0))).toDF("id", "bal"), dir)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
