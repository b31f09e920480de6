package graft

import org.apache.spark.sql.functions._

import graft.core.DeltaExport

/** CHECK-constraint tests: the row-level data contract beside the
  * schema gate. Constraints live as `delta.constraints.<name>`
  * configuration entries (the public protocol's spelling), upgrade
  * the writer protocol when added, survive schema evolution and
  * schema-changing overwrites, and gate every row-adding writer. */
class DeltaConstraintSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_constraint").toString
    // bal is NULLABLE so the constraint gate, not the schema
    // nullability gate, is what a NULL-valued batch exercises
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, Option(10.0)), (2L, Option(20.0)), (3L, Option(30.0)))
        .toDF("id", "bal").repartition(1), dir)
    dir
  }

  test("ADD CONSTRAINT validates the standing table, upgrades the writer protocol, and gates every writer") {
    val dir = newTable()
    // a constraint the standing data violates is refused naming a row
    val badAdd = intercept[IllegalArgumentException](
      DeltaExport.addCheckConstraintDeltaTable(spark, dir,
        "bal_high", "bal > 15.0"))
    assert(badAdd.getMessage.contains("standing table violates"),
      badAdd.getMessage)
    DeltaExport.addCheckConstraintDeltaTable(spark, dir,
      "bal_positive", "bal > 0.0")
    // the commit carries the legacy writer upgrade (2 -> 3)
    val c1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    assert(c1.contains(""""minWriterVersion":3"""), c1)
    assert(c1.contains(""""delta.constraints.bal_positive":"bal > 0.0""""),
      c1)
    // duplicate names refused
    val dup = intercept[IllegalArgumentException](
      DeltaExport.addCheckConstraintDeltaTable(spark, dir,
        "bal_positive", "bal > 1.0"))
    assert(dup.getMessage.contains("already exists"))
    // a second constraint needs NO further protocol action
    DeltaExport.addCheckConstraintDeltaTable(spark, dir,
      "id_positive", "id > 0")
    val c2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000002.json")), "UTF-8")
    assert(!c2.contains("""{"protocol"""), c2)
    // every row-adding writer refuses a violating batch BY NAME —
    // FALSE and NULL both violate, per the protocol
    for ((name, op) <- Seq[(String, () => Any)](
        ("append-false", () => DeltaExport.appendDeltaTable(spark,
          Seq((4L, Option(-1.0))).toDF("id", "bal"), dir)),
        ("append-null", () => DeltaExport.appendDeltaTable(spark,
          Seq((4L, Option.empty[Double])).toDF("id", "bal"), dir)),
        ("overwrite", () => DeltaExport.overwriteDeltaTable(spark,
          Seq((4L, Option(-1.0))).toDF("id", "bal"), dir)),
        ("merge", () => DeltaExport.mergeDeltaTable(spark,
          Seq((2L, Option(-5.0))).toDF("id", "bal"), dir, Seq("id"))),
        ("updateDv", () => DeltaExport.updateDeltaTableDv(spark, dir,
          col("id") === 2L, Map("bal" -> lit(-9.0)))))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("bal_positive"), s"$name: ${e.getMessage}")
    }
    // a conforming batch lands through each writer
    DeltaExport.appendDeltaTable(spark,
      Seq((4L, Option(40.0))).toDF("id", "bal"), dir)
    DeltaExport.mergeDeltaTable(spark,
      Seq((2L, Option(25.0))).toDF("id", "bal"), dir, Seq("id"))
    DeltaExport.updateDeltaTableDv(spark, dir, col("id") === 3L,
      Map("bal" -> (col("bal") + 1.0)))
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 4L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("the idempotent append runs the same guards as every other writer") {
    val dir = newTable()
    DeltaExport.addCheckConstraintDeltaTable(spark, dir,
      "bal_positive", "bal > 0.0")
    // a violating batch cannot sneak in through the exactly-once path
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTableIdempotent(spark,
        Seq((4L, Option(-1.0))).toDF("id", "bal"), dir, "sinkA", 1L))
    assert(e.getMessage.contains("bal_positive"), e.getMessage)
    // the refusal did not burn the txn watermark: the corrected batch
    // at the SAME version still lands
    val (_, landed) = DeltaExport.appendDeltaTableIdempotent(spark,
      Seq((4L, Option(40.0))).toDF("id", "bal"), dir, "sinkA", 1L)
    assert(landed)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 4L)
    // a column-mapped table (here: mode 'name' with pre-upgrade
    // fields, whose physical names ARE the display names) takes the
    // idempotent append natively since r18 — through the same
    // physical-write path as every other writer
    val cmDir = java.nio.file.Files
      .createTempDirectory("graft_constraint_cm").toString
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, Option(1.0))).toDF("id", "bal"), cmDir)
    val meta0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cmDir, "_delta_log",
        "00000000000000000000.json")), "UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(cmDir, "_delta_log",
        "00000000000000000000.json"),
      meta0.replace(""""configuration":{}""",
        """"configuration":{"delta.columnMapping.mode":"name"}""")
        .getBytes("UTF-8"))
    val (_, cmLanded) = DeltaExport.appendDeltaTableIdempotent(spark,
      Seq((2L, Option(2.0))).toDF("id", "bal"), cmDir, "sinkA", 1L)
    assert(cmLanded)
    assert(DeltaExport.readDeltaTable(spark, cmDir).count() === 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cmDir))
  }

  test("ADD CONSTRAINT on a foreign writerFeatures table merges the feature without an illegal readerFeatures") {
    val dir = newTable()
    // rewrite v0's protocol to a foreign {1,7,writerFeatures:[appendOnly]}
    // shape — readerFeatures is only legal at minReaderVersion 3, so the
    // upgrade must NOT invent an empty list
    val p0 = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000000.json")
    val raw = new String(java.nio.file.Files.readAllBytes(p0), "UTF-8")
    java.nio.file.Files.write(p0, raw.replace(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly"]}}""")
      .getBytes("UTF-8"))
    DeltaExport.addCheckConstraintDeltaTable(spark, dir,
      "bal_positive", "bal > 0.0")
    val c1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    assert(c1.contains(""""writerFeatures":["appendOnly","checkConstraints"]"""), c1)
    assert(!c1.contains("readerFeatures"), c1)
    assert(c1.contains(""""minReaderVersion":1"""), c1)
    // the constraint still gates writers through the foreign protocol
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((4L, Option(-1.0))).toDF("id", "bal"), dir))
    assert(e.getMessage.contains("bal_positive"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("constraints survive schema evolution and schema-changing overwrites; expressions with braces replay") {
    val dir = newTable()
    // a CHECK whose expression contains braces and quotes-worthy text —
    // the anchored configuration parser must replay it intact
    DeltaExport.addCheckConstraintDeltaTable(spark, dir,
      "bal_shape", "bal > 0.0 AND id NOT IN (99, 98)")
    DeltaExport.evolveDeltaTableSchema(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("bal",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType, nullable = true))))
    // still enforced after ADD COLUMNS rebuilt the metaData
    val e1 = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((99L, Option(1.0), "x")).toDF("id", "bal", "note"), dir))
    assert(e1.getMessage.contains("bal_shape"), e1.getMessage)
    // ... and after a SCHEMA-CHANGING overwrite (new metaData again)
    DeltaExport.overwriteDeltaTable(spark,
      Seq((1L, 5.0, "a", true)).toDF("id", "bal", "note", "flag"), dir)
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((5L, -2.0, "y", false)).toDF("id", "bal", "note", "flag"), dir))
    assert(e2.getMessage.contains("bal_shape"), e2.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
