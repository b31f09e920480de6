package graft

import graft.core.DeltaExport

/** Commit-metadata preservation: a metaData commit rewrites only what
  * it must, keeping a foreign writer's fields verbatim. In-commit
  * timestamps themselves are not maintained — every write to a table
  * that enables them refuses by name (DeletionVectorSpec pins it). */
class DeltaIctSpec extends SparkTestBase {
  import spark.implicits._

  test("a watermark-advance metaData keeps a foreign writer's name/description/createdTime verbatim") {
    // identity table whose v0 metaData carries a description — the
    // foreign-writer posture; the allocating append's metaData commit
    // must preserve it (in-place schemaString surgery, not a rebuild)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ict_meta").toString
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putLong("delta.identity.highWaterMark", 1L).build()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false, md),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 0.5)), 1), schema), dir)
    val p0 = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000000.json")
    val raw = new String(java.nio.file.Files.readAllBytes(p0), "UTF-8")
    java.nio.file.Files.write(p0, raw.replaceFirst(
      """"format":""",
      """"name":"ledger","description":"the billing ledger","format":""")
      .getBytes("UTF-8"))
    DeltaExport.appendDeltaTable(spark, Seq(2.0).toDF("v"), dir)
    val c1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    assert(c1.contains(""""description":"the billing ledger""""), c1)
    assert(c1.contains("delta.identity.highWaterMark"), c1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
