package graft

import org.apache.spark.sql.functions._

import graft.core.{DeletionVectors, DeltaExport}

/** Deletion-vector tests: the Z85/roaring codecs against hand-built
  * bytes, the end-to-end read of hand-built DV commits (inline and
  * on-disk), CDC over a DV-only change, the DV DML writers (DELETE/
  * UPDATE via vectors; MERGE/COW-DELETE/OPTIMIZE applying vectors;
  * DV-carrying checkpoints), and the loud by-name refusals that remain
  * (column mapping modes beyond name/id, unknown reader features,
  * writes to row-tracking and in-commit-timestamp tables). */
class DeletionVectorSpec extends SparkTestBase {
  import spark.implicits._

  test("Z85 round-trips and rejects junk") {
    val bytes = Array.tabulate(32)(i => (i * 37 + 11).toByte)
    assert(DeletionVectors.z85decode(
      DeletionVectors.z85encode(bytes)).toSeq === bytes.toSeq)
    // the all-zero and all-ff words exercise the alphabet's edges
    assert(DeletionVectors.z85decode(DeletionVectors.z85encode(
      Array[Byte](0, 0, 0, 0, -1, -1, -1, -1))).toSeq ===
      Seq[Byte](0, 0, 0, 0, -1, -1, -1, -1))
    intercept[IllegalArgumentException](DeletionVectors.z85decode("abc"))
    intercept[IllegalArgumentException](DeletionVectors.z85decode("ab\"de"))
  }

  test("portable roaring round-trips across 16-bit keys and 32-bit bitmap boundaries") {
    val positions = Seq(0L, 2L, 5L, 65535L, 65536L, 131072L + 7L,
      (1L << 32) + 3L, (1L << 32) + 70000L, (3L << 32) + 1L)
    val got = DeletionVectors.deserializePortable(
      DeletionVectors.serializePortable(positions))
    assert(got.toSeq === positions.sorted)
    // empty vector
    assert(DeletionVectors.deserializePortable(
      DeletionVectors.serializePortable(Seq.empty)).isEmpty)
  }

  test("roaring decode handles run and bitmap containers a real writer emits") {
    // hand-build: magic + 1 bitmap, SERIAL_COOKIE (runs), 2 containers:
    //   key 0 = run container {[10..12], [100..100]}
    //   key 1 = bitmap container (card 4097: values 0..4096)
    val bos = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = bos.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >>> 8) }
    def w32(v: Int): Unit = { w16(v); w16(v >>> 16) }
    w32(1681511377); w32(1); w32(0)           // magic, count=1 (as i64le)
    w32(12347 | (1 << 16))                    // cookie: 2 containers
    w8(0x01)                                  // run flags: container 0 runs
    w16(0); w16(4 - 1)                        // key 0, card 4
    w16(1); w16(4097 - 1)                     // key 1, card 4097
    // < 4 containers with the run cookie → NO offset header
    w16(2); w16(10); w16(2); w16(100); w16(0) // runs: [10,12], [100,100]
    (0 until 1024).foreach { w =>             // bitmap: bits 0..4096 set
      val base = w * 64L
      var word = 0L
      (0 until 64).foreach { b =>
        if (base + b <= 4096) word |= (1L << b)
      }
      w32(word.toInt); w32((word >>> 32).toInt)
    }
    val got = DeletionVectors.deserializePortable(bos.toByteArray).toSeq
    val expect = (Seq(10L, 11L, 12L, 100L) ++
      (0L to 4096L).map(v => (1L << 16) | v)).sorted
    assert(got === expect)
  }

  test("inline DV: deleted positions vanish from the read, remain in time travel, classify as CDC deletes") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dv_inline").toString
    // one sorted single-partition file: row position == id - 1
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("id", "s").repartition(1).sortWithinPartitions("id")
    DeltaExport.writeDeltaTable(spark, d, dir)
    val file = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val dvBytes = DeletionVectors.serializePortable(Seq(0L, 2L))
    val desc = DeletionVectors.Descriptor("i",
      DeletionVectors.z85encode(dvBytes), None, dvBytes.length.toLong, 2L)
    val commit = Seq(
      """{"commitInfo":{"timestamp":1,"operation":"DELETE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true,"deletionVector":${DeletionVectors.descriptorJson(desc)}}}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", "00000000000000000001.json"),
      (commit.mkString("\n") + "\n").getBytes("UTF-8"))
    // positions 0 and 2 (ids 1 and 3) are logically deleted
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L, 4L, 5L))
    // v0 time travel still sees every row
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 5L)
    // CDC: the DV-only change reads as two row-level deletes
    val cdc = DeltaExport.deltaChangesBetween(spark, dir, 0L, 1L, Seq("id"))
      .select("id", "_change_type").as[(Long, String)].collect().sorted.toSeq
    assert(cdc === Seq((1L, "delete"), (3L, "delete")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("on-disk DV (uuid storage): framed file reads back, corrupted checksum fails loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dv_file").toString
    val d = (1L to 50L).map(i => (i, s"row $i"))
      .toDF("id", "s").repartition(1).sortWithinPartitions("id")
    DeltaExport.writeDeltaTable(spark, d, dir)
    val file = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    // delete even positions (ids 2,4,…,50 → positions 1,3,…,49)
    val positions = (1L to 49L by 2L).toSeq
    val desc = DeletionVectors.writeDvFile(dir, positions)
    val commit = Seq(
      """{"commitInfo":{"timestamp":1,"operation":"DELETE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true,"deletionVector":${DeletionVectors.descriptorJson(desc)}}}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", "00000000000000000001.json"),
      (commit.mkString("\n") + "\n").getBytes("UTF-8"))
    val got = DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === (1L to 49L by 2L).toSeq)
    // flip one bitmap byte inside the framing: CRC must catch it
    val dvFile = new java.io.File(dir).listFiles()
      .map(_.getName).find(_.startsWith("deletion_vector_")).get
    val p = java.nio.file.Paths.get(dir, dvFile)
    val bytes = java.nio.file.Files.readAllBytes(p)
    bytes(7) = (bytes(7) ^ 0x5a).toByte
    java.nio.file.Files.write(p, bytes)
    val e = intercept[Exception](
      DeltaExport.readDeltaTable(spark, dir).count())
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).map(_.getMessage).mkString(" ").contains("checksum"),
      e.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("DV delete moves no data, compounds across commits, survives vacuum, spills big vectors to files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_del_dv").toString
    val d = (1L to 10000L).map(i => (i, i * 2.0)).toDF("id", "v")
    DeltaExport.writeDeltaTable(spark,
      d.repartitionByRange(2, col("id")), dir)
    val files0 = DeltaExport.liveFilesAt(dir, None)._2.toSet
    // small delete → inline DV
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") % 1000L === 7L)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 9990L)
    assert(DeltaExport.liveFilesAt(dir, None)._2.toSet === files0,
      "a DV delete must not change the live file set")
    val c1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    assert(c1.contains(""""storageType":"i""""), c1)
    // second, BIG delete on the same files: positions merge (compound)
    // and the vector spills to a framed .bin file
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") % 2L === 0L)
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.count() ===
      (1L to 10000L).count(i => i % 1000L != 7L && i % 2L != 0L).toLong)
    val c2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000002.json")), "UTF-8")
    assert(c2.contains(""""storageType":"u""""), c2)
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")))
    // compounding: the FIRST delete's rows stay deleted after the second
    assert(back.filter(col("id") % 1000L === 7L).count() === 0L)
    // a third delete supersedes the second's on-disk vector with a new
    // one; vacuum reclaims the ORPHANED .bin, keeps the referenced one
    // and the still-live data files, and the table reads on
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 9999L)
    val binsBefore = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("deletion_vector_")).toSet
    assert(binsBefore.size >= 2, binsBefore.toString)
    val reclaimed = DeltaExport.vacuumDeltaTable(spark, dir)
    assert(reclaimed.exists(_.startsWith("deletion_vector_")), reclaimed)
    val binsAfter = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("deletion_vector_")).toSet
    assert(binsAfter.size < binsBefore.size && binsAfter.nonEmpty)
    assert(DeltaExport.readDeltaTable(spark, dir).count() ===
      (1L to 10000L).count(i =>
        i % 1000L != 7L && i % 2L != 0L && i != 9999L).toLong)
    // ... and the pre-vacuum DV version now fails LOUDLY, like a
    // vacuumed data file (retention-0 trade)
    intercept[Exception](
      DeltaExport.readDeltaTable(spark, dir, Some(2L)).count())
    // CDC classifies the first DV-only change as row-level deletes
    val cdc = DeltaExport.deltaChangesBetween(spark, dir, 0L, 1L, Seq("id"))
    assert(cdc.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("delete" -> 10L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("DV update masks old copies in place, appends new images, never resurrects deleted rows") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_upd_dv").toString
    val d = (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "v")
    DeltaExport.writeDeltaTable(spark,
      d.repartitionByRange(2, col("id")), dir)
    val files0 = DeltaExport.liveFilesAt(dir, None)._2.toSet
    DeltaExport.updateDeltaTableDv(spark, dir, col("id") % 10L === 3L,
      Map("v" -> (col("v") + 10000.0)))
    val back1 = DeltaExport.readDeltaTable(spark, dir)
    assert(back1.count() === 1000L)
    assert(back1.filter(col("id") % 10 === 3 && col("v") < 10000.0)
      .count() === 0L)
    assert(back1.filter(col("v") >= 10000.0).count() === 100L)
    // the standing files were masked, not rewritten: all still live
    val files1 = DeltaExport.liveFilesAt(dir, None)._2.toSet
    assert(files0.subsetOf(files1) && files1.size > files0.size)
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L))
      .filter(col("v") >= 10000.0).count() === 0L)
    // a second identical update hits the NEW images (their file has no
    // DV) while the masked old copies stay excluded — values compound,
    // the count never drifts
    DeltaExport.updateDeltaTableDv(spark, dir, col("id") % 10L === 3L,
      Map("v" -> (col("v") + 10000.0)))
    val back2 = DeltaExport.readDeltaTable(spark, dir)
    assert(back2.count() === 1000L)
    assert(back2.filter(col("v") >= 20000.0).count() === 100L)
    // RESTORE is DV-aware: winding back to the post-first-update
    // version re-issues each file's THEN-vector (a file live in both
    // versions whose vector changed is re-added), and winding to v0
    // drops the vectors entirely
    DeltaExport.restoreDeltaTable(spark, dir, 1L)
    val r1 = DeltaExport.readDeltaTable(spark, dir)
    assert(r1.count() === 1000L)
    assert(r1.filter(col("v") >= 10000.0 && col("v") < 20000.0)
      .count() === 100L)
    assert(r1.filter(col("v") >= 20000.0).count() === 0L)
    DeltaExport.restoreDeltaTable(spark, dir, 0L)
    val r0 = DeltaExport.readDeltaTable(spark, dir)
    assert(r0.count() === 1000L && r0.filter(col("v") >= 10000.0).count() === 0L)
    // partition-column updates are MERGE's job — refused by name
    val pdir = java.nio.file.Files
      .createTempDirectory("graft_upd_dv_part").toString
    DeltaExport.writeDeltaTablePartitioned(spark,
      Seq((1L, "x", "en"), (2L, "y", "fr")).toDF("id", "s", "lang"),
      pdir, Seq("lang"))
    val e = intercept[IllegalArgumentException](
      DeltaExport.updateDeltaTableDv(spark, pdir, col("id") === 1L,
        Map("lang" -> lit("de"))))
    assert(e.getMessage.contains("partition columns"), e.getMessage)
    // ... while a data-column update on a partitioned table works
    DeltaExport.updateDeltaTableDv(spark, pdir, col("id") === 1L,
      Map("s" -> lit("updated")))
    assert(DeltaExport.readDeltaTable(spark, pdir)
      .filter(col("s") === "updated").count() === 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pdir))
  }

  test("DV delete of only already-deleted rows refuses the no-op; descriptor JSON escapes foreign paths") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dv_noop").toString
    val d = (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v")
    DeltaExport.writeDeltaTable(spark, d.repartition(1), dir)
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") <= 10L)
    // every matched position is already in the standing vector — the
    // commit would be byte-identical; refused like the UPDATE twin
    val e = intercept[IllegalArgumentException](
      DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") <= 10L))
    assert(e.getMessage.contains("already deleted"), e.getMessage)
    // a PARTIAL overlap commits only the fresh positions
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") <= 12L)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 88L)
    // descriptorJson ↔ descriptorOf round-trips a path needing escapes
    val quirky = DeletionVectors.Descriptor("p",
      """weird"dir\dv.bin""", Some(3L), 9L, 2L)
    val line = s"""{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":${DeletionVectors.descriptorJson(quirky)}}}"""
    assert(DeletionVectors.descriptorOf(line) === Some(quirky))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("DV update SET expressions all see the OLD row; protocol features merge") {
    // UPDATE is simultaneous-assignment: a swap must actually swap
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_upd_swap").toString
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, 10.0, 20.0)).toDF("id", "a", "b").repartition(1), dir2)
    DeltaExport.updateDeltaTableDv(spark, dir2, col("id") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    val r = DeltaExport.readDeltaTable(spark, dir2)
      .select("a", "b").as[(Double, Double)].collect().head
    assert(r === ((20.0, 10.0)), s"swap half-applied: $r")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
    // the DV writer's protocol upgrade MERGES declared features —
    // replacing them would undeclare timestampNtz for later readers
    val dir3 = java.nio.file.Files
      .createTempDirectory("graft_dv_protomerge").toString
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(1), dir3)
    val p0 = java.nio.file.Paths.get(dir3, "_delta_log",
      "00000000000000000000.json")
    val upgraded = new String(java.nio.file.Files.readAllBytes(p0), "UTF-8")
      .replace(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz","appendOnly"]}}""")
    java.nio.file.Files.write(p0, upgraded.getBytes("UTF-8"))
    DeltaExport.deleteFromDeltaTableDv(spark, dir3, col("id") === 1L)
    val c1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir3, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    val proto = c1.split("\n").find(_.startsWith("""{"protocol""""))
      .getOrElse("")
    assert(proto.contains("deletionVectors") &&
      proto.contains("timestampNtz") && proto.contains("appendOnly"),
      s"protocol clobbered declared features: $proto")
    // and a second DV delete needs NO protocol action at all
    DeltaExport.deleteFromDeltaTableDv(spark, dir3, col("id") === 2L)
    val c2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir3, "_delta_log",
        "00000000000000000002.json")), "UTF-8")
    assert(!c2.contains("""{"protocol""""), c2)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir3))
  }

  test("timestampNtz reader feature: v3 tables with timestamp_ntz columns read natively") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ts_ntz").toString
    val d = spark.sql(
      """SELECT id, timestamp_ntz'2026-01-15 12:30:00' + make_interval(0,0,0,0,0,0,id) AS t
         FROM range(3)""")
    d.repartition(1).write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    def escJson(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_delta_log"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", "00000000000000000000.json"),
      (Seq(
        """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
        s"""{"metaData":{"id":"aaaabbbb-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"${escJson(
            d.schema.json)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
        s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema("t").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(back.count() === 3L)
    assert(back.orderBy("id").select("t").collect().head.get(0).toString
      .startsWith("2026-01-15T12:30"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("unsupported protocols refuse BY NAME; writes against DV tables refuse by name") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dv_refuse").toString
    val d = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .repartition(1).sortWithinPartitions("id")
    DeltaExport.writeDeltaTable(spark, d, dir)
    def writeCommit(v: Int, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_delta_log", f"$v%020d.json"),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    // reader v2 (column mapping) is SUPPORTED since round 16 — with no
    // mapping configured the table reads as-is (ColumnMappingSpec holds
    // the mapped-read and id-mode/nested refusal coverage)
    writeCommit(1, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""))
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 2L)
    // v3 with a feature beyond the implemented set — named
    writeCommit(1, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","collations"]}}"""))
    val vf = intercept[IllegalArgumentException](
      DeltaExport.readDeltaTable(spark, dir))
    assert(vf.getMessage.contains("collations"), vf.getMessage)
    // V2 checkpoints are not read (the checkpoint reader loads only the
    // classic and multi-part forms), so the reader feature is refused
    writeCommit(1, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}"""))
    val v2 = intercept[IllegalArgumentException](
      DeltaExport.readDeltaTable(spark, dir))
    assert(v2.getMessage.contains("v2Checkpoint"), v2.getMessage)
    // a DV table: reads fine, every mutator refuses naming the feature
    val file = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val dvBytes = DeletionVectors.serializePortable(Seq(0L))
    val desc = DeletionVectors.Descriptor("i",
      DeletionVectors.z85encode(dvBytes), None, dvBytes.length.toLong, 1L)
    writeCommit(1, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      s"""{"add":{"path":"$file","partitionValues":{},"size":${new java.io.File(dir, file).length},"modificationTime":1,"dataChange":true,"deletionVector":${DeletionVectors.descriptorJson(desc)}}}"""))
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L))
    // CHECKPOINT is DV-aware: the checkpoint row carries the
    // deletionVector struct AND the real {3,7} feature protocol, so a
    // post-checkpoint snapshot still masks the deleted row and still
    // validates the protocol
    DeltaExport.checkpointDeltaTable(spark, dir)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L))
    // OPTIMIZE is DV-aware: compaction materializes the deletes and
    // drops the vector
    DeltaExport.optimizeDeltaTable(spark, dir, targetFiles = 1)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L))
    DeltaExport.mergeDeltaTable(spark,
      Seq((2L, "x")).toDF("id", "s"), dir, Seq("id"))
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("s").as[String].collect().toSeq === Seq("x"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // row tracking and in-commit timestamps are not maintained: a table
    // that declares or enables either still reads, but every write —
    // data commits, checkpoint, log expiry — refuses naming the feature
    // and commits nothing
    def refusesWrites(feature: String, commit1: String => String): Unit = {
      val t = java.nio.file.Files
        .createTempDirectory("graft_unmaintained").toString
      DeltaExport.writeDeltaTable(spark, d, t)
      DeltaExport.checkpointDeltaTable(spark, t)
      val log = java.nio.file.Paths.get(t, "_delta_log")
      val meta0 = new String(java.nio.file.Files.readAllBytes(
        log.resolve("00000000000000000000.json")), "UTF-8")
        .split("\n").find(_.startsWith("""{"metaData"""")).get
      java.nio.file.Files.write(log.resolve("00000000000000000001.json"),
        (commit1(meta0) + "\n").getBytes("UTF-8"))
      assert(DeltaExport.readDeltaTable(spark, t).count() === 2L)
      Seq[(String, () => Any)](
        "APPEND" -> (() => DeltaExport.appendDeltaTable(spark,
          Seq((3L, "c")).toDF("id", "s"), t)),
        "MERGE" -> (() => DeltaExport.mergeDeltaTable(spark,
          Seq((2L, "x")).toDF("id", "s"), t, Seq("id"))),
        "DV DELETE" -> (() => DeltaExport.deleteFromDeltaTableDv(spark, t,
          col("id") === 1L)),
        "CHECKPOINT" -> (() => DeltaExport.checkpointDeltaTable(spark, t)),
        "LOG EXPIRY" -> (() => DeltaExport.expireLogBefore(t))
      ).foreach { case (op, write) =>
        val e = intercept[IllegalArgumentException](write())
        assert(e.getMessage.contains(feature), s"$op: ${e.getMessage}")
      }
      assert(DeltaExport.logVersions(t) === Seq(0L, 1L))
      assert(DeltaExport.lastCheckpoint(t).map(_.version) === Some(0L))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
    }
    refusesWrites("rowTracking", _ =>
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","rowTracking","domainMetadata"]}}""")
    refusesWrites("inCommitTimestamp", meta0 => meta0.replace(
      """"configuration":{}""",
      """"configuration":{"delta.enableInCommitTimestamps":"true"}"""))
  }

  test("MERGE and COW DELETE apply live vectors: masked rows never resurrect, untouched files keep theirs") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dv_cow_merge").toString
    // two range files: ids 1-50 (file A), 51-100 (file B)
    val d = (1L to 100L).map(i => (i, s"row $i")).toDF("id", "s")
    DeltaExport.writeDeltaTable(spark,
      d.repartitionByRange(2, col("id")), dir)
    // DV-delete rows in BOTH files
    DeltaExport.deleteFromDeltaTableDv(spark, dir,
      col("id") === 10L || col("id") === 60L)             // v1
    // MERGE touching only file A: its rewrite must materialize the
    // DV delete of id 10 (never resurrect it); file B keeps its vector
    DeltaExport.mergeDeltaTable(spark,
      Seq((20L, "updated")).toDF("id", "s"), dir, Seq("id")) // v2
    val afterMerge = DeltaExport.readDeltaTable(spark, dir)
    assert(afterMerge.count() === 98L)
    assert(afterMerge.filter(col("id").isin(10L, 60L)).count() === 0L)
    assert(afterMerge.filter(col("s") === "updated").count() === 1L)
    // file B still carries its vector (only A was rewritten). A
    // copy-on-write delete (MERGE's delete flag) touching file B: same
    // materialization rule for id 60
    DeltaExport.mergeDeltaTable(spark,
      Seq((70L, "row 70", true)).toDF("id", "s", "del"), dir, Seq("id"),
      Some("del"))                                            // v3
    val afterDel = DeltaExport.readDeltaTable(spark, dir)
    assert(afterDel.count() === 97L)
    assert(afterDel.filter(col("id").isin(10L, 60L, 70L)).count() === 0L)
    // a copy-on-write delete matching ONLY a masked row is a refused
    // no-op — the vector already deleted it
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 30L) // v4
    val e = intercept[IllegalArgumentException](
      DeltaExport.mergeDeltaTable(spark,
        Seq((30L, "row 30", true)).toDF("id", "s", "del"), dir, Seq("id"),
        Some("del")))
    assert(e.getMessage.contains("no-op"), e.getMessage)
    // time travel before the merge still applies the original vectors
    assert(DeltaExport.readDeltaTable(spark, dir, Some(1L)).count() === 98L)
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 100L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("checkpoint preserves the feature protocol, configuration, and live vectors across log expiry") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dv_cp").toString
    val d = (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v")
    DeltaExport.writeDeltaTable(spark, d.repartition(1), dir)
    DeltaExport.addCheckConstraintDeltaTable(spark, dir,
      "v_positive", "v > 0.0")                                    // v1
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") <= 10L) // v2
    DeltaExport.checkpointDeltaTable(spark, dir)
    DeltaExport.expireLogBefore(dir)
    // post-expiry snapshot comes from the checkpoint alone: the DV
    // still masks, the constraint still gates, the protocol still
    // declares its features
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 90L)
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTable(spark,
        Seq((101L, -1.0)).toDF("id", "v"), dir))
    assert(e.getMessage.contains("v_positive"), e.getMessage)
    // a conforming append still lands and the DV keeps masking
    DeltaExport.appendDeltaTable(spark,
      Seq((101L, 1.0)).toDF("id", "v"), dir)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 91L)
    // the re-rendered protocol still names deletionVectors (a second
    // DV delete must NOT re-emit a protocol upgrade)
    val v = DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 20L)
    val cN = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log", f"$v%020d.json")), "UTF-8")
    assert(!cN.contains("""{"protocol""""), cN)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 90L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
