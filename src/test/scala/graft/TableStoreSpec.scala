package graft

import org.apache.spark.sql.functions._

import graft.core.TableStore

/** Contract tests for the shared managed-table persistence helpers: the
  * orphan-location cleanup every catalog sink needs in this environment
  * (in-memory catalog forgets tables across sessions, warehouse dirs
  * persist) and the stage-then-swap publish the streaming upsert sink
  * rides on. */
class TableStoreSpec extends SparkTestBase {

  private def uniq(prefix: String) =
    s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  test("overwriteTable creates over an orphan warehouse location left by a 'previous session'") {
    import spark.implicits._
    val table = uniq("ts_orphan")
    // simulate the previous-session leftover: a directory at the managed
    // location with no catalog entry — a bare saveAsTable would refuse
    // with LOCATION_ALREADY_EXISTS
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    val orphan = java.nio.file.Paths.get(wh, table)
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk.txt"), "stale")
    try {
      TableStore.overwriteTable(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      assert(spark.table(table).count() === 2L)
      // the stale file did not survive into the managed location
      assert(!java.nio.file.Files.exists(orphan.resolve("junk.txt")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("publishTable swaps a complete snapshot in, drops staging, and republishes cleanly") {
    import spark.implicits._
    val table = uniq("ts_publish")
    try {
      TableStore.publishTable(spark, table, Seq((1L, "a")).toDF("id", "v"))
      assert(spark.table(table).collect().map(_.getString(1)).toSeq === Seq("a"))
      // no staging residue — neither a catalog entry nor a warehouse dir
      assert(!spark.catalog.tableExists(table + "__staging"))
      val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(wh, table + "__staging")))
      // second publish replaces the snapshot (the swap path, not create)
      TableStore.publishTable(spark, table, Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
      assert(spark.table(table).count() === 2L)
      assert(spark.table(table).filter(col("v") === "a").count() === 0L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("publishTable lets a plan READ the table it replaces — no eager materialization needed") {
    import spark.implicits._
    val table = uniq("ts_selfread")
    try {
      TableStore.publishTable(spark, table, Seq((1L, 10.0)).toDF("id", "x"))
      // the classic self-overwrite hazard: this plan scans `table`; with
      // an in-place overwrite it would read a table being deleted under
      // it unless checkpointed first. Stage-then-swap executes the read
      // against the intact target while writing to staging.
      val merged = spark.table(table)
        .unionByName(Seq((2L, 20.0)).toDF("id", "x"))
        .groupBy(col("id")).agg(sum(col("x")).as("x"))
      TableStore.publishTable(spark, table, merged)
      assert(spark.table(table).count() === 2L)
      assert(spark.table(table).agg(sum(col("x"))).head().getDouble(0) === 30.0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("recoverStaging finishes a same-session swap interrupted between drop and rename") {
    import spark.implicits._
    val table = uniq("ts_midswap")
    try {
      // the exact crash state: complete snapshot in the staging table,
      // target already dropped, rename never ran
      TableStore.overwriteTable(spark, table + "__staging",
        Seq((1L, "recovered")).toDF("id", "v"))
      assert(!spark.catalog.tableExists(table))
      assert(TableStore.recoverStaging(spark, table))
      assert(spark.table(table).head().getString(1) === "recovered")
      assert(!spark.catalog.tableExists(table + "__staging"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("recoverStaging re-publishes from a cross-session orphan staging directory") {
    import spark.implicits._
    val table = uniq("ts_crashdir")
    // a crash that killed the session leaves ONLY the staging directory:
    // the in-memory catalog lost both entries
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    val stagingDir = java.nio.file.Paths.get(wh, table + "__staging")
    try {
      Seq((7L, "survived")).toDF("id", "v")
        .write.parquet(stagingDir.toString)
      assert(TableStore.recoverStaging(spark, table))
      assert(spark.table(table).head().getString(1) === "survived")
      assert(!java.nio.file.Files.exists(stagingDir))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("versioned publish: one-op view swap, time travel, snapshot isolation for in-flight readers") {
    import spark.implicits._
    val table = uniq("ts_ver")
    try {
      assert(TableStore.publishVersioned(spark, table,
        Seq((1L, "first")).toDF("id", "v")) === 1L)
      assert(spark.table(table).head().getString(1) === "first")
      // resolve the head BEFORE the next publish: this plan is bound to
      // version 1's files, which the publish must not disturb
      val inFlight = spark.table(table)
      assert(TableStore.publishVersioned(spark, table,
        Seq((2L, "second"), (3L, "second")).toDF("id", "v")) === 2L)
      // head serves v2; the in-flight reader still sees v1 intact
      assert(spark.table(table).count() === 2L)
      assert(spark.table(table).filter(col("v") === "first").count() === 0L)
      assert(inFlight.collect().map(_.getString(1)).toSeq === Seq("first"))
      // time travel + catalog state
      assert(TableStore.readVersion(spark, table, 1L)
        .head().getString(1) === "first")
      assert(TableStore.listVersions(spark, table) === Seq(1L, 2L))
      assert(TableStore.currentVersion(spark, table) === Some(2L))
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $table")
      TableStore.listVersions(spark, table)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
    }
  }

  test("vacuumVersions keeps the head and retention window, reclaims old and orphan versions") {
    import spark.implicits._
    val table = uniq("ts_vac")
    try {
      (1 to 3).foreach(i => TableStore.publishVersioned(spark, table,
        Seq((i.toLong, s"v$i")).toDF("id", "v")))
      // crash residue: a version table ABOVE the head with no view swap
      TableStore.overwriteTable(spark, s"${table}__v9",
        Seq((9L, "orphan")).toDF("id", "v"))
      assert(TableStore.listVersions(spark, table) === Seq(1L, 2L, 3L, 9L))
      val dropped = TableStore.vacuumVersions(spark, table, keep = 2)
      // v1 aged out; v9 was never published; v2 (retention) + v3 (head) stay
      assert(dropped === Seq(1L, 9L))
      assert(TableStore.listVersions(spark, table) === Seq(2L, 3L))
      assert(spark.table(table).head().getString(1) === "v3")
      assert(TableStore.readVersion(spark, table, 2L).head().getString(1) === "v2")
      intercept[Exception](TableStore.readVersion(spark, table, 1L).collect())
      // the vacuumed version's warehouse directory is reclaimed too
      val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(wh, s"${table}__v1".toLowerCase)))
      // a publish after vacuum continues the numbering past the head
      assert(TableStore.publishVersioned(spark, table,
        Seq((4L, "v4")).toDF("id", "v")) === 4L)
      assert(spark.table(table).head().getString(1) === "v4")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $table")
      TableStore.listVersions(spark, table)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
    }
  }

  test("versioned publish refuses a name owned by a plain table") {
    import spark.implicits._
    val table = uniq("ts_verclash")
    try {
      TableStore.overwriteTable(spark, table, Seq((1L, "plain")).toDF("id", "v"))
      val e = intercept[IllegalStateException](
        TableStore.publishVersioned(spark, table, Seq((2L, "x")).toDF("id", "v")))
      assert(e.getMessage.contains("versioned publish"))
      // the plain table is untouched
      assert(spark.table(table).head().getString(1) === "plain")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compactTable rewrites many small files as one, same rows") {
    import spark.implicits._
    val table = uniq("ts_compact")
    try {
      val df = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      TableStore.overwriteTable(spark, table, df.repartition(8))
      val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
      def files(): Seq[String] = {
        val d = java.nio.file.Paths.get(wh, table.toLowerCase)
        val s = java.nio.file.Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSeq
        } finally s.close()
      }
      assert(files().size === 8)
      TableStore.compactTable(spark, table)
      assert(files().size === 1)
      val got = spark.table(table)
      assert(got.count() === 100L)
      assert(got.exceptAll(df).count() === 0L)
      assert(df.exceptAll(got).count() === 0L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compactPartitions collapses each scoped partition to one file, untouched partitions keep theirs") {
    import spark.implicits._
    val table = uniq("ts_compactp")
    try {
      val df = (1 to 90).map(i => (i.toLong, i.toLong % 3, s"r$i"))
        .toDF("id", "b", "v")
      // 4 files per partition directory
      df.repartition(4).write.partitionBy("b").format("parquet")
        .mode("overwrite").saveAsTable(table)
      val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
      def files(part: Long): Set[String] = {
        val d = java.nio.file.Paths.get(wh, table.toLowerCase, s"b=$part")
        val s = java.nio.file.Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSet
        } finally s.close()
      }
      assert(files(0L).size > 1)
      val p2Before = files(2L)
      // scoped pass: compact partitions 0 and 1 only
      TableStore.compactPartitions(spark, table, "b", Seq(0L, 1L))
      assert(files(0L).size === 1)
      assert(files(1L).size === 1)
      assert(files(2L) === p2Before, "unscoped partition must keep its files")
      // layout-only: full multiset preserved
      val got = spark.table(table).select("id", "b", "v")
      assert(got.exceptAll(df).count() === 0L)
      assert(df.exceptAll(got).count() === 0L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("recoverStaging refuses a TORN staging directory and re-adopts the intact previous snapshot") {
    import spark.implicits._
    val table = uniq("ts_torn")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    try {
      // cross-session state: complete previous snapshot at the target
      // LOCATION (catalog forgot it), staging dir whose data write was
      // interrupted mid-flight — parquet parts present, no _SUCCESS
      Seq((1L, "live")).toDF("id", "v")
        .write.parquet(java.nio.file.Paths.get(wh, table).toString)
      val stagingDir = java.nio.file.Paths.get(wh, table + "__staging")
      Seq((2L, "torn")).toDF("id", "v").write.parquet(stagingDir.toString)
      java.nio.file.Files.delete(stagingDir.resolve("_SUCCESS"))
      assert(TableStore.recoverStaging(spark, table))
      // the torn snapshot must NOT win — republishing it would truncate
      // the table in a way batch replay can never repair
      assert(spark.table(table).head().getString(1) === "live")
      assert(!java.nio.file.Files.exists(stagingDir))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // re-adoption registers the table external: reclaim its files too
      org.apache.commons.io.FileUtils.deleteQuietly(
        java.nio.file.Paths.get(wh, table).toFile)
    }
  }

  test("adoptPartitionedTable refuses a FLAT directory that merely carries the partition column") {
    import spark.implicits._
    val table = uniq("ts_flatadopt")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    val loc = java.nio.file.Paths.get(wh, table)
    try {
      // unpartitioned parquet with __bucket as a DATA column — adopting
      // it as a partitioned table would register zero partitions and
      // every scan would read empty (silent truncation on next merge)
      Seq((1L, 0L), (2L, 1L)).toDF("id", "__bucket")
        .write.parquet(loc.toString)
      assert(!TableStore.adoptPartitionedTable(spark, table, "__bucket"))
      assert(!spark.catalog.tableExists(table))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(loc.toFile)
  }

  test("compactTable refuses a partitioned table instead of flattening it") {
    import spark.implicits._
    val table = uniq("ts_compactguard")
    try {
      val df = (1 to 20).map(i => (i.toLong, i.toLong % 2)).toDF("id", "b")
      df.write.partitionBy("b").format("parquet")
        .mode("overwrite").saveAsTable(table)
      val e = intercept[IllegalArgumentException](
        TableStore.compactTable(spark, table))
      assert(e.getMessage.contains("compactPartitions"))
      // untouched: still partitioned, all rows present
      assert(spark.table(table).count() === 20L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("adoptVersioned skips a torn never-published newest version, restores the complete head") {
    import spark.implicits._
    val table = uniq("ts_vertorn")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    try {
      Seq((1L, "v1")).toDF("id", "v")
        .write.parquet(java.nio.file.Paths.get(wh, s"${table}__v1").toString)
      // v2's data write was interrupted: parts present, no _SUCCESS
      val v2 = java.nio.file.Paths.get(wh, s"${table}__v2")
      Seq((2L, "v2")).toDF("id", "v").write.parquet(v2.toString)
      java.nio.file.Files.delete(v2.resolve("_SUCCESS"))
      assert(TableStore.adoptVersioned(spark, table) === Some(1L))
      // head serves the complete v1, not the torn v2 beside it
      assert(spark.table(table).head().getString(1) === "v1")
      assert(TableStore.listVersions(spark, table) === Seq(1L))
      // the next publish reuses number 2 and reclaims the torn residue
      assert(TableStore.publishVersioned(spark, table,
        Seq((3L, "fresh2")).toDF("id", "v")) === 2L)
      assert(spark.table(table).head().getString(1) === "fresh2")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $table")
      Seq(1L, 2L).foreach { v =>
        spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v")
        org.apache.commons.io.FileUtils.deleteQuietly(
          java.nio.file.Paths.get(wh, s"${table}__v$v").toFile)
      }
    }
  }

  test("adoptVersioned marker gate is config-based: disabled → adopt all; enabled + stripped markers → refuse") {
    import spark.implicits._
    val table = uniq("ts_vernomark")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    val markersKey = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    try {
      // complete version dirs with no _SUCCESS markers
      Seq(1L, 2L).foreach { v =>
        val d = java.nio.file.Paths.get(wh, s"${table}__v$v")
        Seq((v, s"v$v")).toDF("id", "v").write.parquet(d.toString)
        java.nio.file.Files.delete(d.resolve("_SUCCESS"))
      }
      // markers ENABLED (default): unmarked survivors are torn-or-foreign
      // and must be refused — adopting them could make a truncated
      // snapshot the permanent head
      assert(TableStore.adoptVersioned(spark, table) === None)
      assert(!spark.catalog.tableExists(table))
      // markers DISABLED by config: absence proves nothing; refusing
      // every survivor would orphan-clean the published state, so all
      // readable candidates are adopted
      hadoopConf.setBoolean(markersKey, false)
      assert(TableStore.adoptVersioned(spark, table) === Some(2L))
      assert(spark.table(table).head().getString(1) === "v2")
      assert(TableStore.listVersions(spark, table) === Seq(1L, 2L))
    } finally {
      hadoopConf.unset(markersKey)
      spark.sql(s"DROP VIEW IF EXISTS $table")
      Seq(1L, 2L).foreach { v =>
        spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v")
        org.apache.commons.io.FileUtils.deleteQuietly(
          java.nio.file.Paths.get(wh, s"${table}__v$v").toFile)
      }
    }
  }

  test("clearVersionResidue deletes un-cataloged version directories, keeps cataloged ones") {
    import spark.implicits._
    val table = uniq("ts_verresidue")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    try {
      // live cataloged version + stale residue from an abandoned run
      TableStore.publishVersioned(spark, table, Seq((1L, "live")).toDF("id", "v"))
      val stale = java.nio.file.Paths.get(wh, s"${table}__v9")
      Seq((9L, "stale")).toDF("id", "v").write.parquet(stale.toString)
      TableStore.clearVersionResidue(spark, table)
      assert(!java.nio.file.Files.exists(stale))
      assert(spark.table(table).head().getString(1) === "live")
      assert(TableStore.listVersions(spark, table) === Seq(1L))
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $table")
      TableStore.listVersions(spark, table)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
    }
  }

  test("recoverStaging on a FRESH run discards even a complete staging snapshot") {
    import spark.implicits._
    val table = uniq("ts_freshstaging")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    val stagingDir = java.nio.file.Paths.get(wh, table + "__staging")
    // run A died between its complete staging write and the swap; a NEW
    // run (adoptOrphanTarget = false) reuses the name — run A's
    // snapshot must be discarded, not published under the new run
    Seq((1L, "stale")).toDF("id", "v").write.parquet(stagingDir.toString)
    assert(!TableStore.recoverStaging(spark, table, adoptOrphanTarget = false))
    assert(!spark.catalog.tableExists(table))
    assert(!java.nio.file.Files.exists(stagingDir))
  }

  test("adoption agrees with the catalog's lowercase directory naming for mixed-case names") {
    import spark.implicits._
    val table = s"TsMixedCase_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    val lcDir = java.nio.file.Paths.get(wh, table.toLowerCase)
    try {
      TableStore.overwriteTable(spark, table, Seq((1L, "cased")).toDF("id", "v"))
      // the catalog lowercases identifiers: the managed dir is lowercase
      assert(java.nio.file.Files.isDirectory(lcDir))
      // session-loss dance, then adoption spelled with the ORIGINAL case
      val stash = java.nio.file.Files.createTempDirectory("graft_case_stash")
        .resolve("t")
      org.apache.commons.io.FileUtils.copyDirectory(lcDir.toFile, stash.toFile)
      spark.sql(s"DROP TABLE $table")
      org.apache.commons.io.FileUtils.copyDirectory(stash.toFile, lcDir.toFile)
      assert(TableStore.adoptTable(spark, table),
        "adoption must find the lowercase directory the catalog wrote")
      assert(spark.table(table).head().getString(1) === "cased")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(lcDir.toFile)
    }
  }

  test("versioned publish compare-and-set: the losing interleaved publisher fails loudly, head serves the winner") {
    import spark.implicits._
    val table = uniq("ts_cas")
    try {
      TableStore.publishVersioned(spark, table, Seq((1L, "base")).toDF("id", "v"))
      // publisher A stages its data; between its write and its swap,
      // publisher B runs a COMPLETE publish (the beforeSwap seam is
      // exactly that window). A's compare-and-set must then see the
      // moved head and fail instead of silently clobbering B.
      val e = intercept[graft.core.ConcurrentPublishException] {
        TableStore.publishVersioned(spark, table,
          Seq((2L, "loser")).toDF("id", "v"),
          beforeSwap = () =>
            TableStore.publishVersioned(spark, table,
              Seq((3L, "winner"), (4L, "winner")).toDF("id", "v")))
      }
      assert(e.getMessage.contains("concurrent publish"))
      // the head serves B's COMPLETE snapshot — never A's, never a mix
      assert(spark.table(table).count() === 2L)
      assert(spark.table(table).select("v").distinct().head().getString(0)
        === "winner")
      // A's staged version table was dropped, not left as an orphan the
      // vacuum would misread as published
      assert(TableStore.listVersions(spark, table)
        === Seq(1L, TableStore.currentVersion(spark, table).get))
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $table")
      TableStore.listVersions(spark, table)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
    }
  }

  test("claimNextVersion skips numbers another writer already claimed") {
    import spark.implicits._
    val table = uniq("ts_claim")
    val schema = Seq((1L, "x")).toDF("id", "v").schema
    try {
      // another writer's claim (or its in-flight staged write) holds v2:
      // the claim loop must come back with 3, never stage under 2 — the
      // same-number race is what made the CAS failure path destructive
      // (the loser's cleanup would DROP the winner's published head)
      TableStore.overwriteTable(spark, s"${table}__v2",
        Seq((1L, "other")).toDF("id", "v"))
      assert(TableStore.claimNextVersion(spark, table, 2L, schema) === 3L)
      // the claim registered v3, and the other writer's data is intact
      assert(spark.catalog.tableExists(s"${table}__v3"))
      assert(spark.table(s"${table}__v2").head().getString(1) === "other")
    } finally Seq(2L, 3L).foreach(v =>
      spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
  }

  test("vacuum never drops an above-head claim, never counts a claim toward retention") {
    import spark.implicits._
    val table = uniq("ts_vacclaim")
    val schema = Seq((1L, "x")).toDF("id", "v").schema
    try {
      (1 to 3).foreach(i => TableStore.publishVersioned(spark, table,
        Seq((i.toLong, s"v$i")).toDF("id", "v")))
      // a concurrent writer's IN-FLIGHT claim above the head (data write
      // not finished): vacuum must leave it — dropping it would hand its
      // number to a later publish and reopen the same-number race
      assert(TableStore.claimNextVersion(spark, table, 4L, schema) === 4L)
      assert(TableStore.vacuumVersions(spark, table, keep = 2) === Seq(1L))
      assert(TableStore.listVersions(spark, table) === Seq(2L, 3L, 4L))
      // ...and the claim must not COUNT toward the keep window: v2 (the
      // real previous snapshot a reader may be scanning) was retained
      // above, not displaced by the empty claim
      assert(TableStore.readVersion(spark, table, 2L).count() === 1L)
      // once the head passes the claim's number it is STILL protected
      // while its stamp is fresh — the writer may just be slow, and a
      // later claimant publishing first must not get its table vacuumed
      // out from under the in-flight write
      assert(TableStore.publishVersioned(spark, table,
        Seq((5L, "v5")).toDF("id", "v")) === 5L)
      assert(!TableStore.vacuumVersions(spark, table, keep = 2)
        .contains(4L))
      assert(TableStore.listVersions(spark, table) === Seq(3L, 4L, 5L))
      // ...and becomes ordinary reclaimable residue only once the stamp
      // ages past the claim TTL (simulated with a zero TTL)
      assert(TableStore.vacuumVersions(spark, table, keep = 2,
        claimTtlMs = 0L).contains(4L))
      assert(TableStore.listVersions(spark, table) === Seq(3L, 5L))
      assert(spark.table(table).head().getString(1) === "v5")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $table")
      TableStore.listVersions(spark, table)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
    }
  }

  test("a vacuum landing between the data write and the head swap never drops the staged version") {
    import spark.implicits._
    val table = uniq("ts_vacmidswap")
    try {
      TableStore.publishVersioned(spark, table, Seq((1L, "v1")).toDF("id", "v"))
      // the claim marker must protect the staged version through the
      // whole CAS+swap window: were it unset right after the data write,
      // this vacuum would see an above-head NON-claim (ordinary crash
      // residue) and drop it, dangling the head mid-swap
      val vacuumed = new java.util.concurrent.atomic.AtomicReference[Seq[Long]]
      TableStore.publishVersioned(spark, table,
        Seq((2L, "v2")).toDF("id", "v"),
        beforeSwap = () =>
          vacuumed.set(TableStore.vacuumVersions(spark, table, keep = 1)))
      assert(vacuumed.get !== null)
      assert(!vacuumed.get.contains(2L),
        "the in-flight publish's staged version must be vacuum-protected")
      assert(spark.table(table).head().getString(1) === "v2")
      assert(TableStore.readVersion(spark, table, 2L).count() === 1L)
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $table")
      TableStore.listVersions(spark, table)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
    }
  }

  test("losing the first-publish create race throws a PLAIN AnalysisException, which the swap maps to a named conflict") {
    // Pins the engine fact the create-race catch relies on: in Spark
    // 4.1.2 CREATE VIEW over an existing view fails from CreateViewCommand's
    // own exists check with a plain AnalysisException carrying the
    // ALREADY_EXISTS condition — NOT the TableAlreadyExistsException
    // subclass (that only covers the narrower catalog-level window). A
    // subclass-only catch would let the loser's error escape un-named.
    val table = uniq("ts_viewrace")
    try {
      spark.sql(s"CREATE VIEW $table AS SELECT 1 AS one")
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"CREATE VIEW $table AS SELECT 2 AS two")
      }
      assert(Option(e.getCondition).exists(_.contains("ALREADY_EXISTS")),
        s"unexpected condition: ${e.getCondition}")
      assert(!e.isInstanceOf[
        org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException],
        "subclass-only catch would miss this — the publish matches the condition")
    } finally spark.sql(s"DROP VIEW IF EXISTS $table")
  }

  test("two GENUINELY concurrent publishers: every publish succeeds or fails loudly, head never dangles") {
    // The CAS test above interleaves deterministically via the beforeSwap
    // seam; this one races two real threads with no injection and checks
    // INVARIANTS only (no timing assumptions): (1) the only failure mode
    // is the named conflict error, (2) the head view always resolves a
    // complete one-row snapshot, (3) the version the head names exists
    // and is readable. The residual check-then-swap metadata window may
    // let both writers of a cycle succeed — that orphans a snapshot
    // (vacuumable), it must never dangle or corrupt the head.
    import spark.implicits._
    import java.util.concurrent.atomic.AtomicInteger
    val table = uniq("ts_race")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      TableStore.publishVersioned(spark, table, Seq((0L, "seed")).toDF("id", "v"))
      val successes = new AtomicInteger
      val conflicts = new AtomicInteger
      val others = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val tasks = (1 to 2).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = (1 to 5).foreach { i =>
            try {
              TableStore.publishVersioned(spark, table,
                Seq(((w * 10 + i).toLong, s"w$w-$i")).toDF("id", "v"))
              successes.incrementAndGet()
              ()
            } catch {
              case _: graft.core.ConcurrentPublishException =>
                conflicts.incrementAndGet(); ()
              case t: Throwable => others.add(t); ()
            }
          }
        })
      }
      tasks.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(others.isEmpty,
        s"unexpected failure modes: ${others.toArray.mkString("; ")}")
      assert(successes.get >= 1, "at least one publish per race must win")
      assert(successes.get + conflicts.get === 10)
      // head integrity: resolves, names an existing readable version
      val head = TableStore.currentVersion(spark, table)
      assert(head.isDefined)
      assert(spark.table(table).count() === 1L)
      assert(TableStore.readVersion(spark, table, head.get).count() === 1L)
      // and vacuum converges the residue without touching the head
      TableStore.vacuumVersions(spark, table, keep = 2)
      assert(spark.table(table).count() === 1L)
    } finally {
      pool.shutdownNow()
      spark.sql(s"DROP VIEW IF EXISTS $table")
      TableStore.listVersions(spark, table)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
    }
  }

  test("versioned recovery recreates a database the session restart forgot") {
    import spark.implicits._
    val db = "graft_dbr"
    val table = uniq("ts_dbrec")
    val qualified = s"$db.$table"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    try {
      TableStore.publishVersioned(spark, qualified,
        Seq((1L, "survives")).toDF("id", "v"))
      // session loss forgets DATABASES too: stash the version dir, drop
      // the whole database cascade, restore the directory tree
      val vDir = java.nio.file.Paths.get(wh, s"$db.db", s"${table}__v1")
      val stash = java.nio.file.Files.createTempDirectory("graft_dbr_stash")
        .resolve("v1")
      org.apache.commons.io.FileUtils.copyDirectory(vDir.toFile, stash.toFile)
      spark.sql(s"DROP DATABASE $db CASCADE")
      org.apache.commons.io.FileUtils.copyDirectory(stash.toFile, vDir.toFile)
      assert(!spark.catalog.databaseExists(db))
      // adoption must recreate the database, not crash on SCHEMA_NOT_FOUND
      assert(TableStore.adoptVersioned(spark, qualified) === Some(1L))
      assert(spark.table(qualified).head().getString(1) === "survives")
      assert(TableStore.listVersions(spark, qualified) === Seq(1L))
    } finally {
      if (spark.catalog.databaseExists(db))
        spark.sql(s"DROP DATABASE $db CASCADE")
      org.apache.commons.io.FileUtils.deleteQuietly(
        java.nio.file.Paths.get(wh, s"$db.db").toFile)
    }
  }

  test("versioned publish refuses to clobber a pre-existing USER view") {
    import spark.implicits._
    val table = uniq("ts_userview")
    try {
      spark.sql(s"CREATE VIEW $table AS SELECT 1 AS one")
      val e = intercept[IllegalStateException](
        TableStore.publishVersioned(spark, table, Seq((1L, "x")).toDF("id", "v")))
      assert(e.getMessage.contains("graft.version"))
      // the user's view is untouched
      assert(spark.table(table).head().getInt(0) === 1)
    } finally spark.sql(s"DROP VIEW IF EXISTS $table")
  }

  test("time travel is reachable from pure SQL via the t__v{k} naming contract") {
    import spark.implicits._
    val table = uniq("ts_sqltt")
    try {
      TableStore.publishVersioned(spark, table, Seq((1L, "old")).toDF("id", "v"))
      TableStore.publishVersioned(spark, table, Seq((2L, "new")).toDF("id", "v"))
      // README §versioned-tables: version k of table t is the catalog
      // table `t__vk` — a SQL-only reader time-travels with FROM alone,
      // no Scala API needed. This test pins that naming as a contract.
      assert(spark.sql(s"SELECT v FROM ${table}__v1").head().getString(0)
        === "old")
      assert(spark.sql(s"SELECT v FROM $table").head().getString(0) === "new")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $table")
      TableStore.listVersions(spark, table)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
    }
  }

  test("compactPartitions refuses a DATA column and an unconfirmed whole-table pass") {
    import spark.implicits._
    val table = uniq("ts_compactscope")
    try {
      val df = (1 to 30).map(i => (i.toLong, i.toLong % 3, s"r$i"))
        .toDF("id", "b", "v")
      df.write.partitionBy("b").format("parquet")
        .mode("overwrite").saveAsTable(table)
      // scoping by a data column would dynamic-overwrite every partition
      // containing a scoped row with ONLY the scoped rows — named refusal
      val e1 = intercept[IllegalArgumentException](
        TableStore.compactPartitions(spark, table, "id", Seq(1L)))
      assert(e1.getMessage.contains("not a partition column"))
      // an unscoped pass materializes the whole table in one
      // localCheckpoint — the rolling discipline is enforced, not advised
      val e2 = intercept[IllegalArgumentException](
        TableStore.compactPartitions(spark, table, "b"))
      assert(e2.getMessage.contains("allPartitions"))
      // both refusals left the table untouched
      assert(spark.table(table).count() === 30L)
      // the confirmed whole-table pass still works
      TableStore.compactPartitions(spark, table, "b", allPartitions = true)
      assert(spark.table(table).count() === 30L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("db-qualified names resolve to the <db>.db/<table> warehouse layout in cleanup and adoption") {
    import spark.implicits._
    val db = "graft_dbq"
    val table = uniq("ts_dbq")
    val qualified = s"$db.$table"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    val loc = java.nio.file.Paths.get(wh, s"$db.db", table)
    try {
      // orphan residue at the DB-qualified location (a previous session's
      // managed table): overwriteTable must clear THIS directory, not
      // <warehouse>/<table> — saveAsTable would otherwise refuse with
      // LOCATION_ALREADY_EXISTS
      java.nio.file.Files.createDirectories(loc)
      java.nio.file.Files.writeString(loc.resolve("junk.txt"), "stale")
      TableStore.overwriteTable(spark, qualified,
        Seq((1L, "indb")).toDF("id", "v"))
      assert(spark.table(qualified).head().getString(1) === "indb")
      assert(!java.nio.file.Files.exists(loc.resolve("junk.txt")))
      assert(java.nio.file.Files.isDirectory(loc),
        "the managed table must live under <db>.db/")
      // session-loss dance, then adoption by the QUALIFIED name must
      // find the db-layout directory
      val stash = java.nio.file.Files.createTempDirectory("graft_dbq_stash")
        .resolve("t")
      org.apache.commons.io.FileUtils.copyDirectory(loc.toFile, stash.toFile)
      spark.sql(s"DROP TABLE $qualified")
      org.apache.commons.io.FileUtils.copyDirectory(stash.toFile, loc.toFile)
      assert(TableStore.adoptTable(spark, qualified),
        "adoption must look under <db>.db/, not the warehouse root")
      assert(spark.table(qualified).head().getString(1) === "indb")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $qualified")
      org.apache.commons.io.FileUtils.deleteQuietly(loc.toFile)
    }
  }

  test("versioned publish works end-to-end on a db-qualified name") {
    // listVersions must enumerate the name's OWN database (not the
    // session's current one) and residue cleanup must glob <db>.db/ —
    // otherwise a db-qualified versioned table restarts numbering at v1
    // and its residue is never reclaimed.
    import spark.implicits._
    val db = "graft_dbv"
    val table = uniq("ts_dbver")
    val qualified = s"$db.$table"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    try {
      assert(TableStore.publishVersioned(spark, qualified,
        Seq((1L, "v1")).toDF("id", "v")) === 1L)
      assert(TableStore.publishVersioned(spark, qualified,
        Seq((2L, "v2")).toDF("id", "v")) === 2L)
      assert(TableStore.listVersions(spark, qualified) === Seq(1L, 2L))
      assert(TableStore.currentVersion(spark, qualified) === Some(2L))
      assert(spark.table(qualified).head().getString(1) === "v2")
      assert(TableStore.readVersion(spark, qualified, 1L)
        .head().getString(1) === "v1")
      // version tables live under <db>.db/, and residue cleanup finds
      // them there
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(wh, s"$db.db", s"${table}__v1")))
      val stale = java.nio.file.Paths.get(wh, s"$db.db", s"${table}__v9")
      Seq((9L, "stale")).toDF("id", "v").write.parquet(stale.toString)
      TableStore.clearVersionResidue(spark, qualified)
      assert(!java.nio.file.Files.exists(stale))
      assert(TableStore.vacuumVersions(spark, qualified, keep = 1) === Seq(1L))
      assert(TableStore.listVersions(spark, qualified) === Seq(2L))
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $qualified")
      TableStore.listVersions(spark, qualified)
        .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${qualified}__v$v"))
    }
  }

  test("adoptPartitionedTable derives the partition column's real type (string stays string, integral widens to bigint)") {
    import spark.implicits._
    val table = uniq("ts_adopttype")
    val wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    val loc = java.nio.file.Paths.get(wh, table)
    try {
      // a STRING-partitioned directory (cat=a/, cat=b/) — the old
      // hardcoded BIGINT registration would record wrong partition types
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "cat")
        .write.partitionBy("cat").parquet(loc.toString)
      assert(TableStore.adoptPartitionedTable(spark, table, "cat"))
      val catType = spark.table(table).schema("cat").dataType
      assert(catType === org.apache.spark.sql.types.StringType)
      assert(spark.table(table).count() === 3L)
      assert(spark.table(table).filter(col("cat") === "b")
        .head().getLong(0) === 3L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(loc.toFile)
    }
  }

  test("recoverStaging discards stale staging when the target is intact") {
    import spark.implicits._
    val table = uniq("ts_stale")
    try {
      // writer died BEFORE the drop: published table intact, staging
      // residue present — the interrupted batch replays from its
      // checkpoint, so the residue must be discarded, not swapped in
      TableStore.publishTable(spark, table, Seq((1L, "live")).toDF("id", "v"))
      TableStore.overwriteTable(spark, table + "__staging",
        Seq((2L, "stale")).toDF("id", "v"))
      assert(!TableStore.recoverStaging(spark, table))
      assert(spark.table(table).head().getString(1) === "live")
      assert(!spark.catalog.tableExists(table + "__staging"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  private def dropVersioned(table: String): Unit = {
    spark.sql(s"DROP VIEW IF EXISTS $table")
    TableStore.listVersions(spark, table)
      .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
  }

  test("tableChanges classifies all four change types, null-safely") {
    import spark.implicits._
    val table = uniq("ts_cdc")
    try {
      // k=1 unchanged, k=2 value changed, k=3 deleted, k=5 inserted,
      // k=4 NULL→NULL (must read unchanged — the null-safe compare),
      // k=6 NULL→value (must read changed)
      val v1 = TableStore.publishVersioned(spark, table,
        Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(30.0)),
          (4L, None: Option[Double]), (6L, None: Option[Double]))
          .toDF("k", "v"))
      val v2 = TableStore.publishVersioned(spark, table,
        Seq((1L, Some(10.0)), (2L, Some(21.0)), (5L, Some(50.0)),
          (4L, None: Option[Double]), (6L, Some(60.0))).toDF("k", "v"))
      val ch = TableStore.tableChanges(spark, table, v1, v2, Seq("k"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getDouble(1), r.getString(2)))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(ch === Seq(
        (2L, 21.0, "update_postimage"), (2L, 20.0, "update_preimage"),
        (3L, 30.0, "delete"),
        (5L, 50.0, "insert"),
        (6L, 60.0, "update_postimage"), (6L, null, "update_preimage")))
    } finally dropVersioned(table)
  }

  test("tableChanges guards: duplicate keys fail loudly; a dropped column is refused; an added column diffs against NULL") {
    import spark.implicits._
    val table = uniq("ts_cdcg")
    try {
      val v1 = TableStore.publishVersioned(spark, table,
        Seq((1L, 10.0), (1L, 11.0), (2L, 20.0)).toDF("k", "v"))
      val v2 = TableStore.publishVersioned(spark, table,
        Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
      val dup = intercept[IllegalArgumentException] {
        TableStore.tableChanges(spark, table, v1, v2, Seq("k")).collect()
      }
      assert(dup.getMessage.contains("duplicate keys"), dup.getMessage)
      // the guard can be waived when the writer's contract guarantees
      // uniqueness — then the duplicate-free side still diffs fine
      val ok = TableStore.tableChanges(spark, table, v1, v2, Seq("k"),
        checkUniqueKeys = false)
      assert(ok.columns.toSeq === Seq("k", "v", "_change_type"))
    } finally dropVersioned(table)

    val t2 = uniq("ts_cdcw")
    try {
      val v1 = TableStore.publishVersioned(spark, t2,
        Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
      // widened republish: same rows, one new column (k=2 gains a value)
      val v2 = TableStore.publishVersioned(spark, t2,
        Seq((1L, 10.0, None: Option[String]), (2L, 20.0, Some("x")))
          .toDF("k", "v", "tag"))
      val ch = TableStore.tableChanges(spark, t2, v1, v2, Seq("k"))
        .collect().map(r => (r.getLong(0), r.getString(3))).sorted.toSeq
      // k=1: tag NULL pre-side and NULL post-side → unchanged;
      // k=2: NULL → "x" → one update pair
      assert(ch === Seq((2L, "update_postimage"), (2L, "update_preimage")))
      // the narrowing direction is refused, not silently mis-diffed
      val narrowed = TableStore.publishVersioned(spark, t2,
        Seq((1L, "only")).toDF("k", "other"))
      val gone = intercept[IllegalArgumentException] {
        TableStore.tableChanges(spark, t2, v2, narrowed, Seq("k")).collect()
      }
      assert(gone.getMessage.contains("cannot represent a dropped column"),
        gone.getMessage)
    } finally dropVersioned(t2)
  }

  test("incremental aggregate refresh from the change feed equals a direct recompute") {
    import spark.implicits._
    import graft.ops.Incremental
    val table = uniq("ts_inc")
    try {
      // groups: 'a' updated in place, 'b' emptied out entirely (its only
      // keys deleted / moved away), 'c' grows, key 4 MOVES group b→c
      // (−pre one group, +post another), key 7 has a NULL value (sum
      // must ignore it in both directions)
      val v1 = TableStore.publishVersioned(spark, table,
        Seq((1L, "a", Some(1.0)), (2L, "a", Some(2.0)), (3L, "b", Some(3.0)),
          (4L, "b", Some(4.0)), (7L, "n", None: Option[Double]))
          .toDF("k", "g", "v"))
      val base = Incremental.baseAggregate(
        TableStore.readVersion(spark, table, v1), Seq("g"), Seq("v"))
      val v2 = TableStore.publishVersioned(spark, table,
        Seq((1L, "a", Some(1.5)), (2L, "a", Some(2.0)), (4L, "c", Some(4.0)),
          (5L, "c", Some(5.0)), (7L, "n", None: Option[Double]))
          .toDF("k", "g", "v"))
      val changes = TableStore.tableChanges(spark, table, v1, v2, Seq("k"))
      val refreshed = Incremental.applyChanges(base, changes, Seq("g"), Seq("v"))
      val direct = Incremental.baseAggregate(
        TableStore.readVersion(spark, table, v2), Seq("g"), Seq("v"))
      assert(refreshed.exceptAll(direct).count() === 0L)
      assert(direct.exceptAll(refreshed).count() === 0L)
      // 'b' emptied: it must be GONE, not present with count 0
      assert(refreshed.filter(col("g") === "b").count() === 0L)
      // all-NULL group 'n' carries a NULL sum, exactly like the recompute
      assert(refreshed.filter(col("g") === "n").head().isNullAt(2))
    } finally dropVersioned(table)
  }

  test("Delta export: log actions cover every data file exactly, schema round-trips, add-listed scan reproduces the data") {
    import graft.core.DeltaExport
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
      .repartition(4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_export").toString
    val nAdds = DeltaExport.writeDeltaTable(spark, d, dir)
    val (protocol, meta, adds) = DeltaExport.readDeltaLog(dir)
    // one protocol action with the minimal append-table versions
    assert(protocol === Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""))
    assert(meta.size === 1)
    // every parquet data file has exactly one add with the true size
    val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val diskFiles =
      try {
        val b = Seq.newBuilder[(String, Long)]
        val it = onDisk.iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.endsWith(".parquet") && !n.startsWith("."))
            b += ((n, java.nio.file.Files.size(p)))
        }
        b.result().sortBy(_._1)
      } finally onDisk.close()
    assert(adds.sortBy(_._1) === diskFiles)
    assert(nAdds === diskFiles.size && nAdds >= 4)
    // schemaString is the Spark StructType JSON — parse it back
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(DeltaExport.schemaStringOf(meta.head))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema === d.schema)
    // scanning exactly the add-listed files reproduces the dataset
    val back = spark.read.schema(schema)
      .parquet(adds.map(a => s"$dir/${a._1}"): _*)
    assert(back.exceptAll(d).count() === 0L)
    assert(d.exceptAll(back).count() === 0L)
    // the consumer side: the log-driven reader round-trips the table
    // AND ignores files the log does not list (a Delta reader trusts
    // the log, not the directory) — plant an orphan parquet file and
    // the read must not surface its rows
    d.limit(5).withColumn("doc_id", col("doc_id") + 777000000L)
      .write.parquet(s"$dir/orphan_not_in_log.parquet")
    val viaLog = DeltaExport.readDeltaTable(spark, dir)
    assert(viaLog.exceptAll(d).count() === 0L)
    assert(d.exceptAll(viaLog).count() === 0L)
    assert(viaLog.filter(col("doc_id") >= 777000000L).count() === 0L,
      "orphan file leaked into a log-driven read")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta interchange: append and overwrite commits replay into exact time-travel snapshots") {
    import graft.core.DeltaExport
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val v0df = base.filter(col("doc_id") % 3 === 0).repartition(2)
    val v1df = base.filter(col("doc_id") % 3 === 1).repartition(2)
    val v2df = base.filter(col("doc_id") % 3 === 2).repartition(2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_tt").toString
    DeltaExport.writeDeltaTable(spark, v0df, dir)
    assert(DeltaExport.appendDeltaTable(spark, v1df, dir) === 1L)
    assert(DeltaExport.overwriteDeltaTable(spark, v2df, dir) === 2L)
    assert(DeltaExport.logVersions(dir) === Seq(0L, 1L, 2L))
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).count() === 0L)
      assert(b.exceptAll(a).count() === 0L)
    }
    // latest sees ONLY the overwrite; history is reconstructed, not
    // re-read from live state — v0 is the first write, v1 its append
    same(DeltaExport.readDeltaTable(spark, dir), v2df)
    same(DeltaExport.readDeltaTable(spark, dir, Some(0L)), v0df)
    same(DeltaExport.readDeltaTable(spark, dir, Some(1L)), v0df.unionAll(v1df))
    // overwrite must NOT have deleted the superseded data files (time
    // travel depends on it): every v1-live file is still on disk
    val v1Files = DeltaExport.liveFilesAt(dir, Some(1L))._2
    assert(v1Files.nonEmpty && v1Files.forall(f =>
      java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(dir, f))))
    // an unknown version and a too-new reader protocol both fail loudly
    intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTable(spark, dir, Some(9L))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", "00000000000000000003.json"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}
""".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTable(spark, dir)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta vacuum: superseded files reclaimed, latest intact, vacuumed time travel fails loudly") {
    import graft.core.DeltaExport
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val v0df = base.filter(col("doc_id") % 2 === 0).repartition(2)
    val v1df = base.filter(col("doc_id") % 2 === 1).repartition(2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_vac").toString
    DeltaExport.writeDeltaTable(spark, v0df, dir)
    DeltaExport.overwriteDeltaTable(spark, v1df, dir)
    val v0Files = DeltaExport.liveFilesAt(dir, Some(0L))._2
    val deleted = DeltaExport.vacuumDeltaTable(spark, dir)
    // exactly the version-0 (superseded) files are reclaimed; the log
    // is untouched and the latest snapshot still reads exact
    assert(deleted.sorted === v0Files.sorted)
    assert(DeltaExport.logVersions(dir) === Seq(0L, 1L))
    val latest = DeltaExport.readDeltaTable(spark, dir)
    assert(latest.exceptAll(v1df).count() === 0L)
    assert(v1df.exceptAll(latest).count() === 0L)
    // time travel to the vacuumed snapshot fails at the LOG layer with
    // the missing files named, not with a bare filesystem error
    val e = intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTable(spark, dir, Some(0L))
    }
    assert(e.getMessage.contains("vacuumed"))
    // vacuum is idempotent once the history is gone
    assert(DeltaExport.vacuumDeltaTable(spark, dir) === Seq.empty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta checkpoint: table stays readable after pre-checkpoint JSON commits expire; pre-checkpoint time travel fails loudly") {
    import graft.core.DeltaExport
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"))
    // 11 commits: initial write + 10 appends of doc_id slices
    val slices = (0L to 10L).map(m => base.filter(col("doc_id") % 11 === m))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_cp").toString
    DeltaExport.writeDeltaTable(spark, slices.head, dir)
    slices.tail.zipWithIndex.foreach { case (s, i) =>
      assert(DeltaExport.appendDeltaTable(spark, s, dir) === i + 1L)
    }
    // checkpoint at v10, then two MORE commits on top of it
    assert(DeltaExport.checkpointDeltaTable(spark, dir) === 10L)
    assert(DeltaExport.lastCheckpoint(dir).map(_.version) === Some(10L))
    assert(DeltaExport.lastCheckpoint(dir).flatMap(_.parts) === None)
    val extra = base.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 900000000L)
    assert(DeltaExport.appendDeltaTable(spark, extra, dir) === 11L)
    val v12df = base.limit(50)
    assert(DeltaExport.overwriteDeltaTable(spark, v12df, dir) === 12L)
    // expire everything the checkpoint supersedes — the real-world
    // retention state the reader must survive
    val expired = DeltaExport.expireLogBefore(dir)
    assert(expired.size === 11)
    assert(DeltaExport.logVersions(dir) === Seq(11L, 12L))
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).count() === 0L)
      assert(b.exceptAll(a).count() === 0L)
    }
    // latest = checkpoint base + post-checkpoint replay (the overwrite)
    same(DeltaExport.readDeltaTable(spark, dir), v12df)
    // time travel to the checkpoint version itself and to a
    // post-checkpoint version both reconstruct exactly
    same(DeltaExport.readDeltaTable(spark, dir, Some(10L)), base)
    same(DeltaExport.readDeltaTable(spark, dir, Some(11L)),
      base.unionAll(extra))
    // pre-checkpoint time travel is gone WITH the JSON — fails loudly,
    // naming the expiry, not with a bare missing-file error
    val e = intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTable(spark, dir, Some(3L))
    }
    assert(e.getMessage.contains("expired"))
    // expiring again is a no-op; expiring an uncheckpointed table refuses
    assert(DeltaExport.expireLogBefore(dir) === Seq.empty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta checkpoint refuses to expire logs without a covering checkpoint") {
    import graft.core.DeltaExport
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_cp_guard").toString
    import spark.implicits._
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    intercept[IllegalStateException] { DeltaExport.expireLogBefore(dir) }
    // a pointer naming part files that don't exist (another writer's
    // torn copy) must refuse loudly BY NAME — loading a subset would
    // silently reconstruct a partial snapshot
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", "_last_checkpoint"),
      """{"version":0,"size":4,"parts":2}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTable(spark, dir)
    }
    assert(e.getMessage.contains("checkpoint file(s)")
      && e.getMessage.contains("missing"))
    // and expiry behind the same torn pointer must also refuse — it
    // would delete the only remaining JSON history
    val e2 = intercept[IllegalStateException] { DeltaExport.expireLogBefore(dir) }
    assert(e2.getMessage.contains("orphan"))
    assert(DeltaExport.logVersions(dir) === Seq(0L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta multi-part checkpoint: parts assemble to the snapshot; expiry verifies the parts exist first") {
    import graft.core.DeltaExport
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val slices = (0L to 10L).map(m => base.filter(col("doc_id") % 11 === m))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_cp_multi").toString
    DeltaExport.writeDeltaTable(spark, slices.head, dir)
    slices.tail.zipWithIndex.foreach { case (sl, i) =>
      assert(DeltaExport.appendDeltaTable(spark, sl, dir) === i + 1L)
    }
    // multi-part checkpoint at v10 (3 parts), then two more commits
    assert(DeltaExport.checkpointDeltaTable(spark, dir, parts = 3) === 10L)
    val cp = DeltaExport.lastCheckpoint(dir).get
    assert(cp.version === 10L && cp.parts === Some(3))
    val logDir = java.nio.file.Paths.get(dir, "_delta_log")
    (1 to 3).foreach { i =>
      assert(java.nio.file.Files.isRegularFile(logDir.resolve(
        f"${10L}%020d.checkpoint.$i%010d.${3}%010d.parquet")), s"part $i")
    }
    val extra = base.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 900000000L)
    assert(DeltaExport.appendDeltaTable(spark, extra, dir) === 11L)
    val v12df = base.limit(50)
    assert(DeltaExport.overwriteDeltaTable(spark, v12df, dir) === 12L)
    // hide one part: BOTH the reader and expiry must refuse by name
    val part2 = logDir.resolve(
      f"${10L}%020d.checkpoint.${2}%010d.${3}%010d.parquet")
    val hidden = logDir.resolve("hidden_part")
    java.nio.file.Files.move(part2, hidden)
    val eRead = intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTable(spark, dir)
    }
    assert(eRead.getMessage.contains("checkpoint.0000000002.0000000003"))
    val eExp = intercept[IllegalStateException] { DeltaExport.expireLogBefore(dir) }
    assert(eExp.getMessage.contains("orphan"))
    assert(DeltaExport.logVersions(dir).size === 13)
    java.nio.file.Files.move(hidden, part2)
    // expire the covered JSON chain and read through the assembled parts
    assert(DeltaExport.expireLogBefore(dir).size === 11)
    assert(DeltaExport.logVersions(dir) === Seq(11L, 12L))
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).count() === 0L)
      assert(b.exceptAll(a).count() === 0L)
    }
    same(DeltaExport.readDeltaTable(spark, dir), v12df)
    same(DeltaExport.readDeltaTable(spark, dir, Some(10L)), base)
    same(DeltaExport.readDeltaTable(spark, dir, Some(11L)),
      base.unionAll(extra))
    val e = intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTable(spark, dir, Some(3L))
    }
    assert(e.getMessage.contains("expired"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta OPTIMIZE: dataChange=false compaction preserves content, keeps time travel until vacuum, re-statses the compacted files") {
    import graft.core.DeltaExport
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val first = base.filter(col("doc_id") % 2 === 0).repartition(6)
    val extra = base.filter(col("doc_id") % 2 === 1).repartition(2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_opt").toString
    DeltaExport.writeDeltaTable(spark, first, dir)
    DeltaExport.appendDeltaTable(spark, extra, dir)
    val preLive = DeltaExport.snapshotAt(spark, dir, None)._2
    assert(preLive.size === 8)
    assert(DeltaExport.optimizeDeltaTable(spark, dir, targetFiles = 2) === 2L)
    val postLive = DeltaExport.snapshotAt(spark, dir, None)._2
    assert(postLive.size === 2)
    // the commit is pure reshaping: every action carries dataChange=false
    val commit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000002.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!commit.contains(""""dataChange":true"""))
    assert(commit.linesIterator.count(_.startsWith("""{"remove"""")) === 8)
    assert(commit.linesIterator.count(_.startsWith("""{"add"""")) === 2)
    // content identical at latest; pre-OPTIMIZE time travel still works
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).count() === 0L)
      assert(b.exceptAll(a).count() === 0L)
    }
    same(DeltaExport.readDeltaTable(spark, dir), base)
    same(DeltaExport.readDeltaTable(spark, dir, Some(1L)), base)
    same(DeltaExport.readDeltaTable(spark, dir, Some(0L)), first)
    // compacted files carry fresh stats (still log-prunable)
    assert(DeltaExport.statsAt(spark, dir).keySet === postLive.toSet)
    // vacuum reclaims exactly the 8 superseded files; latest unaffected,
    // pre-OPTIMIZE versions now fail loudly by name
    val reclaimed = DeltaExport.vacuumDeltaTable(spark, dir)
    assert(reclaimed.toSet === preLive.toSet)
    same(DeltaExport.readDeltaTable(spark, dir), base)
    val e = intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTable(spark, dir, Some(1L))
    }
    assert(e.getMessage.contains("no longer"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta OPTIMIZE ZORDER BY: the rewrite tightens log stats so band reads prune on EVERY clustered column") {
    import graft.core.DeltaExport
    import spark.implicits._
    // a 64x64 grid scattered randomly across files: before clustering,
    // every file spans both columns' full ranges, so log-stats pruning
    // has nothing to grip
    val grid = spark.range(4096)
      .select((col("id") % 64).as("a"), expr("id div 64").as("b"),
        col("id").as("payload"))
      .repartition(8) // round-robin: every file sees all of a and b
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_zorder").toString
    DeltaExport.writeDeltaTable(spark, grid, dir)
    val (preA, candPreA, totalPre) =
      DeltaExport.readDeltaTablePruned(spark, dir, "a", 0.0, 7.0)
    assert(totalPre === 8 && candPreA === 8,
      "random layout must not prune (every file spans the domain)")
    DeltaExport.optimizeDeltaTable(spark, dir, targetFiles = 8,
      zorderBy = Seq("a", "b"))
    // after ZORDER: a one-eighth band on EACH column prunes files
    val (postA, candA, totalA) =
      DeltaExport.readDeltaTablePruned(spark, dir, "a", 0.0, 7.0)
    val (postB, candB, totalB) =
      DeltaExport.readDeltaTablePruned(spark, dir, "b", 0.0, 7.0)
    assert(totalA === 8 && totalB === 8)
    // range-partition boundaries are sampled, so allow one boundary
    // file of slack per column — the claim is that BOTH columns prune,
    // which a single-column sort cannot deliver
    assert(candA <= 5, s"a-band planned $candA of 8 after zorder")
    assert(candB <= 5, s"b-band planned $candB of 8 after zorder")
    assert(candA + candB < 2 * 8,
      "zorder must prune somewhere on both columns")
    assert(preA.count() === 512L)
    assert(postA.count() === 512L && postB.count() === 512L)
    assert(postA.agg(sum(col("payload"))).head.getLong(0) ===
      grid.filter(col("a") <= 7).agg(sum(col("payload"))).head.getLong(0))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta schema gate: a widened append is refused loudly; a widened overwrite supersedes the metaData and time travel keeps the old schema") {
    import graft.core.DeltaExport
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source")).limit(100)
    val widened = base.withColumn("score", lit(1.5))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_schema").toString
    DeltaExport.writeDeltaTable(spark, base, dir)
    val e = intercept[IllegalArgumentException] {
      DeltaExport.appendDeltaTable(spark, widened, dir)
    }
    assert(e.getMessage.contains("does not match"))
    assert(DeltaExport.logVersions(dir) === Seq(0L),
      "refused append must not commit")
    // overwrite evolves: new metaData action, reader sees the new column
    assert(DeltaExport.overwriteDeltaTable(spark, widened, dir) === 1L)
    val now = DeltaExport.readDeltaTable(spark, dir)
    assert(now.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      widened.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(now.count() === 100L)
    assert(now.filter(col("score") === 1.5).count() === 100L)
    // appends at the NEW schema flow again; old-schema appends refuse
    assert(DeltaExport.appendDeltaTable(spark,
      widened.withColumn("doc_id", col("doc_id") + 100000L), dir) === 2L)
    intercept[IllegalArgumentException] {
      DeltaExport.appendDeltaTable(spark, base, dir)
    }
    // time travel to v0 reconstructs with the ORIGINAL schema
    val old = DeltaExport.readDeltaTable(spark, dir, Some(0L))
    assert(old.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      base.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(old.count() === 100L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta stats: every add carries accurate per-file stats; the pruned band read plans from the log and matches the full scan") {
    import graft.core.DeltaExport
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .repartitionByRange(4, col("doc_id"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_stats").toString
    DeltaExport.writeDeltaTable(spark, d, dir)
    val stats = DeltaExport.statsAt(spark, dir)
    val live = DeltaExport.liveFilesAt(dir, None)._2
    assert(live.size === 4)
    assert(stats.keySet === live.toSet, "every live file must carry stats")
    // per-file accuracy: the blob's numRecords and doc_id min/max equal
    // a direct scan of that file
    val nRe = """"numRecords":(\d+)""".r
    val mnRe = """"minValues":\{"doc_id":(-?\d+)""".r
    val mxRe = """"maxValues":\{"doc_id":(-?\d+)""".r
    live.foreach { f =>
      val one = spark.read.parquet(s"$dir/$f")
        .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")))
        .collect().head
      val s = stats(f)
      assert(nRe.findFirstMatchIn(s).get.group(1).toLong === one.getLong(0), f)
      assert(mnRe.findFirstMatchIn(s).get.group(1).toLong === one.getLong(1), f)
      assert(mxRe.findFirstMatchIn(s).get.group(1).toLong === one.getLong(2), f)
    }
    // a band inside the lowest range-file: the pruned read must plan
    // <= 2 of 4 candidates (range-clustered files overlap at most at
    // the boundary) and return exactly the full scan's band rows
    val Array(lo, hi) = {
      val r = d.agg(min(col("doc_id")), max(col("doc_id"))).collect().head
      val (a, b) = (r.getLong(0), r.getLong(1))
      Array(a.toDouble, (a + (b - a) / 8).toDouble)
    }
    val (pruned, cand, total) =
      DeltaExport.readDeltaTablePruned(spark, dir, "doc_id", lo, hi)
    assert(total === 4 && cand <= 2,
      s"expected <= 2 of $total candidates, got $cand")
    val full = DeltaExport.readDeltaTable(spark, dir)
      .filter(col("doc_id").between(lo, hi))
    assert(pruned.exceptAll(full).count() === 0L)
    assert(full.exceptAll(pruned).count() === 0L)
    // a band past the table's max: zero candidates, empty result with
    // the table schema
    val (none, cand0, _) =
      DeltaExport.readDeltaTablePruned(spark, dir, "doc_id", hi * 10 + 1e9,
        hi * 10 + 2e9)
    assert(cand0 === 0 && none.count() === 0L)
    assert(none.schema === full.schema)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta stats: pruning survives checkpoint + expiry, must-reads a stats-free foreign add, and skips a provably all-NULL file") {
    import graft.core.DeltaExport
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("n_chars").cast("double").as("score"))
    val lowHalf = base.filter(col("doc_id") % 2 === 0).coalesce(1)
    val highHalf = base.filter(col("doc_id") % 2 === 1)
      .withColumn("doc_id", col("doc_id") + 500000000L).coalesce(1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_stats_cp").toString
    DeltaExport.writeDeltaTable(spark, lowHalf, dir)
    DeltaExport.appendDeltaTable(spark, highHalf, dir)
    // an all-NULL-score file: provably contributes nothing to a score
    // band (range predicates exclude NULL), so stats must skip it
    val nullScore = base.limit(20)
      .withColumn("doc_id", col("doc_id") + 900000000L)
      .withColumn("score", lit(null).cast("double")).coalesce(1)
    DeltaExport.appendDeltaTable(spark, nullScore, dir)
    // checkpoint + expire: stats must now come from the checkpoint rows
    DeltaExport.checkpointDeltaTable(spark, dir)
    DeltaExport.expireLogBefore(dir)
    val stats = DeltaExport.statsAt(spark, dir)
    assert(stats.size === 3, "stats lost across checkpoint + expiry")
    val (prunedDf, cand, total) = DeltaExport.readDeltaTablePruned(
      spark, dir, "doc_id", 500000000.0, 899999999.0)
    assert(total === 3 && cand === 1,
      s"high-half band should plan exactly the high file, got $cand of $total")
    assert(prunedDf.count() === highHalf.count())
    // the all-NULL file is skipped on a score band even though its
    // doc_id stats are fine — nullCount == numRecords is the evidence
    val (_, candScore, _) = DeltaExport.readDeltaTablePruned(
      spark, dir, "score", -1e18, 1e18)
    assert(candScore === 2, "all-NULL-score file must be pruned")
    // a foreign writer's add WITHOUT stats: planning must keep it for
    // any band (no information = must read), and results stay exact
    val foreign = base.limit(10)
      .withColumn("doc_id", col("doc_id") + 950000000L).coalesce(1)
    val before = DeltaExport.snapshotAt(spark, dir, None)._2.toSet
    foreign.write.mode("append").parquet(dir)
    val fresh = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val freshName =
      try {
        import scala.jdk.CollectionConverters._
        fresh.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !before(n))
          .toSeq.head
      } finally fresh.close()
    val v = (DeltaExport.lastCheckpoint(dir).map(_.version).toSeq ++
      DeltaExport.logVersions(dir)).max + 1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", f"$v%020d.json"),
      (s"""{"add":{"path":"$freshName","partitionValues":{},"size":${java.nio.file.Files
          .size(java.nio.file.Paths.get(dir, freshName))},"modificationTime":0,"dataChange":true}}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (lowBand, candLow, totalNow) = DeltaExport.readDeltaTablePruned(
      spark, dir, "doc_id", 0.0, 499999999.0)
    assert(totalNow === 4 && candLow === 2,
      s"low band must plan the low file AND the stats-free foreign file, got $candLow")
    // the foreign file is SCANNED (no stats) but its rows sit above the
    // band, so the residual filter drops them — exactness holds
    assert(lowBand.count() === lowHalf.count())
    val (allBand, candAll, _) = DeltaExport.readDeltaTablePruned(
      spark, dir, "doc_id", 0.0, 1.1e9)
    assert(candAll === 4 &&
      allBand.count() === lowHalf.count() + highHalf.count() +
        nullScore.count() + foreign.count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta partitioned: Hive layout + partitionValues round-trip, appends land in their partitions, time travel holds") {
    import graft.core.DeltaExport
    import spark.implicits._
    val d = Seq(
      (1L, "alpha", "en"), (2L, "beta", "en"),
      (3L, "gamma", "fr"), (4L, "delta", "fr"),
      (5L, "epsilon", "de")).toDF("id", "text", "lang")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_part").toString
    DeltaExport.writeDeltaTablePartitioned(spark, d, dir, Seq("lang"))
    // files live in Hive directories; every add carries its partition
    val (_, meta, _) = DeltaExport.readDeltaLog(dir)
    assert(meta.head.contains(""""partitionColumns":["lang"]"""), meta.head)
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000000.json")), "UTF-8")
    assert(log.contains(""""partitionValues":{"lang":"en"}"""), log)
    assert(log.contains("""lang=fr/"""), log)
    // read-back re-attaches the partition column the files don't carry
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "text", "lang"))
    assert(back.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      d.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSeq)
    // append lands in its partitions as v1; v0 time travel is intact
    val v1 = DeltaExport.appendDeltaTablePartitioned(spark,
      Seq((6L, "zeta", "en"), (7L, "eta", "it")).toDF("id", "text", "lang"),
      dir)
    assert(v1 === 1L)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 7L)
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 5L)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "lang=it")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta partitioned: log-only partition prune, flat-mutator guards, checkpointed partitioning survives expiry") {
    import graft.core.DeltaExport
    import spark.implicits._
    val d = (1L to 40L).map(i =>
      (i, s"doc $i", if (i % 2 == 0) "en" else "fr")).toDF("id", "text", "lang")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_part2").toString
    DeltaExport.writeDeltaTablePartitioned(spark,
      d.repartition(2), dir, Seq("lang"))
    // partition prune plans from the log: candidates < live, rows exact
    val (pruned, cand, live) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("lang" -> "en"))
    assert(cand < live, s"pruned nothing: $cand of $live")
    assert(pruned.count() === 20L)
    assert(pruned.select("lang").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("en"))
    // a data-column filter is refused, not silently unpruned
    val badCol = intercept[IllegalArgumentException] {
      DeltaExport.readDeltaTablePartitionPruned(spark, dir, Map("id" -> "1"))
    }
    assert(badCol.getMessage.contains("not partition columns"))
    // flat mutators refuse the partitioned table loudly
    for ((name, op) <- Seq[(String, () => Any)](
        ("append", () => DeltaExport.appendDeltaTable(spark, d, dir)),
        ("overwrite", () => DeltaExport.overwriteDeltaTable(spark, d, dir)),
        ("optimize", () => DeltaExport.optimizeDeltaTable(spark, dir)))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.toLowerCase.contains("partitioned"), s"$name: $e")
    }
    // ... and the partitioned append refuses a flat table
    val flatDir = java.nio.file.Files
      .createTempDirectory("graft_delta_flat").toString
    DeltaExport.writeDeltaTable(spark, d, flatDir)
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.appendDeltaTablePartitioned(spark, d, flatDir))
    assert(e2.getMessage.contains("not partitioned"))
    // checkpoint the partitioned table, expire the JSON chain: the
    // snapshot must rebuild partitionColumns AND per-file
    // partitionValues from the checkpoint parquet alone
    DeltaExport.appendDeltaTablePartitioned(spark,
      Seq((41L, "tail", "de")).toDF("id", "text", "lang"), dir)
    assert(DeltaExport.checkpointDeltaTable(spark, dir) === 1L)
    DeltaExport.expireLogBefore(dir)
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.count() === 41L)
    assert(back.filter(col("lang") === "de").count() === 1L)
    val (p2, c2, l2) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("lang" -> "de"))
    assert(c2 < l2 && p2.count() === 1L)
    // a planted orphan in a partition subdir is vacuum-reclaimed
    val orphan = java.nio.file.Paths.get(dir, "lang=en", "orphan.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    assert(DeltaExport.vacuumDeltaTable(spark, dir) ===
      Seq("lang=en/orphan.parquet"))
    assert(!java.nio.file.Files.exists(orphan))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(flatDir))
  }

  test("Delta MERGE: copy-on-write updates/inserts/deletes rewrite only the touched files; time travel and guards hold") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_merge").toString
    // 4 range-clustered files over ids 1..40: a batch touching only
    // low ids must leave the upper files' adds untouched
    val target = (1L to 40L).map(i => (i, i * 10.0)).toDF("k", "bal")
    DeltaExport.writeDeltaTable(spark,
      target.repartitionByRange(4, col("k")), dir)
    val v0Files = DeltaExport.readDeltaLog(dir)._3.map(_._1).toSet
    assert(v0Files.size === 4)
    val batch = Seq(
      (3L, 999.0, false),  // update in the low file
      (5L, 0.0, true),     // delete in the low file
      (41L, 55.5, false),  // insert (matches nothing)
      (99L, 1.0, true)     // delete of a non-match: a no-op
    ).toDF("k", "bal", "__delete")
    val v1 = DeltaExport.mergeDeltaTable(spark, batch, dir,
      Seq("k"), deleteCol = Some("__delete"))
    assert(v1 === 1L)
    val after = DeltaExport.readDeltaTable(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after.size === 40L) // 40 - 1 delete + 1 insert
    assert(after.find(_._1 == 3L).map(_._2) === Some(999.0))
    assert(!after.exists(_._1 == 5L))
    assert(after.find(_._1 == 41L).map(_._2) === Some(55.5))
    assert(after.find(_._1 == 40L).map(_._2) === Some(400.0))
    // copy-on-write: only the touched file was removed — the other
    // three v0 adds are still live at v1
    val commit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    val removed = """"remove":\{"path":"([^"]+)"""".r
      .findAllMatchIn(commit).map(_.group(1)).toSeq
    assert(removed.size === 1, s"expected 1 touched file, got $removed")
    // v0 time travel reads the pre-merge table
    val v0 = DeltaExport.readDeltaTable(spark, dir, Some(0L))
    assert(v0.count() === 40L &&
      v0.filter(col("k") === 3L).head().getDouble(1) === 30.0)
    // guards: duplicate batch keys; schema drift
    val eDup = intercept[IllegalArgumentException](
      DeltaExport.mergeDeltaTable(spark,
        Seq((1L, 1.0), (1L, 2.0)).toDF("k", "bal"), dir, Seq("k")))
    assert(eDup.getMessage.contains("duplicate merge key"))
    val eSchema = intercept[IllegalArgumentException](
      DeltaExport.mergeDeltaTable(spark,
        Seq((1L, "x")).toDF("k", "bal"), dir, Seq("k")))
    assert(eSchema.getMessage.contains("schema"))
    // an insert-only batch (no matches) removes nothing
    val v2 = DeltaExport.mergeDeltaTable(spark,
      Seq((50L, 5.0)).toDF("k", "bal"), dir, Seq("k"))
    val commit2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000002.json")), "UTF-8")
    assert(!commit2.contains(""""remove""""), commit2)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 41L)
    assert(v2 === 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta MERGE on a partitioned table: rewrites stay per-partition; a partition-moving update relocates the row") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_pmerge").toString
    val target = Seq(
      (1L, "alpha", "en"), (2L, "beta", "en"),
      (3L, "gamma", "fr"), (4L, "delta", "fr"),
      (5L, "eps", "de")).toDF("id", "text", "lang")
    DeltaExport.writeDeltaTablePartitioned(spark, target, dir, Seq("lang"))
    val batch = Seq(
      (1L, "ALPHA", "en", false),  // in-place update in lang=en
      (3L, "gamma", "de", false),  // update MOVES the row fr → de
      (6L, "zeta", "it", false),   // insert into a new partition
      (4L, "x", "fr", true)        // delete in lang=fr
    ).toDF("id", "text", "lang", "__delete")
    DeltaExport.mergeDeltaTable(spark, batch, dir, Seq("id"),
      deleteCol = Some("__delete"))
    val after = DeltaExport.readDeltaTable(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(after === Seq(
      (1L, "ALPHA", "en"), (2L, "beta", "en"), (3L, "gamma", "de"),
      (5L, "eps", "de"), (6L, "zeta", "it")))
    // the rewrite landed in Hive directories and the adds carry
    // partitionValues; the untouched de file was not removed
    val commit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    assert(commit.contains("""lang=it/"""), commit)
    assert(!commit.contains("""{"remove":{"path":"lang=de/"""), commit)
    // partition pruning still plans from the log: the moved row reads
    // from lang=de, and lang=fr holds nothing (3 moved, 4 deleted)
    val (de, cDe, lv) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("lang" -> "de"))
    assert(de.count() === 2L && cDe < lv)
    val (fr, _, _) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("lang" -> "fr"))
    assert(fr.count() === 0L)
    // v0 time travel is intact
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 5L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta ADD COLUMNS: metadata-only evolution; old files read NULL in the new column; pre-evolution time travel keeps the old schema") {
    import graft.core.DeltaExport
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_evolve").toString
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    val wide = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("score", DoubleType)))
    val filesBefore = DeltaExport.readDeltaLog(dir)._3.map(_._1)
    assert(DeltaExport.evolveDeltaTableSchema(spark, dir, wide) === 1L)
    // no data file was touched; the commit is metaData-only
    val commit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000001.json")), "UTF-8")
    assert(!commit.contains(""""add"""") && !commit.contains(""""remove""""))
    // pre-evolution rows read NULL in the new column
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "s", "score"))
    assert(back.filter(col("score").isNull).count() === 2L)
    // the widened append now passes the schema gate; mixed reads align
    DeltaExport.appendDeltaTable(spark,
      Seq((3L, "c", 0.5)).toDF("id", "s", "score"), dir)
    val rows = DeltaExport.readDeltaTable(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2))).toSeq
    assert(rows === Seq((1L, true), (2L, true), (3L, false)))
    // time travel BEFORE the evolution keeps the narrow schema
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L))
      .schema.fieldNames.toSeq === Seq("id", "s"))
    // old files are untouched on disk (same add list at v0)
    assert(DeltaExport.readDeltaLog(dir)._3.map(_._1) === filesBefore)
    // guards: retype, tighten, non-nullable add, no-op
    def evolve(f: Seq[StructField]) = intercept[IllegalArgumentException](
      DeltaExport.evolveDeltaTableSchema(spark, dir, StructType(f)))
    assert(evolve(Seq(
      StructField("id", StringType), StructField("s", StringType),
      StructField("score", DoubleType), StructField("x", StringType)))
      .getMessage.contains("existing column"))
    assert(evolve(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("score", DoubleType),
      StructField("x", StringType, nullable = false)))
      .getMessage.contains("non-nullable"))
    assert(evolve(wide.fields.toSeq).getMessage.contains("adds no columns"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta CDC: changes classify from changed files only; copy-on-write carry-overs drop; evolution reads NULL pre-images") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_cdc").toString
    // one file per range: ids 1-3 | 4-6 (2 files via repartitionByRange)
    DeltaExport.writeDeltaTable(spark,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")), dir)
    // merge touches ONLY the low file: update 1, delete 2; 3 is the
    // carry-over (rewritten verbatim); insert 9
    DeltaExport.mergeDeltaTable(spark,
      Seq((1L, "V1", false), (2L, "x", true), (9L, "v9", false))
        .toDF("id", "s", "__delete"), dir, Seq("id"),
      deleteCol = Some("__delete"))
    val ch = DeltaExport.deltaChangesBetween(spark, dir, 0L, 1L, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    // 3 (the carry-over, rewritten verbatim) and 4-6 (untouched file)
    // produce NO change rows — the delete's pre-image carries the
    // TABLE's row (v2), not the batch's placeholder
    assert(ch === Set(
      (1L, "v1", "update_preimage"), (1L, "V1", "update_postimage"),
      (2L, "v2", "delete"),
      (9L, "v9", "insert")))
    // across an ADD COLUMNS boundary the pre image reads NULL in the
    // new column
    DeltaExport.evolveDeltaTableSchema(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType))))
    DeltaExport.mergeDeltaTable(spark,
      Seq((9L, "V9", 1.5)).toDF("id", "s", "w"), dir, Seq("id"))
    val ch2 = DeltaExport.deltaChangesBetween(spark, dir, 1L, 3L, Seq("id"))
      .filter(col("id") === 9L)
      .collect().map(r => (r.getString(1), r.isNullAt(2), r.getString(3)))
      .toSet
    assert(ch2 === Set(("v9", true, "update_preimage"),
      ("V9", false, "update_postimage")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta RESTORE: log-only rollback reproduces the old snapshot, keeps both directions of history, refuses vacuumed targets") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_restore").toString
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)          // v0
    DeltaExport.appendDeltaTable(spark,
      Seq((3L, "c")).toDF("id", "s"), dir)                      // v1
    DeltaExport.overwriteDeltaTable(spark,
      Seq((9L, "z")).toDF("id", "s"), dir)                      // v2
    val v3 = DeltaExport.restoreDeltaTable(spark, dir, 1L)      // v3 == v1
    assert(v3 === 3L)
    val back = DeltaExport.readDeltaTable(spark, dir).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(back === Seq(1L, 2L, 3L))
    // both directions of history survive: the overwrite head and the
    // original are still reachable
    assert(DeltaExport.readDeltaTable(spark, dir, Some(2L))
      .collect().map(_.getLong(0)).toSeq === Seq(9L))
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 2L)
    // the restore commit is pure log surgery: no data file was written
    val commit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000003.json")), "UTF-8")
    assert(commit.contains(""""operation":"RESTORE""""), commit)
    // a second identical restore is a refused no-op
    val eNoop = intercept[IllegalArgumentException](
      DeltaExport.restoreDeltaTable(spark, dir, 1L))
    assert(eNoop.getMessage.contains("no-op"))
    // restore across a schema change re-asserts the old metaData
    DeltaExport.evolveDeltaTableSchema(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType))))                 // v4
    DeltaExport.restoreDeltaTable(spark, dir, 3L)                   // v5
    assert(DeltaExport.readDeltaTable(spark, dir)
      .schema.fieldNames.toSeq === Seq("id", "s"))
    // vacuum the overwrite-era file, then a restore to v2 must refuse
    DeltaExport.vacuumDeltaTable(spark, dir)
    val eVac = intercept[IllegalArgumentException](
      DeltaExport.restoreDeltaTable(spark, dir, 2L))
    assert(eVac.getMessage.contains("vacuumed"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Delta txn watermark: replayed and regressed batch ids are skipped before any write; the watermark survives checkpoint expiry") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_txn").toString
    DeltaExport.writeDeltaTable(spark,
      Seq((1L, "a")).toDF("id", "s"), dir)
    val app = "graft-sink-7"
    // batch 0 lands; its exact replay is a no-op; an OLDER id too
    assert(DeltaExport.appendDeltaTableIdempotent(spark,
      Seq((2L, "b")).toDF("id", "s"), dir, app, 0L) === ((1L, true)))
    assert(DeltaExport.appendDeltaTableIdempotent(spark,
      Seq((2L, "b")).toDF("id", "s"), dir, app, 0L) === ((1L, false)))
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 2L)
    assert(DeltaExport.lastTxnVersion(spark, dir, app) === Some(0L))
    assert(DeltaExport.lastTxnVersion(spark, dir, "other") === None)
    // the next batch lands; a second writer app tracks independently
    assert(DeltaExport.appendDeltaTableIdempotent(spark,
      Seq((3L, "c")).toDF("id", "s"), dir, app, 1L)._2 === true)
    assert(DeltaExport.appendDeltaTableIdempotent(spark,
      Seq((4L, "d")).toDF("id", "s"), dir, "other", 0L)._2 === true)
    // checkpoint + expire the JSON chain: the watermark must persist
    // through the checkpoint's txn rows, and replays stay no-ops
    DeltaExport.checkpointDeltaTable(spark, dir)
    DeltaExport.expireLogBefore(dir)
    assert(DeltaExport.lastTxnVersion(spark, dir, app) === Some(1L))
    assert(DeltaExport.appendDeltaTableIdempotent(spark,
      Seq((3L, "c")).toDF("id", "s"), dir, app, 1L)._2 === false)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 4L)
    // and a genuinely new batch still lands after expiry
    assert(DeltaExport.appendDeltaTableIdempotent(spark,
      Seq((5L, "e")).toDF("id", "s"), dir, app, 2L)._2 === true)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 5L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // partitioned tables take the same contract: the landed batch
    // routes to its Hive directories; its replay is a pre-write no-op
    val pdir = java.nio.file.Files
      .createTempDirectory("graft_delta_txn_part").toString
    DeltaExport.writeDeltaTablePartitioned(spark,
      Seq((1L, "a", "en")).toDF("id", "s", "lang"), pdir, Seq("lang"))
    val batch = Seq((2L, "b", "fr")).toDF("id", "s", "lang")
    assert(DeltaExport.appendDeltaTableIdempotent(spark, batch, pdir,
      app, 0L)._2 === true)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(pdir, "lang=fr")))
    assert(DeltaExport.appendDeltaTableIdempotent(spark, batch, pdir,
      app, 0L)._2 === false)
    val (fr, c, l) = DeltaExport.readDeltaTablePartitionPruned(
      spark, pdir, Map("lang" -> "fr"))
    assert(fr.count() === 1L && c < l)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pdir))
  }

  test("Delta partitioned: special-character partition values survive write, prune, MERGE and append") {
    import graft.core.DeltaExport
    import spark.implicits._
    // a space (literal on disk, %20 in the scan URI), a percent (Hive-
    // escaped %25 on disk, %2525 in the URI), a colon (%3A on disk,
    // refused raw by java.net.URI), and an UNescaped closing brace
    // (exercises the partitionValues parser — a }-bounded regex
    // truncates the object at the value's brace)
    val langs = Seq("a b", "a%b", "a:b", "a}b")
    val d = langs.zipWithIndex.flatMap { case (l, i) =>
      Seq((i * 10L + 1L, s"one $l", l), (i * 10L + 2L, s"two $l", l))
    }.toDF("id", "text", "lang")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_special").toString
    DeltaExport.writeDeltaTablePartitioned(spark, d, dir, Seq("lang"))
    // disk layout is Hive-escaped; the log carries TRUE values
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "lang=a b")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "lang=a%25b")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "lang=a%3Ab")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "lang=a}b")))
    val log0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000000.json")), "UTF-8")
    assert(log0.contains(""""partitionValues":{"lang":"a%b"}"""), log0)
    assert(log0.contains(""""partitionValues":{"lang":"a:b"}"""), log0)
    // every add carries stats — the URI-decoded suffix match found each
    // file despite the encoded directory names
    val addLines = log0.split("\n").filter(_.startsWith("""{"add""""))
    assert(addLines.nonEmpty && addLines.forall(_.contains(""""stats":""")),
      log0)
    // read-back re-attaches the TRUE values; the pruned read matches on
    // them (including the brace value the old object regex truncated)
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.select("lang").distinct().collect().map(_.getString(0))
      .toSet === langs.toSet)
    for (l <- langs) {
      val (pruned, cand, live) = DeltaExport.readDeltaTablePartitionPruned(
        spark, dir, Map("lang" -> l))
      assert(cand < live, s"pruned nothing for $l")
      assert(pruned.count() === 2L, s"wrong rows for $l")
    }
    // MERGE updating one row per special partition: each touched file's
    // remove must land (a missed URI-decoded match would leave the old
    // file live and double the partition's rows)
    val batch = langs.zipWithIndex.map { case (l, i) =>
      (i * 10L + 1L, s"UPDATED $l", l)
    }.toDF("id", "text", "lang")
    DeltaExport.mergeDeltaTable(spark, batch, dir, Seq("id"))
    val merged = DeltaExport.readDeltaTable(spark, dir)
    assert(merged.count() === d.count(),
      "merge duplicated rows — a touched file's remove action was dropped")
    assert(merged.filter(col("text").startsWith("UPDATED")).count() ===
      langs.size.toLong)
    // append a second file into every partition — it must land in the
    // SAME escaped directories and keep values intact
    DeltaExport.appendDeltaTablePartitioned(spark,
      langs.zipWithIndex.map { case (l, i) => (i * 10L + 3L, s"three $l", l) }
        .toDF("id", "text", "lang"), dir)
    val appended = DeltaExport.readDeltaTable(spark, dir)
    assert(appended.count() === d.count() + langs.size)
    assert(appended.select("lang").distinct().collect()
      .map(_.getString(0)).toSet === langs.toSet)
    // no stray directory appeared (an unescaped partition directory
    // would create nested lang=a/b or lang=a:b spellings)
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val names = try {
      import scala.jdk.CollectionConverters._
      dirs.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("lang=")).toSet
    } finally dirs.close()
    assert(names === Set("lang=a b", "lang=a%25b", "lang=a%3Ab", "lang=a}b"),
      names.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Timed vacuum: a commitInfo with a nested object before its timestamp still clocks the tombstone") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_fts").toString
    DeltaExport.writeDeltaTable(spark, Seq((1L, "a")).toDF("id", "s"), dir)
    DeltaExport.overwriteDeltaTable(spark, Seq((2L, "b")).toDF("id", "s"), dir)
    val v0Files = DeltaExport.liveFilesAt(dir, Some(0L))._2
    // rewrite v1 the way a foreign writer serializes it: its remove
    // carries no deletionTimestamp, so the commit's own (aged)
    // timestamp is the tombstone clock, and an operationParameters
    // OBJECT holding a FRESH "timestamp" precedes it. A first-}-bounded
    // parse loses the field and falls back to the fresh file mtime; a
    // bare first match reads the nested one — either way v0's file
    // would wrongly survive the window
    val fresh = System.currentTimeMillis()
    val old = fresh - 200L * 3600 * 1000
    val p1 = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000001.json")
    val foreign = new String(java.nio.file.Files.readAllBytes(p1), "UTF-8")
      .split("\n").map { l =>
        if (l.startsWith("""{"commitInfo""""))
          s"""{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Overwrite","timestamp":$fresh},"timestamp":$old}}"""
        else l.replaceAll(""","deletionTimestamp":\d+""", "")
      }.mkString("\n") + "\n"
    java.nio.file.Files.write(p1, foreign.getBytes("UTF-8"))
    assert(DeltaExport.vacuumDeltaTable(spark, dir, 168.0, force = false)
      .toSet === v0Files.toSet)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .select("id").as[Long].collect().toSeq === Seq(2L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Timed vacuum: within-window files survive, expired tombstones reclaim, <168h guard refuses") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_tvac").toString
    DeltaExport.writeDeltaTable(spark,
      spark.range(100).select(col("id"), (col("id") * 2).as("x")), dir)
    DeltaExport.overwriteDeltaTable(spark,
      spark.range(100, 200).select(col("id"), (col("id") * 2).as("x")), dir)
    val v0Files = DeltaExport.liveFilesAt(dir, Some(0L))._2
    // the guard: a sub-default window is an explicit decision
    val g = intercept[IllegalArgumentException] {
      DeltaExport.vacuumDeltaTable(spark, dir, 1.0, force = false)
    }
    assert(g.getMessage.contains("168"))
    // within the window: the fresh tombstones keep v0's files, and
    // time travel to v0 still reads exact
    assert(DeltaExport.vacuumDeltaTable(spark, dir, 168.0, force = false)
      === Seq.empty)
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 100L)
    // an ORPHAN (never-committed crash leftover) takes the mtime
    // clock: fresh → survives even a forced retention-1h vacuum
    val orphan = java.nio.file.Paths.get(dir, "orphan-leftover.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    assert(!DeltaExport.vacuumDeltaTable(spark, dir, 1.0, force = true)
      .contains("orphan-leftover.parquet"))
    // backdate v1's remove tombstones past the window → v0's files
    // reclaim under the SAME retention that spared them above
    val p1 = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000001.json")
    val old = System.currentTimeMillis() - 200L * 3600 * 1000
    val aged = new String(java.nio.file.Files.readAllBytes(p1), "UTF-8")
      .replaceAll(""""deletionTimestamp":\d+""",
        s""""deletionTimestamp":$old""")
    java.nio.file.Files.write(p1, aged.getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(old))
    val reclaimed =
      DeltaExport.vacuumDeltaTable(spark, dir, 168.0, force = false)
    assert(reclaimed.toSet === (v0Files :+ "orphan-leftover.parquet").toSet)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 100L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Timed vacuum after a checkpoint still honors PRE-checkpoint tombstones from surviving JSON") {
    import graft.core.DeltaExport
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_tvac_cp").toString
    DeltaExport.writeDeltaTable(spark,
      spark.range(50).select(col("id"), (col("id") * 2).as("x")), dir)
    DeltaExport.overwriteDeltaTable(spark,
      spark.range(50, 90).select(col("id"), (col("id") * 2).as("x")), dir)
    // checkpoint AFTER the remove — its JSON survives (no expiry), so
    // the remove tombstone must still gate the clock: a replay that
    // started at the checkpoint would lose it and fall back to the
    // files' CREATION mtime, reclaiming within-window history
    DeltaExport.checkpointDeltaTable(spark, dir)
    assert(DeltaExport.vacuumDeltaTable(spark, dir, 168.0, force = false)
      === Seq.empty)
    // v0 time travel still reads — its JSON and files both survive
    assert(DeltaExport.readDeltaTable(spark, dir, Some(0L)).count() === 50L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Timed vacuum: a superseded DV bin survives the window, reclaims once its un-referencing commit ages out") {
    import graft.core.DeltaExport
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_tvacdv").toString
    // one wide file so the DV exceeds the 512-byte inline bound and
    // lands in an external .bin
    DeltaExport.writeDeltaTable(spark,
      spark.range(4000).select(col("id"), (col("id") % 7).as("x"))
        .coalesce(1), dir)
    DeltaExport.deleteFromDeltaTableDv(spark, dir,
      col("id") % 2 === 0 && col("id") < 2600)
    val bins = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val binNames = try {
      import scala.jdk.CollectionConverters._
      bins.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("deletion_vector_")).toSeq
    } finally bins.close()
    assert(binNames.size === 1, binNames.toString)
    // DV-aware OPTIMIZE materializes the deletes — the bin is now
    // unreferenced, but its un-referencing commit is FRESH: the window
    // keeps it and DV time travel to v1 still works
    DeltaExport.optimizeDeltaTable(spark, dir)
    assert(!DeltaExport.vacuumDeltaTable(spark, dir, 168.0, force = false)
      .exists(_.startsWith("deletion_vector_")))
    assert(DeltaExport.readDeltaTable(spark, dir, Some(1L)).count() === 2700L)
    // age the OPTIMIZE commit (the one that un-referenced the bin) past
    // the window → the bin reclaims; backdate the data tombstones too
    // so only age, not kind, differs
    val p2 = java.nio.file.Paths.get(dir, "_delta_log",
      "00000000000000000002.json")
    val old = System.currentTimeMillis() - 200L * 3600 * 1000
    val aged = new String(java.nio.file.Files.readAllBytes(p2), "UTF-8")
      .replaceAll(""""timestamp":\d+""", s""""timestamp":$old""")
    java.nio.file.Files.write(p2, aged.getBytes("UTF-8"))
    val reclaimed =
      DeltaExport.vacuumDeltaTable(spark, dir, 168.0, force = false)
    assert(reclaimed.contains(binNames.head), reclaimed.toString)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 2700L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("checkpointed pruned read: distributed checkpoint prune matches the replayed prune, tail supersedes") {
    import graft.core.DeltaExport
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_cppr").toString
    // 4 range-clustered files → tight per-file id stats
    DeltaExport.writeDeltaTable(spark,
      spark.range(1000).select(col("id"), (col("id") % 7).as("x"))
        .repartitionByRange(4, col("id")), dir)
    DeltaExport.checkpointDeltaTable(spark, dir)
    // TAIL commits after the checkpoint: an append inside the band and
    // a DV delete that re-adds one checkpoint file with a vector (the
    // tail's word must supersede the checkpoint row for that file)
    DeltaExport.appendDeltaTable(spark,
      spark.range(2000, 2010).select(col("id"), (col("id") % 7).as("x"))
        .coalesce(1), dir)
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 100L)
    val (out, cand, live) = DeltaExport.readDeltaTablePruned(
      spark, dir, "id", 0.0, 300.0)
    // band 0-300 hits ~2 of the 4 clustered files, not the 2000s append
    assert(cand < live, s"cand=$cand live=$live")
    val expected = DeltaExport.readDeltaTable(spark, dir)
      .filter(col("id").between(0L, 300L))
    assert(out.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(out).count() === 0L)
    // the DV re-added in the tail is applied: id 100 is gone
    assert(out.filter(col("id") === 100L).count() === 0L)
    // a second band catching the tail append delivers it
    val (out2, _, _) = DeltaExport.readDeltaTablePruned(
      spark, dir, "id", 1999.0, 3000.0)
    assert(out2.count() === 10L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("checkpointed PARTITION prune matches the replayed prune; the tail supersedes") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_cpppr").toString
    DeltaExport.writeDeltaTablePartitioned(spark,
      Seq((1L, "en"), (2L, "en"), (3L, "fr"), (4L, "de"))
        .toDF("id", "lang").repartition(1), dir, Seq("lang"))
    // the REPLAYED prune result is the contract the checkpointed one
    // must match
    val (r0, c0, l0) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("lang" -> "en"))
    val expect = r0.orderBy("id").collect().toSeq
    DeltaExport.checkpointDeltaTable(spark, dir)
    // tail: one more en row + a DV delete inside en
    DeltaExport.appendDeltaTablePartitioned(spark,
      Seq((5L, "en")).toDF("id", "lang"), dir)
    DeltaExport.deleteFromDeltaTableDv(spark, dir, col("id") === 2L)
    val (r1, c1, l1) = DeltaExport.readDeltaTablePartitionPruned(
      spark, dir, Map("lang" -> "en"))
    assert(r1.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 5L))
    assert(c1 < l1, s"cand=$c1 live=$l1")
    // data-column filters refuse identically on the checkpointed path
    val e = intercept[IllegalArgumentException](
      DeltaExport.readDeltaTablePartitionPruned(spark, dir,
        Map("id" -> "1")))
    assert(e.getMessage.contains("not partition columns"), e.getMessage)
    assert(expect.map(_.getLong(0)).toSeq === Seq(1L, 2L) && c0 <= l0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("checkpointed pruned read at a SYNTHETIC 100k-file log: candidates stay bounded, driver never holds the stats") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_100k").toString
    // two REAL files at the band edges; 99,998 phantom adds with
    // disjoint stats bands (never candidates, so never opened)
    spark.range(0, 50).select(col("id")).coalesce(1)
      .write.parquet(s"$dir/real")
    val reals = new java.io.File(s"$dir/real").listFiles()
      .map(f => s"real/${f.getName}").filter(_.endsWith(".parquet"))
    assert(reals.length === 1)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_delta_log"))
    val schemaJson =
      spark.range(1).select(col("id")).schema.json
    def statsJson(mn: Long, mx: Long) =
      s"""{\\"numRecords\\":50,\\"minValues\\":{\\"id\\":$mn},\\"maxValues\\":{\\"id\\":$mx},\\"nullCount\\":{\\"id\\":0}}"""
    def addLine(path: String, mn: Long, mx: Long) =
      s"""{"add":{"path":"$path","partitionValues":{},"size":10,"modificationTime":1,"dataChange":true,"stats":"${statsJson(mn, mx)}"}}"""
    val esc = schemaJson.replace("\\", "\\\\").replace("\"", "\\\"")
    val header = Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"33333333-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{},"createdTime":1}}""")
    // v0: real file + 100k phantoms, written via Spark as the
    // CHECKPOINT (the JSON form of 100k adds is what the checkpoint
    // replaces); the tiny v0 json carries just the header + real add
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000000.json"),
      (header :+ addLine(reals.head, 0L, 49L))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val phantoms = spark.range(1, 100000).select(
      concat(lit("phantom-"), col("id"), lit(".parquet")).as("path"),
      (col("id") * 1000L + 10000L).as("mn"),
      (col("id") * 1000L + 10999L).as("mx"))
    val cpRows = phantoms.select(
      lit(null).cast("struct<minReaderVersion:int,minWriterVersion:int>")
        .as("protocol"),
      lit(null).cast(
        "struct<id:string,schemaString:string,partitionColumns:array<string>,createdTime:bigint,configuration:map<string,string>>")
        .as("metaData"),
      struct(col("path"),
        map().cast("map<string,string>").as("partitionValues"),
        lit(10L).as("size"), lit(1L).as("modificationTime"),
        lit(false).as("dataChange"),
        concat(lit("""{"numRecords":50,"minValues":{"id":"""), col("mn"),
          lit("""},"maxValues":{"id":"""), col("mx"),
          lit("""},"nullCount":{"id":0}}""")).as("stats")).as("add"))
    val protoRow = spark.sql(
      """SELECT named_struct('minReaderVersion', 1, 'minWriterVersion', 2) AS protocol,
        CAST(NULL AS struct<id:string,schemaString:string,partitionColumns:array<string>,createdTime:bigint,configuration:map<string,string>>) AS metaData,
        CAST(NULL AS struct<path:string,partitionValues:map<string,string>,size:bigint,modificationTime:bigint,dataChange:boolean,stats:string>) AS add""")
    val metaRow = spark.range(1).select(
      lit(null).cast("struct<minReaderVersion:int,minWriterVersion:int>")
        .as("protocol"),
      struct(lit("33333333-2222-3333-4444-555555555555").as("id"),
        lit(schemaJson).as("schemaString"),
        array().cast("array<string>").as("partitionColumns"),
        lit(1L).as("createdTime"),
        map().cast("map<string,string>").as("configuration")).as("metaData"),
      lit(null).cast(
        "struct<path:string,partitionValues:map<string,string>,size:bigint,modificationTime:bigint,dataChange:boolean,stats:string>")
        .as("add"))
    val realAdd = spark.range(1).select(
      lit(null).cast("struct<minReaderVersion:int,minWriterVersion:int>")
        .as("protocol"),
      lit(null).cast(
        "struct<id:string,schemaString:string,partitionColumns:array<string>,createdTime:bigint,configuration:map<string,string>>")
        .as("metaData"),
      struct(lit(reals.head).as("path"),
        map().cast("map<string,string>").as("partitionValues"),
        lit(10L).as("size"), lit(1L).as("modificationTime"),
        lit(false).as("dataChange"),
        lit("""{"numRecords":50,"minValues":{"id":0},"maxValues":{"id":49},"nullCount":{"id":0}}""").as("stats")).as("add"))
    val tmpCp = java.nio.file.Files
      .createTempDirectory("graft_100k_cp").toString
    protoRow.unionByName(metaRow).unionByName(realAdd)
      .unionByName(cpRows).coalesce(1)
      .write.mode("overwrite").parquet(tmpCp)
    val cpFile = new java.io.File(tmpCp).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    java.nio.file.Files.move(
      java.nio.file.Paths.get(tmpCp, cpFile),
      java.nio.file.Paths.get(dir, "_delta_log",
        "00000000000000000000.checkpoint.parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", "_last_checkpoint"),
      """{"version":0,"size":100001}""".getBytes("UTF-8"))
    // the prune: band 0-49 → ONLY the real file survives the
    // distributed filter; 99,999 phantom stats never reach the driver
    val t0 = System.nanoTime()
    val (out, cand, live) = DeltaExport.readDeltaTablePruned(
      spark, dir, "id", 0.0, 49.0)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(live === 100000, s"live=$live")
    assert(cand === 1, s"cand=$cand")
    assert(out.count() === 50L)
    info(f"100k-file checkpointed prune planned+read in $ms%.0f ms")
    // the probe the prune avoids: FULL driver materialization of the
    // same snapshot (statsAt keeps stats — the pre-r18 shape of every
    // read). Indicative only (GC noise), recorded in BASELINE.md.
    def used(): Long = {
      System.gc(); System.gc()
      Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
    }
    val m0 = used()
    val full = graft.core.DeltaExport.statsAt(spark, dir)
    val m1 = used()
    val bytes = full.map { case (k, v) => k.length + v.length }.sum
    info(s"full materialization holds ${full.size} stats strings " +
      s"(${bytes / 1024} KB of path+stats chars; JVM delta ~" +
      s"${math.max(0L, m1 - m0) / 1024} KB) vs 1 candidate row")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpCp))
  }

  test("Timed vacuum REFUSES a partial log with no checkpoint — a fresh-state replay there would orphan live files") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_tvac_partial").toString
    DeltaExport.writeDeltaTable(spark, Seq((1L, "a")).toDF("id", "s"), dir)
    DeltaExport.appendDeltaTable(spark, Seq((2L, "b")).toDF("id", "s"), dir)
    // v0 expires WITHOUT a checkpoint (a broken table — or a lost
    // _last_checkpoint): replaying v1 alone from empty state would
    // miss v0's files and reclaim them as "orphans"
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir,
      "_delta_log", "00000000000000000000.json"))
    val e = intercept[IllegalArgumentException](
      DeltaExport.vacuumDeltaTable(spark, dir, 0.0, force = true))
    assert(e.getMessage.contains("does not start at 0"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("evolve honors the permitted nullability WIDENING on existing columns") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_widen").toString
    // spark.range produces a NON-nullable id
    DeltaExport.writeDeltaTable(spark,
      spark.range(3).select(col("id")), dir)
    val widened = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType, nullable = true)))
    DeltaExport.evolveDeltaTableSchema(spark, dir, widened)
    val after = org.apache.spark.sql.types.DataType
      .fromJson(DeltaExport.schemaStringOf(
        DeltaExport.snapshotAt(spark, dir, None)._1))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(after("id").nullable, "the widening must survive the commit")
    // and an append carrying a NULL id (legal under the widened
    // contract) lands
    DeltaExport.appendDeltaTable(spark,
      Seq((Option.empty[Long], Option("x"))).toDF("id", "tag"), dir)
    assert(DeltaExport.readDeltaTable(spark, dir)
      .filter(col("id").isNull).count() === 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Schema-changing overwrite widens NESTED nullability on survivors — no non-null nested contract over NULL data (ADVICE r19)") {
    import graft.core.DeltaExport
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_nestnull").toString
    // table: info.a is NON-nullable at depth 1
    val tight = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("info", StructType(Seq(
        StructField("a", LongType, nullable = false),
        StructField("b", StringType))), nullable = true)))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Row(10L, "x")), Row(2L, Row(20L, "y")))), tight), dir)
    // overwrite with the nested-NULLABLE twin, carrying an actual NULL
    // under info.a — same shape, so the survivor match keeps the
    // logged identity; the kept field must WIDEN its nested
    // nullability, not retain the non-null contract over NULL data
    val loose = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("info", StructType(Seq(
        StructField("a", LongType, nullable = true),
        StructField("b", StringType))), nullable = true)))
    assert(DeltaExport.overwriteDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(3L, Row(null, "z")), Row(4L, Row(40L, "w")))), loose),
      dir) === 1L)
    val after = DataType.fromJson(DeltaExport.schemaStringOf(
        DeltaExport.snapshotAt(spark, dir, None)._1))
      .asInstanceOf[StructType]
    assert(after("info").dataType.asInstanceOf[StructType]("a").nullable,
      "nested nullability must merge recursively into the kept field")
    val back = DeltaExport.readDeltaTable(spark, dir)
    assert(back.count() === 2L)
    assert(back.filter(col("info.a").isNull).count() === 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ADD COLUMNS refuses NESTED nullability tightening and honors nested widening (ADVICE r19)") {
    import graft.core.DeltaExport
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_nesttighten").toString
    // table: info.a is NULLABLE at depth 1 and the data exercises it
    val base = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("info", StructType(Seq(
        StructField("a", LongType, nullable = true))), nullable = true)))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Row(null)), Row(2L, Row(20L)))), base), dir)
    // tightening info.a to non-nullable under an appended column must
    // refuse — the standing file carries a NULL there
    val tightened = StructType(Seq(
      base.fields(0),
      StructField("info", StructType(Seq(
        StructField("a", LongType, nullable = false))), nullable = true),
      StructField("extra", StringType)))
    val e = intercept[IllegalArgumentException](
      DeltaExport.evolveDeltaTableSchema(spark, dir, tightened))
    assert(e.getMessage.contains("tighten"))
    assert(DeltaExport.logVersions(dir) === Seq(0L),
      "refused evolution must not commit")
    // the reverse (nested WIDENING) is legal and must survive into the
    // committed schema: rebuild with a non-nullable nested field first
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_delta_nestwiden").toString
    val strict = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("info", StructType(Seq(
        StructField("a", LongType, nullable = false))), nullable = true)))
    DeltaExport.writeDeltaTable(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Row(10L)))), strict), dir2)
    val widened = StructType(Seq(
      strict.fields(0),
      StructField("info", StructType(Seq(
        StructField("a", LongType, nullable = true))), nullable = true),
      StructField("extra", StringType)))
    DeltaExport.evolveDeltaTableSchema(spark, dir2, widened)
    val after = DataType.fromJson(DeltaExport.schemaStringOf(
        DeltaExport.snapshotAt(spark, dir2, None)._1))
      .asInstanceOf[StructType]
    assert(after("info").dataType.asInstanceOf[StructType]("a").nullable,
      "nested widening must survive the commit")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }

  test("Type widening consumer: pre-widening files upcast under the wide logged schema; time travel pins the narrow one (r20)") {
    import graft.core.DeltaExport
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_typewiden").toString
    val logDir = java.nio.file.Paths.get(dir, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_tw_w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    // f0: NARROW physical types (int32 / float) — written pre-widening
    writeOne(Seq((1, 1.5f), (2, 2.5f)).toDF("k", "amt"), "f0.parquet")
    // f1: WIDE physical types — written post-widening
    writeOne(Seq((100L, 9.5d)).toDF("k", "amt"), "f1.parquet")
    def metaLine(schema: StructType) =
      s"""{"metaData":{"id":"tw-test","format":{"provider":"parquet","options":{}},"schemaString":"${schema.json
        .replace("\\", "\\\\").replace("\"", "\\\"")}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    def add(f: String) =
      s"""{"add":{"path":"$f","partitionValues":{},"size":${java.nio.file.Files
        .size(java.nio.file.Paths.get(dir, f))},"modificationTime":1,"dataChange":true}}"""
    def commit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(logDir.resolve(f"$v%020d.json"),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val narrow = StructType(Seq(
      StructField("k", IntegerType), StructField("amt", FloatType)))
    // the widened schema records its history in delta.typeChanges, the
    // protocol's field-metadata form
    def widened(from: String, to: String, dt: DataType, name: String) =
      StructField(name, dt, nullable = true,
        new MetadataBuilder().putMetadataArray("delta.typeChanges",
          Array(new MetadataBuilder().putString("fromType", from)
            .putString("toType", to).build())).build())
    val wide = StructType(Seq(
      widened("integer", "long", LongType, "k"),
      widened("float", "double", DoubleType, "amt")))
    commit(0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(narrow), add("f0.parquet")))
    commit(1L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}""",
      metaLine(wide)))
    commit(2L, Seq(add("f1.parquet")))
    // latest: BOTH vintages read under the wide schema — the narrow
    // file's int32/float upcast in the scan
    val now = DeltaExport.readDeltaTable(spark, dir)
    assert(now.schema("k").dataType === LongType)
    assert(now.schema("amt").dataType === DoubleType)
    assert(now.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      Set((1L, 1.5), (2L, 2.5), (100L, 9.5)))
    // time travel BEFORE the widening pins the narrow schema
    val old = DeltaExport.readDeltaTable(spark, dir, Some(0L))
    assert(old.schema("k").dataType === IntegerType)
    assert(old.schema("amt").dataType === FloatType)
    assert(old.collect().map(r => (r.getInt(0), r.getFloat(1))).toSet ===
      Set((1, 1.5f), (2, 2.5f)))
    // appends at the wide schema flow normally
    DeltaExport.appendDeltaTable(spark,
      Seq((200L, 1.25d)).toDF("k", "amt"), dir)
    assert(DeltaExport.readDeltaTable(spark, dir).count() === 4L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Vacuum leaves a FRESH commit staging file for a live writer, reclaims an aged one") {
    import graft.core.DeltaExport
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delta_tmpgrace").toString
    DeltaExport.writeDeltaTable(spark, Seq((1L, "a")).toDF("id", "s"), dir)
    val fresh = java.nio.file.Paths.get(dir, "_delta_log",
      ".tmp_commit_9-inflight.tmp")
    java.nio.file.Files.write(fresh, "half-written".getBytes("UTF-8"))
    // a concurrent writer mid-writeCommit must NOT lose its staging
    // file to a racing vacuum
    assert(!DeltaExport.vacuumDeltaTable(spark, dir)
      .exists(_.contains("tmp_commit")))
    assert(java.nio.file.Files.isRegularFile(fresh))
    // a crash leftover past the grace window is litter — reclaimed
    java.nio.file.Files.setLastModifiedTime(fresh,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 20 * 60 * 1000L))
    assert(DeltaExport.vacuumDeltaTable(spark, dir)
      .contains("_delta_log/.tmp_commit_9-inflight.tmp"))
    assert(!java.nio.file.Files.exists(fresh))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
