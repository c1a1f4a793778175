package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The transactional contract of manifest-versioned tables: atomic
  * insert-overwrite, snapshot-isolated reads during a concurrent overwrite,
  * CAS-serialized concurrent writers (full and per-partition), time travel,
  * vacuum retention, the catalog entry, and legacy-layout migration.
  */
class VersionedTableSpec extends SparkTestBase {
  import spark.implicits._

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(s"graft_vt_$tag").resolve("tbl").toString

  private def days(rows: (Long, String, Long)*) =
    rows.toSeq.toDF("user_id", "day", "value")

  private def catalogEntry(tbl: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))

  test("overwrite commits replace the snapshot; every version stays readable") {
    val root = tmpRoot("ow")
    val v1 = VersionedTable.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    val v2 = VersionedTable.commitOverwrite(Seq((9L, "z")).toDF("id", "s"), root)
    (v1, v2) shouldBe ((1L, 2L))
    VersionedTable.read(spark, root).as[(Long, String)].collect().toSet shouldBe
      Set((9L, "z"))
    VersionedTable.read(spark, root, Some(1L)).as[(Long, String)].collect().toSet shouldBe
      Set((1L, "a"), (2L, "b"))
    VersionedTable.versions(fs(root), new Path(root)) shouldBe Seq(1L, 2L)
  }

  test("a reader resolved before an overwrite keeps its snapshot (read-during-overwrite)") {
    val root = tmpRoot("snap")
    VersionedTable.commitOverwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "s"), root)
    val pinned = VersionedTable.read(spark, root) // resolved against v1
    pinned.count() shouldBe 100L
    VersionedTable.commitOverwrite(Seq((777L, "new")).toDF("id", "s"), root)
    // the pinned plan re-executes against v1's immutable data dir
    pinned.count() shouldBe 100L
    pinned.agg(max(col("id"))).as[Long].head() shouldBe 100L
    // a fresh resolve sees v2
    VersionedTable.read(spark, root).as[(Long, String)].collect().toSet shouldBe
      Set((777L, "new"))
  }

  test("partition commit replaces only the incoming partitions and reuses prior data dirs") {
    val root = tmpRoot("parts")
    VersionedTable.commitOverwrite(
      days((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L), (3L, "2024-01-03", 30L)),
      root, Seq("day"))
    VersionedTable.commitPartitions(
      days((9L, "2024-01-02", 99L)), root, Seq("day"))
    val got = VersionedTable.read(spark, root)
      .as[(Long, String, Long)].collect().toSet
    got shouldBe Set(
      (1L, "2024-01-01", 10L), (9L, "2024-01-02", 99L), (3L, "2024-01-03", 30L))
    // untouched partitions point at the ORIGINAL data dir (no rewrite)
    val f = fs(root)
    val m1 = VersionedTable.readManifest(f, new Path(root), 1L)
    val m2 = VersionedTable.readManifest(f, new Path(root), 2L)
    m2.entries("day=2024-01-01") shouldBe m1.entries("day=2024-01-01")
    m2.entries("day=2024-01-03") shouldBe m1.entries("day=2024-01-03")
    m2.entries("day=2024-01-02") should not be m1.entries("day=2024-01-02")
    // time travel still sees the pre-increment day 2
    VersionedTable.read(spark, root, Some(1L))
      .filter(col("day") === "2024-01-02")
      .as[(Long, String, Long)].collect().toSet shouldBe Set((2L, "2024-01-02", 20L))
  }

  test("concurrent full overwrites serialize: contiguous versions, each a writer's exact payload") {
    val root = tmpRoot("race")
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val done = (0 until writers).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          VersionedTable.commitOverwrite(
            Seq.fill(5)(w.toLong).zipWithIndex.map { case (v, i) => (v, i) }
              .toDF("writer", "i"), root)
        }
      })
    }
    start.countDown()
    done.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val vs = VersionedTable.versions(fs(root), new Path(root))
    vs shouldBe (1L to writers.toLong)
    // every retained version is exactly ONE writer's payload — no torn or
    // lost commits — and all writers landed exactly once
    val owners = vs.map { v =>
      val w = VersionedTable.read(spark, root, Some(v))
        .select("writer").distinct().as[Long].collect().toSeq
      w.size shouldBe 1
      VersionedTable.read(spark, root, Some(v)).count() shouldBe 5L
      w.head
    }
    owners.toSet shouldBe (0 until writers).map(_.toLong).toSet
  }

  test("concurrent partition commits to different partitions both land (CAS re-merge)") {
    val root = tmpRoot("pmerge")
    VersionedTable.commitOverwrite(
      days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), root, Seq("day"))
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val fut = Seq("2024-01-01" -> 11L, "2024-01-02" -> 22L).map { case (day, v) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          VersionedTable.commitPartitions(days((v, day, v)), root, Seq("day"))
        }
      })
    }
    start.countDown()
    fut.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // whatever order the CAS decided, the FINAL snapshot carries both updates
    VersionedTable.read(spark, root).as[(Long, String, Long)].collect().toSet shouldBe
      Set((11L, "2024-01-01", 11L), (22L, "2024-01-02", 22L))
    VersionedTable.versions(fs(root), new Path(root)) shouldBe Seq(1L, 2L, 3L)
  }

  test("compact: fragmented partition commits collapse to few files, data identical, history intact") {
    val root = tmpRoot("cp")
    // five incremental commits to five DISTINCT partitions -> the live
    // snapshot spans five data dirs, each partition split into four
    // fragment files (the daily-append small-file accretion shape)
    (1 to 5).foreach { i =>
      VersionedTable.commitPartitions(
        days((1 to 4).map(j => (i * 10L + j, s"d$i", j.toLong)): _*)
          .repartition(4),
        root, Seq("day"))
    }
    val before = VersionedTable.read(spark, root).collect().toSet
    before.size shouldBe 20
    val stats = VersionedTable.compact(spark, root, targetRecordsPerFile = 1L << 20)
    stats.version shouldBe 6L
    // 5 partitions x up to 4 round-robin fragments (round-robin start
    // offsets vary per input split, so some fragments coalesce)
    stats.filesBefore should be >= 10L
    stats.filesAfter shouldBe 5L // one hash-clustered file per partition dir
    // data bit-identical; prior versions still time-travel
    VersionedTable.read(spark, root).collect().toSet shouldBe before
    VersionedTable.read(spark, root, Some(5L)).collect().toSet shouldBe before
    VersionedTable.read(spark, root, Some(1L)).count() shouldBe 4L
    // an incremental commit AFTER compaction lands on top of it
    VersionedTable.commitPartitions(days((77L, "d1", 7L)), root, Seq("day"))
    VersionedTable.read(spark, root).filter(col("day") === "d1").count() shouldBe 1L
    VersionedTable.read(spark, root).filter(col("day") =!= "d1").count() shouldBe 16L
    // vacuum after compaction drops the fragment dirs, live stays whole
    VersionedTable.vacuum(spark, root, keepLast = 2, graceMs = 0L)
    VersionedTable.read(spark, root).count() shouldBe 17L
    an[Exception] should be thrownBy
      VersionedTable.read(spark, root, Some(3L)).collect()
  }

  test("compact: unpartitioned table honours targetRecordsPerFile; empty-log raises") {
    val root = tmpRoot("cpu")
    VersionedTable.commitOverwrite(
      (1L to 100L).toDF("id").repartition(16), root)
    val stats = VersionedTable.compact(spark, root, targetRecordsPerFile = 50L)
    stats.filesBefore shouldBe 16L
    stats.filesAfter shouldBe 2L // ceil(100 / 50)
    VersionedTable.read(spark, root).as[Long].collect().toSet shouldBe (1L to 100L).toSet
    an[NoSuchElementException] should be thrownBy
      VersionedTable.compact(spark, tmpRoot("cpu_empty"))
    an[IllegalArgumentException] should be thrownBy
      VersionedTable.compact(spark, root, targetRecordsPerFile = 0L)
  }

  test("compact validates its base snapshot: a concurrent commit during the rewrite is never lost") {
    val root = tmpRoot("cprace")
    (1 to 3).foreach { i =>
      VersionedTable.commitPartitions(days((i * 10L + 1L, s"d$i", 1L)), root, Seq("day"))
    } // v1..v3, three fragment dirs
    // a concurrent writer lands AFTER compaction wrote its rewrite and
    // BEFORE it publishes — exactly the lost-update window
    var fired = false
    val stats = VersionedTable.compact(spark, root, beforePublish = () => {
      if (!fired) {
        fired = true
        VersionedTable.commitPartitions(days((99L, "d9", 9L)), root, Seq("day")) // v4
      }
    })
    // compaction detected the stale base, re-ran against v4, published v5
    stats.version shouldBe 5L
    VersionedTable.read(spark, root).as[(Long, String, Long)].collect().toSet shouldBe
      Set((11L, "d1", 1L), (21L, "d2", 1L), (31L, "d3", 1L), (99L, "d9", 9L))
    // the compacted snapshot ITSELF carries the concurrent partition
    VersionedTable.readManifest(fs(root), new Path(root), 5L)
      .entries.keySet should contain("day=d9")
    // the aborted first rewrite's data dir was deleted: every dir on disk
    // is referenced by some retained manifest
    val f = fs(root)
    val onDisk = f.listStatus(new Path(root)).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("data-"))
      .map(_.getPath.getName).toSet
    val referenced = VersionedTable.versions(f, new Path(root))
      .flatMap(v => VersionedTable.readManifest(f, new Path(root), v).entries.values).toSet
    onDisk shouldBe referenced
    // maxAttempts = 1 fails LOUDLY instead of clobbering the winner
    var fired2 = false
    a[VersionedTable.CommitConflictException] should be thrownBy
      VersionedTable.compact(spark, root, maxAttempts = 1, beforePublish = () => {
        if (!fired2) {
          fired2 = true
          VersionedTable.commitPartitions(days((55L, "d5", 5L)), root, Seq("day"))
        }
      })
    // the concurrent commit survived the aborted compaction intact
    VersionedTable.read(spark, root).filter(col("day") === "d5").count() shouldBe 1L
  }

  test("vacuum vs a pinned reader: grace spares in-flight reads; grace-0 fails them loudly") {
    val root = tmpRoot("vacpin")
    VersionedTable.commitOverwrite((1L to 50L).toDF("id"), root)
    val pinned = VersionedTable.read(spark, root) // resolved against v1
    VersionedTable.commitOverwrite(Seq(999L).toDF("id"), root) // v2
    // retention drops v1's manifest, but the default grace spares its
    // young data dir — the pinned reader still sees its full snapshot
    VersionedTable.vacuum(spark, root, keepLast = 1)
    pinned.count() shouldBe 50L
    // grace 0 actually deletes the dir: the pinned reader now fails LOUDLY
    // (never a torn/partial result) — the documented retention caveat
    VersionedTable.vacuum(spark, root, keepLast = 1, graceMs = 0L)
    an[Exception] should be thrownBy pinned.count()
    VersionedTable.read(spark, root).as[Long].collect().toSet shouldBe Set(999L)
  }

  test("vacuum retains a just-replaced version for its pinned reader, however old its files") {
    val root = tmpRoot("vacfloor")
    VersionedTable.commitOverwrite((1L to 30L).toDF("id"), root)
    val f = fs(root)
    // v1's data dir was written long ago; only its replacement is recent
    val twoHoursAgo = System.currentTimeMillis() - 2L * 3600000L
    f.listStatus(new Path(root)).filter(_.getPath.getName.startsWith("data-"))
      .foreach(st => f.setTimes(st.getPath, twoHoursAgo, -1L))
    VersionedTable.commitOverwrite(Seq(999L).toDF("id"), root) // v2
    val pinned = VersionedTable.read(spark, root, Some(1L))
    VersionedTable.vacuum(spark, root, keepLast = 1)
    pinned.count() shouldBe 30L
    VersionedTable.versions(f, new Path(root)) shouldBe Seq(1L, 2L)
    VersionedTable.read(spark, root).as[Long].collect().toSet shouldBe Set(999L)
  }

  test("vacuum drops unreferenced data dirs and manifests, keeps the live snapshot") {
    val root = tmpRoot("vac")
    VersionedTable.commitOverwrite(Seq((1L, "a")).toDF("id", "s"), root)
    VersionedTable.commitOverwrite(Seq((2L, "b")).toDF("id", "s"), root)
    VersionedTable.commitOverwrite(Seq((3L, "c")).toDF("id", "s"), root)
    val f = fs(root)
    def dataDirs = f.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("data-"))
    dataDirs.size shouldBe 3
    VersionedTable.vacuum(spark, root, keepLast = 1, graceMs = 0L)
    dataDirs.size shouldBe 1
    VersionedTable.versions(f, new Path(root)) shouldBe Seq(3L)
    VersionedTable.read(spark, root).as[(Long, String)].collect().toSet shouldBe
      Set((3L, "c"))
    an[Exception] should be thrownBy
      VersionedTable.read(spark, root, Some(1L)).collect()
  }

  test("vacuum retains data dirs shared with kept snapshots after partition commits") {
    val root = tmpRoot("vacshare")
    VersionedTable.commitOverwrite(
      days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), root, Seq("day"))
    VersionedTable.commitPartitions(days((9L, "2024-01-02", 9L)), root, Seq("day"))
    VersionedTable.vacuum(spark, root, keepLast = 1, graceMs = 0L)
    // v1's dir still serves day=2024-01-01 in v2 → must survive the vacuum
    VersionedTable.read(spark, root).as[(Long, String, Long)].collect().toSet shouldBe
      Set((1L, "2024-01-01", 1L), (9L, "2024-01-02", 9L))
  }

  test("empty and null-partition edge cases round-trip") {
    val root = tmpRoot("edge")
    val empty = Seq.empty[(Long, String, Long)].toDF("user_id", "day", "value")
    VersionedTable.commitOverwrite(empty, root, Seq("day"))
    val back = VersionedTable.read(spark, root)
    back.count() shouldBe 0L
    back.columns.toSeq shouldBe Seq("user_id", "day", "value")
    // null partition value → hive default partition dir → comes back null
    VersionedTable.commitOverwrite(
      Seq((1L, Option("2024-01-01"), 1L), (2L, Option.empty[String], 2L))
        .toDF("user_id", "day", "value"), root, Seq("day"))
    VersionedTable.read(spark, root).as[(Long, Option[String], Long)]
      .collect().toSet shouldBe Set((1L, Some("2024-01-01"), 1L), (2L, None, 2L))
  }

  test("writer + fetcher: catalog view mirror matches the manifest snapshot through overwrites") {
    val tbl = "graft_vtspec_mirror"
    try {
      ProdWriter.insertOverwriteTable(
        days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), tbl, Seq("day"))
      // manifest read and plain-SQL catalog read agree
      ProdFetcher.readTable(spark, tbl).as[(Long, String, Long)].collect().toSet shouldBe
        Set((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L))
      spark.sql(s"SELECT user_id, day, value FROM $tbl")
        .as[(Long, String, Long)].collect().toSet shouldBe
        Set((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L))
      spark.catalog.getTable(tbl).tableType shouldBe "EXTERNAL"
      catalogEntry(tbl).provider shouldBe Some(VersionedSource.Name)

      ProdWriter.overwritePartitions(days((9L, "2024-01-02", 9L)), tbl, Seq("day"))
      spark.sql(s"SELECT user_id, day, value FROM $tbl")
        .as[(Long, String, Long)].collect().toSet shouldBe
        Set((1L, "2024-01-01", 1L), (9L, "2024-01-02", 9L))
      ProdFetcher.tableVersions(spark, tbl) shouldBe Seq(1L, 2L)
      ProdFetcher.readTableVersion(spark, tbl, 1L)
        .filter(col("day") === "2024-01-02").select("value")
        .as[Long].collect().toSeq shouldBe Seq(2L)
    } finally ProdWriter.dropTable(spark, tbl)
  }

  test("legacy saveAsTable layout migrates: entry dropped, dir moved aside, data replaced") {
    val tbl = "graft_vtspec_legacy"
    try {
      Seq((1L, "old")).toDF("id", "s").write.mode("overwrite").saveAsTable(tbl)
      spark.catalog.getTable(tbl).tableType should not be "VIEW"
      ProdWriter.insertOverwriteTable(Seq((2L, "new")).toDF("id", "s"), tbl)
      ProdFetcher.readTable(spark, tbl).as[(Long, String)].collect().toSet shouldBe
        Set((2L, "new"))
      spark.sql(s"SELECT * FROM $tbl").as[(Long, String)].collect().toSet shouldBe
        Set((2L, "new"))
      // the old directory survived as an aside, not a delete
      val (f, loc) = WarehousePaths.resolve(spark, tbl).get
      val asides = f.globStatus(new Path(loc.getParent, loc.getName + ".__orphan.*"))
      asides should not be empty
    } finally ProdWriter.dropTable(spark, tbl)
  }

  test("dropTable removes the root and the catalog entry") {
    val tbl = "graft_vtspec_drop"
    ProdWriter.insertOverwriteTable(Seq((1L, "x")).toDF("id", "s"), tbl)
    val (f, loc) = WarehousePaths.resolve(spark, tbl).get
    f.exists(loc) shouldBe true
    ProdWriter.dropTable(spark, tbl)
    f.exists(loc) shouldBe false
    spark.catalog.tableExists(tbl) shouldBe false
  }

  test("resolving a snapshot runs no Spark job: each dir reads with its recorded schema") {
    val root = tmpRoot("nojob")
    VersionedTable.commitOverwrite(
      days((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L)), root, Seq("day"))
    VersionedTable.commitPartitions(days((3L, "2024-01-02", 30L)), root, Seq("day"))
    // jobs started from this thread carry its job group; suites running
    // alongside start their own
    val group = s"vt-read-${System.nanoTime()}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.add(e.properties.getProperty("spark.job.description"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val snapshot =
      try {
        sc.setJobGroup(group, "read")
        val df = VersionedTable.read(spark, root)
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
        // the listener bus delivers in order: any job the read started
        // arrives before the marker
        val before = Seq.newBuilder[String]
        var d = seen.poll(60, TimeUnit.SECONDS)
        while (d != null && d != "marker") { before += d; d = seen.poll(60, TimeUnit.SECONDS) }
        d shouldBe "marker"
        before.result() shouldBe empty
        df
      } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    snapshot.schema.fieldNames.toSeq shouldBe Seq("user_id", "day", "value")
    snapshot.as[(Long, String, Long)].collect().toSet shouldBe
      Set((1L, "2024-01-01", 10L), (3L, "2024-01-02", 30L))
  }

  test("add-column evolution: partition commits widen; old dirs read NULL; time travel keeps the old shape") {
    val root = tmpRoot("evolve")
    VersionedTable.commitOverwrite(
      days((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L)), root, Seq("day"))
    // v2 ADDS `extra` on a new partition — legal, snapshot schema widens
    val v2 = VersionedTable.commitPartitions(
      Seq((3L, "2024-01-03", 30L, "x3")).toDF("user_id", "day", "value", "extra"),
      root, Seq("day"))
    val latest = VersionedTable.read(spark, root)
    latest.schema.fieldNames should contain("extra")
    latest.select("user_id", "extra").as[(Long, Option[String])].collect().toSet shouldBe
      Set((1L, None), (2L, None), (3L, Some("x3")))
    // time travel to v1: the old shape, no phantom column
    VersionedTable.read(spark, root, Some(1L)).schema.fieldNames should
      not contain "extra"
    // rewriting an OLD day with the wide schema replaces its dir
    VersionedTable.commitPartitions(
      Seq((1L, "2024-01-01", 11L, "x1")).toDF("user_id", "day", "value", "extra"),
      root, Seq("day"))
    VersionedTable.read(spark, root)
      .select("user_id", "value", "extra")
      .as[(Long, Long, Option[String])].collect().toSet shouldBe
      Set((1L, 11L, Some("x1")), (2L, 20L, None), (3L, 30L, Some("x3")))
    // a catalog entry over the root serves the same snapshot: typed NULL
    // for the old dir
    val tbl = "graft_vtspec_evolve"
    try {
      spark.sql(s"CREATE TABLE $tbl USING ${VersionedSource.Name} LOCATION '$root'")
      spark.sql(s"SELECT user_id, value, extra FROM $tbl")
        .as[(Long, Long, Option[String])].collect().toSet shouldBe
        Set((1L, 11L, Some("x1")), (2L, 20L, None), (3L, 30L, Some("x3")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // v2's manifest carries per-dir schemas (old dir narrower than snapshot)
    val m2 = VersionedTable.readManifest(fs(root), new Path(root), v2)
    m2.dirSchemas.values.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet)
      .toSet shouldBe Set(Set("user_id", "day", "value"),
        Set("user_id", "day", "value", "extra"))
  }

  test("dropping, renaming, or retyping a column in a partition commit fails loudly") {
    val root = tmpRoot("evolve_reject")
    VersionedTable.commitOverwrite(
      days((1L, "2024-01-01", 10L)), root, Seq("day"))
    val dropped = intercept[IllegalArgumentException] {
      VersionedTable.commitPartitions(
        Seq((2L, "2024-01-02")).toDF("user_id", "day"), root, Seq("day"))
    }
    dropped.getMessage should include("drops or renames")
    val renamed = intercept[IllegalArgumentException] {
      VersionedTable.commitPartitions(
        Seq((2L, "2024-01-02", 20L)).toDF("user_id", "day", "amount"),
        root, Seq("day"))
    }
    renamed.getMessage should include("drops or renames")
    val retyped = intercept[IllegalArgumentException] {
      VersionedTable.commitPartitions(
        Seq((2L, "2024-01-02", "not-a-long")).toDF("user_id", "day", "value"),
        root, Seq("day"))
    }
    retyped.getMessage should include("retypes")
    // the table is untouched: still v1, still readable
    VersionedTable.read(spark, root).count() shouldBe 1L
    // commitOverwrite remains the escape hatch for a reshape
    VersionedTable.commitOverwrite(
      Seq((5L, "2024-01-05", "s")).toDF("user_id", "day", "value_str"),
      root, Seq("day"))
    VersionedTable.read(spark, root).schema.fieldNames should contain("value_str")
  }

  test("compact after add-column evolution: data identical, NULLs materialized, one dir schema") {
    val root = tmpRoot("evolve_compact")
    VersionedTable.commitOverwrite(
      days((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L)), root, Seq("day"))
    VersionedTable.commitPartitions(
      Seq((3L, "2024-01-03", 30L, "x3")).toDF("user_id", "day", "value", "extra"),
      root, Seq("day"))
    val pre = VersionedTable.read(spark, root)
      .select("user_id", "value", "extra")
      .as[(Long, Long, Option[String])].collect().toSet
    val stats = VersionedTable.compact(spark, root)
    VersionedTable.read(spark, root)
      .select("user_id", "value", "extra")
      .as[(Long, Long, Option[String])].collect().toSet shouldBe pre
    val m = VersionedTable.readManifest(fs(root), new Path(root), stats.version)
    m.dirSchemas.keySet shouldBe m.entries.values.toSet
  }

  test("pre-r18 manifests (no dirSchemas field) read through the snapshot-schema fallback") {
    val root = tmpRoot("legacy_manifest")
    VersionedTable.commitOverwrite(
      days((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L)), root, Seq("day"))
    // rewrite v1's manifest WITHOUT the dirSchemas field — the exact
    // bytes a pre-evolution build committed
    val f = fs(root)
    val mPath = new Path(s"$root/${VersionedTable.LogDirName}/${"%020d".format(1)}.json")
    val raw = {
      val in = f.open(mPath)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    raw should include("\"dirSchemas\"")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(raw)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("dirSchemas")
    val legacy = mapper.writeValueAsString(node)
    legacy should not include "dirSchemas"
    f.delete(mPath, false)
    val out = f.create(mPath, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    // reads fall back to the snapshot schema for every dir
    val m = VersionedTable.readManifest(f, new Path(root), 1L)
    m.dirSchemas shouldBe empty
    m.entries.keys.foreach(p =>
      m.schemaOf(m.entries(p)).fieldNames.toSeq shouldBe m.schema.fieldNames.toSeq)
    VersionedTable.read(spark, root).as[(Long, String, Long)].collect().toSet shouldBe
      Set((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L))
    spark.read.format(VersionedSource.Name).load(root).count() shouldBe 2L
    // an add-column commit ON TOP of the legacy manifest starts tracking
    // per-dir schemas and still NULL-fills the legacy dir
    VersionedTable.commitPartitions(
      Seq((3L, "2024-01-03", 30L, "x")).toDF("user_id", "day", "value", "extra"),
      root, Seq("day"))
    VersionedTable.read(spark, root)
      .select("user_id", "extra").as[(Long, Option[String])].collect().toSet shouldBe
      Set((1L, None), (2L, None), (3L, Some("x")))
  }

  test("compact cleans its staged rewrite on ANY pre-publish failure, not just conflicts") {
    val root = tmpRoot("compact_leak")
    VersionedTable.commitOverwrite(Seq((1L, "a")).toDF("id", "s"), root)
    val m1 = VersionedTable.readManifest(fs(root), new Path(root), 1L)
    val liveDirs = m1.entries.values.toSet
    val boom = intercept[RuntimeException] {
      VersionedTable.compact(spark, root,
        beforePublish = () => throw new RuntimeException("manifest IO exploded"))
    }
    boom.getMessage should include("exploded")
    // no orphaned data-* rewrite dir leaked (vacuum could never find it)
    val dataDirs = fs(root).listStatus(new Path(root)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("data-")).toSet
    dataDirs shouldBe liveDirs
    // the table is untouched and a later compact still works
    VersionedTable.read(spark, root).count() shouldBe 1L
    VersionedTable.compact(spark, root).version shouldBe 2L
  }

  /** Names of the catalog events about table `tbl` that `body` posts. */
  private def tableEvents(tbl: String)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case t: org.apache.spark.sql.catalyst.catalog.TableEvent if t.name == tbl =>
            seen.add(t.getClass.getSimpleName)
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { body; org.apache.spark.sql.GraftColumnBridge.waitForListeners(sc) }
    finally sc.removeSparkListener(listener)
    seen.toArray.toSeq.map(_.toString)
  }

  test("a commit that keeps the schema posts no catalog create, drop or alter event") {
    val tbl = "graft_vtspec_events"
    try {
      ProdWriter.insertOverwriteTable(
        days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), tbl, Seq("day"))
      // the listener sees the first commit's registration, so it is live
      tableEvents(tbl)(ProdWriter.dropTable(spark, tbl)) should not be empty
      ProdWriter.insertOverwriteTable(
        days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), tbl, Seq("day"))
      tableEvents(tbl) {
        ProdWriter.insertOverwriteTable(
          days((3L, "2024-01-01", 3L), (4L, "2024-01-02", 4L)), tbl, Seq("day"))
        ProdWriter.overwritePartitions(days((9L, "2024-01-02", 9L)), tbl, Seq("day"))
      } shouldBe empty
      spark.table(tbl).as[(Long, String, Long)].collect().toSet shouldBe
        Set((3L, "2024-01-01", 3L), (9L, "2024-01-02", 9L))
    } finally ProdWriter.dropTable(spark, tbl)
  }

  test("after each commit spark.table, SQL and a new session read what readTable reads") {
    val tbl = "graft_vtspec_reads"
    def agree(): Unit = {
      val want = ProdFetcher.readTable(spark, tbl)
      val rows = want.collect().toSet
      spark.table(tbl).schema shouldBe want.schema
      spark.table(tbl).collect().toSet shouldBe rows
      spark.sql(s"SELECT * FROM $tbl").collect().toSet shouldBe rows
      spark.newSession().table(tbl).collect().toSet shouldBe rows
    }
    try {
      ProdWriter.insertOverwriteTable(
        days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), tbl, Seq("day"))
      agree()
      ProdWriter.insertOverwriteTable(days((5L, "2024-01-05", 5L)), tbl, Seq("day"))
      agree()
      ProdWriter.overwritePartitions(
        days((6L, "2024-01-06", 6L), (7L, "2024-01-05", 7L)), tbl, Seq("day"))
      agree()
      // an empty snapshot keeps its catalog entry
      ProdWriter.insertOverwriteTable(days(), tbl, Seq("day"))
      agree()
      spark.table(tbl).count() shouldBe 0L
      ProdWriter.overwritePartitions(
        days((6L, "2024-01-06", 6L), (7L, "2024-01-05", 7L)), tbl, Seq("day"))
      ProdWriter.compactTable(spark, tbl)
      agree()
      spark.table(tbl).count() shouldBe 2L
    } finally ProdWriter.dropTable(spark, tbl)
  }

  test("a catalog DataFrame resolved before a commit keeps its snapshot") {
    val tbl = "graft_vtspec_pinned"
    try {
      ProdWriter.insertOverwriteTable(
        days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), tbl, Seq("day"))
      val pinned = spark.table(tbl)
      ProdWriter.overwritePartitions(days((9L, "2024-01-02", 9L)), tbl, Seq("day"))
      ProdWriter.insertOverwriteTable(days((5L, "2024-01-05", 5L)), tbl, Seq("day"))
      pinned.as[(Long, String, Long)].collect().toSet shouldBe
        Set((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L))
      spark.table(tbl).as[(Long, String, Long)].collect().toSet shouldBe
        Set((5L, "2024-01-05", 5L))
    } finally ProdWriter.dropTable(spark, tbl)
  }

  test("a catalog entry dropped by hand is registered again by the next commit") {
    val tbl = "graft_vtspec_redrop"
    try {
      ProdWriter.insertOverwriteTable(
        days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), tbl, Seq("day"))
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.tableExists(tbl) shouldBe false
      ProdWriter.overwritePartitions(days((9L, "2024-01-02", 9L)), tbl, Seq("day"))
      catalogEntry(tbl).provider shouldBe Some(VersionedSource.Name)
      spark.table(tbl).as[(Long, String, Long)].collect().toSet shouldBe
        Set((1L, "2024-01-01", 1L), (9L, "2024-01-02", 9L))
    } finally ProdWriter.dropTable(spark, tbl)
  }

  test("an add-column commit widens the catalog entry's schema") {
    val tbl = "graft_vtspec_widen"
    try {
      ProdWriter.insertOverwriteTable(
        days((1L, "2024-01-01", 1L), (2L, "2024-01-02", 2L)), tbl, Seq("day"))
      catalogEntry(tbl).schema.fieldNames.toSeq shouldBe Seq("user_id", "day", "value")
      ProdWriter.overwritePartitions(
        Seq((3L, "2024-01-03", 3L, "x3")).toDF("user_id", "day", "value", "extra"),
        tbl, Seq("day"))
      val entry = catalogEntry(tbl)
      entry.provider shouldBe Some(VersionedSource.Name)
      entry.schema.fieldNames.toSeq shouldBe Seq("user_id", "day", "value", "extra")
      spark.sql(s"SELECT user_id, extra FROM $tbl")
        .as[(Long, Option[String])].collect().toSet shouldBe
        Set((1L, None), (2L, None), (3L, Some("x3")))
    } finally ProdWriter.dropTable(spark, tbl)
  }

  test("readTable and the catalog entry read every column nullable, in the writer's order") {
    val tbl = "graft_vtspec_nullable"
    try {
      // lit and range columns are non-nullable in the writer's schema
      ProdWriter.insertOverwriteTable(spark.range(3).select(col("id").as("user_id"),
        lit("2024-01-01").as("day"), lit(1L).as("value")), tbl, Seq("day"))
      val want = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, day STRING, value BIGINT")
      ProdFetcher.readTable(spark, tbl).schema shouldBe want
      spark.table(tbl).schema shouldBe want
    } finally ProdWriter.dropTable(spark, tbl)
  }

  test("a day filter on readTable plans one scan of only the matching partitions") {
    val tbl = "graft_vtspec_prune"
    val feats = (1 to 30).map(d => (1L, java.sql.Date.valueOf(f"2024-01-$d%02d"), d.toLong))
      .toDF("user_id", "day", "value")
    try {
      // a 30-day backfill, then an incremental run over its last 3 days: the
      // snapshot spans two data dirs
      ProdWriter.insertOverwriteTable(feats, tbl, Seq("day"))
      ProdWriter.overwritePartitions(
        feats.filter(col("day") >= to_date(lit("2024-01-28"))), tbl, Seq("day"))
      val q = ProdFetcher.readTable(spark, tbl)
        .filter(col("day") >= to_date(lit("2024-01-24")))
      val scans = q.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      scans.map(_.selectedPartitions.partitionCount) shouldBe Seq(7)
      q.select("value").as[Long].collect().sorted.toSeq shouldBe (24L to 30L)
    } finally ProdWriter.dropTable(spark, tbl)
  }
}
