package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.DeltaLite

/** V2 (sidecar-style) checkpoints + the modern reader/writer features a
  * table written by a current engine carries: `v2Checkpoint` bootstrap
  * (parquet and JSON top-level flavors, file actions in
  * `_delta_log/_sidecars/`), `domainMetadata` replay + preservation
  * through checkpoints (the liquid-clustering state channel), and
  * `timestampNtz` columns. Before this, the v3 feature gate refused all
  * of them.
  */
class DeltaV2CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("graft_v2ckpt").toString + "/t"

  private def logFiles(t: String): Seq[String] =
    new java.io.File(t, "_delta_log").listFiles().map(_.getName).toSeq

  test("checkpointV2 writes sidecar-style checkpoints the reader " +
    "bootstraps from after log cleanup; protocol upgrades once") {
    val t = newTable()
    DeltaLite.commit(spark, t,
      (0L until 20L).map(k => (k, s"r$k")).toDF("k", "s")
        .repartitionByRange(2, col("k")))                        // v0
    DeltaLite.commit(spark, t, Seq((100L, "x")).toDF("k", "s"))  // v1
    val cpV = DeltaLite.checkpointV2(spark, t)
    assert(cpV == 2L, "one UPGRADE commit then the checkpoint at its tip")
    // layout: uuid top-level + sidecar parquet, no classic checkpoint
    val tops = logFiles(t).filter(n =>
      n.contains(".checkpoint.") && n.endsWith(".parquet"))
    assert(tops.size == 1 && tops.head.matches(
      "0{18}02\\.checkpoint\\.[0-9a-f-]{36}\\.parquet"), s"$tops")
    val sidecars = new java.io.File(t, "_delta_log/_sidecars")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(sidecars.size == 1, "file actions must land in one sidecar")
    // protocol: v3/v7 with the feature declared
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.minReaderVersion == 3 &&
      snap.readerFeatures.contains("v2Checkpoint") &&
      snap.writerFeatures.contains("v2Checkpoint"), s"$snap")

    // a commit after the checkpoint replays as the JSON tail
    DeltaLite.commit(spark, t, Seq((200L, "y")).toDF("k", "s"))  // v3
    // log cleanup: drop every pre-checkpoint JSON commit — the reader
    // must reconstruct v0..v2 state from the sidecar checkpoint alone
    Seq(0L, 1L, 2L).foreach(v => Files.delete(
      Paths.get(t, "_delta_log", f"$v%020d.json")))
    val got = DeltaLite.read(spark, t).select("k").as[Long].collect().toSet
    assert(got == (0L until 20L).toSet + 100L + 200L,
      s"bootstrap must recover the full state, got ${got.size} rows")
    // add-stats survive the sidecar round-trip (skipping keeps working)
    val s2 = DeltaLite.snapshot(spark, t)
    assert(s2.stats.nonEmpty, "sidecar adds must carry stats")
    val scan = DeltaLite.readWhere(spark, t, "k", 0L, 5L)
    assert(scan.filesSkipped > 0, s"stats pruning must survive: $scan")
    // a second checkpoint on the now-declared table goes v2 via the
    // plain checkpoint() verb
    val cp2 = DeltaLite.checkpoint(spark, t)
    assert(cp2 == 3L)
    assert(logFiles(t).exists(n =>
      n.startsWith(f"${3L}%020d.checkpoint.") && n.endsWith(".parquet")))
    assert(!logFiles(t).contains(f"${3L}%020d.checkpoint.parquet"),
      "a v2Checkpoint table must not get a classic checkpoint")
  }

  test("v2 checkpoint JSON top-level flavor: NDJSON actions + sidecar " +
    "refs bootstrap identically") {
    val t = newTable()
    DeltaLite.commit(spark, t,
      (0L until 10L).map(k => (k, k * 2.5)).toDF("k", "v")
        .repartitionByRange(2, col("k")))                        // v0
    DeltaLite.checkpointV2(spark, t)                             // v1 + cp
    // convert the parquet top-level to the JSON flavor a foreign writer
    // may produce: same non-file actions as NDJSON, same sidecar ref
    val logDir = new java.io.File(t, "_delta_log")
    val top = logDir.listFiles().map(_.getName)
      .find(n => n.contains(".checkpoint.") && n.endsWith(".parquet")).get
    val sidecar = new java.io.File(t, "_delta_log/_sidecars")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).head
    val snap = DeltaLite.snapshot(spark, t)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def js(s: String) = mapper.writeValueAsString(s)
    val rf = snap.readerFeatures.toSeq.sorted.map(js).mkString(",")
    val wf = snap.writerFeatures.toSeq.sorted.map(js).mkString(",")
    val ndjson = Seq(
      s"""{"checkpointMetadata":{"version":1}}""",
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[$rf],"writerFeatures":[$wf]}}""",
      s"""{"metaData":{"id":"foreign","format":{"provider":"parquet"},"schemaString":${js(snap.schemaJson.get)},"partitionColumns":[],"configuration":{},"createdTime":0}}""",
      s"""{"sidecar":{"path":${js(sidecar)},"sizeInBytes":1,"modificationTime":0}}""").mkString("\n")
    Files.write(Paths.get(t, "_delta_log",
      f"${1L}%020d.checkpoint.deadbeef-0000-0000-0000-000000000000.json"),
      ndjson.getBytes("UTF-8"))
    Files.delete(Paths.get(t, "_delta_log", top))
    // force the bootstrap: drop the JSON commits at and before the cp
    Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
    DeltaLite.commit(spark, t, Seq((50L, 1.0)).toDF("k", "v"))   // v2 tail
    val got = DeltaLite.read(spark, t).select("k").as[Long].collect().toSet
    assert(got == (0L until 10L).toSet + 50L, s"got $got")
  }

  test("domainMetadata: foreign domains replay, tombstone, survive " +
    "checkpoints, and never block commits (clustering tables write)") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))    // v0
    // a foreign writer (liquid clustering) stamps domain state + v7
    Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"),
      ("""{"commitInfo":{"operation":"CLUSTER","timestamp":1}}""" + "\n" +
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata","clustering"]}}""" + "\n" +
        """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[\"k\"]}","removed":false}}""" +
        "\n").getBytes("UTF-8"))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.domainMetadata ==
      Map("delta.clustering" -> """{"clusteringColumns":["k"]}"""))
    // the writer gate accepts: appends to a clustering table are legal
    DeltaLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))    // v2
    assert(DeltaLite.read(spark, t).count() == 2L)
    // a classic checkpoint preserves the domain; bootstrap keeps it
    DeltaLite.checkpoint(spark, t)
    DeltaLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))    // v3
    Seq(0L, 1L, 2L).foreach(v => Files.delete(
      Paths.get(t, "_delta_log", f"$v%020d.json")))
    val s2 = DeltaLite.snapshot(spark, t)
    assert(s2.domainMetadata.contains("delta.clustering"),
      "domain state must survive the checkpoint bootstrap")
    assert(DeltaLite.read(spark, t).count() == 3L)
    // a removed=true tombstone drops the domain
    val v4 = s2.version + 1
    Files.write(Paths.get(t, "_delta_log", f"$v4%020d.json"),
      ("""{"commitInfo":{"operation":"UNCLUSTER","timestamp":1}}""" + "\n" +
        """{"domainMetadata":{"domain":"delta.clustering","configuration":"","removed":true}}""" +
        "\n").getBytes("UTF-8"))
    assert(DeltaLite.snapshot(spark, t).domainMetadata.isEmpty)
  }

  test("timestampNtz: a table declaring the feature reads and appends " +
    "with TIMESTAMP_NTZ values intact") {
    val t = newTable()
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP_NTZ'2024-01-02 03:04:05'),
        |  (2L, TIMESTAMP_NTZ'2024-06-07 08:09:10') AS v(k, ts)""".stripMargin)
    DeltaLite.commit(spark, t, df)                               // v0
    // foreign protocol pinning the feature on BOTH sides
    Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"),
      ("""{"commitInfo":{"operation":"UPGRADE","timestamp":1}}""" + "\n" +
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""" +
        "\n").getBytes("UTF-8"))
    val out = DeltaLite.read(spark, t)
    assert(out.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(out.selectExpr("CAST(ts AS STRING)").as[String].collect().toSet ==
      Set("2024-01-02 03:04:05", "2024-06-07 08:09:10"))
    DeltaLite.commit(spark, t, spark.sql(
      "SELECT 3L AS k, TIMESTAMP_NTZ'2025-01-01 00:00:00' AS ts"))
    assert(DeltaLite.read(spark, t).count() == 3L)
  }

  /** Spark jobs `body` starts, counted under its own job group once the
    * listener bus has gone quiet (job-start events arrive async). */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "count jobs", interruptOnCancel = false)
    val out = try body finally sc.clearJobGroup()
    var last = -1
    var same = 0
    while (same < 3) {
      Thread.sleep(200)
      val n = sc.statusTracker.getJobIdsForGroup(group).length
      if (n == last) same += 1 else { same = 0; last = n }
    }
    (out, last)
  }

  /** The same table's snapshot replayed from its JSON commits alone: a
    * copy of the commit files, no checkpoint, no `_last_checkpoint`. */
  private def jsonReplay(t: String): DeltaLite.Snapshot = {
    val copy = newTable()
    val dst = Files.createDirectories(Paths.get(copy, "_delta_log"))
    new java.io.File(t, "_delta_log").listFiles()
      .filter(_.getName.matches("\\d{20}\\.json"))
      .foreach(f => Files.copy(f.toPath, dst.resolve(f.getName)))
    DeltaLite.snapshot(spark, copy)
  }

  private def fields(s: DeltaLite.Snapshot): Seq[(String, Any)] = Seq(
    "version" -> s.version, "schemaJson" -> s.schemaJson,
    "files" -> s.files.sorted, "stats" -> s.stats, "dvs" -> s.dvs,
    "partitionValues" -> s.partitionValues, "rowIds" -> s.rowIds,
    "txns" -> s.txns, "domainMetadata" -> s.domainMetadata,
    "configuration" -> s.configuration,
    "partitionColumns" -> s.partitionColumns,
    "minReaderVersion" -> s.minReaderVersion,
    "readerFeatures" -> s.readerFeatures,
    "minWriterVersion" -> s.minWriterVersion,
    "writerFeatures" -> s.writerFeatures)

  test("checkpoint bootstrap equals JSON replay field by field, in one " +
    "Spark job (classic) or at most two (V2)") {
    // (what the table covers, how to build it)
    val fixtures: Seq[(String, String => Unit)] = Seq(
      "deletion vectors + row tracking + txn + domain" -> { t =>
        DeltaLite.commit(spark, t,
          (0L until 40L).map(k => (k, s"v$k")).toDF("k", "s")
            .repartitionByRange(4, col("k")))                      // v0
        DeltaLite.enableRowTracking(spark, t)  // delta.rowTracking domain
        DeltaLite.deleteVectors(spark, t, Seq(3L, 4L).toDF("k"), Seq("k"))
        DeltaLite.commit(spark, t, Seq((100L, "x")).toDF("k", "s"),
          txn = Some(("app-1", 7L)))
      },
      "column mapping" -> { t =>
        DeltaLite.commit(spark, t,
          (0L until 20L).map(k => (k, s"v$k")).toDF("id", "payload")
            .repartitionByRange(2, col("id")), columnMapping = true)
        DeltaLite.deleteVectors(spark, t, Seq(5L).toDF("id"), Seq("id"))
      },
      "partition columns + txn" -> { t =>
        DeltaLite.commit(spark, t,
          (0L until 20L).map(k => (k, s"b${k % 3}", s"p$k"))
            .toDF("id", "bucket", "payload"), partitionBy = Seq("bucket"))
        DeltaLite.commit(spark, t, Seq((50L, "b9", "x"))
          .toDF("id", "bucket", "payload"), txn = Some(("app-2", 3L)))
      })
    for ((name, build) <- fixtures; v2 <- Seq(false, true)) {
      val t = newTable()
      build(t)
      if (v2) DeltaLite.checkpointV2(spark, t) else DeltaLite.checkpoint(spark, t)
      val (viaCp, jobs) = jobsOf(DeltaLite.snapshot(spark, t))
      val flavor = if (v2) "V2" else "classic"
      assert(jobs == (if (v2) 2 else 1),
        s"$name, $flavor: snapshot started $jobs Spark jobs")
      val viaJson = jsonReplay(t)
      fields(viaCp).zip(fields(viaJson)).foreach { case ((k, got), (_, want)) =>
        assert(got == want, s"$name, $flavor: $k differs")
      }
    }
  }

  test("a foreign-shaped checkpoint (no txn or domainMetadata columns, " +
    "no protocol features) bootstraps in one job") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s")) // v0
    DeltaLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))            // v1
    val s1 = DeltaLite.snapshot(spark, t)
    // the shape a foreign engine writes: its own add/remove/metaData/
    // protocol columns only, plus a remove tombstone that must not count
    val rows = s1.files.map(p => (Option(p), s1.stats.get(p), Option.empty[String])) :+
      ((None, None, Some("gone.parquet"))) :+ ((None, None, None))
    val cpDir = Files.createTempDirectory("graft_foreign_cp").toString + "/cp"
    rows.toDF("path", "stats", "tomb").selectExpr(
      """IF(path IS NULL, NULL, named_struct('path', path,
        |  'partitionValues', map(), 'size', 1L, 'modificationTime', 0L,
        |  'dataChange', false, 'stats', stats)) AS add""".stripMargin,
      """IF(tomb IS NULL, NULL, named_struct('path', tomb,
        |  'deletionTimestamp', 0L, 'dataChange', false)) AS remove""".stripMargin,
      s"""IF(path IS NULL AND tomb IS NULL, named_struct('id', 'foreign',
         |  'format', named_struct('provider', 'parquet'),
         |  'schemaString', '${s1.schemaJson.get}',
         |  'partitionColumns', array(),
         |  'configuration', map('delta.appendOnly', 'false'),
         |  'createdTime', 0L), NULL) AS metaData""".stripMargin,
      """IF(path IS NULL AND tomb IS NULL, named_struct(
        |  'minReaderVersion', 1, 'minWriterVersion', 2), NULL)
        |  AS protocol""".stripMargin)
      .coalesce(1).write.parquet(cpDir)
    val part = new java.io.File(cpDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath,
      Paths.get(t, "_delta_log", f"${1L}%020d.checkpoint.parquet"))
    Files.write(Paths.get(t, "_delta_log", "_last_checkpoint"),
      """{"version":1,"size":5}""".getBytes("UTF-8"))
    Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
    val (s, jobs) = jobsOf(DeltaLite.snapshot(spark, t))
    assert(s.files.sorted == s1.files.sorted && s.stats == s1.stats)
    assert(s.schemaJson == s1.schemaJson)
    assert(s.configuration == Map("delta.appendOnly" -> "false"))
    assert(s.minReaderVersion == 1 && s.minWriterVersion == 2)
    assert(s.readerFeatures.isEmpty && s.writerFeatures.isEmpty)
    assert(s.txns.isEmpty && s.domainMetadata.isEmpty && s.dvs.isEmpty &&
      s.rowIds.isEmpty && s.partitionValues.isEmpty &&
      s.partitionColumns.isEmpty)
    assert(DeltaLite.read(spark, t).count() == 3L)
    assert(jobs == 1, s"snapshot started $jobs Spark jobs")
  }
}
