package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.IcebergLite

class IcebergLiteSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("graft_iceberglite").toString + "/t"

  test("commit/read: append accumulates manifests, overwrite starts a " +
    "fresh file graph, time travel resolves every snapshot") {
    val t = newTable()
    val s0 = IcebergLite.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val s1 = IcebergLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))
    val s2 = IcebergLite.commit(spark, t,
      Seq((9L, "z")).toDF("k", "s"), overwrite = true)
    assert(Seq(s0, s1, s2) == Seq(0L, 1L, 2L))

    def keys(sid: Option[Long]) =
      IcebergLite.read(spark, t, sid).select("k").as[Long].collect().toSet
    assert(keys(Some(0L)) == Set(1L, 2L))
    assert(keys(Some(1L)) == Set(1L, 2L, 3L))
    assert(keys(None) == Set(9L), "overwrite must hide prior files")
    // the replaced data files still exist on disk — METADATA, not the
    // directory listing, defines the table (the format's core contract)
    val snap1 = IcebergLite.snapshot(spark, t, Some(1L))
    assert(snap1.files.size ==
      IcebergLite.read(spark, t, Some(1L)).inputFiles.length)
  }

  test("schema fidelity: decimal/struct/array round-trip through the " +
    "iceberg schema JSON, and an empty overwrite keeps the schema") {
    val t = newTable()
    val df = Seq((1L, BigDecimal("12.34"), Seq(1, 2), ("x", 2.5)))
      .toDF("id", "price", "xs", "nested")
      .select(col("id"), col("price").cast(DecimalType(18, 2)).as("price"),
        col("xs"), col("nested"))
    IcebergLite.commit(spark, t, df)
    val got = IcebergLite.read(spark, t)
    assert(got.schema("price").dataType == DecimalType(18, 2))
    assert(got.schema("xs").dataType.isInstanceOf[ArrayType])
    assert(got.schema("nested").dataType.isInstanceOf[StructType])
    assert(got.count() == 1)

    IcebergLite.commit(spark, t, df.limit(0), overwrite = true)
    val empty = IcebergLite.read(spark, t)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "price", "xs", "nested"))
    assert(empty.count() == 0)
  }

  test("iceberg schema ids are spec-conformant: depth-first unique, " +
    "last-column-id tracks the max") {
    val st = StructType(Seq(
      StructField("a", LongType),
      StructField("b", StructType(Seq(StructField("c", StringType)))),
      StructField("d", ArrayType(IntegerType))))
    val (node, lastId) = IcebergLite.sparkToIceberg(st)
    // a=1, b=2, c=3, d=4, element-id=5
    assert(lastId == 5)
    val back = IcebergLite.icebergToSpark(node)
    assert(back("a").dataType == LongType)
    assert(back("b").dataType.asInstanceOf[StructType]("c").dataType == StringType)
    assert(back("d").dataType == ArrayType(IntegerType, containsNull = true))
  }

  test("history lists every snapshot with operation and file deltas") {
    val t = newTable()
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"), overwrite = true)
    val h = IcebergLite.history(spark, t)
      .orderBy("snapshot_id")
      .select("snapshot_id", "parent_id", "operation")
      .as[(Long, Long, String)].collect().toSeq
    assert(h == Seq((0L, -1L, "append"), (1L, 0L, "append"), (2L, 1L, "overwrite")))
  }

  test("expireSnapshots drops old snapshots from metadata and deletes " +
    "their unreferenced files; retained snapshots still read") {
    val t = newTable()
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"), overwrite = true)
    IcebergLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))
    val deleted = IcebergLite.expireSnapshots(spark, t, retainSnapshots = 2)
    // snapshot 0's lone data file is referenced by no retained snapshot
    assert(deleted.exists(_.endsWith(".parquet")),
      s"expected a data-file victim, got $deleted")
    // current + parent still read correctly
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet
      == Set(2L, 3L))
    assert(IcebergLite.read(spark, t, Some(1L)).select("k").as[Long]
      .collect().toSet == Set(2L))
    // expired time travel now refuses at resolution, not mid-scan
    val e = intercept[RuntimeException](IcebergLite.read(spark, t, Some(0L)))
    assert(e.getMessage.contains("not found"))
    // shared files survived: snapshot 1's file is also in snapshot 2
    assert(IcebergLite.snapshot(spark, t, Some(1L)).files.forall(p =>
      IcebergLite.snapshot(spark, t, Some(2L)).files.contains(p)))
  }

  test("optimizeCompact bin-packs to one file atomically; pre-compaction " +
    "snapshots still time-travel") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      spark.range(100).select(col("id"), (col("id") % 7).as("g")).repartition(8))
    IcebergLite.commit(spark, t,
      spark.range(100, 150).select(col("id"), (col("id") % 7).as("g")))
    val before = IcebergLite.snapshot(spark, t).files.size
    assert(before > 1)
    IcebergLite.optimizeCompact(spark, t)
    val s = IcebergLite.snapshot(spark, t)
    assert(s.files.size == 1)
    assert(IcebergLite.read(spark, t).count() == 150)
    assert(IcebergLite.read(spark, t, Some(1L)).count() == 150)
    val h = IcebergLite.history(spark, t)
    assert(h.filter(col("operation") === "replace").count() == 1)
  }

  test("snapshot scans keep predicate pushdown and column pruning") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      spark.range(1000).select(col("id"), (col("id") * 2).as("v"),
        concat(lit("row"), col("id")).as("s")))
    val q = IcebergLite.read(spark, t).filter(col("id") < 10).select("id", "v")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), LessThan(id,10)]"),
      s"filter must reach the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,v:bigint>"),
      s"scan must prune to the referenced columns:\n$plan")
    assert(q.count() == 10)
  }

  test("partitioned commit: typed partition values land in the manifests, " +
    "planFiles prunes on metadata only, reads restore schema + types") {
    val t = newTable()
    val df = spark.range(100)
      .select(col("id"), (col("id") % 4).as("g"),
        concat(lit("v"), col("id")).as("s"))
    IcebergLite.commit(spark, t, df, partitionBy = Seq("g"))

    // full read: same rows, declared column order and types
    val back = IcebergLite.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "g", "s"))
    assert(back.schema("g").dataType == org.apache.spark.sql.types.LongType)
    assert(back.count() == 100)
    assert(back.agg(sum("g")).as[Long].head() ==
      df.agg(sum("g")).as[Long].head())

    // manifest-level planning: partition values readable without touching
    // data, one file set per partition value
    val plan = IcebergLite.planFiles(spark, t)
    assert(plan.count() >= 4)
    val byG = plan.select(expr("partition['g']")).distinct()
      .as[String].collect().toSet
    assert(byG == Set("0", "1", "2", "3"))
    val rowsTotal = plan.agg(sum("record_count")).as[Long].head()
    assert(rowsTotal == 100, "footer record counts must sum to the table")

    // manifest-pruned scan: filter planFiles, read the survivors
    val g2files = plan.filter(expr("partition['g'] = '2'"))
      .select("file_path").as[String].collect().toSeq
    val g2 = IcebergLite.readFiles(spark, t, g2files)
    assert(g2.select("g").distinct().as[Long].collect().toSeq == Seq(2L))
    assert(g2.count() == 25)

    // Catalyst-side pruning on the full read: the partition predicate
    // must land in PartitionFilters, not as a post-scan filter
    val q = IcebergLite.read(spark, t).filter(col("g") === 1)
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [isnotnull(g"),
      s"partition predicate must prune at the scan:\n$planStr")
    assert(q.count() == 25)
  }

  test("partitioned append + overwrite interoperate with time travel") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      spark.range(10).select(col("id"), (col("id") % 2).as("g")),
      partitionBy = Seq("g"))
    IcebergLite.commit(spark, t,
      spark.range(10, 16).select(col("id"), (col("id") % 2).as("g")),
      partitionBy = Seq("g"))
    assert(IcebergLite.read(spark, t).count() == 16)
    assert(IcebergLite.read(spark, t, Some(0L)).count() == 10)
    // overwrite back to unpartitioned — mixed manifest schemas replay fine
    IcebergLite.commit(spark, t,
      spark.range(3).select(col("id"), (col("id") % 2).as("g")),
      overwrite = true)
    assert(IcebergLite.read(spark, t).count() == 3)
    assert(IcebergLite.read(spark, t, Some(1L)).count() == 16)
  }

  test("streamingIcebergUpsert: CDC micro-batches MERGE into an Iceberg " +
    "table with one snapshot per batch and a time-travelable trail") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = newTable()
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.streamingIcebergUpsert(
        mem.toDF().toDF("k", "v"), t, Seq("k"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", t + "_ckpt")
    mem.addData((1L, "a"), (2L, "b"))
    q.start().awaitTermination()
    mem.addData((2L, "B2"), (3L, "c"))
    q.start().awaitTermination()
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")))
    // batch 0's state is a pinned snapshot; every commit is a merge
    val h = IcebergLite.history(spark, t)
      .select("snapshot_id", "operation")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(h.size == 2 && h.forall(_._2 == "merge"))
    assert(IcebergLite.read(spark, t, Some(0L)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("selectiveMerge rewrites only the touched partitions' files; the " +
    "rest carry forward through their old manifests") {
    val t = newTable()
    val base = spark.range(200)
      .select(col("id").as("k"), (col("id") % 4).as("g"),
        (col("id") * 10).as("v"))
    IcebergLite.commit(spark, t, base, partitionBy = Seq("g"))
    val before = IcebergLite.snapshot(spark, t)
    assert(before.files.size >= 4)

    // updates confined to partition g=2, plus one new key in g=2
    val updates = Seq((2L, 2L, -1L), (6L, 2L, -1L), (999L, 2L, -2L))
      .toDF("k", "g", "v")
    val ms = IcebergLite.selectiveMerge(spark, t, updates, Seq("k"), "g")
    assert(ms.filesSkipped > 0 && ms.filesRewritten > 0, s"got $ms")
    assert(ms.filesRewritten < before.files.size,
      "must not rewrite the whole table")

    // untouched partitions' files survive in the new snapshot
    val after = IcebergLite.snapshot(spark, t)
    val survivors = before.files.toSet.intersect(after.files.toSet)
    assert(survivors.size == ms.filesSkipped)

    // semantics ≡ full mergeUpsert
    val got = IcebergLite.read(spark, t).orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq
    val want = graft.operators.LakehouseOps
      .mergeUpsert(base.toDF("k", "g", "v"), updates, Seq("k"))
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("incrementalRead returns exactly the appended rows of a snapshot " +
    "range and refuses ranges containing an overwrite") {
    val t = newTable()
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((2L, "b"), (3L, "c")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((4L, "d")).toDF("k", "s"))
    // (0, 2]: commits 1 and 2 only — and only their files are scanned
    val inc = IcebergLite.incrementalRead(spark, t, 0L)
    assert(inc.select("k").as[Long].collect().toSet == Set(2L, 3L, 4L))
    assert(inc.inputFiles.length <
      IcebergLite.snapshot(spark, t).files.size)
    assert(IcebergLite.incrementalRead(spark, t, 1L, Some(2L))
      .select("k").as[Long].collect().toSet == Set(4L))
    // an overwrite in range has no well-defined row delta
    IcebergLite.commit(spark, t, Seq((9L, "z")).toDF("k", "s"), overwrite = true)
    val e = intercept[IllegalArgumentException](
      IcebergLite.incrementalRead(spark, t, 0L))
    assert(e.getMessage.contains("append-only"))
  }

  test("append schema evolution: additive columns update the table " +
    "schema (old files read null); drops/retypes are refused") {
    val t = newTable()
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((2L, "b", 7L)).toDF("k", "s", "extra"))
    val out = IcebergLite.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("k", "s", "extra"))
    assert(out.filter(col("k") === 1).select("extra")
      .as[Option[Long]].head().isEmpty, "old rows must read null")
    assert(out.filter(col("k") === 2).select("extra").as[Long].head() == 7L)
    val e = intercept[IllegalArgumentException](
      IcebergLite.commit(spark, t, Seq(3L).toDF("k")))
    assert(e.getMessage.contains("additive"))
    IcebergLite.commit(spark, t, Seq(9L).toDF("k"), overwrite = true)
    assert(IcebergLite.read(spark, t).schema.fieldNames.toSeq == Seq("k"))
  }

  test("readWhere prunes on manifest lower/upper bounds — metadata-only " +
    "planning per column, value-exact results") {
    val t = newTable()
    IcebergLite.commit(spark, t, spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"),
        concat(lit("u"), format_string("%05d", col("id"))).as("s"))
      .repartitionByRange(4, col("k")))
    val scan = IcebergLite.readWhere(spark, t, "k", 110L, 180L)
    assert(scan.filesScanned == 1 && scan.filesSkipped == 3,
      s"expected 1/3, got ${scan.filesScanned}/${scan.filesSkipped}")
    val got = scan.df.select("k", "v").orderBy("k")
      .as[(Long, Long)].collect().toSeq
    assert(got == (110L to 180L).map(i => (i, i * 10)))
    // string bounds prune too (UTF-8 byte order = lexicographic)
    val sScan = IcebergLite.readWhere(spark, t, "s", "u00110", "u00180")
    assert(sScan.filesSkipped == 3 && sScan.df.count() == 71)
    // off-range: pure metadata answer, nothing scanned
    assert(IcebergLite.readWhere(spark, t, "k", 5000L, 6000L)
      .filesScanned == 0)
    // a mistyped bound is refused, not compared in the wrong domain
    val e = intercept[RuntimeException](
      IcebergLite.readWhere(spark, t, "k", "110", "180"))
    assert(e.getMessage.contains("must match the column type"))
    // bounds survive the DELETED-masking replay of a selective merge:
    // the rewritten partition keeps pruning on its NEW bounds
    val t2 = newTable()
    IcebergLite.commit(spark, t2, spark.range(100)
      .select((col("id") % 4).as("p"), col("id").as("v")),
      partitionBy = Seq("p"))
    IcebergLite.selectiveMerge(spark, t2,
      Seq((1L, -5L)).toDF("p", "v"), Seq("p", "v"), partitionCol = "p")
    val vScan = IcebergLite.readWhere(spark, t2, "v", -5L, -5L)
    assert(vScan.df.count() == 1, "merged row must be findable via bounds")
    assert(vScan.filesSkipped >= 3, s"got ${vScan.filesSkipped} skipped")
  }

  test("selectiveMerge without a partition column prunes on manifest " +
    "bounds — the Delta add-stats shape on an unpartitioned table") {
    val t = newTable()
    val base = spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k"))
    IcebergLite.commit(spark, t, base)
    val updates = (Seq.tabulate(10)(i => (10L + i, -1L)) :+ (9999L, -2L))
      .toDF("k", "v")
    val ms = IcebergLite.selectiveMerge(spark, t, updates, Seq("k"))
    assert(ms.filesRewritten == 1 && ms.filesSkipped == 3, s"got $ms")
    val got = IcebergLite.read(spark, t).orderBy("k")
      .as[(Long, Long)].collect().toSeq
    val want = graft.operators.LakehouseOps
      .mergeUpsert(base.toDF("k", "v"), updates, Seq("k"))
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("optimizeZorder restores bounds pruning on an interleaved table, " +
    "data identical, one replace snapshot") {
    val t = newTable()
    IcebergLite.commit(spark, t, spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartition(4))
    assert(IcebergLite.readWhere(spark, t, "k", 10L, 19L).filesSkipped == 0,
      "interleaved layout should defeat pruning")
    IcebergLite.optimizeZorder(spark, t, Seq("k"), targetFiles = 4)
    val after = IcebergLite.readWhere(spark, t, "k", 10L, 19L)
    assert(after.filesScanned == 1 && after.filesSkipped == 3,
      s"got ${after.filesScanned}/${after.filesSkipped}")
    assert(IcebergLite.read(spark, t).orderBy("k").as[(Long, Long)]
      .collect().toSeq == (0L until 400L).map(i => (i, i * 10)))
    assert(IcebergLite.history(spark, t)
      .filter(col("operation") === "replace").count() == 1)
  }

  test("bounds edge cases: IEEE-double domain (not decimal strings), " +
    "infinities survive, binary columns record no bounds, reordered " +
    "appends are refused") {
    val t = newTable()
    // doubles: 0.3's decimal expansion != the double 0.3 — pruning must
    // compare in the filter's own IEEE domain or this file gets skipped
    IcebergLite.commit(spark, t, Seq(
      (1L, 0.3, Array[Byte](1, 2)),
      (2L, Double.PositiveInfinity, Array[Byte](3))).toDF("k", "d", "b"))
    val scan = IcebergLite.readWhere(spark, t, "d", 0.3, 1.0)
    assert(scan.filesScanned == 1)
    assert(scan.df.count() == 1, "double bound compared in the wrong domain")
    // infinity bound decodes (a BigDecimal constructor would throw)
    assert(IcebergLite.readWhere(spark, t, "d", 5.0, 6.0).df.count() == 0)
    // binary column: no bounds recorded, pruning refused loudly
    val e = intercept[IllegalArgumentException](
      IcebergLite.readWhere(spark, t, "b", 1.0, 2.0))
    assert(e.getMessage.contains("unsupported for type binary"))
    // a reordered append would silently re-key old files' bounds
    val e2 = intercept[IllegalArgumentException](
      IcebergLite.commit(spark, t,
        Seq((0.5, 9L, Array[Byte](9))).toDF("d", "k", "b")))
    assert(e2.getMessage.contains("original order"))
    // null merge keys don't NPE the bounds prune
    val ms = IcebergLite.selectiveMerge(spark, t,
      Seq((Some(1L), 0.7, Array[Byte](7)), (None, 0.8, Array[Byte](8)))
        .toDF("k", "d", "b"), Seq("k"))
    // k=1 updated in place, null-key row lands as an insert: 2 + 1 rows
    assert(IcebergLite.read(spark, t).count() == 3)
    assert(ms.filesRewritten >= 1)
  }

  test("±Infinity manifest bounds: readWhere and selectiveMerge keep the " +
    "file holding the in-range key (DOUBLE and FLOAT)") {
    for (sign <- Seq(1.0, -1.0); tpe <- Seq("double", "float")) {
      val t = newTable()
      def typed(rows: Seq[(Double, String)]) =
        rows.toDF("x", "s").select(col("x").cast(tpe).as("x"), col("s"))
      IcebergLite.commit(spark, t, typed(Seq((1.0, "a"), (3.0, "b"),
        (Double.PositiveInfinity, "c")).map { case (x, s) => (x * sign, s) })
        .coalesce(1))
      val what = s"$tpe key, sign $sign"
      val (lo, hi) = if (sign > 0) (2.0, 5.0) else (-5.0, -2.0)
      val scan = IcebergLite.readWhere(spark, t, "x", lo, hi)
      assert(scan.filesScanned == 1 &&
        scan.df.select("s").as[String].collect().toSeq == Seq("b"), what)
      val ms = IcebergLite.selectiveMerge(spark, t,
        typed(Seq((3.0 * sign, "B"))), Seq("x"))
      assert(ms.filesRewritten == 1, s"$what: $ms")
      val merged = IcebergLite.read(spark, t)
      assert(merged.filter(col("x") === 3.0 * sign).select("s").as[String]
        .collect().toSeq == Seq("B"), s"$what: updated in place")
      assert(merged.count() == 3, what)
    }
  }

  test("format-version 3 metadata READS (r15 — DV support lives in " +
    "IcebergDeleteSpec); the refusal boundary moved to v4") {
    val t = newTable()
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    val metaPath = java.nio.file.Paths.get(t, "metadata")
    val v1 = new String(java.nio.file.Files.readAllBytes(
      metaPath.resolve("v1.metadata.json")))
    java.nio.file.Files.write(metaPath.resolve("v2.metadata.json"),
      v1.replace("\"format-version\" : 2", "\"format-version\" : 3").getBytes)
    java.nio.file.Files.write(metaPath.resolve("version-hint.text"), "2".getBytes)
    assert(IcebergLite.read(spark, t).count() == 1L,
      "v3 metadata must read (deletion vectors are a handled shape now)")
    // the refusal boundary: v4 fails loudly rather than guessing
    java.nio.file.Files.write(metaPath.resolve("v3.metadata.json"),
      v1.replace("\"format-version\" : 2", "\"format-version\" : 4").getBytes)
    java.nio.file.Files.write(metaPath.resolve("version-hint.text"), "3".getBytes)
    java.nio.file.Files.deleteIfExists(
      metaPath.resolve(".version-hint.text.crc"))
    val e = intercept[IllegalArgumentException](IcebergLite.read(spark, t))
    assert(e.getMessage.contains("format-version 4"))
  }

  test("data manifests are v2-encoded: explicit per-entry sequence " +
    "numbers, data_file.content, avro format-version 2") {
    import org.apache.avro.file.DataFileStream
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val t = newTable()
    IcebergLite.commit(spark, t, (0L until 10L).toDF("k"))
    val sid1 = IcebergLite.commit(spark, t, (10L until 20L).toDF("k"))
    val m = new java.io.File(t, "metadata").listFiles()
      .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro"))
      .maxBy(_.getName)
    val in = new java.io.FileInputStream(m)
    val stream = new DataFileStream[GenericRecord](
      in, new GenericDatumReader[GenericRecord]())
    try {
      // a real v2 reader keys on these: v2 avro metadata, an explicit
      // entry-level sequence number (no list-level inheritance needed),
      // and data_file.content routing
      assert(new String(stream.getMetaString("format-version")) == "2")
      val ws = stream.getSchema
      assert(ws.getField("sequence_number") != null,
        "v2 entry schema carries sequence_number (field-id 3)")
      assert(ws.getField("data_file").schema().getField("content") != null,
        "v2 data_file carries content (field-id 134)")
      val entry = stream.iterator().next()
      assert(entry.get("sequence_number").asInstanceOf[Long] == sid1)
      val dataFile = entry.get("data_file").asInstanceOf[GenericRecord]
      assert(dataFile.get("content").asInstanceOf[Int] == 0)
    } finally stream.close()
  }

  test("bucket transform hash matches the Iceberg spec's published " +
    "vectors (foreign-table pruning validity)") {
    import graft.sources.IcebergTransforms
    // spec Appendix B: hashLong(34) = 2017239379, hash("iceberg") =
    // 1210000089 — matching these is what makes bucket pruning valid on
    // tables written by real Iceberg engines
    def le8(v: Long): Array[Byte] = {
      val b = new Array[Byte](8); var x = v; var i = 0
      while (i < 8) { b(i) = (x & 0xFF).toByte; x >>>= 8; i += 1 }; b
    }
    assert(IcebergTransforms.murmur3(le8(34L)) == 2017239379)
    assert(IcebergTransforms.murmur3(
      "iceberg".getBytes("UTF-8")) == 1210000089)
    assert(IcebergTransforms.bucketLong(34L, 16) == 2017239379 % 16)
    assert(IcebergTransforms.bucketString("iceberg", 16) == 1210000089 % 16)
  }

  test("partition transforms: days+bucket write, spec round-trip, " +
    "manifest-only pruning economics, conservative fallbacks") {
    val t = newTable()
    // 60 rows over 6 days, ids spread over 4 buckets
    val df = (0L until 60L).toDF("id").coalesce(1)
      .withColumn("ts", to_timestamp(concat(lit("2024-01-0"),
        (col("id") % 6 + 1).cast("string"), lit(" 10:00:00"))))
      .withColumn("s", concat(lit("r"), col("id")))
    IcebergLite.commit(spark, t, df,
      partitionTransforms = Seq("days(ts)", "bucket(4, id)"))

    // table schema is the SOURCE schema — transform columns live only in
    // the spec/manifests; a full read returns every row
    val out = IcebergLite.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("id", "ts", "s"))
    assert(out.count() == 60L)

    // the written spec round-trips with real transform strings
    val spec = IcebergLite.partitionSpecFields(IcebergLite.metadata(spark, t))
    assert(spec.map(f => (f.name, f.transform)) ==
      Seq(("ts_day", "day"), ("id_bucket", "bucket[4]")))

    val nFiles = IcebergLite.snapshot(spark, t).detail.size
    assert(nFiles > 6, s"expected day×bucket fan-out, got $nFiles files")

    // day-range pruning: 2 of 6 days survive — manifest metadata only
    val dayScan = IcebergLite.readWherePart(spark, t, Seq(
      IcebergLite.PartPred("ts", lo = "2024-01-02", hi = "2024-01-03T23:59:59")))
    assert(dayScan.filesSkipped > 0 &&
      dayScan.filesScanned < nFiles / 2,
      s"day pruning too weak: ${dayScan.filesScanned}/$nFiles scanned")
    assert(dayScan.df.select("id").as[Long].collect().toSet ==
      (0L until 60L).filter(i => i % 6 == 1 || i % 6 == 2).toSet)

    // bucket-equality pruning: one bucket per day survives
    val eqScan = IcebergLite.readWherePart(spark, t, Seq(
      IcebergLite.PartPred("id", eq = 7L)))
    assert(eqScan.filesScanned <= 6,
      s"bucket pruning too weak: ${eqScan.filesScanned} files")
    assert(eqScan.df.select("id").as[Long].collect().toSeq == Seq(7L))

    // combined day+bucket: at most the one (day, bucket) cell per day in
    // range — and a range on the BUCKETED column alone cannot prune
    val both = IcebergLite.readWherePart(spark, t, Seq(
      IcebergLite.PartPred("ts", lo = "2024-01-02", hi = "2024-01-02T23:59:59"),
      IcebergLite.PartPred("id", eq = 7L)))
    assert(both.filesScanned <= 1 && both.df.count() ==
      (if (7 % 6 == 1) 1L else 0L))
    val bucketRange = IcebergLite.readWherePart(spark, t, Seq(
      IcebergLite.PartPred("id", lo = 5L, hi = 9L)))
    assert(bucketRange.filesScanned == nFiles,
      "a range over a bucket transform must scan conservatively")
    assert(bucketRange.df.select("id").as[Long].collect().toSet ==
      (5L to 9L).toSet)

    // selectiveMerge is TRANSFORM-AWARE: an update for one day touches
    // only that day's partition cells (the day transform of the batch's
    // ts values drives the prune), and the rewrite preserves the spec
    val upd = Seq((1L, "2024-01-02 10:00:00", "UPD")).toDF("id", "tss", "s")
      .select(col("id"), to_timestamp(col("tss")).as("ts"), col("s"))
    val ms = IcebergLite.selectiveMerge(spark, t, upd, Seq("id"),
      partitionCol = "ts")
    assert(ms.filesSkipped > 0 && ms.filesRewritten < nFiles,
      s"transform-aware prune must skip other days: $ms")
    val merged = IcebergLite.read(spark, t)
    assert(merged.count() == 60L)
    assert(merged.filter(col("id") === 1L).select("s").as[String].head()
      == "UPD")
    val spec2 = IcebergLite.partitionSpecFields(IcebergLite.metadata(spark, t))
    assert(spec2.map(_.transform) == Seq("day", "bucket[4]"),
      "the rewrite must preserve the transform spec")
    // post-merge, transform pruning still plans correctly
    val post = IcebergLite.readWherePart(spark, t, Seq(
      IcebergLite.PartPred("id", eq = 7L)))
    assert(post.df.select("id").as[Long].collect().toSeq == Seq(7L))
    assert(post.filesSkipped > 0)
  }

  test("truncate transform: numeric floors prune ranges, string " +
    "prefixes prune equalities") {
    val t = newTable()
    val df = (0L until 40L).toDF("v")
      .withColumn("s", concat(lit("key"), lpad(col("v").cast("string"), 2, "0")))
    IcebergLite.commit(spark, t, df,
      partitionTransforms = Seq("truncate(10, v)"))
    val scan = IcebergLite.readWherePart(spark, t, Seq(
      IcebergLite.PartPred("v", lo = 12L, hi = 17L)))
    assert(scan.filesSkipped > 0, "numeric truncate must prune the range")
    assert(scan.df.select("v").as[Long].collect().toSet == (12L to 17L).toSet)

    val t2 = newTable()
    IcebergLite.commit(spark, t2, df,
      partitionTransforms = Seq("truncate(4, s)"))
    val eq = IcebergLite.readWherePart(spark, t2, Seq(
      IcebergLite.PartPred("s", eq = "key07")))
    assert(eq.df.select("v").as[Long].collect().toSeq == Seq(7L))
  }

  test("incrementalRead orders by table HISTORY, not snapshot-id " +
    "arithmetic — foreign writers use random ids") {
    val t = newTable()
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))
    // forge foreign-style NON-MONOTONIC snapshot ids (0,1,2 → 9000,17,5000)
    val remap = Map(0L -> 9000L, 1L -> 17L, 2L -> 5000L)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaFile = java.nio.file.Paths.get(t, "metadata", "v3.metadata.json")
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(metaFile))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    def remapField(o: com.fasterxml.jackson.databind.node.ObjectNode,
                   k: String): Unit =
      if (o.has(k)) { o.put(k, remap(o.get(k).asLong())); () }
    remapField(root, "current-snapshot-id")
    root.get("snapshots").elements().forEachRemaining { n =>
      val o = n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      remapField(o, "snapshot-id"); remapField(o, "parent-snapshot-id")
    }
    root.get("snapshot-log").elements().forEachRemaining { n =>
      remapField(n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode],
        "snapshot-id")
    }
    java.nio.file.Files.write(metaFile, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(root))
    // drop Hadoop's local-FS checksum sidecar — the forged bytes no
    // longer match it
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t, "metadata", ".v3.metadata.json.crc"))

    // history position decides the window: (9000 → current] = both later
    // snapshots, even though 17 < 9000 numerically
    assert(IcebergLite.incrementalRead(spark, t, 9000L)
      .select("k").as[Long].collect().toSet == Set(2L, 3L))
    assert(IcebergLite.incrementalRead(spark, t, 17L, Some(5000L))
      .select("k").as[Long].collect().toSet == Set(3L))
    // and time travel by forged id still resolves
    assert(IcebergLite.read(spark, t, Some(17L)).count() == 2L)
  }

  test("dropped columns stay dead: new columns get ids past " +
    "last-column-id (no era mis-alignment), and re-adding a dropped " +
    "or renamed-away NAME is refused") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 10L).map(k => (k, s"secret$k")).toDF("a", "b"))
    IcebergLite.dropColumn(spark, t, "b")
    // additive append of a NEW column: its id must NOT recycle b's —
    // with a recycled id the era key-sets match and the rename
    // alignment would read b's data as c
    IcebergLite.commit(spark, t, Seq((100L, "fresh")).toDF("a", "c"))
    val out = IcebergLite.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("a", "c"))
    assert(out.filter(col("a") === 3L).select("c").head().isNullAt(0),
      "dropped column values must NOT resurrect under the new column")
    assert(out.filter(col("a") === 100L).select("c").as[String].head()
      == "fresh")
    // re-adding the dropped NAME is refused (name-based parquet reads
    // would resurrect the orphaned physical values)
    val e = intercept[IllegalArgumentException](
      IcebergLite.commit(spark, t,
        Seq((200L, "x", "y")).toDF("a", "c", "b")))
    assert(e.getMessage.contains("different field id"))
    // ... and a renamed-away name is equally dead
    val t2 = newTable()
    IcebergLite.commit(spark, t2, Seq((1L, "p")).toDF("a", "b"))
    IcebergLite.renameColumn(spark, t2, "b", "bb")
    val e2 = intercept[IllegalArgumentException](
      IcebergLite.commit(spark, t2, Seq((2L, "q", "r")).toDF("a", "bb", "b")))
    assert(e2.getMessage.contains("different field id"))
    // a FULL overwrite may reuse any name freely — nothing stale remains
    IcebergLite.commit(spark, t2, Seq((9L, "z")).toDF("a", "b"),
      overwrite = true)
    assert(IcebergLite.read(spark, t2).select("b").as[String].head() == "z")
  }

  test("RENAME COLUMN by field id: old files align per schema era, " +
    "bounds keep pruning, time travel reads era names, drop hides values") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 40L).map(k => (k, s"p$k")).toDF("id", "payload")
        .repartitionByRange(4, col("id")))
    val preSnap = IcebergLite.snapshot(spark, t).snapshotId
    val files0 = IcebergLite.snapshot(spark, t).files.toSet

    IcebergLite.renameColumn(spark, t, "payload", "body")
    assert(IcebergLite.snapshot(spark, t).files.toSet == files0,
      "rename must be metadata-only")
    val out = IcebergLite.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("id", "body"))
    assert(out.filter(col("id") === 3L).select("body").as[String].head()
      == "p3", "pre-rename files must align by FIELD ID, not name")

    // an append under the new name: mixed-era snapshot reads as one
    IcebergLite.commit(spark, t, Seq((100L, "x")).toDF("id", "body"))
    val all = IcebergLite.read(spark, t)
    assert(all.count() == 41L)
    assert(all.filter(col("id") === 7L).select("body").as[String].head()
      == "p7")
    assert(all.filter(col("id") === 100L).select("body").as[String].head()
      == "x")

    // manifest bounds are keyed by field id — pruning survives the rename
    val scan = IcebergLite.readWhere(spark, t, "id", 0L, 5L)
    assert(scan.filesSkipped > 0, s"$scan")

    // time travel to a pre-rename snapshot reads that era's NAMES
    val old = IcebergLite.read(spark, t, Some(preSnap))
    assert(old.schema.fieldNames.toSeq == Seq("id", "payload"))
    assert(old.count() == 40L)

    // drop: the column leaves the current schema; values invisible
    IcebergLite.dropColumn(spark, t, "body")
    val dropped = IcebergLite.read(spark, t)
    assert(dropped.schema.fieldNames.toSeq == Seq("id"))
    assert(dropped.count() == 41L)
  }

  test("changes: row-level diff classifies merges and merge-on-read " +
    "deletes; compaction nets to zero; ordinals order foreign ids") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 20L).map(k => (k, s"v$k")).toDF("k", "s")
        .repartitionByRange(2, col("k")))                          // snap 0
    IcebergLite.selectiveMerge(spark, t,
      Seq((1L, "UPD"), (100L, "NEW")).toDF("k", "s"), Seq("k"))    // snap 1
    IcebergLite.deleteRows(spark, t, Seq(5L, 6L).toDF("k"), Seq("k")) // snap 2
    val ch = IcebergLite.changes(spark, t, 0L, None, Seq("k"))
      .select("k", "s", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(ch == Set(
      (1L, "v1", "update_preimage"), (1L, "UPD", "update_postimage"),
      (100L, "NEW", "insert"),
      (5L, "v5", "delete"), (6L, "v6", "delete")), s"got $ch")
    // per-step: the delete snapshot alone diffs exactly the masked rows
    // — the data files did NOT change hands, only their delete set did
    val step = IcebergLite.changes(spark, t, 1L, Some(2L), Seq("k"))
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(step == Set((5L, "delete"), (6L, "delete")), s"got $step")
    // an equality delete flows the same way
    IcebergLite.deleteRows(spark, t, Seq(9L).toDF("k"), Seq("k"),
      equality = true)                                             // snap 3
    val eqStep = IcebergLite.changes(spark, t, 2L, Some(3L), Seq("k"))
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(eqStep == Set((9L, "delete")), s"got $eqStep")
    // compaction moves rows, not visibility: the diff must net to ZERO
    // (incrementalRead refuses this range; changes handles it)
    IcebergLite.optimizeCompact(spark, t, targetFiles = 1)         // snap 4
    assert(IcebergLite.changes(spark, t, 3L, Some(4L), Seq("k")).isEmpty,
      "a replace snapshot must produce an empty changelog")
    // withVersion stamps the HISTORY ordinal, not the snapshot id
    val v = IcebergLite.changes(spark, t, 0L, Some(2L), Seq("k"),
      withVersion = true)
      .select("_commit_version").distinct().as[Long].collect().toSeq
    assert(v == Seq(2L), s"ordinal stamp off: $v")
  }

  test("OPTIMIZE preserves the partition spec: compaction and Z-order " +
    "rewrites keep transform partitioning and its pruning") {
    val t = newTable()
    val df = (0L until 60L).toDF("id").coalesce(1)
      .withColumn("ts", to_timestamp(concat(lit("2024-01-0"),
        (col("id") % 6 + 1).cast("string"), lit(" 10:00:00"))))
      .withColumn("s", concat(lit("r"), col("id")))
    IcebergLite.commit(spark, t, df,
      partitionTransforms = Seq("days(ts)", "bucket(4, id)"))
    IcebergLite.optimizeCompact(spark, t, targetFiles = 2)
    val spec = IcebergLite.partitionSpecFields(IcebergLite.metadata(spark, t))
    assert(spec.map(f => (f.name, f.transform)) ==
      Seq(("ts_day", "day"), ("id_bucket", "bucket[4]")),
      s"OPTIMIZE must not flatten the partition spec, got $spec")
    assert(IcebergLite.read(spark, t).count() == 60L)
    // pruning still plans on the rewritten layout
    val scan = IcebergLite.readWherePart(spark, t, Seq(
      IcebergLite.PartPred("ts", lo = "2024-01-02", hi = "2024-01-02T23:59:59")))
    assert(scan.filesSkipped > 0,
      s"day pruning must survive the rewrite: $scan")
    assert(scan.df.select("id").as[Long].collect().toSet ==
      (0L until 60L).filter(_ % 6 == 1).toSet)
    // Z-order rewrite too
    IcebergLite.optimizeZorder(spark, t, Seq("id"), targetFiles = 4)
    val spec2 = IcebergLite.partitionSpecFields(IcebergLite.metadata(spark, t))
    assert(spec2.map(_.transform) == Seq("day", "bucket[4]"),
      s"Z-order must keep the spec, got $spec2")
    assert(IcebergLite.read(spark, t).count() == 60L)
  }
}
