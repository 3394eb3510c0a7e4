package graft.perfbench

import java.io.File

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sources.{DeltaLite, IcebergLite}

/** A workload: an untimed prime that builds its state and runs every
  * operation once, and passes — the unit the measured phase repeats.
  */
trait Workload {
  /** Warm-up: every operation once, untimed, so the measured pass runs on
    * a JVM whose JIT and code generator have seen every plan.
    */
  def prime(run: Runner): Unit
  /** Run pass `k` (1-based); false once the script has no pass left. */
  def pass(run: Runner, k: Int): Boolean
  /** Rewind to the state right after the prime, so a second phase runs
    * the same operations on the same state.
    */
  def rewind(run: Runner): Unit
  /** Write the outputs the checks compare; returns facts about the final
    * state that the checks and metrics read.
    */
  def finish(spark: SparkSession, out: String): Map[String, Any]
}

/** Read-only workloads over `SparkEntry.queries`: each operation builds
  * one registered query on the generated directory and collects it.
  */
final class QueryWorkload(inputs: String, names: Seq[String]) extends Workload {
  private val results = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  private def runOne(run: Runner, name: String): Unit = {
    run.op(name, QueryWorkload.layer(name), kind = "query") { r =>
      val (schema, rows) = r.query(SparkEntry.queries(name)(run.spark, inputs))
      if (r.phase != "prime") results.synchronized {
        results.getOrElseUpdate(name, (schema, rows))
      }
    }
    // operators persist intermediates; release them between operations
    // the way graft.Bench does
    if (run.phase != "prime") run.spark.catalog.clearCache()
  }

  /** Every query once, four at a time: the JIT and the code generator warm
    * up on all of them in a quarter of the serial time.
    */
  def prime(run: Runner): Unit = {
    Runner.inParallel(4, names.map(n => () => runOne(run, n)))
    run.spark.catalog.clearCache()
  }

  def pass(run: Runner, k: Int): Boolean = { names.foreach(runOne(run, _)); true }

  def rewind(run: Runner): Unit = ()

  def finish(spark: SparkSession, out: String): Map[String, Any] = {
    Runner.inParallel(4, results.toSeq.map { case (name, (schema, rows)) => () =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$name")
    })
    Map.empty
  }
}

object QueryWorkload {
  /** Seven of the 22 TPC-H entries (README.md says why not all 22):
    * aggregation, scan-filter, three- to six-way joins, large group-by
    * with HAVING, EXISTS / NOT EXISTS.
    */
  val Tpch: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier", "q6_revenue_delta", "q9_product_profit",
    "q18_large_volume", "q21_waiting_supplier")

  /** Six of the curation operations: the near-dup pipeline, the minhash /
    * simhash / span / semantic dedup families and the PII scrubber.
    */
  val Curate: Seq[String] = Seq("pipeline_curate_neardup", "dedup_minhash",
    "dedup_simhash_nn", "text_dup_span", "text_pii_scrub", "dedup_semantic")

  /** The module each operation exercises (see README.md). */
  def layer(name: String): String = name match {
    case n if Tpch.contains(n) => "operators"
    case n if n.startsWith("dedup_") || n == "text_dup_span" => "dedup"
    case "text_pii_scrub" => "functions"
    case _ => "pipeline"
  }
}

/** The DBA lifecycle: one long-lived Delta table and one Iceberg table
  * fed the same seeded operation script, the formats taking turns. The
  * prime commits the base to both tables and runs cycle 1 plus a
  * maintenance sweep, the two formats side by side; a pass is the next
  * cycle plus a sweep, one format after the other.
  */
final class Lifecycle(inputs: String, work: String) extends Workload {
  import Lifecycle._

  private val script: JsonNode =
    new ObjectMapper().readTree(new File(s"$inputs/script.json"))
  private val cycles = script.get("cycles").elements().asScala.toIndexedSeq
  private val keys = script.get("keys").elements().asScala.map(_.asText).toSeq
  private var gen = 0
  private val roots = TrieMap.empty[String, String]
  /** (format, cycle) → table version after that cycle's delete. */
  private val versions = TrieMap.empty[(String, Int), Long]
  private val ledger = TrieMap.empty[String, DirLedger]
  @volatile private var lastCycle = 0

  /** Commit the base to a fresh table of format `f`. */
  private def create(spark: SparkSession, f: String): Unit = {
    val root = s"$work/tables/${f}_$gen"
    roots(f) = root
    val base = spark.read.parquet(s"$inputs/${script.get("base").asText}")
      .repartitionByRange(BaseFiles, col("l_orderkey"))
    versions((f, 0)) =
      if (f == "delta") { DeltaLite.commit(spark, root, base); DeltaLite.snapshot(spark, root).version }
      else { IcebergLite.commit(spark, root, base); IcebergLite.snapshot(spark, root).snapshotId }
    ledger(f) = new DirLedger
    ledger(f).scan(new File(root))
  }

  def prime(run: Runner): Unit = {
    gen += 1
    versions.clear()
    Runner.inParallel(Formats.size, Formats.map(f => () => {
      create(run.spark, f)
      cycle(run, 1, f)
      maintenance(run, 1, f)
    }))
    lastCycle = 1
  }

  def pass(run: Runner, k: Int): Boolean = {
    val c = k + 1
    if (c > cycles.size) false
    else {
      val order = if (c % 2 == 1) Formats else Formats.reverse
      order.foreach(cycle(run, c, _))
      order.foreach(maintenance(run, c, _))
      lastCycle = c
      true
    }
  }

  def rewind(run: Runner): Unit = {
    val p = run.phase
    run.phase = "rewind"
    prime(run)
    run.phase = p
  }

  private def op(run: Runner, name: String, layer: String, fmt: String,
                 c: Int)(body: Rec => Unit): Rec =
    run.op(name, layer, kind = name, fmt = fmt, cycle = c) { r =>
      val before = ledger(fmt).written
      body(r)
      ledger(fmt).scan(new File(roots(fmt)))
      r.info("bytes_written") = ledger(fmt).written - before
    }

  private def aggregate(r: Rec, df: DataFrame): Unit = {
    val (_, rows) = r.query(df.agg(count(lit(1)).as("n"),
      sum("l_quantity").as("qty"), sum("l_extendedprice").as("price")))
    val row = rows.head
    r.info("count") = row.getLong(0)
    r.info("sum_qty") = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
    r.info("sum_price") = if (row.isNullAt(2)) 0.0 else row.getDouble(2)
  }

  /** One script cycle on one format: upsert, merge-on-read delete, range
    * read, time travel, change feed and a snapshot of the log.
    */
  private def cycle(run: Runner, c: Int, f: String): Unit = {
    val spark = run.spark
    val t = roots(f)
    val delta = f == "delta"
    val step = cycles(c - 1)
    val asOf = math.max(c - 2, 0)
    op(run, "merge", "sources", f, c) { r =>
      val updates = spark.read.parquet(s"$inputs/${step.get("batch").asText}")
      val (v, rewritten, skipped) =
        if (delta) {
          val s = DeltaLite.selectiveMerge(spark, t, updates, keys)
          (s.version, s.filesRewritten, s.filesSkipped)
        } else {
          val s = IcebergLite.selectiveMerge(spark, t, updates, keys)
          (s.snapshotId, s.filesRewritten, s.filesSkipped)
        }
      r.info ++= Seq("version" -> v, "files_rewritten" -> rewritten,
        "files_skipped" -> skipped)
    }
    op(run, "delete", "sources", f, c) { r =>
      val keyDf = spark.read.parquet(s"$inputs/${step.get("deletes").asText}")
      val (v, n) =
        if (delta) { val s = DeltaLite.deleteVectors(spark, t, keyDf, keys); (s.version, s.rowsDeleted) }
        else { val s = IcebergLite.deleteRows(spark, t, keyDf, keys); (s.snapshotId, s.rowsDeleted) }
      versions((f, c)) = v
      r.info ++= Seq("version" -> v, "rows_deleted" -> n)
    }
    val (lo, hi) = (step.get("read_lo").asLong, step.get("read_hi").asLong)
    op(run, "read_where", "sources", f, c) { r =>
      val (df, scanned, skipped) =
        if (delta) {
          val s = DeltaLite.readWhere(spark, t, "l_orderkey", lo, hi)
          (s.df, s.filesScanned, s.filesSkipped)
        } else {
          val s = IcebergLite.readWhere(spark, t, "l_orderkey", lo, hi)
          (s.df, s.filesScanned, s.filesSkipped)
        }
      r.info ++= Seq("lo" -> lo, "hi" -> hi, "files_scanned" -> scanned,
        "files_skipped" -> skipped)
      aggregate(r, df)
    }
    op(run, "time_travel", "sources", f, c) { r =>
      r.info("as_of_cycle") = asOf
      val v = versions((f, asOf))
      aggregate(r, if (delta) DeltaLite.read(spark, t, Some(v))
        else IcebergLite.read(spark, t, Some(v)))
    }
    op(run, "changes", "sources", f, c) { r =>
      r.info("from_cycle") = asOf
      val (from, to) = (versions((f, asOf)), versions((f, c)))
      val feed =
        if (delta) DeltaLite.changes(spark, t, from, to, keys)
        else IcebergLite.changes(spark, t, from, Some(to), keys)
      val (_, rows) = r.query(feed.groupBy("_change_type").count())
      rows.foreach(row => r.info(s"n_${row.getString(0)}") = row.getLong(1))
    }
    op(run, "snapshot", "sources", f, c) { r =>
      r.info("files_live") =
        if (delta) DeltaLite.snapshot(spark, t).files.size
        else IcebergLite.snapshot(spark, t).detail.size
    }
  }

  /** The reference's maintenance sweep as SQL verbs, plus the format's
    * own log compaction (Delta checkpoint, Iceberg snapshot expiry).
    */
  private def maintenance(run: Runner, c: Int, f: String): Unit = {
    val spark = run.spark
    val t = roots(f)
    def sql(name: String, text: String)(more: Rec => Unit = _ => ()): Unit =
      op(run, name, "maintenance", f, c) { r =>
        val (_, rows) = r.query(spark.sql(text))
        r.info("rows") = rows.length
        more(r)
      }
    sql("optimize", s"OPTIMIZE '$t' ZORDER BY (l_orderkey) FILES $BaseFiles")()
    sql("vacuum", s"VACUUM '$t' RETAIN $RetainVersions VERSIONS") { r =>
      r.info("files_removed") = r.info("rows")
    }
    sql("analyze", s"ANALYZE '$t'")()
    sql("describe_history", s"DESCRIBE HISTORY '$t'")()
    sql("describe_detail", s"DESCRIBE DETAIL '$t'")()
    op(run, "checkpoint", "maintenance", f, c) { r =>
      if (f == "delta") r.info("version") = DeltaLite.checkpoint(spark, t)
      else r.info("files_removed") =
        IcebergLite.expireSnapshots(spark, t, RetainVersions).size
    }
  }

  def finish(spark: SparkSession, out: String): Map[String, Any] = {
    val perFmt = Formats.map { f =>
      val t = roots(f)
      val (snap, files, log) =
        if (f == "delta") (DeltaLite.read(spark, t), DeltaLite.snapshot(spark, t).files.size, "_delta_log")
        else (IcebergLite.read(spark, t), IcebergLite.snapshot(spark, t).detail.size, "metadata")
      snap.coalesce(1).write.mode("overwrite").parquet(s"$out/final_$f")
      f -> Map("files_live" -> files,
        "log_bytes" -> DirLedger.bytes(new File(s"$t/$log")),
        "root_bytes" -> DirLedger.bytes(new File(t)))
    }.toMap
    val plain = DirLedger.files(new File(s"$out/final_delta"))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Map("last_cycle" -> lastCycle, "snapshot_plain_bytes" -> plain,
      "formats" -> perFmt)
  }
}

object Lifecycle {
  val Formats: Seq[String] = Seq("delta", "iceberg")
  val BaseFiles = 8
  val RetainVersions = 8
}
