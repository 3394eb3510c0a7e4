package graft.perfbench

import java.security.MessageDigest
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One timed call of a public graft function. */
final class Rec(val phase: String, val seq: Int, val name: String,
                val layer: String, val kind: String, val fmt: String,
                val cycle: Int) {
  var startMs = 0L
  var endMs = 0L
  var wallS = 0.0
  var constructS = 0.0
  var executeS = 0.0
  var ok = true
  var error = ""
  var digest = ""
  val info = mutable.LinkedHashMap.empty[String, Any]
  var cost: Option[JobCost] = None

  /** Build a DataFrame, then collect it: construct vs execute time. */
  def query(build: => DataFrame): (StructType, Array[Row]) = {
    val t0 = System.nanoTime
    val df = build
    val t1 = System.nanoTime
    val rows = df.collect()
    constructS = (t1 - t0) / 1e9
    executeS = (System.nanoTime - t1) / 1e9
    digest = Rec.digest(rows)
    (df.schema, rows)
  }

  def toMap: Map[String, Any] = Map(
    "phase" -> phase, "seq" -> seq, "name" -> name,
    "layer" -> layer, "kind" -> kind, "fmt" -> fmt, "cycle" -> cycle,
    "start_ms" -> startMs, "wall_s" -> wallS, "construct_s" -> constructS,
    "execute_s" -> executeS, "ok" -> ok, "error" -> error,
    "digest" -> digest, "info" -> info.toMap,
    "cost" -> cost.map(_.toMap).orNull)
}

object Rec {
  /** Order-insensitive digest of a result, for repeat-determinism checks. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

/** The closed-loop client: runs one operation at a time in its own Spark
  * job group and keeps its record. `phase` names what the records are for
  * (prime, measure, untraced, traced).
  */
final class Runner(val spark: SparkSession) {
  val recs = mutable.ArrayBuffer.empty[Rec]
  @volatile var phase = "setup"
  private val seq = new AtomicInteger(0)

  def op(name: String, layer: String, kind: String = "", fmt: String = "",
         cycle: Int = 0)(body: Rec => Unit): Rec = {
    val r = new Rec(phase, seq.incrementAndGet(), name, layer, kind, fmt, cycle)
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-${r.seq}", name, interruptOnCancel = false)
    r.startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    try body(r)
    catch { case NonFatal(e) =>
      r.ok = false
      r.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
    } finally {
      r.wallS = (System.nanoTime - t0) / 1e9
      r.endMs = System.currentTimeMillis
      sc.clearJobGroup()
    }
    recs.synchronized { recs += r }
    r
  }

  /** Tie the traced phase's jobs to its records. */
  def attach(tracer: Tracer): Unit = {
    tracer.drain(spark.sparkContext)
    recs.filter(_.phase == "traced").foreach { r =>
      r.cost = Some(tracer.cost(s"perfbench-${r.seq}", r.startMs, r.endMs))
    }
  }
}

object Runner {
  /** Run `tasks` on `threads` threads; rethrows the first failure. */
  def inParallel(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}
