package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side: set up, prime, run the measured passes and
  * write every record to `<work>/result.json`. `perfbench/run.py` starts
  * it, checks the outputs and prints the metrics.
  *
  * {{{
  *   Main --workload read_mix --seed 1 --seconds 10 --trace 0
  *        --inputs <generated dir> --work <scratch dir>
  * }}}
  */
object Main {
  val SetupReps = 3

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def now = System.nanoTime

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val inputs = new File(args("inputs")).getAbsolutePath
    val work = new File(args("work")).getAbsolutePath
    val out = s"$work/out"

    val order = new scala.util.Random(seed)
    val wl: Workload = workload match {
      case "read_mix" => new QueryWorkload(inputs,
        order.shuffle(QueryWorkload.Tpch ++ QueryWorkload.Curate))
      case "dba_lifecycle" => new Lifecycle(inputs, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // session set-up, several times; the first rep also holds JVM start,
    // the last rep's session is measured. The prime (workload state and
    // warm-up) runs once, after the last rep.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setup = (1 to SetupReps).map { i =>
      val t0 = if (i == 1) jvmStart else System.currentTimeMillis
      if (spark != null) spark.stop()
      spark = session(work)
      (System.currentTimeMillis - t0) / 1000.0
    }

    val run = new Runner(spark)
    val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
    def phase(name: String, budget: Double, maxPasses: Int = Int.MaxValue): Int = {
      run.phase = name
      val t0 = now
      var k = 0
      var more = true
      while (more && k < maxPasses && (k == 0 || (now - t0) / 1e9 < budget)) {
        more = wl.pass(run, k + 1)
        if (more) k += 1
      }
      phases += Map("name" -> name, "wall_s" -> (now - t0) / 1e9, "passes" -> k)
      k
    }

    run.phase = "prime"
    val tPrime = now
    wl.prime(run)
    val primeS = (now - tPrime) / 1e9

    val probes = mutable.LinkedHashMap.empty[String, Any]
    if (!traced) phase("measure", seconds)
    else {
      // the same passes twice from the same state: untraced, then traced;
      // the wall-time difference is the tracing overhead
      val passes = phase("untraced", seconds / 2)
      wl.rewind(run)
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      phase("traced", 0, passes)
      run.attach(tracer)
      spark.sparkContext.removeSparkListener(tracer)
    }
    val retained = new RetainedHeap().measure()
    if (traced && workload == "read_mix") {
      probes("kernels_ns_row") = Probes.kernels(spark, inputs)
      probes("ann") = Probes.ann(spark, inputs)
    }

    val facts = wl.finish(spark, out)
    val oracles: Map[String, String] = wl match {
      case _: QueryWorkload =>
        val names = run.recs.map(_.name).toSet
        SparkEntry.oracleSql.filter { case (k, _) => names(k) } ++
          SparkEntry.dynamicOracleSql(spark, inputs, names)
      case _ => Map.empty
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "setup_s" -> setup, "prime_s" -> primeS, "phases" -> phases.toSeq,
      "heap_retained_mb" -> retained / 1048576.0,
      "ops" -> run.recs.map(_.toMap).toSeq, "probes" -> probes.toMap,
      "facts" -> facts, "oracles" -> oracles)
    val mapper = new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)
    mapper.writeValue(new File(s"$work/result.json"), Json.toJava(result))
    spark.stop()
  }
}

/** Scala values → Jackson-serialisable Java values (Jackson escapes every
  * string it writes).
  */
object Json {
  def toJava(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double => if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d)
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}
