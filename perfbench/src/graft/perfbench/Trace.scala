package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What the Spark jobs of one operation cost, summed over their tasks. */
final case class JobCost(jobs: Int = 0, tasks: Long = 0, cpuS: Double = 0,
                         shuffleWrite: Long = 0, spill: Long = 0,
                         inputRows: Long = 0, inputBytes: Long = 0,
                         taskWaitS: Double = 0, coveredS: Double = 0) {
  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "cpu_s" -> cpuS,
    "shuffle_write" -> shuffleWrite, "spill" -> spill,
    "input_rows" -> inputRows, "input_bytes" -> inputBytes,
    "task_wait_s" -> taskWaitS, "covered_s" -> coveredS)
}

/** The traced run's recorder: a listener that ties every Spark job to the
  * operation that ran it. The runner puts each operation in its own job
  * group; a job whose thread did not inherit the group (a pool the program
  * created earlier) is tied to the operation whose window holds its start —
  * the client is closed-loop, so at most one window is open.
  */
final class Tracer extends SparkListener {
  private final class Job(val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
    var inRows = 0L; var inBytes = 0L; var waitMs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new Job(g, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    j.foreach { job => job.synchronized {
      job.tasks += 1
      val wait = e.taskInfo.launchTime - stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      job.waitMs += math.max(0L, wait)
      Option(e.taskMetrics).foreach { m =>
        job.cpuNs += m.executorCpuTime
        job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        job.inRows += m.inputMetrics.recordsRead
        job.inBytes += m.inputMetrics.bytesRead
      }
    } }
  }

  /** Cost of the jobs of `group`, plus ungrouped jobs that started inside
    * [startMs, endMs]; `coveredS` is the union of their wall intervals
    * clipped to the window, so wall − covered is the operation's driver
    * time. Call after [[drain]].
    */
  def cost(group: String, startMs: Long, endMs: Long): JobCost = {
    val mine = jobs.values.asScala.filter(j =>
      j.group == group ||
        (j.group.isEmpty && j.startMs >= startMs && j.startMs <= endMs)).toSeq
    val spans = mine.map(j => (math.max(j.startMs, startMs),
      math.min(if (j.endMs < 0) endMs else j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    mine.foldLeft(JobCost(coveredS = covered / 1000.0)) { (c, j) =>
      j.synchronized {
        c.copy(jobs = c.jobs + 1, tasks = c.tasks + j.tasks,
          cpuS = c.cpuS + j.cpuNs / 1e9,
          shuffleWrite = c.shuffleWrite + j.shuffleWrite,
          spill = c.spill + j.spill, inputRows = c.inputRows + j.inRows,
          inputBytes = c.inputBytes + j.inBytes,
          taskWaitS = c.taskWaitS + j.waitMs / 1000.0)
      }
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drain(sc)
}

/** Heap the program retains: used heap (eden + survivor + old) after a
  * full collection, from the collectors' own notifications. [[measure]]
  * collects until the figure stops falling: each collection queues
  * shuffles and broadcasts for Spark's ContextCleaner, whose removals only
  * show in the next one. Heap read after young collections swung by a
  * third between runs: it depends on when the old generation last ran.
  */
final class RetainedHeap {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var lastBytes = 0L
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC")
          lastBytes = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def measure(): Long = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(500) // cleaner work, and the notification's own thread
      lastBytes
    }
    var before = collect()
    var after = collect()
    var rounds = 2
    while (after < before - (1L << 20) && rounds < 8) {
      before = after
      after = collect()
      rounds += 1
    }
    after
  }
}

/** Walks table roots: bytes of every file seen, so files a later VACUUM
  * removes still count as written.
  */
final class DirLedger {
  private val seen = mutable.Map.empty[String, Long]
  var written = 0L

  def scan(root: java.io.File): Unit = DirLedger.files(root).foreach { f =>
    val p = f.getPath
    if (!seen.contains(p)) { seen(p) = f.length; written += f.length }
  }
}

object DirLedger {
  def files(root: java.io.File): Seq[java.io.File] =
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(files)

  def bytes(root: java.io.File): Long = files(root).map(_.length).sum
}
