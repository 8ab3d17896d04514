package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing from outside the program: Spark's public listeners record
  * every job, stage, task and query execution; the harness tags the jobs
  * of each public call it makes with a job group `gb|<unit>|<layer>`.
  * Registered only in traced runs. Events arrive on the asynchronous
  * listener bus, so records carry wall-clock times and job groups, never
  * the harness's state at delivery time. */
final class Trace extends SparkListener with QueryExecutionListener {

  private final class Job(val id: Int, val group: String, val startMs: Long) {
    @volatile var endMs = -1L
    var stages = 0; var tasks = 0
    var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val qes = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  private def jobOf(stageId: Int): Option[Job] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  // one count per completed stage attempt: a retried stage is work done twice
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOf(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- jobOf(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(-1L)
    qes.synchronized {
      qes += Map("start_ms" -> start,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def jobRecords: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map(j => j.synchronized {
      Map("id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
        "cpu_ms" -> j.cpuNs / 1e6,
        "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
        "spill" -> j.spill)
    })

  def qeRecords: Seq[Map[String, Any]] = qes.synchronized(qes.toList)
}

/** Process-level probes: JVM counters, a fixed CPU loop, /proc. */
object Probe {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  @volatile private var sink = 0L

  /** Milliseconds for a fixed single-thread integer loop (best of 3):
    * the host's speed as this process sees it. */
  def calibMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 1L; var i = 0
    while (i < 40000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }.min

  /** The aggregate `cpu` line of /proc/stat (empty where there is none). */
  def cpuStat(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq
      finally src.close()
    } catch { case _: Exception => Nil }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }
}
