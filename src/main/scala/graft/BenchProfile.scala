package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode

/** Per-query measurement drill-down (guide §1/§7 without the UI): runs
  * one named query warm and prints, for the FINAL timed run, every job
  * and stage with wall-clock, task counts, task-time sums and shuffle
  * bytes — the stage-level attribution the Spark UI would show, as
  * text. Usage: runMain graft.BenchProfile <query> [sfDir] [n]
  */
object BenchProfile {

  private final case class StageRow(id: Int, name: String, tasks: Int,
                                    wallMs: Long, taskMs: Long, gcMs: Long,
                                    shRead: Long, shWrite: Long, input: Long)

  private final class ProfListener extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[(Int, Long)] // id, wallMs
    val stages = mutable.ArrayBuffer.empty[StageRow]
    private val jobStart = mutable.Map.empty[Int, Long]
    // per stage ATTEMPT: a retried attempt reports its own tasks and
    // its own completion, so keying by stageId alone would add the
    // failed attempt's metrics into the retry's row
    private val stageTaskMs = mutable.Map.empty[(Int, Int), Long]
    private val stageGcMs = mutable.Map.empty[(Int, Int), Long]
    private val stageShRead = mutable.Map.empty[(Int, Int), Long]
    private val stageShWrite = mutable.Map.empty[(Int, Int), Long]
    private val stageInput = mutable.Map.empty[(Int, Int), Long]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart(e.jobId) = e.time
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach(t0 =>
        jobs += ((e.jobId, e.time - t0)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val sid = (e.stageId, e.stageAttemptId)
        stageTaskMs(sid) = stageTaskMs.getOrElse(sid, 0L) + m.executorRunTime
        stageGcMs(sid) = stageGcMs.getOrElse(sid, 0L) + m.jvmGCTime
        stageShRead(sid) = stageShRead.getOrElse(sid, 0L) +
          m.shuffleReadMetrics.totalBytesRead
        stageShWrite(sid) = stageShWrite.getOrElse(sid, 0L) +
          m.shuffleWriteMetrics.bytesWritten
        stageInput(sid) = stageInput.getOrElse(sid, 0L) + m.inputMetrics.bytesRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val sid = (si.stageId, si.attemptNumber())
      val wall = (for {t0 <- si.submissionTime; t1 <- si.completionTime}
        yield t1 - t0).getOrElse(-1L)
      stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
        wall, stageTaskMs.getOrElse(sid, 0L),
        stageGcMs.getOrElse(sid, 0L),
        stageShRead.getOrElse(sid, 0L),
        stageShWrite.getOrElse(sid, 0L),
        stageInput.getOrElse(sid, 0L))
    }
    def reset(): Unit = { jobs.clear(); stages.clear() }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.BenchProfile <query> [sfDir] [n]")
    val name = args(0)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = Bench.session()
    val sc = spark.sparkContext
    val lst = new ProfListener
    sc.addSparkListener(lst)
    println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
    // warmups
    (1 until n).foreach { i =>
      val t0 = System.nanoTime()
      Bench.consume(fn(spark, sfDir))
      println(f"[profile] warm $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    lst.reset()
    val t0 = System.nanoTime()
    Bench.consume(fn(spark, sfDir))
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    println(f"[profile] $name measured: $sec%.3f s; " +
      s"jobs=${lst.jobs.size}, stages=${lst.stages.size}")
    val jobWall = lst.jobs.map(_._2).sum
    println(f"[profile] sum of job wall: ${jobWall / 1e3}%.3f s " +
      f"(gap to total = driver/planning: ${sec - jobWall / 1e3}%.3f s)")
    println("stageId |                                     name | tasks | wallMs | taskMs |  gcMs | shReadMB | shWriteMB | inputMB")
    lst.stages.sortBy(-_.wallMs).foreach { s =>
      println(f"${s.id}%7d | ${s.name.take(40)}%40s | ${s.tasks}%5d | ${s.wallMs}%6d | ${s.taskMs}%6d | ${s.gcMs}%5d | ${s.shRead / 1e6}%8.2f | ${s.shWrite / 1e6}%9.2f | ${s.input / 1e6}%7.2f")
    }
    spark.stop()
  }
}
