package graft

import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The engine's JVM-level settings (the fork-free local file system and
  * the sized codegen cache) reach a JVM that loaded the query registry
  * before it configured its session. Each case runs in a fresh JVM, since
  * the settings are decided once per JVM and this one is configured. */
class EngineSessionSpec extends AnyFunSuite {
  /** Runs [[SessionOrderProbe]] `mode` on this JVM's classpath and
    * module flags; returns its `key=value` report. */
  private def probe(mode: String): Map[String, String] = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(java, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.SessionOrderProbe", mode)
    val out = new StringBuilder
    val err = new StringBuilder
    val code = Process(cmd, None, "SPARK_GRAFT_CPUS" -> "2")
      .!(ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    assert(code == 0, s"probe $mode exited $code:\n${err.takeRight(4000)}")
    out.toString.linesIterator.collect {
      case l if l.contains('=') => l.split("=", 2) match { case Array(k, v) => k -> v }
    }.toMap
  }

  private def check(report: Map[String, String]): Unit = {
    assert(report("fs") == classOf[ForklessLocalFileSystem].getName)
    assert(report("recompiles") == "0", "the second round recompiled evicted classes")
  }

  test("a bare session that loads SparkEntry.queries before configure gets both settings") {
    check(probe("bare"))
  }

  test("Engine.session gets both settings, whatever loads after it") {
    check(probe("session"))
  }
}

/** Child JVM of [[EngineSessionSpec]]. `bare`: a plain session, then the
  * query registry, then `Engine.configure`; `session`: `Engine.session()`,
  * then the registry. Reports the `file:` FileSystem class and how many
  * classes the second run of 150 distinct plans compiled. */
object SessionOrderProbe {
  def main(args: Array[String]): Unit = {
    val spark = args(0) match {
      case "bare" =>
        val s = SparkSession.builder().master("local[2]")
          .config("spark.ui.enabled", "false").getOrCreate()
        SparkEntry.queries.size
        Engine.configure(s)
      case "session" =>
        val s = Engine.session()
        SparkEntry.queries.size
        s
    }
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    println(s"fs=${fs.getClass.getName}")
    // each constant is inlined in its plan's generated class: 150
    // classes, more than Spark's default 100-entry cache keeps
    def run(i: Int): Unit =
      spark.range(4).select((col("id") * lit(i + 2L) + lit(i)).as("x")).collect()
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (0 until 150).foreach(run)
    val c0 = compiles()
    (0 until 150).foreach(run)
    println(s"recompiles=${compiles() - c0}")
    spark.stop()
  }
}
