package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{FieldSpec, IncrementalView}
import graft.sources.MergeTable
import graft.streaming.Pipelines

/** The JVM side of graftbench. It drives the program only through its
  * public entry points (`Pipelines`, `MergeTable`, `IncrementalView`,
  * `SparkEntry.queries`), records raw samples, and leaves every statistic
  * and every correctness verdict to the Python side.
  *
  * Usage: Harness <workload> <inputDir> <runDir> <seconds> <trace 0|1>
  * Writes <runDir>/harness.json. */
object Harness {
  final case class Conf(workload: String, in: String, run: String, seconds: Int, trace: Boolean)

  def main(argv: Array[String]): Unit = {
    val c = Conf(argv(0), argv(1), argv(2), argv(3).toInt, argv(4) == "1")
    val spark = session(c.run)
    val trace = new Trace
    if (c.trace) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    val out = mutable.LinkedHashMap[String, Any](
      "session_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "provenance" -> Map(
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "cores" -> Runtime.getRuntime.availableProcessors()))
    println("[graftbench] session ready")
    try {
      val body = c.workload match {
        case "cdc_hot" => new Cdc(spark, c).run()
        case "batch_mix" => new Batch(spark, c).run()
        case w => sys.error(s"unknown workload $w")
      }
      out ++= body
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      if (c.trace) {
        out("jobs") = trace.jobRecords
        out("qes") = trace.qeRecords
      }
      out("peak_rss_mb") = Probe.peakRssMb()
      Files.writeString(Paths.get(c.run, "harness.json"), json(out))
    } finally spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  /** The bench session recipe of `graft.Bench`: all cores, codegen
    * fallback off (a Janino failure aborts instead of running
    * interpreted), the engine's SQL extensions; every scratch path inside
    * the run directory. */
  def session(run: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Engine.configure(spark)
  }

  /** Run `f` with its jobs tagged `gb|<unit>|<layer>`, restoring the
    * caller's group (the stream's own, inside foreachBatch) afterwards. */
  def tagged[T](spark: SparkSession, unit: String, layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(s"gb|$unit|$layer", s"$unit $layer")
    try f finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Timed units (epochs or passes) a run measures at least, whatever
    * `seconds`: two give a trend, and a traced run one plain and one
    * traced unit to measure its own overhead. */
  val MinTimed = 2

  def span(layer: String, t0: Long, t1: Long): Map[String, Any] =
    Map("layer" -> layer, "start_ms" -> t0, "end_ms" -> t1)

  /** The timed-phase diagnostics: JVM counters and host probes around
    * the timed window. */
  final class Window {
    private val gc0 = Probe.gcMs
    private val jit0 = Probe.jitMs
    private val stat0 = Probe.cpuStat()
    val calibBefore: Double = Probe.calibMs()
    Probe.resetHeapPeak()
    val startMs: Long = System.currentTimeMillis()
    val startNs: Long = System.nanoTime()

    def close(): Map[String, Any] =
      Map("gc_ms" -> (Probe.gcMs - gc0), "jit_ms" -> (Probe.jitMs - jit0),
        "heap_peak_mb" -> Probe.heapPeakMb, "stat_before" -> stat0,
        "stat_after" -> Probe.cpuStat(), "start_ms" -> startMs,
        "calib_ms" -> Seq(calibBefore, Probe.calibMs()))
  }
}


/** cdc_hot: BLOB FE/FD-packed T24 records decode through
  * `Pipelines.t24BlobPipeline` and land on a pre-loaded `MergeTable`
  * through `Pipelines.mergeApplyWithMvSink`, one staged epoch per
  * trigger. Set-up runs the same code on a throwaway table and stream
  * first; the timed stream then feeds a freshly created table. */
final class Cdc(spark: SparkSession, c: Harness.Conf) {
  import Harness._

  private val schema = Seq(FieldSpec("OP"), FieldSpec("CDC_TS", dataType = "bigint"),
    FieldSpec("GRP"), FieldSpec("AMT", dataType = "decimal(18,2)"), FieldSpec("STATUS"),
    FieldSpec("ORDER_DATE", dataType = "date", transformation = "parse_date"),
    FieldSpec("TAGS"))

  private val rawSchema =
    StructType(Seq(StructField("RECID", StringType), StructField("BLOB", StringType)))

  private def decode(raw: DataFrame): DataFrame = Pipelines.t24BlobPipeline(raw, schema)

  private val cores = Runtime.getRuntime.availableProcessors()

  /** A fresh table pre-loaded with the decoded base records, range-laid
    * on RECID so per-file key ranges are disjoint (the layout file
    * pruning needs), and its rollup seeded. */
  private def createTable(dir: String): Unit = {
    val base = decode(spark.read.parquet(s"${c.in}/base.parquet")).drop("OP")
    MergeTable.create(base.repartitionByRange(2 * cores, col("RECID")),
      s"$dir/table", statsCol = Some("RECID"))
    IncrementalView.maintain(spark, s"$dir/table", s"$dir/mv", "RECID", "GRP", "AMT")
  }

  /** Streams the epoch files under `epochDir`, one per trigger, into the
    * table under `dir`: all of them, or, when `timed`, until the timed
    * window has closed. A timed stream's first trigger is the stream's
    * own start-up and belongs to set-up; the window opens when it has
    * applied and closes `seconds` later. The batch in flight at the
    * deadline completes; later ones are skipped, and the stream stops
    * between batches. */
  private def stream(dir: String, epochDir: String,
                     timed: Boolean): (Window, Seq[Map[String, Any]]) = {
    val epochFiles = Files.list(Paths.get(epochDir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val sink = Pipelines.mergeApplyWithMvSink(s"$dir/table", s"$dir/mv", "RECID", "CDC_TS",
      "GRP", "AMT", "OP", "D")
    val lock = new Object
    @volatile var stop = false
    @volatile var window: Window = null
    val units = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    // traced runs alternate: every second timed epoch is traced, the
    // others plain, so the tracing overhead is measured in the same run
    // on the same inputs
    def traced(id: Long) = timed && c.trace && id >= 1 && id % 2 == 0
    def body(batch: DataFrame, id: Long): Unit = lock.synchronized {
      if (!stop) {
        val u = mutable.Map[String, Any]("id" -> s"e$id", "batch" -> id,
          "warm" -> (id < 1), "traced" -> traced(id),
          "input_bytes" -> Files.size(Paths.get(epochFiles(id.toInt))))
        if (traced(id)) tracedEpoch(dir, batch, id, u) else sink(batch, id)
        units += u
        if (timed && units.size == 1) window = new Window
      }
    }
    val q = decode(spark.readStream.schema(rawSchema).option("maxFilesPerTrigger", 1)
        .parquet(epochDir))
      .writeStream.foreachBatch(body _)
      .option("checkpointLocation", s"$dir/checkpoint")
      .start()
    try {
      def open = !timed || window == null || units.size < 1 + MinTimed ||
        System.nanoTime() < window.startNs + c.seconds * 1000000000L
      while (q.isActive && units.size < epochFiles.size && open) Thread.sleep(5)
      stop = true
      lock.synchronized(())
      // the last applied batch's trigger commits after its sink returns
      val last = units.lastOption.map(_("batch").asInstanceOf[Long]).getOrElse(-1L)
      val waitEnd = System.nanoTime() + 30000000000L
      while (q.isActive && !q.recentProgress.exists(_.batchId >= last) &&
        System.nanoTime() < waitEnd) Thread.sleep(5)
      q.exception.foreach(e => throw e)
    } finally q.stop()
    require(!timed || window != null, "the timed stream ended before its first epoch")
    val progress = q.recentProgress.map(p => p.batchId -> p).toMap
    window -> units.toSeq.map { u =>
      val timing = progress.get(u("batch").asInstanceOf[Long]).map { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        Map("rows" -> p.numInputRows, "start_ms" -> startMs,
          "end_ms" -> (startMs + ms("triggerExecution")), "ms" -> ms("triggerExecution"),
          "phases" -> ms)
      }.getOrElse(Map.empty)
      (u ++ timing).toMap
    }
  }

  /** A traced epoch runs the two halves of `mergeApplyWithMvSink` as
    * separate public calls, after a noop decode of the epoch, and reads
    * the table state through `MergeTable`'s public API. */
  private def tracedEpoch(dir: String, batch: DataFrame, id: Long,
                          u: mutable.Map[String, Any]): Unit = {
    val unit = s"e$id"
    val path = s"$dir/table"
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    def timed(layer: String)(f: => Unit): Unit = {
      val t0 = System.currentTimeMillis()
      tagged(spark, unit, layer)(f)
      spans += span(layer, t0, System.currentTimeMillis())
    }
    val cg0 = CodeGenerator.compileTime
    timed("decode")(batch.write.format("noop").mode("overwrite").save())
    timed("apply")(Pipelines.mergeApplySink(path, "RECID", "CDC_TS", "OP", "D")(batch, id))
    timed("mv")(IncrementalView.maintain(spark, path, s"$dir/mv", "RECID", "GRP", "AMT"))
    u("codegen_ms") = (CodeGenerator.compileTime - cg0) / 1e6
    u("spans") = spans.toList
    val v = MergeTable.latestVersion(spark, path)
    def files(ver: Int) = MergeTable.read(spark, path, ver).inputFiles.map(f =>
      f.substring(f.lastIndexOf('/') + 1)).toSet
    val (prev, cur) = (files(v - 1), files(v))
    val tableDir = Paths.get(path)
    val dirFiles = Files.walk(tableDir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    u("mt") = Map("files_live" -> cur.size, "files_prev" -> prev.size,
      "files_rewritten" -> (prev -- cur).size,
      "bytes_written" -> (cur -- prev).toSeq.map(n => Files.size(tableDir.resolve(n))).sum,
      "dir_files" -> dirFiles.size, "dir_bytes" -> dirFiles.map(Files.size(_)).sum)
  }

  def run(): Map[String, Any] = {
    val warmDir = Paths.get(c.run, "warm-up").toString
    val dir = Paths.get(c.run, "tables").toString
    val setup = mutable.LinkedHashMap[String, Double]()
    def phase(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f; setup(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("warm_create")(createTable(warmDir))
    phase("warm_stream")(stream(warmDir, s"${c.in}/warm", timed = false))
    phase("create")(createTable(dir))
    val t0 = System.nanoTime()
    val (window, units) = stream(dir, s"${c.in}/epochs", timed = true)
    setup("stream_start") = (window.startNs - t0) / 1e9
    val w = window.close()
    // the final state, for the correctness check
    MergeTable.read(spark, s"$dir/table").write.parquet(s"${c.run}/final_table")
    IncrementalView.read(spark, s"$dir/mv").write.parquet(s"${c.run}/final_mv")
    Map("window" -> w, "units" -> units, "setup_phases_s" -> setup)
  }
}

/** batch_mix: a fixed mix of `SparkEntry.queries`, each consumed in one
  * write of its whole plan as `graft.Bench` consumes it, in repeated
  * passes; the write fingerprints the rows (`Fingerprint`). */
final class Batch(spark: SparkSession, c: Harness.Conf) {
  import Harness._

  val names: Seq[String] = Seq("d20_dedup_clusters", "d37_dedup_keep_best",
    "e14_semantic_clusters", "t24_blob_fefd", "t24_schema_pipeline", "t24_cdc_latest",
    "t24_scd2_intervals", "q3_join_revenue")

  private def query(p: Int, n: String, traced: Boolean): Map[String, Any] = {
    val cg0 = CodeGenerator.compileTime
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    def consume() = Fingerprint.of(graft.SparkEntry.queries(n)(spark, c.in))
    val fp = if (traced) tagged(spark, s"p$p", n)(consume()) else consume()
    Map("name" -> n, "traced" -> traced, "fingerprint" -> fp, "start_ms" -> t0,
      "end_ms" -> System.currentTimeMillis(), "ms" -> (System.nanoTime() - n0) / 1e6,
      "codegen_ms" -> (CodeGenerator.compileTime - cg0) / 1e6)
  }

  def run(): Map[String, Any] = {
    // the set-up pass consumes each query as the timed passes do, and
    // writes the rows of that execution for the oracle check; its
    // fingerprint is the reference every timed execution must match
    val t0 = System.nanoTime()
    val reference = names.map { n =>
      val (fp, rows) = Fingerprint.withRows(graft.SparkEntry.queries(n)(spark, c.in))
      rows.write.parquet(s"${c.run}/results/$n")
      n -> fp
    }.toMap
    Files.writeString(Paths.get(c.run, "oracle_sql.json"),
      json(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    val setup = Map("setup_pass" -> (System.nanoTime() - t0) / 1e9)
    val w = new Window
    val deadline = w.startNs + c.seconds * 1000000000L
    // whole passes only, so every query has the same weight in the pooled
    // samples
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (units.size < MinTimed || System.nanoTime() < deadline) units += runPass(units.size)
    Map("window" -> w.close(), "units" -> units.toSeq, "reference" -> reference,
      "setup_phases_s" -> setup)
  }

  /** One pass over the mix. Traced runs alternate plain and traced
    * executions of each query across passes, half the queries
    * traced first, so two passes trace each query once and the
    * pass-to-pass drift cancels out of the overhead. */
  private def runPass(p: Int): Map[String, Any] = {
    val t0 = System.currentTimeMillis()
    val queries = names.zipWithIndex.map { case (n, i) => query(p, n, c.trace && (i + p) % 2 == 1) }
    Map("id" -> s"p$p", "start_ms" -> t0,
      "end_ms" -> System.currentTimeMillis(), "queries" -> queries)
  }
}
