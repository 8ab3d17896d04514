package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.collection.immutable.{ListMap, TreeMap}
import scala.collection.mutable
import scala.sys.process.{Process, ProcessLogger}
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftSparkBridge
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Benchmark main, on the session every graft main uses
  * ([[Engine.session]]). Each query is consumed through a `noop`-format
  * write: unlike `count()`, a write materializes EVERY output column (so
  * ColumnPruning cannot strip computed projections — the trap SURVEY §6d
  * documents) and, unlike an aggregate root, it keeps the final ORDER BY
  * in the executed plan, so sort cost is measured too.
  *
  * Usage: `runMain graft.Bench` times the suite; `runMain graft.Bench
  * <query>...` measures the named queries one by one. Both read the data
  * dir from `SPARK_GRAFT_SF_DIR`.
  *
  * Suite mode runs at a second, smaller scale factor first: a query whose
  * time barely moves between SFs is dominated by fixed session overhead,
  * which separates overhead from scaling behavior in the report. The
  * JSON line goes to stdout (driver contract) AND `bench_out.json`,
  * because the driver's captured stdout tail truncated round 3's line.
  *
  * Every timed run also records its task metrics per stage attempt (a
  * bus-drained listener): the per-query peak task execution memory and
  * total spill bytes ride into the JSON, so the no-driver-state /
  * bounded-executor-state posture of the sketch- and buffer-heavy rows
  * is recorded evidence, not argument. Query mode prints each named
  * query's formatted plan, then the best run's stage table and the
  * driver's gap between jobs (the stage-level attribution the Spark UI
  * would show, as text).
  */
object Bench {
  /** The one consumption contract. */
  private[graft] def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One stage attempt's task metrics, summed over its tasks except the
    * peak task execution memory (max over tasks — the executor-state
    * bound); name, task count and wall time arrive with its completion. */
  private[graft] final case class Stage(id: Int, attempt: Int, name: String = "",
      tasks: Int = 0, wallMs: Long = -1, taskMs: Long = 0, gcMs: Long = 0,
      peakMem: Long = 0, spill: Long = 0, shRead: Long = 0, shWrite: Long = 0,
      input: Long = 0) {
    def add(m: TaskMetrics): Stage = copy(taskMs = taskMs + m.executorRunTime,
      gcMs = gcMs + m.jvmGCTime, peakMem = peakMem max m.peakExecutionMemory,
      spill = spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      shRead = shRead + m.shuffleReadMetrics.totalBytesRead,
      shWrite = shWrite + m.shuffleWriteMetrics.bytesWritten,
      input = input + m.inputMetrics.bytesRead)
  }

  /** The run's stages, keyed per stage ATTEMPT (a retried attempt
    * reports its own tasks and its own completion, so keying by stage id
    * alone would add the failed attempt's metrics into the retry's row),
    * and its jobs' wall time. Reset per timed run; read only after the
    * listener bus drains. */
  private[graft] final class StageListener extends SparkListener {
    private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
    private val jobStart = mutable.Map.empty[Int, Long]
    private var jobs = 0
    private var jobMs = 0L

    private def update(id: Int, attempt: Int)(f: Stage => Stage): Unit = synchronized {
      stages((id, attempt)) = f(stages.getOrElse((id, attempt), Stage(id, attempt)))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { t0 => jobs += 1; jobMs += e.time - t0 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) update(e.stageId, e.stageAttemptId)(_.add(e.taskMetrics))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for (t0 <- si.submissionTime; t1 <- si.completionTime) yield t1 - t0)
      update(si.stageId, si.attemptNumber())(_.copy(name = stageName(si),
        tasks = si.numTasks, wallMs = wall.getOrElse(-1L)))
    }
    def reset(): Unit = synchronized { stages.clear(); jobStart.clear(); jobs = 0; jobMs = 0 }
    def timed(sec: Double): Timed = synchronized { Timed(sec, stages.values.toSeq, jobs, jobMs) }
  }

  private[graft] val listener = new StageListener

  /** A stage's name in the stage table: the plan operators it ran (its
    * RDDs' operation scopes, e.g. `Exchange, WholeStageCodegen (2), Scan
    * parquet`), or Spark's call site when no RDD carries a scope — the
    * call site of an adaptive plan's stage is Spark's own
    * `$anonfun$withThreadLocalCaptured$2`, which names nothing. */
  private def stageName(si: StageInfo): String = {
    val ops = GraftSparkBridge.scopeNames(si)
    if (ops.isEmpty) si.name.takeWhile(_ != '\n') else ops.mkString(", ")
  }

  /** One measured query: best wall-clock over the adaptive runs, with
    * the stages and jobs of THAT best run (the metrics belong to the
    * number the artifact reports). `spread` is the run-to-run noise
    * envelope of THIS measurement — (second-best − best) / best over
    * the adaptive runs — committed next to the headline so a
    * round-over-round diff can tell a regression from the ~10%/1.33×
    * run variance two otherwise-identical suites exhibit: only a
    * |Δ| beyond the two rounds' spreads is a finding. */
  private[graft] final case class Timed(sec: Double, stages: Seq[Stage] = Nil,
                                        jobs: Int = 0, jobMs: Long = 0,
                                        spread: Double = 0.0) {
    def peakMem: Long = stages.map(_.peakMem).maxOption.getOrElse(0L)
    def spill: Long = stages.map(_.spill).sum
  }

  // adaptive min-of-N per query (3..5 runs): keep re-running while a
  // run still improves >20% on the best so far. Rationale, measured:
  // a heavy-codegen query landing while the C2 queue is saturated by
  // its predecessors times 20-30 s in-suite but 1.3-1.5 s warm
  // (isolated), and the slow slot FOLLOWS THE SUITE POSITION, not the
  // query (q38 under hash order, q53/q54 under sorted order) — a fixed
  // min-of-2 bakes that compilation backlog into whichever query sits
  // there. A failing query must abort the bench loudly — swallowing it
  // would report a crash as the fastest "time" in the suite.
  private[graft] def timeQuery(spark: SparkSession, sfDir: String, name: String): Timed = {
    val fn = SparkEntry.queries(name)
    def once(): Timed = {
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      listener.reset()
      val t0 = System.nanoTime()
      try consume(fn(spark, sfDir)) catch {
        case e: Throwable =>
          System.err.println(s"[bench] query $name failed at $sfDir")
          throw e
      }
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      listener.timed(sec)
    }
    var best = once()
    var times = List(best.sec)
    var runs = 1
    var improving = true
    // keep running while improving OR while the best is still over
    // the backlog threshold: a PERSISTENT C2 backlog produces two
    // similar slow runs (e.g. 25 s then 23 s — "not improving"),
    // which the improvement test alone would accept as converged;
    // nearly every warm query in this suite is < 2 s, so a > 5 s
    // best buys the compiler more runs to catch up before we record
    // it. A genuinely slow query pays at most 5 runs. Minimum depth
    // is 3 (was 2): two r9 suites differed 10% total / 1.33× p90
    // per-query at min-of-2, the same magnitude as the regressions
    // the artifact exists to flag — the third run both tightens the
    // min and gives the spread column a second independent sample.
    while (runs < 5 && (improving || runs < 3 || best.sec > 5.0)) {
      val t = once()
      times ::= t.sec
      improving = t.sec < best.sec * 0.8
      if (t.sec < best.sec) best = t
      runs += 1
    }
    val sorted = times.sorted
    best.copy(spread = (sorted(1) - sorted.head) / math.max(sorted.head, 1e-9))
  }

  // sorted name order: Map hash order reshuffles whenever a query is
  // added, which both breaks cross-round per-query comparability and
  // moves the JIT warm-up sequence under every query; sorted is stable
  private def timeSuite(spark: SparkSession, sfDir: String): Map[String, Timed] =
    SparkEntry.queries.keys.toSeq.sorted
      .map(name => name -> timeQuery(spark, sfDir, name)).toMap

  // A 10× data step cannot legitimately cost more than ~12× (10× +
  // slack) once times are above the fixed per-query session floor —
  // bigger ratios are the C2-compile-backlog / host-noise artifact
  // SURVEY §6e documents, not a plan property. Round-4 shipped 8 such
  // rows (q32 at 171×); the dual-SF data to catch them was already in
  // the artifact, unconsulted.
  private val RatioCap = 12.0
  private val OverheadFloor = 0.15 // sec; fixed per-query session cost
  // A smaller-SF run should never beat its big-SF sibling by more than
  // noise: the small suite runs FIRST, so a small row well above its
  // big row is C2/codegen warmup recorded as data (round 6 shipped
  // d32 at 2.67 s sf0.01 vs 0.40 s sf0.1 — an inverted row the >12×
  // gate could not see). 1.5× over the big row, floors applied, flags
  // it for a warm isolated re-measure.
  private val InvertedCap = 1.5
  // The ratio gates cannot see SAME-SUITE inflation: when the C2
  // backlog inflates a query's small AND big rows together (round 7:
  // d23 3.40 s in-suite vs 0.27 s isolated, ratio only 2.7), no
  // cross-SF comparison flags it. So every row still over this
  // threshold after its SF's ratio pass gets ONE isolated re-measure on
  // the drained warm JVM — the expensive rows are exactly the ones
  // the round report audits, and a warm re-run of an honest row costs
  // ~its own runtime. Bounded at ExpensiveMaxN rows per pass.
  private val ExpensiveFloor = 1.0 // sec
  private val ExpensiveMaxN = 16

  /** One timed suite: its SF dir and its rows. */
  private[graft] final case class Suite(dir: String, rows: Map[String, Timed])

  /** Re-measures per flagged row: name -> (suite time, isolated run). */
  private[graft] type Remeasures = Map[String, (Double, Timed)]

  /** The suite's five re-measure passes, in this order; `time(dir, name)`
    * re-measures one query. Each pass is the one helper `pass`: every row
    * its flag trips (at most `cap` of them, slowest first) is timed again
    * — isolated, on the now-warm JVM after the suites drained the C2
    * compile queue — and replaced by that re-measure only when it is
    * faster:
    *  1. `outliers`: a row over RatioCap× its smaller SF's row;
    *  2. `outliers_expensive`: a row still over ExpensiveFloor;
    *  3. `outliers_small`: a small-SF row over InvertedCap× its (spliced)
    *     big row — the small suite ran first, cold;
    *  4. `outliers_mid_inverted`: with an sf1 suite (which first takes
    *     passes 1 and 2 as `outliers_sf1` / `outliers_sf1_expensive`),
    *     the middle SF's own inverted pass — sf1 runs LAST on the warmest
    *     JVM, so a middle row can carry C2 backlog its sf1 twin does not
    *     (round 8 shipped e1 at 0.94 s sf0.1 vs 0.34 s sf1);
    *  5. `outliers_sf1_warmth`: a pair still inverted after pass 4
    *     compares an isolated middle row with a deep-warm in-suite sf1
    *     row, so the sf1 side is re-measured at the same isolated warmth.
    * Returns the spliced small, middle and sf1 suites and the non-empty
    * re-measure blocks under their JSON keys. */
  private[graft] def splicePasses(small: Option[Suite], mid: Suite, sf1: Option[Suite],
      time: (String, String) => Timed)
      : (Option[Suite], Suite, Option[Suite], ListMap[String, Remeasures]) = {
    var blocks = ListMap.empty[String, Remeasures]
    def pass(key: String, s: Suite, cap: Int = Int.MaxValue)(flag: (String, Timed) => Boolean) = {
      val iso: Remeasures = s.rows.toSeq.filter(flag.tupled).sortBy(r => (-r._2.sec, r._1))
        .take(cap).map { case (n, t) =>
          System.err.println(f"[bench] $key: ${t.sec}%.2f s $n at ${s.dir} — isolated re-measure")
          n -> (t.sec, time(s.dir, n))
        }.toMap
      if (iso.nonEmpty) blocks += key -> iso
      Suite(s.dir, s.rows ++ iso.collect { case (n, (t, i)) if i.sec < t => n -> i })
    }
    def over(cap: Double)(t: Timed, vs: Timed) = t.sec > math.max(vs.sec, OverheadFloor) * cap
    def ratio(smaller: Suite)(n: String, t: Timed) = smaller.rows.get(n).exists(over(RatioCap)(t, _))
    def inverted(bigger: Suite)(n: String, t: Timed) = bigger.rows.get(n).exists(over(InvertedCap)(t, _))
    def expensive(ratioKey: String)(n: String, t: Timed) =
      t.sec > ExpensiveFloor && !blocks.get(ratioKey).exists(_.contains(n))
    val m0 = small.fold(mid)(sm => pass("outliers", mid)(ratio(sm)))
    val m = pass("outliers_expensive", m0, ExpensiveMaxN)(expensive("outliers"))
    val smallFinal = small.map(sm => pass("outliers_small", sm)(inverted(m)))
    sf1.fold((smallFinal, m, Option.empty[Suite], blocks)) { s1 =>
      val r0 = pass("outliers_sf1", s1)(ratio(m))
      val r1 = pass("outliers_sf1_expensive", r0, ExpensiveMaxN)(expensive("outliers_sf1"))
      val midFinal = pass("outliers_mid_inverted", m)(inverted(r1))
      val warm = pass("outliers_sf1_warmth", r1) { (n, b) =>
        blocks.get("outliers_mid_inverted").exists(_.contains(n)) &&
          over(InvertedCap)(midFinal.rows(n), b)
      }
      (smallFinal, midFinal, Some(warm), blocks)
    }
  }

  /** Query mode: each named query's formatted plan, then the best of its
    * adaptive runs with that run's stage table and driver gap. */
  private def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}; " +
      s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"== $name at $sfDir")
      println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      val t = timeQuery(spark, sfDir, name)
      println(f"[bench] $name: best ${t.sec}%.3f s (spread ${t.spread}%.2f); " +
        f"jobs=${t.jobs}, stages=${t.stages.size}, job wall ${t.jobMs / 1e3}%.3f s, " +
        f"driver gap ${t.sec - t.jobMs / 1e3}%.3f s")
      println(f"stage.attempt | ${"name"}%60s | tasks | wallMs |" +
        " taskMs |  gcMs | peakMB | spillMB | shReadMB | shWriteMB | inputMB")
      t.stages.sortBy(-_.wallMs).foreach { s =>
        val id = s"${s.id}.${s.attempt}"
        println(f"$id%13s | ${s.name.take(60)}%60s | ${s.tasks}%5d | " +
          f"${s.wallMs}%6d | ${s.taskMs}%6d | ${s.gcMs}%5d | ${s.peakMem / 1e6}%6.1f | " +
          f"${s.spill / 1e6}%7.1f | ${s.shRead / 1e6}%8.2f | ${s.shWrite / 1e6}%9.2f | " +
          f"${s.input / 1e6}%7.2f")
      }
    }
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def secs(m: Map[String, Timed]) = TreeMap.from(m.view.mapValues(_.sec))
  private def total(m: Map[String, Timed]) = m.values.map(_.sec).sum
  private def spreads(m: Map[String, Timed]) =
    TreeMap.from(m.view.mapValues(t => math.rint(t.spread * 1000) / 1000))
  private def mem(m: Map[String, Timed]) = TreeMap.from(m.view.mapValues(t =>
    ListMap("peak_mb" -> t.peakMem / 1e6, "spill_mb" -> t.spill / 1e6)))

  /** What produced the artifact: commit (None outside a git checkout),
    * cores, JVM, every SF dir timed, and when. `dirty` ignores the
    * tracked headline twin, which every suite run rewrites. */
  private def provenance(spark: SparkSession, dirs: Seq[String]): ListMap[String, Any] = {
    def git(args: String*) = Try(Process("git" +: args).!!(ProcessLogger(_ => ())).trim).toOption
    ListMap("commit" -> git("rev-parse", "HEAD"),
      "dirty" -> git("status", "--porcelain", "--untracked-files=no", "--", ".",
        ":!bench_headline.json").map(_.nonEmpty),
      "cpus" -> spark.sparkContext.defaultParallelism,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "sf_dirs" -> dirs, "time" -> Instant.now().truncatedTo(ChronoUnit.SECONDS).toString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    spark.sparkContext.addSparkListener(listener)
    if (args.nonEmpty) profile(spark, sfDir, args.toSeq) else suite(spark, sfDir)
    spark.stop()
  }

  private def suite(spark: SparkSession, sfDir: String): Unit = {
    // generic JIT/codegen warmup so the first measured query doesn't
    // absorb JVM start (no query results are precomputed)
    spark.range(1000000).selectExpr("sum(id * 2) AS s").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()

    // the secondary pass must be strictly SMALLER than the primary (the
    // overhead-floor inference depends on it); an unrecognized custom
    // sfDir gets no secondary rather than an unrelated hardcoded one
    val sfNorm = sfDir.stripSuffix("/")
    val smallDir =
      if (sfNorm.endsWith("sf1")) Some("/root/testdata/sf0.1")
      else if (sfNorm.endsWith("sf0.1")) Some(s"${sfNorm.stripSuffix("sf0.1")}sf0.01")
      else if (sfNorm.endsWith("sf0.01")) Some(s"${sfNorm.stripSuffix("sf0.01")}sf0.001")
      else None
    val small = smallDir.filter(d => Files.isDirectory(Paths.get(d)))
      .map(d => Suite(d, timeSuite(spark, d)))
    if (small.isEmpty)
      System.err.println(s"[bench] no smaller secondary SF for $sfDir — single-SF run")
    val mid = Suite(sfDir, timeSuite(spark, sfDir))
    // optional third pass one decade UP (SPARK_GRAFT_SF1_DIR, e.g. the
    // GenData output): runs last, on the warmest JVM, so the committed
    // artifact carries the per-query sf0.1 -> sf1 scaling table the
    // round reports — driver-visible, not builder-asserted
    val sf1 = sys.env.get("SPARK_GRAFT_SF1_DIR")
      .filter(d => Files.isDirectory(Paths.get(d)))
      .map(d => Suite(d, timeSuite(spark, d)))
    // headline rows are the isolated numbers where a pass re-measured
    // (never worse than the suite row); both are recorded for provenance
    val (smallFinal, results, sf1Final, blocks) =
      splicePasses(small, mid, sf1, (dir, name) => timeQuery(spark, dir, name))

    val out = mutable.LinkedHashMap[String, Any]("sf" -> sfDir,
      "codegen_fallback" -> "disallowed", "queries" -> secs(results.rows),
      "spread" -> spreads(results.rows), "mem" -> mem(results.rows))
    smallFinal.foreach { s => out ++= Seq("sf_small" -> s.dir, "queries_small" -> secs(s.rows)) }
    sf1Final.foreach { s =>
      out ++= Seq("sf1_dir" -> s.dir, "total_sf1" -> total(s.rows), "queries_sf1" -> secs(s.rows),
        "spread_sf1" -> spreads(s.rows), "mem_sf1" -> mem(s.rows))
    }
    blocks.foreach { case (key, iso) =>
      out(key) = TreeMap.from(iso.view.mapValues { case (s, i) =>
        ListMap("suite" -> s, "isolated" -> i.sec) })
    }
    val prov = provenance(spark, (smallFinal.toSeq ++ Seq(results) ++ sf1Final).map(_.dir))
    // field order matters to the DRIVER, not to JSON: its capture keeps
    // only the stdout TAIL (~2000 chars), so provenance and the summary
    // scalars sit at the very END of the line — the headline numbers
    // always survive the window, where the old metric-first layout lost
    // them behind 25 KB of per-query maps (BENCH_r08's parsed: null)
    out ++= Seq("provenance" -> prov, "metric" -> "total", "unit" -> "sec")
    smallFinal.foreach(s => out("total_small") = total(s.rows))
    out ++= Seq("n_queries" -> results.rows.size, "value" -> total(results.rows))
    val line = mapper.writeValueAsString(out)
    println(line)
    Files.write(Paths.get("bench_out.json"), (line + "\n").getBytes(StandardCharsets.UTF_8))
    // the compact headline twin, derived from the SAME spliced in-memory
    // results (one measurement pipeline): per-round BENCH artifacts copy
    // this file, so round-over-round per-query diffs compare all 225+
    // queries at equal warmth instead of whatever 62-query fragment the
    // stdout tail happened to keep (the round-8 phantom-regression
    // source: q36/d21 flagged 2.5× on tail fragments of unequal warmth)
    // spread rides in the headline twin too: the per-round diff tool
    // reads this file, and a delta is only reportable when it clears
    // BOTH rounds' committed spreads
    val headline = mapper.writeValueAsString(ListMap("metric" -> "total",
      "value" -> total(results.rows), "unit" -> "sec", "sf" -> sfDir,
      "queries" -> secs(results.rows), "spread" -> spreads(results.rows), "provenance" -> prov))
    Files.write(Paths.get("bench_headline.json"), (headline + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
