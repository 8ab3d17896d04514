package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IncrementalView
import graft.sources.MergeTable

class IncrementalViewSpec extends AnyFunSuite {
  import SparkTest._

  private def direct(path: String): Map[String, (Long, String)] =
    MergeTable.read(spark, path)
      .groupBy("grp").agg(count(lit(1)), sum(col("amt").cast("decimal(20,4)")))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).stripTrailingZeros.toPlainString)).toMap

  private def mv(mvDir: String): Map[String, (Long, String)] =
    IncrementalView.read(spark, mvDir).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_rows"),
          r.getAs[java.math.BigDecimal]("sum_val")
            .stripTrailingZeros.toPlainString)).toMap

  test("maintained MV equals the direct aggregate across merge/delete epochs") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"
    val base = (0L until 30L).map(k => (k, if (k % 3 == 0) "a" else "b", k * 1.5))
      .toDF("id", "grp", "amt").repartitionByRange(3, col("id"))
    MergeTable.create(base, path, statsCol = Some("id"))
    // seed pass: the one full snapshot read
    assert(IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt") == 0)
    assert(mv(mvDir) == direct(path))
    // epoch 1: upsert incl. a GROUP FLIP (id 3 moves a -> b) + inserts
    MergeTable.merge(spark, path,
      Seq((3L, "b", 100.25), (50L, "c", 7.0), (51L, "c", 8.0))
        .toDF("id", "grp", "amt"), "id")
    // epoch 2: delete one key from each of two groups
    MergeTable.deleteKeys(spark, path, Seq(1L, 6L).toDF("id"), "id")
    val v = IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    assert(v == MergeTable.latestVersion(spark, path))
    assert(mv(mvDir) == direct(path),
      "delta-maintained state must equal the recompute")
    // already current: no-op
    assert(IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt") == v)
    // a group emptied by deletes must DROP from the MV
    MergeTable.deleteKeys(spark, path, Seq(50L, 51L).toDF("id"), "id")
    IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    assert(!mv(mvDir).contains("c") && mv(mvDir) == direct(path))
  }

  test("NULL group keys stay ONE group across epochs (null-safe alignment)") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_null").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"
    val base = Seq((1L, Some("x"), 1.5), (2L, Option.empty[String], 2.0),
      (3L, Option.empty[String], 3.0)).toDF("id", "grp", "amt")
    MergeTable.create(base, path, statsCol = Some("id"))
    IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    // epochs that touch the NULL group: update + insert
    MergeTable.merge(spark, path,
      Seq((2L, Option.empty[String], 9.0), (4L, Option.empty[String], 1.0))
        .toDF("id", "grp", "amt"), "id")
    IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    val rows = IncrementalView.read(spark, mvDir).collect()
      .filter(_.isNullAt(0))
    assert(rows.length == 1,
      s"the NULL group must stay ONE row, got ${rows.length}")
    assert(mv(mvDir) == direct(path))
  }

  test("a vacuumed watermark reseeds from the latest snapshot, never wedges") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_vac").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"
    val base = (0L until 10L).map(k => (k, if (k < 5) "x" else "y", k * 1.0))
      .toDF("id", "grp", "amt")
    MergeTable.create(base, path, statsCol = Some("id"))
    IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    MergeTable.merge(spark, path,
      Seq((2L, "y", 8.0)).toDF("id", "grp", "amt"), "id")
    MergeTable.merge(spark, path,
      Seq((20L, "z", 4.0)).toDF("id", "grp", "amt"), "id")
    // the maintainer drops every version the MV has seen
    MergeTable.vacuum(spark, path, keepVersions = 1, minAgeMs = 0L)
    val v = IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    assert(v == MergeTable.latestVersion(spark, path))
    assert(mv(mvDir) == direct(path),
      "the reseed from the retained snapshot must restore exact state")
  }

  test("maintainAggs: multi-sum + avg equal the direct recompute across delete epochs") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_aggs").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"
    val base = (0L until 30L).map(k =>
      (k, if (k % 3 == 0) "a" else "b", k * 1.5, k * 2L))
      .toDF("id", "grp", "amt", "qty").repartitionByRange(3, col("id"))
    MergeTable.create(base, path, statsCol = Some("id"))
    val aggs = Seq("sum" -> "amt", "avg" -> "amt", "sum" -> "qty")
    // seed, then epochs: group flip + inserts, then deletes
    IncrementalView.maintainAggs(spark, path, mvDir, "id", "grp", aggs)
    MergeTable.merge(spark, path,
      Seq((3L, "b", 100.25, 7L), (50L, "c", 7.0, 1L), (51L, "c", 8.0, 2L))
        .toDF("id", "grp", "amt", "qty"), "id")
    MergeTable.deleteKeys(spark, path, Seq(1L, 6L, 50L, 51L).toDF("id"), "id")
    IncrementalView.maintainAggs(spark, path, mvDir, "id", "grp", aggs)
    val got = IncrementalView.readAggs(spark, mvDir, aggs).collect()
      .map(r => r.getAs[String]("grp") -> ((r.getAs[Long]("n_rows"),
        r.getAs[java.math.BigDecimal]("sum_amt").stripTrailingZeros.toPlainString,
        r.getAs[java.math.BigDecimal]("sum_qty").stripTrailingZeros.toPlainString,
        r.getAs[Double]("avg_amt")))).toMap
    val want = MergeTable.read(spark, path).groupBy("grp")
      .agg(count(lit(1)),
        sum(col("amt").cast("decimal(38,4)")),
        sum(col("qty").cast("decimal(38,4)")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getDecimal(2).stripTrailingZeros.toPlainString,
        r.getDecimal(3).stripTrailingZeros.toPlainString,
        r.getDecimal(2).doubleValue / r.getLong(1)))).toMap
    assert(got == want, s"maintained aggs must equal recompute: $got vs $want")
    assert(!got.contains("c"), "the emptied group must drop")
    // sums live at the PROMOTED precision in state — no per-step narrowing
    val state = IncrementalView.read(spark, mvDir)
    Seq("sum_amt", "sum_qty").foreach { c =>
      assert(state.schema(c).dataType ==
        org.apache.spark.sql.types.DecimalType(38, 4),
        s"$c must be DECIMAL(38,4) in state, got ${state.schema(c).dataType}")
    }
  }

  test("min/max are rejected as non-decomposable, not served stale") {
    val ex = intercept[IllegalArgumentException] {
      IncrementalView.maintainAggs(spark, "/nowhere", "/nowhere_mv",
        "id", "grp", Seq("min" -> "amt"))
    }
    assert(ex.getMessage.contains("not decomposable"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      IncrementalView.readAggs(spark, "/nowhere_mv", Seq("max" -> "amt"))
    }
    assert(ex2.getMessage.contains("not decomposable"), ex2.getMessage)
  }

  test("maintenance across an optimize applies a zero-cost delta (lineage feed)") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_opt").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"
    val base = (0L until 20L).map(k => (k, if (k < 10) "x" else "y", k * 1.0))
      .toDF("id", "grp", "amt").repartitionByRange(2, col("id"))
    MergeTable.create(base, path, statsCol = Some("id"))
    (100L to 103L).foreach { k =>
      MergeTable.merge(spark, path,
        Seq((k, "z", k * 0.5)).toDF("id", "grp", "amt"), "id")
    }
    IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    val before = IncrementalView.read(spark, mvDir).collect().toSet
    // compaction, then corrupt EVERY data file: if the maintenance
    // step read ANY of them the delta apply would throw — the
    // rewrite-lineage feed proves the optimize costs the MV nothing
    assert(MergeTable.optimize(spark, path) > 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(path, "data-*.parquet")))
      .getOrElse(Array.empty).foreach { st =>
        val out = fs.create(st.getPath, true)
        out.write("NOT A PARQUET FILE".getBytes); out.close()
      }
    val v = IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    assert(v == MergeTable.latestVersion(spark, path))
    assert(IncrementalView.read(spark, mvDir).collect().toSet == before,
      "a rewrite-only upstream step must leave the MV state identical")
  }

  test("maintainTable: the rollup lives in a MergeTable — snapshot isolation, time travel, its own CDF") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_table").toString
    val path = s"$root/table"; val mvT = s"$root/mv_table"
    val base = ((0L until 30L).map(k =>
      (k, Some(if (k % 3 == 0) "a" else "b"), k * 1.5)) ++
      Seq((100L, Option.empty[String], 150.0), (101L, Option.empty[String], 1.0)))
      .toDF("id", "grp", "amt").repartitionByRange(3, col("id"))
    MergeTable.create(base, path, statsCol = Some("id"))
    val aggs = Seq("sum" -> "amt")
    def direct(v: Int): Map[Option[String], (Long, String)] =
      MergeTable.read(spark, path, v).groupBy("grp")
        .agg(count(lit(1)), sum(col("amt").cast("decimal(38,4)")))
        .collect().map(r => Option(r.getString(0)) ->
          (r.getLong(1), r.getDecimal(2).stripTrailingZeros.toPlainString)).toMap
    def mvNow(v: Int = -1): Map[Option[String], (Long, String)] =
      IncrementalView.readTable(spark, mvT, v).collect()
        .map(r => Option(r.getString(0)) -> (r.getAs[Long]("n_rows"),
          r.getAs[java.math.BigDecimal]("sum_amt")
            .stripTrailingZeros.toPlainString)).toMap
    // seed at v0 (MV table version 0), watermark rides in-table
    assert(IncrementalView.maintainTable(spark, path, mvT, "id", "grp",
      aggs, toVersion = 0) == 0)
    assert(IncrementalView.appliedVersion(spark, mvT) == 0)
    assert(mvNow() == direct(0))
    // epoch 1: group flip (3: a->b), new group c, NULL-group update
    MergeTable.merge(spark, path,
      Seq((3L, Some("b"), 100.25), (50L, Some("c"), 7.0),
        (51L, Some("c"), 8.0), (100L, Option.empty[String], 9.0))
        .toDF("id", "grp", "amt"), "id")
    // epoch 2: empty group c, shrink group a
    MergeTable.deleteKeys(spark, path, Seq(6L, 50L, 51L).toDF("id"), "id")
    // advance stepwise so the rollup HISTORY is observable
    assert(IncrementalView.maintainTable(spark, path, mvT, "id", "grp",
      aggs, toVersion = 1) == 1)
    assert(mvNow() == direct(1), "delta step must equal recompute at v1")
    val v = IncrementalView.maintainTable(spark, path, mvT, "id", "grp", aggs)
    assert(v == MergeTable.latestVersion(spark, path))
    assert(IncrementalView.appliedVersion(spark, mvT) == v)
    assert(mvNow() == direct(v))
    assert(!mvNow().contains(Some("c")), "emptied group must DELETE from the table")
    // no-op when current
    assert(IncrementalView.maintainTable(spark, path, mvT, "id", "grp", aggs) == v)
    // TIME TRAVEL on the rollup itself: MV version 1 = upstream v1
    assert(mvNow(1) == direct(1))
    // the rollup's OWN change feed: exactly the groups that moved
    val cdf = MergeTable.changes(spark, mvT, 1, 2, "__g_key")
      .filter(col("__g_key") =!= "W").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[String]("__g_key")))
      .toSet
    assert(cdf == Set(("delete", "Vc"),
      ("update_preimage", "Va"), ("update_postimage", "Va")),
      s"rollup CDF must show c emptied and a shrunk, got $cdf")
    // point lookup by group through the string probe
    val one = MergeTable.readKeys(spark, mvT,
      Seq("Va").toDF("__g_key"), "__g_key").collect()
    assert(one.length == 1 && one(0).getAs[Long]("n_rows") == direct(v)(Some("a"))._1)
    // reseed after an upstream vacuum replaces content in place
    MergeTable.merge(spark, path,
      Seq((200L, Some("d"), 2.5)).toDF("id", "grp", "amt"), "id")
    MergeTable.vacuum(spark, path, keepVersions = 1, minAgeMs = 0L)
    val v2 = IncrementalView.maintainTable(spark, path, mvT, "id", "grp", aggs)
    assert(v2 == MergeTable.latestVersion(spark, path))
    assert(mvNow() == direct(v2), "reseed must restore exact state")
  }

  test("a torn maintain (no _DONE marker) is invisible and redone") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_torn").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"
    val base = (0L until 10L).map(k => (k, if (k < 5) "x" else "y", k * 2.0))
      .toDF("id", "grp", "amt")
    MergeTable.create(base, path, statsCol = Some("id"))
    IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    MergeTable.merge(spark, path,
      Seq((2L, "y", 9.5)).toDF("id", "grp", "amt"), "id")
    val v = IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    // manufacture the torn write: drop the marker of the latest state
    val fs = new org.apache.hadoop.fs.Path(mvDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$mvDir/v=$v/_DONE"), false)
    assert(IncrementalView.currentVersion(spark, mvDir) < v,
      "an unmarked state must be invisible")
    // the redo from the last complete watermark restores it exactly
    assert(IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt") == v)
    assert(mv(mvDir) == direct(path))
  }

  test("both stores equal the recompute across a dv-only span, a purge and a NULL-group flip") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_dv").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"; val mvT = s"$root/mv_table"
    val base = (0L until 40L).map(k =>
      (k, Option(if (k % 4 == 0) "a" else if (k % 4 == 1) "b" else "c"), k * 1.25))
      .toDF("id", "grp", "amt").repartitionByRange(4, col("id"))
    MergeTable.create(base, path, statsCol = Some("id"))
    val aggs = Seq("sum" -> "amt")
    def recompute(): Map[Option[String], (Long, String)] =
      MergeTable.read(spark, path).groupBy("grp")
        .agg(count(lit(1)), sum(col("amt").cast("decimal(38,4)")))
        .collect().map(r => Option(r.getString(0)) ->
          (r.getLong(1), r.getDecimal(2).stripTrailingZeros.toPlainString)).toMap
    def rows(df: org.apache.spark.sql.DataFrame): Map[Option[String], (Long, String)] =
      df.collect().map(r => Option(r.getAs[String]("grp")) -> (r.getAs[Long]("n_rows"),
        r.getAs[java.math.BigDecimal]("sum_amt").stripTrailingZeros.toPlainString)).toMap
    def step(what: String): Unit = {
      val v = MergeTable.latestVersion(spark, path)
      assert(IncrementalView.maintainAggs(spark, path, mvDir, "id", "grp", aggs) == v)
      assert(IncrementalView.maintainTable(spark, path, mvT, "id", "grp", aggs) == v)
      val want = recompute()
      assert(rows(IncrementalView.read(spark, mvDir)) == want, s"parquet-dir state after $what")
      assert(rows(IncrementalView.readTable(spark, mvT)) == want, s"MergeTable state after $what")
    }
    step("the seed")
    // merge-on-read deletes: the span only grows deletion vectors
    val before = MergeTable.latestVersion(spark, path)
    MergeTable.deleteKeysMor(spark, path, Seq(4L, 5L, 13L, 30L).toDF("id"), "id")
    assert(MergeTable.latestVersion(spark, path) == before + 1)
    step("a deleteKeysMor epoch")
    MergeTable.deleteKeysMor(spark, path, Seq(8L, 22L).toDF("id"), "id")
    step("a second deleteKeysMor epoch")
    assert(MergeTable.purgeDeletes(spark, path) > 0)
    step("purgeDeletes")
    // COW merge: 1 flips b -> a, 2 flips c -> the NULL group, 50 lands
    // in the NULL group, and 9 is rewritten with its own values
    MergeTable.merge(spark, path,
      Seq((1L, Option("a"), 7.5), (2L, Option.empty[String], 3.0),
        (50L, Option.empty[String], 0.25), (9L, Option("b"), 11.25))
        .toDF("id", "grp", "amt"), "id")
    step("a COW merge with a group flip and a NULL group")
    assert(recompute().contains(None))
    // a dv-only span that empties the NULL group
    MergeTable.deleteKeysMor(spark, path, Seq(2L, 50L).toDF("id"), "id")
    step("a deleteKeysMor epoch that empties the NULL group")
    assert(!recompute().contains(None))
  }

  test("a steady maintain step runs few Spark jobs") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_jobs").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"
    val base = (0L until 200L).map(k => (k, s"g${k % 7}", k * 0.5))
      .toDF("id", "grp", "amt").repartitionByRange(4, col("id"))
    MergeTable.create(base, path, statsCol = Some("id"))
    IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    def epoch(i: Long) = MergeTable.merge(spark, path,
      (0L until 10L).map(k => (k * 3 + i, s"g${(k + i) % 7}", i * 1.5))
        .toDF("id", "grp", "amt"), "id")
    epoch(1L)
    IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
    epoch(2L)
    // one steady step's Spark jobs, counted under its own job group
    // (each shuffle stage is its own job under AQE): folding the
    // signed rows into the prior state is one aggregate's shuffle and
    // one write
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "mv-steady"))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("mv-steady", "one steady maintain step")
      try IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
      finally sc.clearJobGroup()
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() > 0 && jobs.get() <= 2, s"${jobs.get()} jobs in one steady maintain step")
    assert(mv(mvDir) == direct(path))
  }

  test("a sum whose non-NULL values were all deleted reads NULL in both stores, as a recompute") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_nullsum").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"; val mvT = s"$root/mv_table"
    MergeTable.create(Seq((1L, "g", Option(5.0)), (2L, "g", Option.empty[Double]))
      .toDF("id", "grp", "amt"), path, statsCol = Some("id"))
    def step(): Unit = {
      IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt")
      IncrementalView.maintainTable(spark, path, mvT, "id", "grp", Seq("sum" -> "amt"))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Any)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.get(2))).toSeq
    def recompute(): Seq[(String, Long, Any)] = rows(MergeTable.read(spark, path)
      .groupBy("grp").agg(count(lit(1)), sum(col("amt").cast("decimal(38,4)"))))
    step()
    MergeTable.deleteKeys(spark, path, Seq(1L).toDF("id"), "id")
    step()
    assert(recompute() == Seq(("g", 1L, null)))
    assert(rows(IncrementalView.read(spark, mvDir)) == recompute())
    assert(rows(IncrementalView.readTable(spark, mvT)) == recompute())
    // the readers' columns are the state's, without the counts
    assert(IncrementalView.read(spark, mvDir).columns.toSeq == Seq("grp", "n_rows", "sum_val"))
    assert(IncrementalView.readTable(spark, mvT).columns.toSeq == Seq("grp", "n_rows", "sum_amt"))
    // a non-NULL value lands in the group again: the sum is back
    MergeTable.merge(spark, path, Seq((3L, "g", Option(2.5))).toDF("id", "grp", "amt"), "id")
    step()
    assert(recompute() == Seq(("g", 2L, new java.math.BigDecimal("2.5000"))))
    assert(rows(IncrementalView.read(spark, mvDir)) == recompute())
    assert(rows(IncrementalView.readTable(spark, mvT)) == recompute())
  }

  test("a state written without the non-NULL counts reseeds in both stores") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivm_oldstate").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"; val mvT = s"$root/mv_table"
    MergeTable.create((0L until 12L).map(k => (k, s"g${k % 3}", k * 0.5))
      .toDF("id", "grp", "amt"), path, statsCol = Some("id"))
    val v = MergeTable.latestVersion(spark, path)
    // both stores hold a complete state at the table's version, in the
    // shape without counts and with numbers no recompute gives
    Seq(("g0", 99L, "1.0")).toDF("grp", "n_rows", "s")
      .select(col("grp"), col("n_rows"), col("s").cast("decimal(38,4)").as("sum_val"))
      .write.parquet(s"$mvDir/v=$v")
    Files.createFile(java.nio.file.Paths.get(s"$mvDir/v=$v/_DONE"))
    MergeTable.create(Seq(("Vg0", Option("g0"), 99L, "1.0", Option.empty[Long]),
      ("W", Option.empty[String], 0L, "0", Option(v.toLong)))
      .toDF("__g_key", "grp", "n_rows", "s", "__w")
      .select(col("__g_key"), col("grp"), col("n_rows"),
        col("s").cast("decimal(38,4)").as("sum_amt"), col("__w")),
      mvT, statsCol = Some("__g_key"))
    assert(IncrementalView.maintain(spark, path, mvDir, "id", "grp", "amt") == v)
    assert(mv(mvDir) == direct(path))
    assert(IncrementalView.maintainTable(spark, path, mvT, "id", "grp", Seq("sum" -> "amt")) == v)
    assert(IncrementalView.readTable(spark, mvT).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        r.getDecimal(2).stripTrailingZeros.toPlainString)).toMap == direct(path))
  }
}
