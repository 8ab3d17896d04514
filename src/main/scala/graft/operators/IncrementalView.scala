package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.MergeTable

/** A MAINTAINED AGGREGATE VIEW over a [[MergeTable]] — the q77 IVM
  * rule packaged as a stateful operator, closing the CDC loop the §2d
  * pipelines open: `mergeApplySink` lands change records in the table,
  * [[maintain]] advances a downstream grouped aggregate by folding in
  * ONLY what changed since the last maintained upstream version.
  *
  * ONE DELTA RULE (signed rows): the delta over a version span is the
  * rows of the files `MergeTable.diffEntries` cannot prove identical,
  * each signed -1 when visible at the old version and +1 when visible
  * at the new one; the next state is ONE `groupBy` over (prior state
  * rows ∪ signed rows) summing `n_rows` and every sum, and groups left
  * at `n_rows <= 0` drop. `count` and `sum` are additive, so a row a
  * rewrite left unchanged cancels, a group-key flip debits the old
  * group and credits the new, and a NULL group is simply one `groupBy`
  * group — no key alignment, no join. The seed is the same rule from
  * nothing: every row of the target snapshot at +1. Because the
  * changed-file set is manifest-aware (incl. across `optimize` via
  * rewrite lineage), one maintenance step costs the files the epochs
  * TOUCHED, never a recompute over the table — the posture that keeps
  * a 100 TB table's rollups fresh for the cost of the day's changes.
  *
  * AGGREGATE SURFACE — the decomposable core: `count(*)` (always
  * maintained as `n_rows`), any number of `sum` columns, and `avg`
  * (derived as its sum over `n_rows` at READ time — no extra state).
  * `min`/`max` are REJECTED, not approximated: they are not
  * decomposable under deletes (removing the current minimum forces a
  * full re-scan of the group — the classic IVM seam), so asking for
  * them raises with that explanation instead of silently serving a
  * stale bound.
  *
  * MV state is itself versioned-by-manifest-number: each maintenance
  * publishes `mvDir/v=<upstreamVersion>` with a `_DONE` marker (which
  * records the state's column names); readers resolve the highest
  * COMPLETE version, so a torn maintain (crash mid-write: no marker)
  * is invisible and the next call redoes the same deterministic delta
  * from the last complete watermark — the idempotentParquetSink
  * argument at the view layer. Each sum
  * keeps a signed NON-NULL COUNT beside it in state (`nn_<sum>`,
  * additive like the sum): a group whose non-NULL values were all
  * deleted nets its sum to 0, and the count at 0 is what makes the
  * readers answer NULL there, as a recompute's `sum` over the
  * remaining all-NULL rows does. Readers never show the count
  * columns. A state written without them reseeds. Sums live at
  * the PROMOTED precision DECIMAL(38,4) in state: narrowing back to
  * the input precision after each delta apply would overflow-throw
  * under ANSI (wedging the maintenance loop) or NULL-then-zero
  * silently with ANSI off; the one double conversion belongs to the
  * consumer, never the state.
  */
object IncrementalView {

  private val VDirRe = """v=(\d+)""".r
  private val StateDec = DecimalType(38, 4)

  /** The `v=<n>` state dirs under `mvDir` by version, each with
    * whether its `_DONE` marker (a complete publish) exists. */
  private def stateDirs(spark: SparkSession, mvDir: String): Seq[(Int, Path, Boolean)] = {
    val dir = new Path(mvDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(dir, "v=*"))).getOrElse(Array.empty).toSeq
      .flatMap(st => st.getPath.getName match {
        case VDirRe(n) => Some((n.toInt, st.getPath, fs.exists(new Path(st.getPath, "_DONE"))))
        case _ => None
      }).sortBy(_._1)
  }

  /** Upstream version the current complete MV state reflects, or -1. */
  def currentVersion(spark: SparkSession, mvDir: String): Int =
    stateDirs(spark, mvDir).filter(_._3).lastOption.fold(-1)(_._1)

  /** The maintained state: (groupCol, n_rows, one DECIMAL(38,4)
    * column per maintained sum) as of the current complete MV
    * version. */
  def read(spark: SparkSession, mvDir: String): DataFrame = {
    val v = currentVersion(spark, mvDir)
    require(v >= 0, s"no complete MV state under $mvDir")
    visible(spark.read.parquet(s"$mvDir/v=$v"))
  }

  /** The state column holding sum `n`'s signed non-NULL count. */
  private def nonNull(n: String): String = s"nn_$n"

  /** State as readers see it: a sum whose non-NULL count is 0 reads
    * NULL, and the count columns are dropped. */
  private def visible(state: DataFrame): DataFrame = {
    val counted = state.columns.filter(c => state.columns.contains(nonNull(c)))
    counted.foldLeft(state)((df, n) => df.withColumn(n, when(col(nonNull(n)) =!= 0L, col(n))))
      .drop(counted.map(nonNull): _*)
  }

  /** The state plus the DERIVED averages the `avg` aggs requested:
    * `avg_<c>` = `sum_<c>` (as double) / `n_rows` — double division
    * of the exact decimal sum, the one conversion that belongs to the
    * consumer. Zero-count groups were already dropped by maintenance,
    * so the division is total. */
  def readAggs(spark: SparkSession, mvDir: String,
               aggs: Seq[(String, String)]): DataFrame = {
    validateAggs(aggs)
    val state = read(spark, mvDir)
    aggs.collect { case ("avg", c) => c }.distinct.foldLeft(state)((df, c) =>
      df.withColumn(s"avg_$c",
        col(s"sum_$c").cast("double") / col("n_rows")))
  }

  private def validateAggs(aggs: Seq[(String, String)]): Unit =
    aggs.foreach {
      case ("sum", _) | ("avg", _) => ()
      case (op @ ("min" | "max"), c) =>
        throw new IllegalArgumentException(
          s"$op($c) is not decomposable under deletes: removing the current " +
            s"$op forces a full re-scan of its group, so it cannot be " +
            "maintained from the change feed — recompute it, or keep a " +
            "sorted-structure sidecar outside this operator")
      case (op, c) =>
        throw new IllegalArgumentException(
          s"unsupported aggregate $op($c): maintainAggs supports sum and avg " +
            "(count(*) is always maintained as n_rows)")
    }

  /** The (state column, source column) sums the requested aggs need:
    * one running DECIMAL(38,4) `sum_<c>` per distinct source column
    * (avg rides its sum + n_rows). */
  private def stateSums(aggs: Seq[(String, String)]): Seq[(String, String)] =
    aggs.map(_._2).distinct.map(c => s"sum_$c" -> c)

  /** (applied, target) of one maintenance step: `target` is the
    * upstream table's latest retained version, or the explicit retained
    * `toVersion`; `applied` is the view's `watermark`, or -1 (seed from
    * the full target snapshot) when there is none or it names a
    * vacuumed version — that one cannot delta-apply, so the view
    * reseeds instead of wedging the maintenance loop forever. */
  private def steps(spark: SparkSession, tablePath: String, toVersion: Int,
                    watermark: Int): (Int, Int) = {
    val retained = MergeTable.retainedVersions(spark, tablePath)
    require(retained.nonEmpty, s"no MergeTable at $tablePath")
    require(toVersion < 0 || retained.contains(toVersion),
      s"version $toVersion not retained (have ${retained.mkString(",")})")
    (if (retained.contains(watermark)) watermark else -1,
      if (toVersion < 0) retained.last else toVersion)
  }

  /** The signed rows of the upstream span (applied, target] in state
    * shape — (groupCol, n_rows = ±1, per sum ±value and its ±1 or 0
    * non-NULL count) — or, with no watermark (`applied` < 0), every
    * row of the target snapshot at +1. Negation, not multiplication,
    * keeps the sums at the state precision. */
  private def delta(spark: SparkSession, tablePath: String, applied: Int,
                    target: Int, groupCol: String,
                    sums: Seq[(String, String)]): DataFrame = {
    val rows =
      if (applied < 0) MergeTable.read(spark, tablePath, target).withColumn("__sgn", lit(1L))
      else MergeTable.signedRows(spark, tablePath, applied, target)
    rows.select(col(groupCol) +: col("__sgn").as("n_rows") +: sums.flatMap { case (n, c) =>
      val v = col(c).cast(StateDec)
      Seq(when(col("__sgn") > 0L, v).otherwise(-v).as(n),
        when(col(c).isNull, 0L).otherwise(col("__sgn")).as(nonNull(n)))
    }: _*)
  }

  /** THE maintenance rule: one `groupBy` over state-shaped rows (prior
    * state ∪ signed rows) summing `n_rows`, every sum and every
    * non-NULL count. */
  private def fold(rows: DataFrame, groupCol: String,
                   sums: Seq[(String, String)]): DataFrame =
    rows.groupBy(groupCol).agg(sum(col("n_rows")).as("n_rows"),
      sumCols(sums).map(c => sum(col(c)).as(c)): _*)

  /** Every sum's state columns: the sum and its non-NULL count. */
  private def sumCols(sums: Seq[(String, String)]): Seq[String] =
    sums.flatMap { case (n, _) => Seq(n, nonNull(n)) }

  /** Whether a state carries the non-NULL count of every sum: one
    * written before the counts existed must reseed, because its sums
    * of 0 cannot tell "all deleted" from "nets to zero". */
  private def hasCounts(names: Seq[String], sums: Seq[(String, String)]): Boolean =
    sums.forall { case (n, _) => names.contains(nonNull(n)) }

  /** Legacy single-sum surface (state column named `sum_val`): kept
    * for the §2d sinks; [[maintainAggs]] is the general form. `key` is
    * unused — the signed-rows delta needs no key alignment — and kept
    * for positional callers. */
  def maintain(spark: SparkSession, tablePath: String, mvDir: String,
               key: String, groupCol: String, sumCol: String): Int =
    maintainNamed(spark, tablePath, mvDir, groupCol, Seq("sum_val" -> sumCol), -1)

  /** Advance the MV to the upstream table's latest retained version
    * (or an explicit retained `toVersion` — bounded catch-up). First
    * call seeds from the full target snapshot (the one unavoidable
    * full pass); every later call folds in only the signed rows of the
    * files changed since the applied version. `aggs` are (op, column)
    * pairs, op ∈ sum | avg — see the aggregate-surface contract
    * above. `key` is unused (see [[maintain]]). Returns the upstream
    * version the MV now reflects (no-op when already current).
    * Single-maintainer, like the table-format maintenance ops. */
  def maintainAggs(spark: SparkSession, tablePath: String, mvDir: String,
                   key: String, groupCol: String,
                   aggs: Seq[(String, String)],
                   toVersion: Int = -1): Int = {
    validateAggs(aggs)
    maintainNamed(spark, tablePath, mvDir, groupCol, stateSums(aggs), toVersion)
  }

  // ---- MV state AS a MergeTable (snapshot isolation + CDF on the
  // rollup itself) -------------------------------------------------
  //
  // The parquet-dir state above is the minimal shape; maintainTable
  // stores the SAME maintained aggregate in a [[MergeTable]] keyed by
  // an encoded group key, so the rollup inherits the table layer
  // wholesale: snapshot isolation (a reader never sees a half-applied
  // maintenance step), time travel over rollup history, point lookups
  // by group through the string-range probe, and ITS OWN change feed
  // (`MergeTable.changes` on the MV table answers "which rollup rows
  // moved this epoch" — the second-order CDF a downstream alert or
  // cache invalidation consumes). The upstream WATERMARK rides as a
  // SENTINEL ROW (`__g_key = "W"`, carrying the applied version in
  // `__w`) upserted in the SAME applyBatch commit as the group
  // changes — state and watermark are atomic by construction, so a
  // torn maintain is impossible rather than merely detectable (the
  // `_DONE`-marker dance the parquet-dir variant needs).
  //
  // A step runs the same signed-rows rule over only the groups it
  // moves: the signed rows fold per group first, groups whose count
  // and sums all net to zero drop (a rewrite that left a group's rows
  // as they were must not rewrite its rollup row), the prior rows of
  // the rest come from a point lookup on the MV table, and one more
  // fold of (prior ∪ moved) gives their next rows.
  //
  // Group keys encode as "N" (NULL group) / "V" + canonical string —
  // non-null and unique per version, as the tracked key requires.
  // PRECONDITION (documented, not checked): distinct group values
  // must render distinct strings — true for the atomic types a
  // GROUP BY key can be.

  private val WatermarkKey = "W"

  private def gKey(groupCol: String): Column =
    when(col(groupCol).isNull, lit("N"))
      .otherwise(concat(lit("V"), col(groupCol).cast("string")))

  /** Upstream version the MV table currently reflects, or -1. One
    * candidate-file point lookup (the sentinel row), never a scan. */
  def appliedVersion(spark: SparkSession, mvTablePath: String): Int = {
    import spark.implicits._
    if (MergeTable.latestVersion(spark, mvTablePath) < 0) -1
    else MergeTable.readKeys(spark, mvTablePath,
      Seq(WatermarkKey).toDF("__g_key"), "__g_key")
      .select(col("__w")).collect()
      .headOption.map(_.getLong(0).toInt).getOrElse(-1)
  }

  /** The maintained rollup from the MV table's LATEST snapshot (or a
    * retained `version` — the rollup's own time travel), internals
    * (sentinel row, encoded key, watermark column) stripped. */
  def readTable(spark: SparkSession, mvTablePath: String,
                version: Int = -1): DataFrame =
    visible(MergeTable.read(spark, mvTablePath, version)
      .filter(col("__g_key") =!= WatermarkKey)
      .drop("__g_key", "__w"))

  /** [[maintainAggs]] with the state in a [[MergeTable]] at
    * `mvTablePath` (same aggregate surface and rejection rules; same
    * seeding, signed-rows delta and reseed-after-vacuum semantics;
    * `key` is unused, see [[maintain]]). Each maintenance step lands
    * as ONE applyBatch commit: groups the step moved upsert, emptied
    * groups delete, untouched groups' files CARRY BY NAME (the
    * rollup's own COW pruning), and the new watermark commits
    * atomically with them. Returns the upstream version the MV now
    * reflects. */
  def maintainTable(spark: SparkSession, tablePath: String,
                    mvTablePath: String, key: String, groupCol: String,
                    aggs: Seq[(String, String)],
                    toVersion: Int = -1): Int = {
    validateAggs(aggs)
    val sums = stateSums(aggs)
    val exists = MergeTable.latestVersion(spark, mvTablePath) >= 0
    val watermark =
      if (exists && hasCounts(MergeTable.tableSchema(spark, mvTablePath).fieldNames.toSeq, sums))
        appliedVersion(spark, mvTablePath)
      else -1
    val (applied, target) = steps(spark, tablePath, toVersion, watermark)
    if (applied >= target) return applied

    val stateNames = groupCol +: "n_rows" +: sumCols(sums)
    def stateRows(folded: DataFrame): DataFrame =
      folded.select(gKey(groupCol).as("__g_key") +: stateNames.map(col) :+
        lit(null).cast("long").as("__w"): _*)
    val signed = delta(spark, tablePath, applied, target, groupCol, sums)
    // the watermark row: committed in the SAME applyBatch as the
    // group changes, so state and watermark can never tear apart
    val sentinel: DataFrame =
      spark.range(1).select(
        lit(WatermarkKey).as("__g_key") +:
          lit(null).cast(signed.schema(groupCol).dataType).as(groupCol) +:
          lit(0L).as("n_rows") +:
          sums.flatMap { case (n, _) => Seq(lit(0).cast(StateDec).as(n), lit(0L).as(nonNull(n))) } :+
          lit(target.toLong).as("__w"): _*)

    if (applied < 0) {
      val seed = stateRows(fold(signed, groupCol, sums))
      val ups = seed.unionByName(sentinel)
      if (!exists)
        MergeTable.create(ups, mvTablePath, statsCol = Some("__g_key"))
      else {
        // reseed after an upstream vacuum: replace content wholesale —
        // groups gone from the new seed delete, the rest upsert
        val dels = MergeTable.read(spark, mvTablePath).select("__g_key")
          .filter(col("__g_key") =!= WatermarkKey)
          .join(seed.select("__g_key"), Seq("__g_key"), "left_anti")
        MergeTable.applyBatch(spark, mvTablePath, ups, dels, "__g_key")
      }
    } else {
      val moved = fold(signed, groupCol, sums).filter(
        sums.flatMap { case (n, _) => Seq(coalesce(col(n), lit(0)) =!= 0, col(nonNull(n)) =!= 0L) }
          .foldLeft(col("n_rows") =!= 0L)(_ || _))
      // prior rows of ONLY the moved groups: the table's own
      // point-lookup probe — maintenance never scans the rollup
      val prior = MergeTable.readKeys(spark, mvTablePath,
        moved.select(gKey(groupCol).as("__g_key")), "__g_key")
        .select(stateNames.map(col): _*)
      val next = stateRows(fold(prior.unionByName(moved), groupCol, sums)).persist()
      try {
        val ups = next.filter(col("n_rows") > 0L).unionByName(sentinel)
        val dels = next.filter(col("n_rows") <= 0L).select("__g_key")
        MergeTable.applyBatch(spark, mvTablePath, ups, dels, "__g_key")
      } finally next.unpersist()
    }
    target
  }

  /** The column names the parquet-dir state in `dir` was written
    * with, as its `_DONE` marker records them (one comma-separated
    * line); none for a marker written before it recorded them. The
    * marker, not a part file's footer: a footer read costs ~12 ms on
    * a local file system, the marker ~0.2 ms, once per step. */
  private def stateColumns(fs: FileSystem, dir: Path): Seq[String] = {
    val in = fs.open(new Path(dir, "_DONE"))
    try new String(in.readAllBytes(), UTF_8).split(',').toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  /** The parquet-dir maintenance step over explicit (stateName,
    * srcCol) sums: the next state is the fold of (prior state ∪ signed
    * rows), groups at `n_rows <= 0` dropped, published as
    * `v=<target>` + `_DONE`. */
  private def maintainNamed(spark: SparkSession, tablePath: String,
                            mvDir: String, groupCol: String,
                            sums: Seq[(String, String)],
                            toVersion: Int): Int = {
    val fs = new Path(mvDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = currentVersion(spark, mvDir)
    val watermark =
      if (current >= 0 && hasCounts(stateColumns(fs, new Path(mvDir, s"v=$current")), sums))
        current
      else -1
    val (applied, target) = steps(spark, tablePath, toVersion, watermark)
    if (applied >= target) return applied
    val signed = delta(spark, tablePath, applied, target, groupCol, sums)
    // the prior state has the signed rows' schema (both are the
    // fold's input shape), so reading it needs no schema-inference job
    val rows =
      if (applied < 0) signed
      else spark.read.schema(signed.schema).parquet(s"$mvDir/v=$applied")
        .unionByName(signed)
    val out = s"$mvDir/v=$target"
    val next = fold(rows, groupCol, sums).filter(col("n_rows") > 0L)
    next.write.mode("overwrite").parquet(out)
    val marker = fs.create(new Path(out, "_DONE"), true)
    try marker.write(next.columns.mkString(",").getBytes(UTF_8)) finally marker.close()
    // retire superseded states, KEEPING the previous complete one:
    // if this publish later turns out torn (marker lost with the
    // dir), the survivor is the watermark the redo delta-applies
    // from — without it a torn latest would force a full reseed
    val dirs = stateDirs(spark, mvDir)
    val keep = dirs.filter(_._3).takeRight(2).map(_._1).toSet
    dirs.filterNot(d => keep(d._1)).foreach(d => fs.delete(d._2, true))
    target
  }
}
