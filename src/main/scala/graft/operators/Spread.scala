package graft.operators

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Range}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Data-aware partition counts for the explicit fan-out exchanges the
  * single-row-group sf parquet files force (guide §2.5 "input skew" /
  * §6: a scan's parallelism inherits the file layout, and these
  * fixtures are one row group — one task — per table).
  *
  * An EXPLICIT repartition count is never AQE-coalesced or AQE-sized
  * (`REPARTITION_BY_NUM` opts out of both), so hard-coding the local
  * core count — round 13's shape — would pin a 100 TB scan to `cores`
  * partitions: multi-GB-to-TB sort buffers and guaranteed spill
  * (guide §5). A keyless `repartition(col)` is no answer either: AQE
  * coalesces it against the *bytes* estimate, which collapses a tiny
  * compressed input carrying heavy per-row compute into ONE task
  * (measured on d66: the whole 5 s shingle grid in one task).
  *
  * So the count is `max(cores, inputBytes / advisoryPartitionSize)`:
  * at bench SF the byte term vanishes and the plan is exactly the
  * former `defaultParallelism` shape (driver bench comparable); at
  * production scale the count tracks the DATA (~1.6M partitions for
  * 100 TB at the default 64 MB advisory target) and is tuned with the
  * standard `spark.sql.adaptive.advisoryPartitionSizeInBytes` knob,
  * not a code change.
  *
  * The byte term is BOUNDED by what the input's leaves measure: it is
  * min(plan estimate, sum of the measured leaf sizes). Without CBO a
  * join's estimate is the product of its sides' (lineitem ⋈ orders at
  * sf0.1 estimated 439 110 partitions) and an RDD-backed frame reports
  * `Long.MaxValue`; a leaf with no measured size counts 0, so such
  * inputs fall to the cores floor instead of a garbage count.
  */
object Spread {
  /** `repartitionByRange` at the data-aware count. */
  def byRange(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartitionByRange(fanout(df), cols: _*)

  /** Hash `repartition` at the data-aware count. */
  def byKey(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(fanout(df), cols: _*)

  /** A leaf whose size statistic is measured, not guessed: a file
    * scan, local rows, a range, or a cache once loaded. */
  private[graft] def measured(leaf: LogicalPlan): Boolean = leaf match {
    case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
    case _: LogicalRelation | _: LocalRelation | _: Range => true
    case _ => false
  }

  def fanout(df: DataFrame): Int = {
    val s = df.sparkSession
    val advisory = math.max(1L, JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")))
    val plan = df.queryExecution.optimizedPlan
    val leafBytes = plan.collectLeaves().filter(measured).map(_.stats.sizeInBytes).sum
    val byData = (plan.stats.sizeInBytes.min(leafBytes) / advisory)
      .min(BigInt(Int.MaxValue / 2)).toInt
    math.max(s.sparkContext.defaultParallelism, byData)
  }
}
