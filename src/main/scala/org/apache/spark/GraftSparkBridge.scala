package org.apache.spark

/** Minimal bridge into `private[spark]` core internals — the sibling of
  * `org.apache.spark.sql.GraftBridge` for the one non-SQL need: the
  * bench's per-query TaskMetrics read must DRAIN the async listener bus
  * before sampling its accumulators, or a fast query could report the
  * metrics of its own last-straggler tasks into the next query's row.
  * And its stage table names a stage by the plan operators it ran,
  * which only the `private[spark]` RDD operation scopes record.
  */
object GraftSparkBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The distinct operation-scope names of a stage's RDDs, last RDD
    * first: for SQL the plan operators (`Exchange`, `WholeStageCodegen
    * (n)`, `Scan parquet ...`), empty when no RDD carries a scope. */
  def scopeNames(si: scheduler.StageInfo): Seq[String] =
    si.rddInfos.sortBy(-_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
