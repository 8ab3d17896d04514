package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Column↔Expression conversions —
  * the standard pattern for libraries adding native Catalyst
  * expressions (a public `Column(expr)` constructor no longer exists
  * in Spark 4's split API). Nothing else from the private surface is
  * touched.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  /** The Column's Catalyst tree, converted now: `ExpressionUtils`
    * defers a non-expression node behind a wrapper only a Dataset
    * resolves, which a function-registry builder's result never meets. */
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  private val formatters =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      catalyst.util.TimestampFormatter]()

  /** Lenient timestamp parse with Spark's own formatter (same semantics
    * as to_timestamp on valid input); null instead of ANSI throw on
    * malformed input. Called from generated code — keeps the
    * try-parse path inside WholeStageCodegen, unlike `try_to_timestamp`
    * whose TryEval falls back to interpreted evaluation. */
  def parseTimestampOrNull(fmt: String, zone: String,
                           s: org.apache.spark.unsafe.types.UTF8String): java.lang.Long = {
    if (s == null) return null
    val f = formatters.computeIfAbsent((fmt, zone), { key: (String, String) =>
      catalyst.util.TimestampFormatter(key._1, java.time.ZoneId.of(key._2),
        isParsing = true)
    })
    try java.lang.Long.valueOf(f.parse(s.toString))
    catch { case scala.util.control.NonFatal(_) => null }
  }
}
