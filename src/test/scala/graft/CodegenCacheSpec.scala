package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** `Engine.configure` sizes Spark's JVM-wide codegen cache to hold a
  * unit's classes, so a re-run plan compiles nothing. */
class CodegenCacheSpec extends AnyFunSuite {
  import SparkTest._

  test("a configured session recompiles none of 150 distinct plans on their second run") {
    // each constant is inlined in its plan's generated class: 150
    // classes, more than Spark's default 100-entry LRU cache keeps
    def run(i: Int): Unit =
      spark.range(4).select((col("id") * lit(i + 2L) + lit(i)).as("x")).collect()
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (0 until 150).foreach(run)
    val c0 = compiles()
    (0 until 150).foreach(run)
    assert(compiles() - c0 == 0, "the second round recompiled evicted classes")
  }

  test("the cache size defers to a SparkConf that sets it") {
    assert(Engine.codegenCacheEntries(new SparkConf(false)) ==
      Some(Engine.CodegenCacheEntries))
    assert(Engine.codegenCacheEntries(new SparkConf(false)
      .set("spark.sql.codegen.cache.maxEntries", "64")).isEmpty)
  }
}
