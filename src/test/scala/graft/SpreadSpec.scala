package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Spread

class SpreadSpec extends AnyFunSuite {
  import SparkTest._

  // fanout only plans: no test here runs a repartition, so a garbage
  // count can fail an assertion but never launch that many tasks
  private def withAdvisory[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("fanout of a join is bounded by its leaves' measured bytes, not the product estimate") {
    val advisory = 256L * 1024
    val side = spark.range(200000L).toDF("k")
    val joined = side.join(spark.range(200000L).toDF("k"), "k")
    val plan = joined.queryExecution.optimizedPlan
    // without CBO the join's estimate is the product of its sides'
    val leafBytes = plan.collectLeaves().map(_.stats.sizeInBytes).sum
    assert(leafBytes == BigInt(2 * 200000L * 8))
    assert(plan.stats.sizeInBytes > leafBytes * 1000)
    withAdvisory(advisory) {
      assert(Spread.fanout(joined) == (leafBytes / advisory).toInt) // 12
    }
    assert(Spread.fanout(joined) == spark.sparkContext.defaultParallelism)
  }

  test("fanout of an RDD-backed frame falls to the cores floor") {
    val rows = spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)))
    val df = spark.createDataFrame(rows, StructType(Seq(StructField("k", LongType))))
    // an RDD leaf has no measured size: its estimate is Long.MaxValue
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(Long.MaxValue))
    assert(Spread.fanout(df) == spark.sparkContext.defaultParallelism)
  }

  test("fanout of a file scan keeps its data-aware count") {
    val dir = java.nio.file.Files.createTempDirectory("spread").toString
    spark.range(100000L).selectExpr("id", "id * 3 AS v").write.parquet(s"$dir/t")
    val scan = spark.read.parquet(s"$dir/t")
    val bytes = scan.queryExecution.optimizedPlan.stats.sizeInBytes
    val advisory = 64L * 1024
    withAdvisory(advisory) {
      assert(Spread.fanout(scan) == math.max(spark.sparkContext.defaultParallelism,
        (bytes / advisory).toInt))
      assert(Spread.fanout(scan) > spark.sparkContext.defaultParallelism)
    }
  }
}
