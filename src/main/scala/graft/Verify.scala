package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to named queries (dev pre-flights);
    // the driver's two-arg invocation dumps everything. Unknown names
    // abort LOUDLY — a typo that filtered everything out would silently
    // zero the round's correctness.
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    // the deployment session (SQL surface + optimizer rewrites), so the
    // driver's correctness gate exercises the production plans
    val spark = Engine.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
