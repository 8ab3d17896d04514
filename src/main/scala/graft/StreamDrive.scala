package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Minimal end-to-end DRIVE of a named streaming pipeline (the
  * streaming analog of Verify's batch contract): mounts a MemoryStream
  * with a small deterministic fixture, runs the real StreamingQuery to
  * a memory sink, and prints the landed rows — so a streaming operator
  * change can be observed through the production entry point, not only
  * through specs. Usage: runMain graft.StreamDrive <op> [<op>...]
  * (no args = drive every registered op). */
object StreamDrive {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    def drive(name: String)(df: => org.apache.spark.sql.DataFrame)
             (feed: () => Unit): Unit = {
      val q = df.writeStream.format("memory").queryName(s"drive_$name")
        .outputMode("append").start()
      feed()
      q.processAllAvailable(); q.stop()
      val rows = spark.table(s"drive_$name").collect()
      println(s"[streamdrive] $name: ${rows.length} rows")
      rows.take(10).foreach(r => println(s"[streamdrive]   $r"))
    }

    val ops: Map[String, () => Unit] = Map(
      "streamDomainCap" -> (() => {
        val in = MemoryStream[(String, Long)]
        drive("streamDomainCap")(
          graft.streaming.Pipelines.streamDomainCap(
            in.toDF().toDF("domain", "doc_id"), cap = 2L)) { () =>
          in.addData(("a.com", 2L), ("a.com", 1L), ("b.com", 9L))
          in.addData(("a.com", 3L), ("b.com", 8L))
        }
      }),
      "streamGopherScreen" -> (() => {
        val in = MemoryStream[(Long, String)]
        drive("streamGopherScreen")(
          graft.streaming.Pipelines.streamGopherScreen(
            in.toDF().toDF("doc_id", "text")).select("doc_id")) { () =>
          in.addData(
            (1L, ("the cat and the dog have gone out to see that " +
              "fine market with all of our good old friends again today ") * 3),
            (2L, "too short to pass"))
        }
      }),
      "streamDecontaminate" -> (() => {
        import graft.operators.Dedup
        val evalText = (1 to 15).map(i => s"ev$i").mkString(" ")
        val grams = Seq((0L, evalText)).toDF("doc_id", "text")
          .select(explode(array_distinct(transform(
            graft.functions.Native.wordShingles(
              graft.functions.Text.tokens(lower(col("text"))), 13),
            sh => graft.functions.Native.polyHash(sh, 1000003L)))).as("h"))
          .distinct()
        val bits = Dedup.bloomBuild(grams, "h", 8192, 3)
        val in = MemoryStream[(Long, String)]
        drive("streamDecontaminate")(
          graft.streaming.Pipelines.streamDecontaminate(
            in.toDF().toDF("doc_id", "text"), bits, 8192, 3)) { () =>
          in.addData((1L, evalText),
            (2L, (1 to 15).map(i => s"clean$i").mkString(" ")))
        }
      })
    )
    val todo = if (args.isEmpty) ops.keys.toSeq.sorted else args.toSeq
    todo.foreach { name =>
      ops.getOrElse(name,
        sys.error(s"unknown op '$name'; valid: ${ops.keys.toSeq.sorted.mkString(", ")}"))()
    }
    spark.stop()
  }
}
