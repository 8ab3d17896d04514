package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Suite, Timed}

/** `Bench.splicePasses`: the suite's five re-measure passes flag the rows
  * their thresholds name, in their order, and a re-measure replaces a
  * row only when it is faster. And query mode's stage table names each
  * stage after the plan operators it ran. */
class BenchSpliceSpec extends AnyFunSuite {
  private def suite(dir: String, rows: (String, Double)*): Suite =
    Suite(dir, rows.map { case (n, s) => n -> Timed(s) }.toMap)

  // (small, mid, sf1) seconds per row; each named row trips one pass
  private val small = suite("s", "ratio_mid" -> 0.1, "expensive_mid" -> 0.5,
    "inverted_small" -> 1.0, "ratio_sf1" -> 0.05, "expensive_sf1" -> 0.1,
    "inverted_mid" -> 0.05, "warmth" -> 0.05, "none_edge" -> 0.15, "none_floor" -> 0.2)
  private val mid = suite("m", "ratio_mid" -> 3.0, "expensive_mid" -> 2.0,
    "inverted_small" -> 0.3, "ratio_sf1" -> 0.2, "expensive_sf1" -> 0.9,
    "inverted_mid" -> 0.9, "warmth" -> 0.95, "none_edge" -> 1.0, "none_floor" -> 0.15)
  private val sf1 = suite("b", "ratio_mid" -> 0.9,
    "inverted_small" -> 0.5, "ratio_sf1" -> 5.0, "expensive_sf1" -> 2.0,
    "inverted_mid" -> 0.4, "warmth" -> 0.3, "none_edge" -> 1.0, "none_floor" -> 0.1)
  // the isolated re-measure each flagged row gets; slower than its
  // suite row for expensive_mid and for warmth's sf1 side
  private val isolated = Map(("m", "ratio_mid") -> 0.5, ("m", "expensive_mid") -> 2.5,
    ("s", "inverted_small") -> 0.2, ("b", "ratio_sf1") -> 0.8,
    ("b", "expensive_sf1") -> 1.5, ("m", "inverted_mid") -> 0.55,
    ("m", "warmth") -> 0.7, ("b", "warmth") -> 0.6)

  private def run(sf1: Option[Suite]) = {
    val calls = mutable.ArrayBuffer.empty[(String, String)]
    val out = Bench.splicePasses(Some(small), mid, sf1, (dir, name) => {
      calls += ((dir, name))
      Timed(isolated((dir, name)))
    })
    (out, calls.toSeq)
  }

  private def flagged(blocks: Map[String, Bench.Remeasures]) =
    blocks.map { case (k, v) => k -> v.keySet }

  /** Each row is its suite time, or its re-measure where that ran and
    * is faster. */
  private def neverSlower(before: Suite, after: Suite, calls: Seq[(String, String)]): Unit =
    before.rows.foreach { case (n, t) =>
      val iso = Some((before.dir, n)).filter(calls.contains).map(isolated)
      assert(after.rows(n).sec == iso.fold(t.sec)(math.min(t.sec, _)), s"${before.dir} $n")
    }

  test("with an sf1 suite, each of the five passes flags its row, in pass order") {
    val ((s, m, b, blocks), calls) = run(Some(sf1))
    assert(blocks.keys.toSeq == Seq("outliers", "outliers_expensive", "outliers_small",
      "outliers_sf1", "outliers_sf1_expensive", "outliers_mid_inverted", "outliers_sf1_warmth"))
    assert(flagged(blocks) == Map(
      "outliers" -> Set("ratio_mid"), "outliers_expensive" -> Set("expensive_mid"),
      "outliers_small" -> Set("inverted_small"), "outliers_sf1" -> Set("ratio_sf1"),
      "outliers_sf1_expensive" -> Set("expensive_sf1"),
      "outliers_mid_inverted" -> Set("inverted_mid", "warmth"),
      "outliers_sf1_warmth" -> Set("warmth")))
    assert(calls == Seq("m" -> "ratio_mid", "m" -> "expensive_mid", "s" -> "inverted_small",
      "b" -> "ratio_sf1", "b" -> "expensive_sf1", "m" -> "warmth", "m" -> "inverted_mid",
      "b" -> "warmth"))
    // each block records the row's suite time next to its re-measure
    assert(blocks("outliers_sf1_warmth")("warmth")._1 == 0.3)
    assert(blocks("outliers_expensive")("expensive_mid")._2.sec == 2.5)
    neverSlower(small, s.get, calls)
    neverSlower(mid, m, calls)
    neverSlower(sf1, b.get, calls)
  }

  test("without an sf1 suite only the first three passes run") {
    val ((s, m, b, blocks), calls) = run(None)
    assert(b.isEmpty)
    assert(flagged(blocks) == Map("outliers" -> Set("ratio_mid"),
      "outliers_expensive" -> Set("expensive_mid"), "outliers_small" -> Set("inverted_small")))
    assert(calls == Seq("m" -> "ratio_mid", "m" -> "expensive_mid", "s" -> "inverted_small"))
    neverSlower(small, s.get, calls)
    neverSlower(mid, m, calls)
  }

  test("the expensive pass re-measures at most ExpensiveMaxN rows, the slowest") {
    val rows = (1 to 20).map(i => f"q$i%02d" -> (1.0 + i / 10.0))
    val (_, _, _, blocks) =
      Bench.splicePasses(None, suite("m", rows: _*), None, (_, _) => Timed(0.1))
    assert(blocks.keySet == Set("outliers_expensive"))
    assert(blocks("outliers_expensive").keySet == (5 to 20).map(i => f"q$i%02d").toSet)
  }

  test("the stage table names each stage after its plan operators: a join's names an exchange") {
    val spark = SparkTest.spark
    spark.sparkContext.addSparkListener(Bench.listener)
    val t = try Bench.timeQuery(spark, SparkTest.sf, "q3_join_revenue")
      finally spark.sparkContext.removeSparkListener(Bench.listener)
    val names = t.stages.map(_.name)
    assert(names.nonEmpty && names.exists(_.contains("Exchange")), names)
    assert(!names.exists(_.contains("withThreadLocalCaptured")), names)
  }
}
