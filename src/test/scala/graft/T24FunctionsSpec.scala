package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.T24

/** Edge cases + randomized round-trips for the T24 multivalue codec. */
class T24FunctionsSpec extends AnyFunSuite {
  import SparkTest._

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row = {
    import spark.implicits._
    Seq(1).toDF("x").select(c).head()
  }

  test("mvSplit handles empty, single, s-markers and trailing separators") {
    assert(one(T24.mvSplit(lit("1:a#2:b#s3:c"))).getSeq[String](0) == Seq("a", "b", "c"))
    assert(one(T24.mvSplit(lit("1:only"))).getSeq[String](0) == Seq("only"))
    assert(one(T24.mvSplit(lit("s1:sub"))).getSeq[String](0) == Seq("sub"))
    assert(one(T24.mvSplit(lit(""))).getSeq[String](0) == Seq())
    assert(one(T24.mvSplit(lit("1:a#"))).getSeq[String](0) == Seq("a"))
  }

  test("mvIndex is 1-based and null out of range") {
    assert(one(T24.mvIndex(lit("1:a#2:b"), lit(2))).getString(0) == "b")
    assert(one(T24.mvIndex(lit("1:a#2:b"), lit(3))).isNullAt(0))
  }

  test("mvJoin strips markers including the leading one") {
    assert(one(T24.mvJoin(lit("s1:x#s2:y#3:z"), lit("|"))).getString(0) == "x|y|z")
    assert(one(T24.mvJoin(lit("plain"), lit("|"))).getString(0) == "plain")
  }

  test("seabField returns null when the component is missing") {
    assert(one(T24.seabField(lit("A_B_C"), "_", lit(2))).getString(0) == "B")
    assert(one(T24.seabField(lit("A"), "_", lit(2))).isNullAt(0))
    // delimiter is literal, not regex (Pattern.quote)
    assert(one(T24.seabField(lit("a.b.c"), ".", lit(2))).getString(0) == "b")
  }

  test("hexToText inverts hex() for unicode text") {
    assert(one(T24.hexToText(hex(lit("héllo wörld")))).getString(0) == "héllo wörld")
  }

  test("randomized mv encode/decode round-trip") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val lists = (1 to 100).map { i =>
      val n = 1 + rnd.nextInt(5)
      (i.toLong, Seq.fill(n)(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString))
    }
    val df = lists.toDF("id", "toks")
      .withColumn("mv", concat_ws("#",
        transform(col("toks"),
          (t, j) => concat((j + 1).cast("string"), lit(":"), t))))
      .select(col("id"), col("toks"), T24.mvSplit(col("mv")).as("decoded"))
    assert(df.filter(col("toks") =!= col("decoded")).count() == 0)
  }
}
