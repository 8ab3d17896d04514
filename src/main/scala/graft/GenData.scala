package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator: builds an sfN directory from an existing driver
  * sf directory by unioning `copies` key-shifted replicas, so a real
  * decade of scaling evidence (sf0.1 → sf1) can be measured instead of
  * argued from plans.
  *
  * Design constraints, in order:
  *  - every value distribution (dates, prices, flags, doc lengths,
  *    token frequencies, per-user event profiles) must be preserved
  *    exactly, so per-query selectivities — and therefore time RATIOS —
  *    stay meaningful across the decade;
  *  - join relationships must stay valid: each copy shifts its foreign
  *    keys by the same stride as the parent table's primary keys
  *    (stride = max(key)+1 of the source, keys are dense from 0);
  *  - near-dup structure must scale LINEARLY: identical replicas would
  *    give every document 9 exact clones and grow pair-output queries
  *    ~100× per decade, which would trip the dual-SF ratio gate for
  *    data reasons, not plan reasons. So copy c > 0 rewrites text by a
  *    copy-specific vocabulary rotation + deterministic token shuffle
  *    (length and frequency-rank profiles preserved; cross-copy
  *    Jaccard driven far below near-dup thresholds), and embeddings by
  *    a copy-specific dimension permutation + sign flips — an isometry,
  *    so intra-copy cosine structure is EXACT while cross-copy cosines
  *    scramble;
  *  - fixed-size dimensions (region, nation) stay single-copy, as in
  *    TPC-H;
  *  - output must be multi-file AND multi-row-group parquet: the
  *    driver's single-row-group files serialize scan stages (SURVEY
  *    §6e); real lakes never have that shape.
  *
  * Copy 0 is written byte-identical in values to the source (only the
  * file layout differs), so sf1 strictly contains sf0.1's data.
  */
object GenData {

  /** 8 MiB row groups: small enough that every table lands several
    * groups per file, the shape `maxPartitionBytes` can split. */
  private val RowGroupBytes = (8L * 1024 * 1024).toString

  private def write(df: DataFrame, out: String, files: Int): Unit =
    df.repartition(files)
      .write.mode("overwrite")
      .option("parquet.block.size", RowGroupBytes)
      .parquet(out)

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** Cross the source with the copy index; callers then shift keys by
    * `copy * stride`. */
  private def replicate(df: DataFrame, copies: Int): DataFrame =
    df.crossJoin(spark(df).range(copies).select(col("id").as("copy")))

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  private def shifted(c: String, s: Long): Column =
    (col(c) + col("copy") * lit(s)).as(c)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("testdata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)

    // configured like every engine session, so the driver's
    // TIMESTAMP(NANOS) events.ts reads as long nanos; the replica is
    // written as plain INT64, which reads back as the same long either way
    val s = Engine.session()

    def tbl(n: String) = s.read.parquet(s"$src/$n.parquet")
    def files(rows: Long): Int =
      math.max(1, math.min(32, (rows / 750000L).toInt + 1))

    // fixed dims: single copy, layout-normalized write
    for (n <- Seq("region", "nation"))
      write(tbl(n), s"$out/$n.parquet", 1)

    val customer = tbl("customer"); val sc = stride(customer, "c_custkey")
    val supplier = tbl("supplier"); val ss = stride(supplier, "s_suppkey")
    val part = tbl("part"); val sp = stride(part, "p_partkey")
    val orders = tbl("orders"); val so = stride(orders, "o_orderkey")

    write(replicate(customer, copies).select(
      shifted("c_custkey", sc),
      format_string("Customer#%09d", col("c_custkey") + col("copy") * sc).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      s"$out/customer.parquet", files(customer.count() * copies))

    write(replicate(supplier, copies).select(
      shifted("s_suppkey", ss),
      format_string("Supplier#%09d", col("s_suppkey") + col("copy") * ss).as("s_name"),
      col("s_nationkey"), col("s_acctbal")),
      s"$out/supplier.parquet", files(supplier.count() * copies))

    write(replicate(part, copies).select(
      shifted("p_partkey", sp), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")),
      s"$out/part.parquet", files(part.count() * copies))

    write(replicate(orders, copies).select(
      shifted("o_orderkey", so), shifted("o_custkey", sc),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")),
      s"$out/orders.parquet", files(orders.count() * copies))

    val lineitem = tbl("lineitem")
    write(replicate(lineitem, copies).select(
      shifted("l_orderkey", so), shifted("l_partkey", sp),
      shifted("l_suppkey", ss), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      s"$out/lineitem.parquet", files(lineitem.count() * copies))

    val events = tbl("events")
    val se = stride(events, "event_id"); val su = stride(events, "user_id")
    write(replicate(events, copies).select(
      shifted("event_id", se), col("ts"), shifted("user_id", su),
      col("event_type"), col("value"), col("props")),
      s"$out/events.parquet", files(events.count() * copies))

    // documents: copy-specific Caesar letter shift for c > 0; copy 0
    // is verbatim. A WORD-level rotation of the source vocabulary is
    // NOT enough: the driver's synthetic corpus draws from a tiny
    // (~60-word) pool, so rotated copies re-use the same pool and
    // SimHash (unigram-frequency-based) still finds dense cross-copy
    // near-dups — measured 86k pairs at sf1 vs 2.3k at sf0.1 (38×
    // for 10× data, quadratic densification). A per-copy bijection of
    // the LETTERS is length-preserving, commutes with lowercasing,
    // keeps every intra-copy relationship (token frequencies, shingle
    // sets, token order, winnow/passage structure) EXACTLY the
    // source's, and makes cross-copy token sets disjoint no matter
    // how small the vocabulary — near-dup structure scales linearly
    // by construction. (Caveat, documented in SURVEY §6h: shifted
    // copies defeat English-specific heuristics — stopword ratios,
    // char-n-gram langid — so d2/d3-style score DISTRIBUTIONS at sfN
    // differ from the source's; the per-row compute cost they time is
    // unchanged.)
    val docs = tbl("documents")
    val sd = stride(docs, "doc_id")
    val lowerAz = "abcdefghijklmnopqrstuvwxyz"
    val upperAz = lowerAz.toUpperCase
    def rot(s: String, k: Int) = s.drop(k) + s.take(k)
    val newText = (1 until copies).foldLeft(
      when(col("copy") === 0, col("text"))) { (acc, c) =>
      acc.when(col("copy") === c,
        translate(col("text"), lowerAz + upperAz,
          rot(lowerAz, c % 26) + rot(upperAz, c % 26)))
    }.otherwise(col("text")) // copies beyond 26 wrap onto earlier shifts
    write(replicate(docs, copies).select(
      shifted("doc_id", sd), newText.as("text"), col("lang"), col("source"),
      col("n_chars")),
      // docs/embeddings are small on disk but heavy per row (shingle
      // explodes, vector math): parallelize the narrow pre-shuffle
      // stage explicitly instead of by byte count
      s"$out/documents.parquet", 8)

    // embeddings: copy-specific coordinate permutation + sign flips —
    // an isometry per copy (norms and intra-copy dot products exact)
    val emb = tbl("embeddings")
    val sv = stride(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val permuted = transform(sequence(lit(0), lit(dim - 1)), i => {
      // affine permutation of 0..dim-1: odd multiplier is a unit mod 2^k
      val p = ((lit(2) * col("copy") + 1) * i + lit(17) * col("copy")) % dim
      val sign = when(col("copy") === 0 || pmod(xxhash64(i, col("copy")), lit(2)) === 0,
        lit(1.0f)).otherwise(lit(-1.0f))
      (element_at(col("embedding"), (p + 1).cast("int")) * sign).cast("float")
    })
    write(replicate(emb, copies).select(
      shifted("vec_id", sv), permuted.as("embedding"), col("label")),
      s"$out/embeddings.parquet", 8)

    println(s"[gendata] wrote ${copies}x $src -> $out")
    s.stop()
  }
}
