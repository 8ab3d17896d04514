package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  import SparkTest._

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
      (3L, "completely different content about spark catalyst optimizer rules and codegen stages"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (5L, "yet another unrelated document mentioning parquet pushdown and shuffle partitions")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized texts") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 4)
    val dupGroup = out.find(_.getLong(2) == 2L)
    assert(dupGroup.exists(_.getLong(1) == 1L), "keeper should be the min doc_id")
  }

  test("minhash LSH finds the near-dup pair and not unrelated pairs") {
    val pairs = Dedup.minhashNearDups(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash signature estimates jaccard for identical docs as 1") {
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(4L), "identical texts must have identical signatures")
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree12 > 32, s"near-dups should agree on most components, got $agree12/64")
  }

  test("simhash of near-dups is hamming-close, unrelated docs far") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) == sh(4L))
    assert(hamming(sh(1L), sh(2L)) <= 12,
      s"near-dup hamming ${hamming(sh(1L), sh(2L))}")
    assert(hamming(sh(1L), sh(3L)) > 12,
      s"unrelated hamming ${hamming(sh(1L), sh(3L))}")
  }

  test("MinHashSketch aggregate equals the composed k-min formulation") {
    val viaSketch = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaComposed = Dedup.minhashSignaturesComposed(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSketch == viaComposed)
  }

  test("native SimHash64 expression equals the explode formulation") {
    val native = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = Dedup.simhashViaExplode(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composed)
  }

  test("simhash64 is registered as a SQL function") {
    Engine.configure(spark)
    docs.createOrReplaceTempView("simhash_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash64(split(trim(lower(text)), '\\\\s+')) AS s FROM simhash_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = docs.select(col("doc_id"),
        graft.functions.Native.simhash64(
          split(trim(lower(col("text"))), "\\s+")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaCol)
  }

  test("rows-only queries return rows at sf0.001") {
    Seq("d6_minhash_lsh", "d7_simhash").foreach { name =>
      assert(SparkEntry.queries(name)(spark, sf).count() > 0, name)
    }
  }

  test("d18 passage dedup keeps exactly one copy of every distinct block") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("d18_passage_dedup")(spark, sf)
      .agg(sum("n_blocks"), sum("n_kept")).collect()(0)
    val (total, kept) = (out.getLong(0), out.getLong(1))
    // kept = number of DISTINCT blocks in the corpus, computed independently
    val toks = graft.functions.Text.tokens(lower(col("text")))
    val distinctBlocks = graft.sources.Tables.table(spark, sf, "documents")
      .select(explode(transform(
        sequence(lit(0), greatest(ceil(size(toks) / lit(20.0)).cast("int") - 1, lit(0))),
        i => concat_ws(" ", slice(toks, i * 20 + 1, lit(20))))).as("b"))
      .select(countDistinct("b")).collect()(0).getLong(0)
    assert(kept == distinctBlocks)
    assert(kept < total, "test corpus should contain duplicate passages")
  }

  test("connected components collapse chains and label by min member") {
    import spark.implicits._
    // 1-2-3-4 chain (1,4 never pair directly), isolated pair, long path
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L, 25L -> 20L))
  }

  test("connected components with a reliable checkpoint dir answer identically") {
    import spark.implicits._
    // the cluster path: the pair snapshot and round state go to a
    // reliable checkpoint() (survives executor loss) instead of
    // executor-local blocks — on the distributed loop, forced, so its
    // round checkpoints are the ones under test
    val dir = java.nio.file.Files.createTempDirectory("graft-ccckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L))
      .toDF("a_id", "b_id")
    val got = Dedup.components(pairs, "a_id", "b_id", 25, Some(dir), inTaskPairs = -1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L, 25L -> 20L))
    // the rounds really checkpointed: round directories exist under the
    // dir beyond the pair snapshot's one
    val written = new java.io.File(dir).listFiles().flatMap(d => Option(d.listFiles()))
      .flatten.count(_.getName.startsWith("rdd-"))
    assert(written > 1, s"$written reliable checkpoint RDD dirs written")
  }

  /** The (id, cluster) rows of both paths on one pair list, forced:
    * the in-task union-find and the distributed loop. */
  private def bothPaths(pairs: DataFrame): (Seq[(Any, Any)], Seq[(Any, Any)]) = {
    def run(bound: Long) = {
      val out = Dedup.components(pairs, "a_id", "b_id", 25, None, bound)
      assert(out.schema.map(_.dataType) == Seq.fill(2)(pairs.schema("a_id").dataType))
      out.collect().map(r => (r.get(0), r.get(1))).toSeq.sortBy(_._1.toString)
    }
    (run(Long.MaxValue), run(-1))
  }

  test("connected components: the in-task path and the distributed loop give the same labels") {
    import spark.implicits._
    // a chain with a self-pair and a reversed duplicate, a 45-hop path
    // listed in shuffled order with every third pair reversed, a star
    // whose centre is not its minimum, duplicate pairs, and an
    // isolated self-pair
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 2L), (4L, 3L))
    val path = new scala.util.Random(7).shuffle((0L until 45L).map(i =>
      if (i % 3 == 0) (101L + i, 100L + i) else (100L + i, 101L + i)))
    val star = (300L to 320L).filter(_ != 310L).map(l => (310L, l))
    val dups = Seq((50L, 51L), (50L, 51L), (51L, 50L), (7L, 7L))
    val all = chain ++ path ++ star ++ dups
    // truth: each id's component minimum, by relaxation to a fixpoint
    var truth = all.flatMap(p => Seq(p._1, p._2)).map(i => i -> i).toMap
    var moved = true
    while (moved) {
      val next = all.foldLeft(truth) { case (t, (a, b)) =>
        val m = math.min(t(a), t(b)); t.updated(a, m).updated(b, m)
      }
      moved = next != truth
      truth = next
    }
    val longs = all.toDF("a_id", "b_id")
    val (inTask, loop) = bothPaths(longs)
    assert(inTask == loop)
    assert(inTask.map { case (i, c) => i.asInstanceOf[Long] -> c.asInstanceOf[Long] }.toMap == truth)
    assert(truth(145L) == 100L && truth(320L) == 300L && truth(7L) == 7L)
    // Int ids stay Int on both paths, with the same labels
    val (inTaskInt, loopInt) = bothPaths(all.map { case (a, b) => (a.toInt, b.toInt) }.toDF("a_id", "b_id"))
    assert(inTaskInt == loopInt)
    assert(inTaskInt.map { case (i, c) => (i.toString, c.toString) } ==
      inTask.map { case (i, c) => (i.toString, c.toString) })
    // the empty pair list
    val (inTaskNone, loopNone) = bothPaths(Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
    assert(inTaskNone.isEmpty && loopNone.isEmpty)
  }

  test("connected components of a small graph run a fixed handful of jobs") {
    import spark.implicits._
    // a 60-hop path: the distributed loop needs several rounds of
    // several jobs each, the in-task path one pair count and one task
    val pairs = (0L until 60L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "cc-small"))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val labels = try {
      sc.setJobGroup("cc-small", "connected components of a small graph")
      try Dedup.connectedComponents(pairs).collect()
      finally sc.clearJobGroup()
    } finally {
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    assert(labels.length == 61 && labels.forall(_.getLong(1) == 0L))
    assert(jobs.get() > 0 && jobs.get() <= 4, s"${jobs.get()} jobs for a 61-id graph")
  }

  test("d21 token shares cover the whole corpus") {
    val shares = SparkEntry.queries("d21_source_mix")(spark, sf).collect()
      .map(_.getAs[Double]("token_share"))
    assert(shares.nonEmpty && shares.forall(s => s > 0 && s <= 1.0))
    assert(math.abs(shares.sum - 1.0) < 1e-9, s"shares sum to ${shares.sum}")
  }

  test("connected components of an empty pair list is empty, not a crash") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.connectedComponents(none).collect().isEmpty)
  }

  test("d20 clusters are consistent with the d7b pair list") {
    val labels = SparkEntry.queries("d20_dedup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = SparkEntry.queries("d7b_simhash_bands")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // endpoints of every near-dup pair land in the same cluster
    pairs.foreach { case (a, b) => assert(labels(a) == labels(b), s"($a,$b)") }
    // every cluster label is the minimum id among its members
    labels.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"cluster $c")
    }
  }

  test("incremental index: replay is idempotent, second screen drops everything") {
    val corpus = graft.sources.Tables.table(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_idx").toString
    Dedup.writeSimhashIndex(
      corpus.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      s"$dir/idx")
    val delta = corpus.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val first = rows(Dedup.screenDeltaAppend(delta, s"$dir/idx", ingestId = 1))
    assert(first.nonEmpty, "some delta docs must survive the screen")
    // the cast-free generation filter must prune to the prior directories
    val spark2 = corpus.sparkSession
    val priorPlan = spark2.read.parquet(s"$dir/idx")
      .filter(org.apache.spark.sql.functions.col("ingest") < 1)
      .queryExecution.executedPlan.toString
    assert(priorPlan.contains("PartitionFilters") && !priorPlan.contains("cast(ingest"),
      "generation screen must partition-prune without a cast")
    // replaying the SAME ingest recomputes the identical survivor set
    // (the ingest=1 directory is excluded from its own screen)
    val replay = rows(Dedup.screenDeltaAppend(delta, s"$dir/idx", ingestId = 1))
    assert(replay == first, "a retried ingest must land identically, not collide")
    // a LATER ingest of the same delta finds every doc already indexed
    // (hamming 0 to itself) and drops it all — no double insert
    val second = rows(Dedup.screenDeltaAppend(delta, s"$dir/idx", ingestId = 2))
    assert(second.isEmpty, "re-ingesting indexed docs must drop them all")
  }

  test("simhash banding recall is COMPLETE at hamming <= 3 (pigeonhole)") {
    val corpus = graft.sources.Tables.table(spark, sf, "documents")
    val banded = Dedup.simhashNearDups(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sims = Dedup.simhash(corpus).collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ida, ha) <- sims; (idb, hb) <- sims
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb)).toSet
    assert(brute.nonEmpty, "test data should contain hamming<=3 near-dups")
    assert(banded == brute,
      s"banding must find EXACTLY the hamming<=3 pairs: missed ${brute -- banded}, extra ${banded -- brute}")
  }

  test("persisted cluster map: write/read equals recompute, ensure memoizes") {
    val corpus = graft.sources.Tables.table(spark, sf, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = rows(Dedup.clusterMap(corpus))
    assert(direct.nonEmpty, "test corpus should have near-dup clusters")
    val dir = java.nio.file.Files.createTempDirectory("graft_cmap").toString
    Dedup.writeClusterMap(corpus, s"$dir/m")
    assert(rows(Dedup.readClusterMap(spark, s"$dir/m")) == direct,
      "persisted map must equal the recompute")
    // memoization: once committed, ensureClusterMap must READ, not
    // rebuild — proven by handing it a DIFFERENT corpus for the same
    // path and still getting the original map back
    assert(rows(Dedup.ensureClusterMap(corpus, s"$dir/m")) == direct)
    assert(rows(Dedup.ensureClusterMap(docs, s"$dir/m")) == direct,
      "a committed path must never rebuild")
    // and a fresh path builds from scratch
    assert(rows(Dedup.ensureClusterMap(docs, s"$dir/m2")) == rows(Dedup.clusterMap(docs)))
  }

  test("d47 (persisted map) equals d37 (self-contained recompute) row-for-row") {
    val a = SparkEntry.queries("d37_dedup_keep_best")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("d47_keep_best_indexed")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "read-path keep-best must be indistinguishable from the build path")
  }

  test("in-row minhash signature equals the aggregate sketch row-for-row") {
    val corpus = graft.sources.Tables.table(spark, sf, "documents")
    val agg = Dedup.minhashSignatures(corpus)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val inRow = corpus.select(col("doc_id"),
        Dedup.minhashSignatureExpr(col("text")).as("signature"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(inRow.keySet == agg.keySet)
    val diff = agg.keys.filter(k => inRow(k) != agg(k))
    assert(diff.isEmpty, s"signatures disagree for docs ${diff.take(3)}")
  }

  test("d50 (persisted inverted index) equals d29 (from-scratch) row-for-row") {
    val a = SparkEntry.queries("d29_bm25")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("d50_bm25_indexed")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty)
    assert(a == b, "indexed BM25 must be indistinguishable from the from-scratch query")
  }

  test("d49 edit distances equal a local Levenshtein over the same prefixes") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val txt = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 256).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = SparkEntry.queries("d49_lsh_edit_verify")(spark, sf).collect()
    assert(out.nonEmpty, "test corpus should produce LSH candidate pairs")
    out.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(d == lev(txt(a), txt(b)).toLong, s"pair ($a,$b)")
      assert(a < b, "pairs must be canonically ordered")
    }
    // candidates are exactly the distinct same-(band,bucket) id pairs
    val bands = Dedup.minhashBands(Dedup.minhashSignatures(
        graft.sources.Tables.table(spark, sf, "documents")))
      .collect().map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(0))
      .groupBy(_._1).values.map(_.map(_._2).toSeq.sorted)
    val expected = bands.flatMap(ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length; if ids(i) != ids(j))
        yield (ids(i), ids(j))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("d48 buckets partition the corpus and respect the score ordering") {
    val out = SparkEntry.queries("d48_perplexity_buckets")(spark, sf).collect()
    val total = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.length.toLong == total, "every document must land in one bucket")
    val byBucket = out.groupBy(_.getString(2))
      .map { case (b, rs) => b -> rs.map(_.getDouble(1)) }
    assert(byBucket.keySet.subsetOf(Set("tail", "middle", "head")))
    for {
      lo <- byBucket.get("tail"); hi <- byBucket.get("middle")
    } assert(lo.max <= hi.min, "tail scores must not exceed middle scores")
    for {
      lo <- byBucket.get("middle"); hi <- byBucket.get("head")
    } assert(lo.max <= hi.min, "middle scores must not exceed head scores")
    assert(byBucket.contains("head") && byBucket.contains("tail"),
      "tertile split must produce both extremes on a non-degenerate corpus")
  }

  test("d51 calibration equals a local re-bin of the d33 and d36 outputs") {
    // d33 (logit) and d36 (Gopher pass) are each oracle-green; the
    // calibration report must be exactly their join re-binned with the
    // same left-assoc IEEE expression — no independent signal exists.
    val logits = SparkEntry.queries("d33_quality_classifier")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val pass = SparkEntry.queries("d36_gopher_rules")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(6)).toMap
    assert(logits.keySet == pass.keySet)
    val (mn, mx) = (logits.values.min, logits.values.max)
    val expected = logits.toSeq
      .map { case (id, lg) =>
        val bin = if (mx > mn)
          math.min(math.floor((lg - mn) / (mx - mn) * 10).toInt, 9) else 0
        bin -> pass(id)
      }
      .groupBy(_._1)
      .map { case (bin, rs) =>
        bin -> ((rs.size.toLong, rs.map(_._2.toLong).sum)) }
    val out = SparkEntry.queries("d51_quality_calibration")(spark, sf)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == expected)
    assert(out.values.map(_._1).sum ==
      graft.sources.Tables.table(spark, sf, "documents").count(),
      "every document must land in exactly one bin")
  }

  test("d52 dup density equals an independent local shingle+hash pass") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def polyHash(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000003L)
    val gramSets = docs.map { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      val shingles =
        if (toks.length < 13) Seq(toks.mkString(" "))
        else toks.sliding(13).map(_.mkString(" ")).toSeq
      id -> shingles.map(polyHash).toSet
    }
    val gramDocs = gramSets.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val expected = gramSets.map { case (id, gs) =>
      id -> ((gs.size.toLong, gs.count(g => gramDocs(g) > 1).toLong))
    }
    val out = SparkEntry.queries("d52_dup_density")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == expected)
    // exact-duplicate groups (the d4 keeper groups with n_docs > 1)
    // must report dup_frac 1.0 — every gram is shared by construction
    val dupDocs = docs.toSeq.groupBy { case (_, t) => t.toLowerCase }
      .values.filter(_.size > 1).flatMap(_.map(_._1)).toSet
    if (dupDocs.nonEmpty)
      dupDocs.foreach { id =>
        val (n, nd) = out(id)
        assert(n == nd, s"exact-dup doc $id must have dup_frac 1.0")
      }
  }

  test("d54 chunks cover every token with the 64/48 sliding geometry") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq).toMap
    val out = SparkEntry.queries("d54_rag_chunks")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
      .groupBy(_._1)
    assert(out.keySet == docs.keySet, "every document must produce chunks")
    out.foreach { case (id, chunks) =>
      val toks = docs(id)
      val sorted = chunks.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq,
        "chunk indices must be contiguous from 0")
      sorted.foreach { case (_, idx, start, nTok, text) =>
        assert(start == idx * 48)
        val expect = toks.slice(start, start + 64)
        assert(nTok == expect.length && text == expect.mkString(" "),
          s"chunk $idx of doc $id must be the exact token slice")
      }
      val covered = sorted.flatMap(c => c._3 until (c._3 + c._4)).toSet
      assert(toks.indices.forall(covered.contains),
        s"every token of doc $id must land in at least one chunk")
      if (toks.length <= 64)
        assert(sorted.length == 1, "short docs must yield exactly one chunk")
    }
  }

  test("d55 span corruption equals a local re-derivation of the T5 pairs") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq).toMap
    def off(id: Long, b: Int): Int =
      (((id * 131 + b) * 2654435761L) % 2147483647L % 18L).toInt
    val out = SparkEntry.queries("d55_span_corruption")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3), r.getString(4)))).toMap
    assert(out.keySet == docs.keySet)
    docs.foreach { case (id, toks) =>
      val nSpans = toks.length / 20
      val (inToks, tgt) = (0 until nSpans).foldLeft(
        (Vector.empty[String], Vector.empty[String])) { case ((i, t), b) =>
        val o = off(id, b)
        val block = toks.slice(b * 20, b * 20 + 20)
        (i ++ block.take(o) ++ Vector(s"<extra_id_$b>") ++ block.drop(o + 3),
          t :+ (s"<extra_id_$b> " + block.slice(o, o + 3).mkString(" ")))
      }
      val input = (inToks ++ toks.drop(nSpans * 20)).mkString(" ")
      assert(out(id) == ((toks.length, nSpans, input, tgt.mkString(" "))),
        s"doc $id must corrupt exactly the hash-placed spans")
    }
    // the fixture must exercise both corrupted and untouched docs
    assert(out.values.exists(_._2 > 0) && out.values.exists(_._2 == 0))
  }

  test("d56 fertility report equals the d9 counts aggregated per lang") {
    val meta = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val d9 = SparkEntry.queries("d9_bpe_tokens")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong))
    val expected = d9.groupBy(t => meta(t._1)._1).map { case (lang, rows) =>
      val (nb, nw) = (rows.map(_._2).sum, rows.map(_._3).sum)
      val nc = rows.map(t => meta(t._1)._2).sum
      lang -> ((rows.length.toLong, nb, nw, nc,
        nb.toDouble / nw.toDouble, nc.toDouble / nb.toDouble))
    }
    val out = SparkEntry.queries("d56_tokenizer_fertility")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out == expected)
  }

  test("d57 line dedup keeps first occurrences and reassembles docs") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def page(text: String): Seq[String] = {
      val w = text.trim.split("\\s+").toSeq
      Seq(w.take(8).mkString(" ") + ".",
        "click here to continue",
        w.slice(8, 12).mkString(" ") + " today!",
        "terms of service apply")
    }
    val allLines = docs.toSeq.flatMap { case (id, t) =>
      page(t).zipWithIndex.map { case (ln, i) => (ln, id, i) } }
    val keepers = allLines.groupBy(_._1).map { case (_, occ) =>
      occ.minBy(o => (o._2, o._3)) }.toSet
    val expected = docs.map { case (id, t) =>
      val kept = page(t).zipWithIndex
        .filter { case (ln, i) => keepers.contains((ln, id, i)) }
      id -> ((kept.size.toLong, kept.map(_._1).mkString("\n")))
    }
    val out = SparkEntry.queries("d57_line_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out == expected)
    // the two boilerplate lines must survive exactly once corpus-wide
    val boiler = Seq("click here to continue", "terms of service apply")
    boiler.foreach { b =>
      val n = out.values.count(_._2.split("\n").contains(b))
      assert(n == 1, s"boilerplate '$b' must collapse to one global keeper")
    }
  }

  test("d53 funnel equals the conjunction of its oracle-green member gates") {
    val raw = graft.sources.Tables.table(spark, sf, "documents").count()
    val gopher = SparkEntry.queries("d36_gopher_rules")(spark, sf)
      .collect().filter(_.getInt(6) == 1).map(_.getLong(0)).toSet
    val clf = SparkEntry.queries("d33_quality_classifier")(spark, sf)
      .collect().filter(_.getInt(4) == 1).map(_.getLong(0)).toSet
    val keepers = SparkEntry.queries("d4_dedup_exact")(spark, sf)
      .collect().map(_.getLong(1)).toSet
    val expected = Seq(
      (0, "raw", raw),
      (1, "gopher", gopher.size.toLong),
      (2, "classifier", (gopher & clf).size.toLong),
      (3, "exact_dedup", (gopher & clf & keepers).size.toLong))
    val out = SparkEntry.queries("d53_pipeline_funnel")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == expected)
    val fracs = SparkEntry.queries("d53_pipeline_funnel")(spark, sf).collect()
      .map(_.getDouble(3))
    assert(fracs.head == 1.0 &&
      fracs.sliding(2).forall(p => p(1) <= p(0)),
      "retained fraction must start at 1.0 and be monotone non-increasing")
  }

  test("bloom screen: no false negatives, in-band fp rate, d60 equals the exact join") {
    import spark.implicits._
    val keys = (1 to 200).map(i => s"key_$i").toDF("h")
    val bits = Dedup.bloomBuild(keys, "h", numBits = 8192, k = 3)
    val members = keys.withColumn("m",
      Dedup.bloomMightContain(bits, col("h"), numBits = 8192, k = 3))
    assert(members.filter(!col("m")).count() == 0,
      "a Bloom filter never false-negatives an inserted key")
    val fp = (1 to 1000).map(i => s"other_$i").toDF("h")
      .withColumn("m", Dedup.bloomMightContain(bits, col("h"), numBits = 8192, k = 3))
      .filter(col("m")).count()
    // sized rate (1-e^(-3*200/8192))^3 ≈ 0.03% — allow generous slack
    assert(fp < 100, s"fp rate far out of band: $fp/1000")
    // d60 equals a local exact derivation over the real corpus
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def h(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.toLowerCase(java.util.Locale.ROOT).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val keepers = docs.groupBy { case (_, t) => h(t) }
      .map { case (hh, rs) => hh -> rs.map(_._1).min }
    val expected =
      (docs.filter(_._1 % 3 == 0).map { case (id, t) => (id + 100000L, h(t)) } ++
        docs.filter(_._1 % 3 == 1).map { case (id, t) => (id + 200000L, h("rev2 " + t)) })
        .map { case (id, hh) => (id, hh, keepers.get(hh)) }.toSet
    val out = SparkEntry.queries("d60_bloom_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(out == expected, "the Bloom path must not change the exact answer")
    assert(out.exists(_._3.isDefined), "verbatim re-ingests must flag as dups")
    assert(out.exists(_._3.isEmpty), "revised docs must pass the screen")
  }

  test("d61 DSIR scores equal a local hashed-bigram model; selection is score-monotone") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bigrams(t: String): Seq[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").toSeq
      if (toks.length < 2) Seq(toks.mkString(" "))
      else toks.sliding(2).map(_.mkString(" ")).toSeq
    }
    def bkt(s: String): Int =
      (s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000003L)
        % 1024L).toInt
    val tCnt = new Array[Long](1024)
    val rCnt = new Array[Long](1024)
    docs.foreach { case (_, lang, t) =>
      bigrams(t).foreach { b =>
        val k = bkt(b)
        rCnt(k) += 1
        if (lang == "en") tCnt(k) += 1
      }
    }
    val expected = docs.map { case (id, _, t) =>
      val bs = bigrams(t)
      id -> (bs.map(b => tCnt(bkt(b)) + 1).sum, bs.map(b => rCnt(bkt(b)) + 1).sum)
    }.toMap
    val out = SparkEntry.queries("d61_dsir_select")(spark, sf).collect()
    assert(out.length == docs.length)
    out.foreach { r =>
      val (t, rr) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("t_sum") == t && r.getAs[Long]("r_sum") == rr,
        s"doc ${r.getAs[Long]("doc_id")} sums must match the local model")
    }
    // selection is exactly "score >= the 75th percentile": monotone in
    // score and roughly a quarter of the corpus
    val sel = out.filter(_.getAs[Int]("selected") == 1).map(_.getAs[Double]("score"))
    val unsel = out.filter(_.getAs[Int]("selected") == 0).map(_.getAs[Double]("score"))
    assert(sel.nonEmpty && unsel.nonEmpty && sel.min >= unsel.max)
    assert(sel.length <= out.length / 2, "top-quartile rule must be selective")
  }

  test("d58 phases follow the quality tertiles; the shuffle key replays the d38 hash") {
    val out = SparkEntry.queries("d58_curriculum_order")(spark, sf).collect()
    val total = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.length.toLong == total, "every document gets a curriculum slot")
    // phase 1 holds the best scores, phase 3 the worst; >= boundaries
    // mean ties go to the earlier phase
    val byPhase = out.groupBy(_.getAs[Int]("phase"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Double]("score")) }
    assert(byPhase.keySet.subsetOf(Set(1, 2, 3)))
    for { hi <- byPhase.get(1); mid <- byPhase.get(2) }
      assert(hi.min >= mid.max, "phase 1 scores dominate phase 2")
    for { mid <- byPhase.get(2); lo <- byPhase.get(3) }
      assert(mid.min >= lo.max, "phase 2 scores dominate phase 3")
    assert(byPhase.contains(1) && byPhase.contains(3),
      "a non-degenerate corpus fills both extreme phases")
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("shuffle_key") ==
        java.lang.Math.floorMod(id * 2654435761L, 2147483647L),
        s"doc $id shuffle key must be the d38 multiplicative hash")
    }
  }

  test("d59 copies equal the integer mixture rule; rare languages genuinely repeat") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val cnt = docs.groupBy(_._2).map { case (l, rs) => l -> rs.length.toLong }
    val maxcnt = cnt.values.max
    val target = cnt.map { case (l, c) =>
      l -> math.floor(math.sqrt(maxcnt.toDouble * c.toDouble)).toLong }
    val expected = docs.flatMap { case (id, l) =>
      val c = cnt(l)
      val t = target(l)
      val n = t / c +
        (if (java.lang.Math.floorMod(id * 2654435761L, 2147483647L) % c < t % c) 1L
         else 0L)
      (1L to n).map(k => (id, l, k))
    }.toSet
    val out = SparkEntry.queries("d59_epoch_upsample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == expected, "epoch rows must equal the local mixture derivation")
    assert(out.groupBy(_._1).values.exists(_.size > 1),
      "the skewed language mix must make some document carry a second copy")
    // every document survives with at least its first copy (targets
    // equalize toward the majority, they never drop below 1 per doc)
    assert(out.map(_._1) == docs.map(_._1).toSet)
  }

  test("d62: tf-idf keywords equal an independent local derivation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length.toLong
    // split-then-drop-empties ≡ the query's trim+split+filter for any
    // leading/trailing whitespace mix
    val tf: Map[(Long, String), Long] = docs
      .flatMap { case (id, t) =>
        t.toLowerCase.split("\\s+").filter(_.nonEmpty).map(w => (id, w)) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val dfreq: Map[String, Long] =
      tf.keys.toSeq.groupBy(_._2).map { case (w, v) => w -> v.size.toLong }
    val expected = tf.toSeq
      .map { case ((id, w), f) =>
        (id, w, f, dfreq(w), (f * n).toDouble / dfreq(w).toDouble) }
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy { case (_, w, _, _, sc) => (-sc, w) }.take(5).zipWithIndex
          .map { case ((id, w, f, d, sc), i) => (id, i + 1, w, f, d, sc) }
      }.toSet
    val got = SparkEntry.queries("d62_tfidf_keywords")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("rank"), r.getString(2),
        r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("score")))
      .toSet
    assert(got == expected, "tf-idf top-5 must equal the local derivation")
  }

  test("d63: langid confusion matrix equals a local regex re-derivation") {
    def cnt(t: String, re: String): Int = {
      val m = java.util.regex.Pattern.compile(re).matcher(t)
      var n = 0; while (m.find()) n += 1; n
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val pred = docs.map { case (lang, t) =>
      val (en, es, de) = (cnt(t, "\\b(?:the|and|of|to)\\b"),
        cnt(t, "\\b(?:el|la|de|que)\\b"), cnt(t, "\\b(?:der|die|das|und)\\b"))
      val p =
        if (en >= 3 && en >= es && en >= de) "en"
        else if (es >= 3 && es >= de) "es"
        else if (de >= 3) "de"
        else "und"
      (lang, p)
    }
    val cm = pred.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val totals = pred.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val expected = cm.map { case ((tl, pl), n) =>
      (tl, pl, n, totals(tl), n.toDouble / totals(tl).toDouble,
        if (tl == pl) 1 else 0)
    }.toSet
    val got = SparkEntry.queries("d63_langid_eval")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"),
        r.getAs[Long]("lang_total"), r.getAs[Double]("share"),
        r.getAs[Int]("is_correct"))).toSet
    assert(got == expected, "confusion matrix must equal the local derivation")
    // the harness must measure something non-degenerate on the fixture
    assert(got.exists(_._6 == 1) && got.exists(_._6 == 0))
  }

  test("d64: the S-curve re-derives from collected signatures and token sets") {
    import graft.operators.Dedup
    val got = SparkEntry.queries("d64_lsh_curve")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val sigRows = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val byBucket = Dedup.minhashBands(Dedup.minhashSignatures(docs))
      .collect().map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(0))
      .groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val cand = byBucket.flatMap(ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length)
        yield (ids(i), ids(j))).toSet
    val toks = docs.selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").distinct.toSet)
      .toMap
    val expected = cand.toSeq.map { case (a, b) =>
      val nMatch = sigRows(a).zip(sigRows(b)).count { case (x, y) => x == y }.toLong
      val isDup = 2 * toks(a).intersect(toks(b)).size >= toks(a).union(toks(b)).size
      (nMatch, isDup)
    }.groupBy(_._1).map { case (m, xs) =>
      val dups = xs.count(_._2).toLong
      m -> (xs.size.toLong, dups, dups.toDouble / xs.size.toDouble)
    }
    assert(got == expected, "S-curve must equal the local re-derivation")
    // the fixture corpus carries real duplicates: high-agreement pairs
    // must be overwhelmingly true dups, and the curve must span both ends
    assert(got.nonEmpty)
    assert(got.keys.max > got.keys.min, "curve should span several agreement levels")
  }

  test("d65: novelty re-derives from a local first-occurrence pass") {
    import graft.operators.Dedup
    val got = SparkEntry.queries("d65_ngram_novelty")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    // hashes from the spec-pinned kernel; the first-occurrence fold is local
    val grams = docs.select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col("text"), 3))).as("g"))
      .select(col("doc_id"), Dedup.shingleHash(col("g")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val first = grams.groupBy(_._2).map { case (h, xs) => h -> xs.map(_._1).min }
    val expected = grams.groupBy(_._1).map { case (doc, xs) =>
      val novel = xs.count { case (_, h) => first(h) == doc }.toLong
      doc -> (xs.length.toLong, novel, novel.toDouble / xs.length.toDouble)
    }
    assert(got == expected, "novelty must equal the local first-occurrence pass")
    // the synthetic corpus repeats template text: both ends must occur
    assert(got.values.exists(_._3 < 1.0), "re-used shingles should exist")
    assert(got.values.exists(_._3 > 0.0), "novel shingles should exist")
    // doc 0 (no earlier doc) is fully novel by construction of the rule
    assert(got(got.keys.min)._3 == 1.0, "the earliest doc must be fully novel")
  }

  test("d66: duplicated spans re-derive from a local positional-shingle pass") {
    import graft.operators.Dedup
    val K = 5
    val got = SparkEntry.queries("d66_dup_spans")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // local replay: positional shingle hashes via the spec-pinned kernel
    val sh = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        posexplode(Dedup.shingles(col("text"), K)).as(Seq("p", "g")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("spos"),
        Dedup.shingleHash(col("g")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nToks = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), graft.functions.Text.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val dupHashes = sh.groupBy(_._3)
      .filter { case (_, xs) => xs.map(_._1).distinct.size >= 2 }.keySet
    val expected = sh.filter(x => dupHashes(x._3)).groupBy(_._1)
      .flatMap { case (doc, xs) =>
        val pos = xs.map(_._2).distinct.sorted
        // gaps-and-islands: chain marked positions <= K apart
        val spans = pos.foldLeft(List.empty[List[Long]]) {
          case (acc @ (cur :: rest), p) if p - cur.head <= K => (p :: cur) :: rest
          case (acc, p) => List(p) :: acc
        }.reverse.map(_.reverse)
        spans.zipWithIndex.map { case (ps, i) =>
          (doc, (i + 1).toLong, ps.head, math.min(ps.last + K - 1, nToks(doc)),
            ps.length.toLong)
        }
      }.toSet
    assert(got.toSet == expected, "span merge must equal the local islands pass")
    // the template corpus must produce at least one multi-gram span, and
    // every span must be well-formed
    assert(got.exists(_._5 > 1), "chained duplicated grams should exist")
    got.foreach { case (doc, _, st, en, n) =>
      assert(st >= 1 && en >= st && en <= nToks(doc), s"doc $doc: bad span [$st,$en]")
    }
  }

  test("persisted dup-gram set: write/read equals recompute, ensure memoizes") {
    val corpus = graft.sources.Tables.table(spark, sf, "documents")
    def hs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val direct = hs(Dedup.dupGramSet(corpus))
    assert(direct.nonEmpty, "test corpus should share 5-shingles across docs")
    val dir = java.nio.file.Files.createTempDirectory("graft_dgrams").toString
    Dedup.writeDupGrams(corpus, s"$dir/g")
    assert(hs(Dedup.readDupGrams(spark, s"$dir/g")) == direct,
      "persisted dup set must equal the recompute")
    // memoization: a committed path must READ, not rebuild — proven by
    // handing ensure a DIFFERENT corpus for the same path
    assert(hs(Dedup.ensureDupGrams(corpus, s"$dir/g")) == direct)
    assert(hs(Dedup.ensureDupGrams(docs, s"$dir/g")) == direct,
      "a committed path must never rebuild")
    assert(hs(Dedup.ensureDupGrams(docs, s"$dir/g2")) == hs(Dedup.dupGramSet(docs)))
  }

  test("d66_spans_indexed (persisted dup set) equals d66 (self-contained) row-for-row") {
    val a = SparkEntry.queries("d66_dup_spans")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("d66_spans_indexed")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty)
    assert(a == b, "read-path spans must be indistinguishable from the build path")
  }

  test("d75: cleaned text equals a local positional cut of the d66 spans") {
    val spans = SparkEntry.queries("d66_dup_spans")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val got = SparkEntry.queries("d75_span_cut")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val corpus = graft.sources.Tables.table(spark, sf, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    corpus.foreach { case (id, text) =>
      val toks = text.toLowerCase.trim.split("\\s+").toSeq
      val sp = spans.getOrElse(id, Array.empty).map(s => (s._2, s._3))
      val kept = toks.zipWithIndex.collect {
        case (t, i) if !sp.exists(p => i + 1 >= p._1 && i + 1 <= p._2) => t
      }
      val (nT, nC, cleaned) = got(id)
      assert(nT == toks.length, s"doc $id: n_toks")
      assert(nC == toks.length - kept.length, s"doc $id: n_cut")
      assert(cleaned == kept.mkString(" "), s"doc $id: cleaned text")
    }
    assert(got.values.exists(_._2 > 0), "fixture should cut at least one span")
    assert(got.values.exists(_._2 == 0L), "and leave span-free docs untouched")
  }

  test("d76: the cut drives residual dup density strictly below initial") {
    // the E2E funnel's reason to exist (Lee et al.): screen → cut →
    // re-screen must measurably reduce cross-doc duplication. The
    // local re-derivation below also pins the report's counting rules
    // (every positional occurrence; residual over cut streams only).
    val row = SparkEntry.queries("d76_span_residual")(spark, sf).collect().head
    val init = row.getAs[Double]("initial_density")
    val resid = row.getAs[Double]("residual_density")
    assert(init > 0.0, "the template corpus must carry real dup spans")
    assert(resid < init,
      s"residual density $resid must drop below initial $init")
    // counts are internally consistent: dups never exceed totals, the
    // cut can only shrink the gram count
    assert(row.getAs[Long]("n_dup_initial") <= row.getAs[Long]("n_grams_initial"))
    assert(row.getAs[Long]("n_dup_residual") <= row.getAs[Long]("n_grams_residual"))
    assert(row.getAs[Long]("n_grams_residual") <= row.getAs[Long]("n_grams_initial"))
  }

  test("d67: prefix-filtered join finds EXACTLY the all-pairs Jaccard >= 0.6 set") {
    val got = SparkEntry.queries("d67_prefix_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // ground truth: brute-force ALL PAIRS over the same hashed token
    // sets (the spec-pinned kernel supplies the hashes; the pairing
    // and the verdict are re-derived locally) — this is the check the
    // prefix filter's completeness claim must survive
    val hs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), array_distinct(transform(
        array_distinct(graft.functions.Text.tokens(lower(col("text")))),
        t => graft.functions.Native.polyHash(t, graft.operators.Dedup.P))).as("hs"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    val expected = (for {
      i <- hs.indices; j <- hs.indices
      if hs(i)._1 < 64 && hs(i)._1 != hs(j)._1
      inter = (hs(i)._2 intersect hs(j)._2).size.toLong
      uni = (hs(i)._2 union hs(j)._2).size.toLong
      if 5 * inter >= 3 * uni
    } yield (hs(i)._1, hs(j)._1, inter, uni)).toSet
    assert(got == expected,
      "prefix filtering must be lossless vs the brute-force all-pairs verdict")
    assert(got.nonEmpty, "the template corpus must contain qualifying pairs")
  }

  test("d81: cluster-level splits leak no near-dup pair across the boundary") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("d81_cluster_split")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // the safety property the operator exists for: a cluster never
    // spans two splits (true BY CONSTRUCTION — split = f(cluster) —
    // asserted on the real output so a refactor cannot silently break it)
    rows.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $c spans splits ${members.map(_._3).distinct.toSeq}")
    }
    // every near-dup PAIR the clusterer finds co-assigns
    val split = rows.map(r => r._1 -> r._3).toMap
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val pairs = Dedup.simhashNearDups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the template corpus must contain near-dups")
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"near-dup pair ($a,$b) split across sets")
    }
    // the 90/5/5 gate actually routes (hash-distributed, loose bounds)
    val frac = rows.count(_._3 == "train").toDouble / rows.length
    assert(frac > 0.75 && frac < 0.99, s"train fraction $frac implausible")
    assert(rows.map(_._3).distinct.length == 3, "all three splits in use")
  }
}
