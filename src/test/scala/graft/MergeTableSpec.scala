package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MergeTable

class MergeTableSpec extends AnyFunSuite {
  import SparkTest._

  private def tmpDir(): String =
    Files.createTempDirectory("mt_spec").toString

  private def base = {
    import spark.implicits._
    // 4 files, keys clustered so file pruning is observable
    (0L until 40L).map(k => (k, s"v$k", k % 7))
      .toDF("id", "payload", "grp")
      .repartitionByRange(4, col("id"))
  }

  test("create + read roundtrip, schema from the manifest") {
    val path = tmpDir()
    MergeTable.create(base, path)
    val back = MergeTable.read(spark, path)
    assert(back.count() == 40)
    assert(back.schema.fieldNames.toSet == Set("id", "payload", "grp"))
    assert(MergeTable.latestVersion(spark, path) == 0)
  }

  test("merge upserts matched keys, appends new ones, and time-travels") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path)
    val ups = Seq((3L, "NEW3", 99L), (17L, "NEW17", 99L), (100L, "ADD100", 99L))
      .toDF("id", "payload", "grp")
    val v = MergeTable.merge(spark, path, ups, "id")
    assert(v == 1)
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(now.size == 41)
    assert(now(3L) == ("NEW3", 99L) && now(17L) == ("NEW17", 99L))
    assert(now(100L) == ("ADD100", 99L))
    assert(now(4L) == ("v4", 4L), "unmatched rows untouched")
    // time travel: version 0 still answers the pre-merge state
    val v0 = MergeTable.read(spark, path, 0).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v0.size == 40 && v0(3L) == "v3" && !v0.contains(100L))
  }

  test("merge rewrites ONLY files containing matched keys") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path)
    def manifestFiles(): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val v = MergeTable.latestVersion(spark, path)
      val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      // line 1 = schema DDL, line 2 = stats column; entries carry
      // tab-separated [min, max] when stats are tracked
      txt.split("\n").drop(2).filter(_.nonEmpty)
        .map(_.split("\t")(0)).toSet
    }
    val before = manifestFiles()
    assert(before.size == 4)
    // keys 0..9 live in the first range file only
    val ups = Seq((2L, "X", 0L)).toDF("id", "payload", "grp")
    MergeTable.merge(spark, path, ups, "id")
    val after = manifestFiles()
    val carried = before.intersect(after)
    assert(carried.size == 3, s"expected 3 untouched files carried, got $carried")
    assert(MergeTable.read(spark, path).count() == 40)
  }

  test("with tracked key ranges, merge never OPENS non-candidate files") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // corrupt a file whose key range CANNOT contain the merge keys:
    // if the merge consulted anything but manifest metadata to locate
    // candidates, reading this garbage would throw
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = fs.open(new org.apache.hadoop.fs.Path(path, "manifest-0000000000.txt"))
    val m0 = try scala.io.Source.fromInputStream(v0).mkString finally v0.close()
    val entries = m0.split("\n").drop(2).filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); (p(0), p(1).toLong, p(2).toLong) }
    assert(entries.length >= 2, s"expected several ranged files: ${entries.toSeq}")
    // keys 35..39 live in exactly one range file; corrupt one that
    // cannot hold them
    val victim = entries.find(e => e._3 < 35L).get._1
    val out = fs.create(new org.apache.hadoop.fs.Path(path, victim), true)
    out.write("NOT A PARQUET FILE".getBytes); out.close()
    val ups = Seq((36L, "X", 0L)).toDF("id", "payload", "grp")
    MergeTable.merge(spark, path, ups, "id") // must not touch the victim
    val after = manifestFiles(path)
    assert(after.contains(victim), "non-candidate file must carry by name")
    // the corrupted file is still referenced — a full read now fails,
    // which is exactly the proof the merge never opened it
    intercept[Throwable] {
      MergeTable.read(spark, path).collect()
    }
    // a range read outside the victim's range skips it and succeeds
    val ok = MergeTable.readRange(spark, path, 36L, 36L).collect()
    assert(ok.map(r => r.getString(1)).toSeq == Seq("X"))
  }

  private def manifestFiles(path: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = MergeTable.latestVersion(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    txt.split("\n").drop(2).filter(_.nonEmpty).map(_.split("\t")(0)).toSet
  }

  test("duplicate update keys are rejected, not resolved silently") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path)
    val dup = Seq((3L, "A", 0L), (3L, "B", 0L)).toDF("id", "payload", "grp")
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, dup, "id")
    }
  }

  test("deleteWhere rewrites hit files; empty result still readable") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path)
    MergeTable.deleteWhere(spark, path, col("grp") === 3L)
    val left = MergeTable.read(spark, path)
    assert(left.filter(col("grp") === 3L).count() == 0)
    assert(left.count() == 40 - base.filter(col("grp") === 3L).count())
    // delete everything: the schema survives in the manifest
    MergeTable.deleteWhere(spark, path, lit(true))
    val empty = MergeTable.read(spark, path)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSet == Set("id", "payload", "grp"))
  }

  test("unpublished staged files are invisible; vacuum collects them") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path)
    // manufacture a crashed write: a data file present on disk but in
    // no manifest, plus stage/tmp debris
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((999L, "GHOST", 0L)).toDF("id", "payload", "grp")
      .write.parquet(s"$path/_stage-crashed")
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/_stage-crashed"),
      new org.apache.hadoop.fs.Path(s"$path/_stage-crashed-kept"))
    fs.create(new org.apache.hadoop.fs.Path(path, "data-orphan.parquet"), true).close()
    assert(MergeTable.read(spark, path).count() == 40, "ghosts invisible")
    // a merge then a vacuum(keep=1): version 0's replaced file + the
    // orphan + the stage debris all go; the table still answers
    MergeTable.merge(spark, path,
      Seq((2L, "X", 0L)).toDF("id", "payload", "grp"), "id")
    // default retention must PROTECT the fresh debris (an in-flight
    // writer's staged files look exactly like this) …
    val protectedRun = MergeTable.vacuum(spark, path, keepVersions = 1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "data-orphan.parquet")),
      "a fresh unreferenced file must survive the default retention window")
    // … and minAgeMs = 0 (no writer in flight) collects everything
    val removed = protectedRun +
      MergeTable.vacuum(spark, path, keepVersions = 1, minAgeMs = 0L)
    assert(removed >= 3, s"expected manifest-0 + replaced file + debris, got $removed")
    assert(MergeTable.read(spark, path).count() == 40)
    intercept[IllegalArgumentException] {
      MergeTable.read(spark, path, 0) // vacuumed version is gone
    }
  }

  test("optimize compacts the small-file tail, content-neutral, time-travel intact") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // a burst of single-row merges: each leaves one small rewrite file
    (100L to 109L).foreach { k =>
      MergeTable.merge(spark, path,
        Seq((k, s"add$k", 7L)).toDF("id", "payload", "grp"), "id")
    }
    val before = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val vBefore = MergeTable.latestVersion(spark, path)
    val filesBefore = manifestFiles(path).size
    val v = MergeTable.optimize(spark, path)
    assert(v == vBefore + 1)
    val filesAfter = manifestFiles(path).size
    assert(filesAfter < filesBefore,
      s"expected compaction, $filesBefore -> $filesAfter")
    val after = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(after == before, "optimize must be content-neutral")
    // the pre-optimize version still reads (time travel intact)
    val old = MergeTable.read(spark, path, vBefore).collect()
    assert(old.length == before.length)
    // ranges still present: a key-targeted merge stays pruned
    MergeTable.merge(spark, path,
      Seq((105L, "re", 7L)).toDF("id", "payload", "grp"), "id")
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now(105L) == "re" && now.size == before.length)
    // a second optimize on an already-compact table is a no-op
    MergeTable.vacuum(spark, path, keepVersions = 1, minAgeMs = 0L)
    assert(MergeTable.optimize(spark, path, smallBytes = 1L) == -1)
  }

  test("changes() emits the CDF of a merge: insert/delete/update images") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    MergeTable.merge(spark, path,
      Seq((3L, "NEW3", 99L), (100L, "ADD100", 99L)).toDF("id", "payload", "grp"), "id")
    MergeTable.deleteKeys(spark, path, Seq(7L).toDF("id"), "id")
    // v0 -> v2 in one feed: 3 updated, 100 inserted, 7 deleted
    val cdf = MergeTable.changes(spark, path, 0, 2, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("payload")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(cdf == Seq(
      ("delete", 7L, "v7"),
      ("insert", 100L, "ADD100"),
      ("update_postimage", 3L, "NEW3"),
      ("update_preimage", 3L, "v3")), s"got $cdf")
    // an untouched adjacent version pair: the delete step only
    val cdf12 = MergeTable.changes(spark, path, 1, 2, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSeq
    assert(cdf12 == Seq(("delete", 7L)), s"got $cdf12")
  }

  test("publishing an already-taken version aborts (optimistic concurrency)") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path)
    intercept[IllegalArgumentException] {
      MergeTable.create(base, path)
    }
  }

  test("OCC retry: merge re-derives from the new latest when a racing writer wins") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // the racer publishes BETWEEN our stage and our publish — the
    // exact window the exclusive manifest commit protects
    MergeTable.midCommitHook = () =>
      MergeTable.merge(spark, path,
        Seq((5L, "RACE", 1L)).toDF("id", "payload", "grp"), "id")
    val v = MergeTable.merge(spark, path,
      Seq((3L, "MINE", 2L)).toDF("id", "payload", "grp"), "id")
    assert(v == 2, "loser must re-derive and land AFTER the winner")
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now(5L) == "RACE" && now(3L) == "MINE",
      "both commits must survive the race")
    assert(now.size == 40)
  }

  test("OCC retry: a racing optimize maintainer cannot crash a mutator") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // pile up a small-file tail so optimize has something to compact
    (100L to 103L).foreach { k =>
      MergeTable.merge(spark, path,
        Seq((k, s"add$k", 7L)).toDF("id", "payload", "grp"), "id")
    }
    val vBefore = MergeTable.latestVersion(spark, path)
    MergeTable.midCommitHook = () =>
      assert(MergeTable.optimize(spark, path) > vBefore)
    val v = MergeTable.merge(spark, path,
      Seq((2L, "POST", 0L)).toDF("id", "payload", "grp"), "id")
    assert(v == vBefore + 2, "merge retried past the maintainer's version")
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now(2L) == "POST" && now.size == 44)
  }

  test("changes() reads ONLY files not shared between the two manifests") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // touch one range file only: 3 of 4 files carry by name
    MergeTable.merge(spark, path,
      Seq((2L, "X", 0L)).toDF("id", "payload", "grp"), "id")
    def filesOf(v: Int): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      txt.split("\n").drop(2).filter(_.nonEmpty).map(_.split("\t")(0)).toSet
    }
    val shared = filesOf(0).intersect(filesOf(1))
    assert(shared.size == 3)
    val cdf = MergeTable.changes(spark, path, 0, 1, "id")
    val scanned = cdf.inputFiles.map(_.split("/").last).toSet
    assert(scanned.nonEmpty && scanned.intersect(shared).isEmpty,
      s"the diff plan must scan no shared file, scanned $scanned")
    // behavioral proof: corrupt a shared file — the feed still answers
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = shared.head
    val out = fs.create(new org.apache.hadoop.fs.Path(path, victim), true)
    out.write("NOT A PARQUET FILE".getBytes); out.close()
    val feed = MergeTable.changes(spark, path, 0, 1, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(feed == Set(("update_preimage", 2L), ("update_postimage", 2L)))
  }

  test("manifest-aware changes() equals the full-snapshot derivation") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    MergeTable.merge(spark, path,
      Seq((2L, "UPD2", 50L), (200L, "INS200", 50L))
        .toDF("id", "payload", "grp"), "id")
    MergeTable.deleteKeys(spark, path, Seq(35L).toDF("id"), "id")
    def snap(v: Int): Map[Long, (String, Long)] =
      MergeTable.read(spark, path, v).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val (b, a) = (snap(0), snap(2))
    val expected =
      (a.keySet -- b.keySet).map(k => ("insert", k, a(k)._1)) ++
      (b.keySet -- a.keySet).map(k => ("delete", k, b(k)._1)) ++
      (a.keySet & b.keySet).filter(k => a(k) != b(k)).flatMap(k =>
        Seq(("update_preimage", k, b(k)._1), ("update_postimage", k, a(k)._1)))
    val feed = MergeTable.changes(spark, path, 0, 2, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("payload"))).toSet
    assert(feed == expected,
      s"file-diff feed must equal the full-snapshot derivation: $feed vs $expected")
  }

  /** The naive per-key theta probe (#keys x #files comparisons), for
    * either key type: the equality oracle for the binned probe. */
  private def thetaCandidates(keys: org.apache.spark.sql.DataFrame,
                              ranges: org.apache.spark.sql.DataFrame): Set[String] =
    keys.select(col("k")).na.drop().distinct()
      .join(broadcast(ranges), col("k") >= col("mn") && col("k") <= col("mx"))
      .select("name").distinct()
      .collect().map(_.getString(0)).toSet

  /** Both candidate probes — the binned Spark join and the driver-side
    * search over the collected keys — against the theta oracle over the
    * `ranges`, with every NoStats entry of `unranged` a conservative
    * candidate and EmptyRange entries never one. Returns the answer. */
  private def probesEqualTheta(keys: org.apache.spark.sql.DataFrame,
                               ranges: Seq[(String, MergeTable.Stats)],
                               theta: org.apache.spark.sql.DataFrame,
                               unranged: Seq[(String, MergeTable.Stats)]): Set[String] = {
    val entries = ranges ++ unranged
    val want = thetaCandidates(keys, theta) ++
      unranged.collect { case (n, MergeTable.NoStats) => n }
    val binned = MergeTable.rangeCandidates(keys, "k", entries)
    val driver = MergeTable.keyCandidates(
      keys.select("k").na.drop().distinct().collect().map(_.get(0)).toSeq, entries)
    assert(binned == want, s"binned probe mismatch: ${binned.diff(want)} / ${want.diff(binned)}")
    assert(driver == want, s"driver probe mismatch: ${driver.diff(want)} / ${want.diff(driver)}")
    want
  }

  private val unranged = Seq("nostats" -> MergeTable.NoStats, "emptyrange" -> MergeTable.EmptyRange)

  test("binned range probe candidates equal the theta probe, any range shape") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val entries =
      (0 until 300).map { i =>
        val lo = rnd.nextInt(100000).toLong
        (s"f$i", lo, lo + rnd.nextInt(500))
      } ++
      Seq(("wide", 0L, 100500L),          // spans everything
        ("point", 77777L, 77777L),        // single key
        ("bounds", 200000L, 200010L),     // hit only on its exact bounds
        ("under", 200011L, 200020L),      // between two keys: no hit
        ("empty", Long.MaxValue, Long.MinValue)) // zero-row file sentinel
    val keys = ((0 until 2000).map(_ => Some(rnd.nextInt(110000).toLong)) ++
      Seq(None, Some(77777L), Some(77777L), Some(200000L), Some(200010L), Some(200021L)))
      .toDF("k") // nulls + dups
    // the same inputs plus ranges reaching both ends of the LONG domain
    // (a span over 2^62) and keys at both extremes
    val extremes = Seq(("lowest", Long.MinValue, Long.MinValue + 10),
      ("highest", Long.MaxValue - 10, Long.MaxValue),
      ("negative", Long.MinValue / 2, -1L),
      ("everything", Long.MinValue, Long.MaxValue))
    val extremeKeys = Seq(Long.MinValue, Long.MinValue + 3, -5L,
      Long.MaxValue - 1, Long.MaxValue).map(Option(_)).toDF("k")
    val found = Seq((entries, keys), (entries ++ extremes, keys.union(extremeKeys))).map {
      case (es, ks) =>
        val got = probesEqualTheta(ks, es.map(e => e._1 -> MergeTable.LongRange(e._2, e._3)),
          es.toDF("name", "mn", "mx"), unranged)
        assert(Seq("wide", "point", "bounds", "nostats").forall(got.contains) &&
          !got.contains("empty") && !got.contains("under") && !got.contains("emptyrange"))
        got
    }
    assert(extremes.map(_._1).forall(found.last.contains))
  }

  test("string probe (u56 bins + exact residual) equals the string theta probe") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def key(i: Int): String = f"REC${rnd.nextInt(90000) + 10000}%d.$i%04d"
    // ranges incl. shared >7-byte prefixes (same u56 bin, residual
    // must decide), a point range, a full-span range, keys on exact
    // bounds, and non-ASCII UTF-8 (byte order, not UTF-16 order: the
    // supplementary character sorts above U+FFFD)
    val entries =
      (0 until 200).map { i =>
        val a = key(i); val b = key(i)
        (s"f$i", if (a <= b) a else b, if (a <= b) b else a)
      } ++ Seq(
        ("prefixed", "REC55555.0000AAAA", "REC55555.0000BBBB"),
        ("prefix-miss", "REC55555.0000CCCC", "REC55555.0000DDDD"),
        ("point", "REC77777.0042", "REC77777.0042"),
        ("bounds", "REC88888.0000", "REC88888.9999"),
        ("cafe", "caf\u00e9", "caf\u00e9\u00e9"),
        ("astral", "\ud83d\ude00", "\ud83d\ude00z"),
        ("bmp-high", "\ufffd", "\ufffdz"),
        ("wide", "", "ZZZZZZZZZZ"))
    val keys = ((0 until 3000).map(i => Some(key(i))) ++
      Seq(None, Some("REC77777.0042"), Some("REC55555.0000ABCD"), Some("REC88888.9999"),
        Some("caf\u00e9"), Some("\ud83d\ude00y"))).toDF("k")
    val got = probesEqualTheta(keys,
      entries.map(e => e._1 -> MergeTable.StrRange(e._2, e._3)),
      entries.toDF("name", "mn", "mx"), unranged)
    assert(Seq("wide", "point", "prefixed", "bounds", "cafe", "astral", "nostats")
      .forall(got.contains))
    assert(!got.contains("prefix-miss") && !got.contains("bmp-high") &&
      !got.contains("emptyrange"))
  }

  test("STRING merge keys: tracked ranges prune, non-candidates never open") {
    import spark.implicits._
    val path = tmpDir()
    // RECID-shaped keys clustered so range files separate cleanly
    val df = (0 until 40).map(i => (f"REC$i%04d", s"v$i", i.toLong))
      .toDF("recid", "payload", "grp")
      .repartitionByRange(4, col("recid"))
    MergeTable.create(df, path, statsCol = Some("recid"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, "manifest-0000000000.txt"))
    val m0 = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val entries = m0.split("\n").drop(2).filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); assert(p(1) == "S"); (p(0), p(2), p(3)) }
    assert(entries.length == 4, s"expected 4 ranged files: ${entries.toSeq}")
    // corrupt a file whose string range cannot contain REC0036
    val victim = entries.find(e => e._3 < "REC0035").get._1
    val out = fs.create(new org.apache.hadoop.fs.Path(path, victim), true)
    out.write("NOT A PARQUET FILE".getBytes); out.close()
    MergeTable.merge(spark, path,
      Seq(("REC0036", "X", 0L)).toDF("recid", "payload", "grp"), "recid")
    assert(manifestFiles(path).contains(victim),
      "non-candidate file must carry by name")
    intercept[Throwable] { MergeTable.read(spark, path).collect() }
    // keys with tab/newline/percent survive the manifest encoding
    val path2 = tmpDir()
    val odd = Seq(("a\tb", "t", 1L), ("c%20d", "p", 2L), ("e\nf", "n", 3L))
      .toDF("recid", "payload", "grp")
    MergeTable.create(odd, path2, statsCol = Some("recid"))
    MergeTable.merge(spark, path2,
      Seq(("a\tb", "T2", 9L)).toDF("recid", "payload", "grp"), "recid")
    val now = MergeTable.read(spark, path2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(now == Map("a\tb" -> "T2", "c%20d" -> "p", "e\nf" -> "n"))
  }

  test("schema evolution: widened merge adds columns, old files null-fill") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    val ups = Seq((3L, "NEW3", 9L, 0.5), (100L, "ADD", 9L, 0.9))
      .toDF("id", "payload", "grp", "score")
    val v = MergeTable.merge(spark, path, ups, "id")
    val now = MergeTable.read(spark, path)
    assert(now.schema.fieldNames.toSeq == Seq("id", "payload", "grp", "score"))
    val m = now.collect().map(r => r.getLong(0) ->
      (r.getString(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(m(3L) == ("NEW3", Some(0.5)) && m(100L) == ("ADD", Some(0.9)))
    assert(m(4L) == ("v4", None), "pre-evolution rows project NULL")
    assert(m.size == 41)
    // the pre-evolution version still answers with ITS schema
    assert(MergeTable.read(spark, path, 0).schema.fieldNames.toSeq ==
      Seq("id", "payload", "grp"))
    // the CDF across the evolution emits under the widened schema
    val cdf = MergeTable.changes(spark, path, 0, v, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(cdf == Set(("insert", 100L, Some(0.9)),
      ("update_preimage", 3L, None), ("update_postimage", 3L, Some(0.5))))
    // after the evolution, every column is required again
    val ex = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path,
        Seq((6L, "x", 1L)).toDF("id", "payload", "grp"), "id")
    }
    assert(ex.getMessage.contains("score"))
    // and an existing column can never silently RETYPE
    val ex2 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path,
        Seq((6L, "x", "notALong", 0.1))
          .toDF("id", "payload", "grp", "score"), "id")
    }
    assert(ex2.getMessage.contains("retypes"))
  }

  test("NULL merge keys are rejected with their own message, not as duplicates") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path)
    val ex = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path,
        Seq((Option.empty[Long], "x", Some(1L)))
          .toDF("id", "payload", "grp"), "id")
    }
    assert(ex.getMessage.contains("NULL"), s"got: ${ex.getMessage}")
  }

  test("create with a tracked key rejects NULL and duplicate keys up front") {
    import spark.implicits._
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "v")
    val exDup = intercept[IllegalArgumentException] {
      MergeTable.create(dup, tmpDir(), statsCol = Some("id"))
    }
    assert(exDup.getMessage.contains("duplicate"))
    val withNull = Seq((Option.empty[Long], "a"), (Some(2L), "b")).toDF("id", "v")
    val exNull = intercept[IllegalArgumentException] {
      MergeTable.create(withNull, tmpDir(), statsCol = Some("id"))
    }
    assert(exNull.getMessage.contains("NULL"))
  }

  test("changes() guards key uniqueness on untracked keys, skips it on the tracked key") {
    import spark.implicits._
    // untracked table seeded with duplicate keys IN THE TOUCHED FILE
    // (coalesce(1): everything shares the rewritten file, so the
    // guard's diff-side scan must see the dups): the feed refuses
    val path = tmpDir()
    MergeTable.create(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v").coalesce(1), path)
    MergeTable.deleteWhere(spark, path, col("v") === "c")
    val ex = intercept[IllegalArgumentException] {
      MergeTable.changes(spark, path, 0, 1, "id").collect()
    }
    assert(ex.getMessage.contains("key-unique"))
  }

  test("optimize preserves STRING range stats (post-compaction probes stay metadata-only)") {
    import spark.implicits._
    val path = tmpDir()
    val df = (0 until 40).map(i => (f"REC$i%04d", s"v$i"))
      .toDF("recid", "payload").repartitionByRange(4, col("recid"))
    MergeTable.create(df, path, statsCol = Some("recid"))
    (100 to 103).foreach { k =>
      MergeTable.merge(spark, path,
        Seq((f"X$k%04d", s"add$k")).toDF("recid", "payload"), "recid")
    }
    assert(MergeTable.optimize(spark, path) > 0)
    // the compacted manifest still carries TRUE string ranges
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = MergeTable.latestVersion(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
    val mtx = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val entries = mtx.split("\n").drop(2).filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); assert(p(1) == "S", l); (p(0), p(2), p(3)) }
    assert(entries.nonEmpty &&
      entries.map(_._2).min == "REC0000" && entries.map(_._3).max == "X0103",
      s"compacted files must carry true string min/max: ${entries.toSeq}")
    // and the table still answers correctly through a further merge
    MergeTable.merge(spark, path,
      Seq(("REC0036", "XX")).toDF("recid", "payload"), "recid")
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(now.size == 44 && now("REC0036") == "XX")
  }

  test("readKeys answers a key batch from candidate files only") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // corrupt a file whose range cannot hold the probe keys: a lookup
    // that consulted anything beyond manifest metadata would throw
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, "manifest-0000000000.txt"))
    val m0 = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val entries = m0.split("\n").drop(2).filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); (p(0), p(1).toLong, p(2).toLong) }
    val victim = entries.find(e => e._3 < 35L).get._1
    val out = fs.create(new org.apache.hadoop.fs.Path(path, victim), true)
    out.write("NOT A PARQUET FILE".getBytes); out.close()
    val got = MergeTable.readKeys(spark, path,
      Seq(36L, 38L, 999L).toDF("id"), "id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(36L -> "v36", 38L -> "v38"),
      s"exact batch lookup from candidate files only — got $got")
  }

  test("rewrite lineage: an optimize is INVISIBLE to the change feed") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // a CDC-shaped tail: several single-row merge epochs
    (100L to 103L).foreach { k =>
      MergeTable.merge(spark, path,
        Seq((k, s"add$k", 7L)).toDF("id", "payload", "grp"), "id")
    }
    val vPre = MergeTable.latestVersion(spark, path)
    // force a MULTI-FILE compaction group (everything is small, so
    // smallBytes catches all; targetBytes splits into several files)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = manifestFiles(path).toSeq.map(n =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(path, n)).getLen).sum
    val vOpt = MergeTable.optimize(spark, path,
      smallBytes = Long.MaxValue, targetBytes = totalBytes / 3)
    assert(vOpt == vPre + 1)
    assert(manifestFiles(path).size >= 2, "need a multi-file group")
    // 1. the rewrite-only step scans ZERO files and emits ZERO rows
    val feed = MergeTable.changes(spark, path, vPre, vOpt, "id")
    assert(feed.inputFiles.isEmpty,
      s"a dataChange=false step must read nothing, read ${feed.inputFiles.toSeq}")
    assert(feed.count() == 0)
    // 2. a feed SPANNING the compaction equals the snapshot derivation
    def snap(v: Int): Map[Long, String] =
      MergeTable.read(spark, path, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    def derive(b: Map[Long, String], a: Map[Long, String]) =
      (a.keySet -- b.keySet).map(k => ("insert", k)) ++
        (b.keySet -- a.keySet).map(k => ("delete", k)) ++
        (a.keySet & b.keySet).filter(k => a(k) != b(k)).flatMap(k =>
          Seq(("update_preimage", k), ("update_postimage", k)))
    val span = MergeTable.changes(spark, path, 0, vOpt, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(span == derive(snap(0), snap(vOpt)))
    // 3. a post-compaction merge breaks ONLY its group member: the
    // next feed scans that member + its replacement, never the rest
    val groupBefore = manifestFiles(path)
    val vM = MergeTable.merge(spark, path,
      Seq((36L, "U36", 1L)).toDF("id", "payload", "grp"), "id")
    val carried = groupBefore.intersect(manifestFiles(path))
    val f2 = MergeTable.changes(spark, path, vOpt, vM, "id")
    val scanned = f2.inputFiles.map(_.split("/").last).toSet
    assert(scanned.nonEmpty && scanned.intersect(carried).isEmpty,
      s"feed must not rescan carried group members, scanned $scanned")
    assert(f2.collect().map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet ==
      Set(("update_preimage", 36L), ("update_postimage", 36L)))
    // and the feed spanning merges + compaction + merge still exact
    val all = MergeTable.changes(spark, path, 0, vM, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(all == derive(snap(0), snap(vM)))
    // 4. behavioral proof of (1): with EVERY data file in the table
    // corrupted the rewrite-only feed still answers (it opens none)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(path, "data-*.parquet")))
      .getOrElse(Array.empty).foreach { st =>
        val out = fs.create(st.getPath, true)
        out.write("NOT A PARQUET FILE".getBytes); out.close()
      }
    assert(MergeTable.changes(spark, path, vPre, vOpt, "id").count() == 0)
  }

  test("tracked optimize writes key-sorted files with pairwise-disjoint ranges") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // churn: interleaved key ranges across epochs, so a coalesce
    // would produce wide overlapping ranges
    Seq(100L, 5L, 200L, 15L, 150L, 25L).foreach { k =>
      MergeTable.merge(spark, path,
        Seq((k, s"u$k", 9L)).toDF("id", "payload", "grp"), "id")
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val totalBytes = manifestFiles(path).toSeq.map(n =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(path, n)).getLen).sum
    val v = MergeTable.optimize(spark, path,
      smallBytes = Long.MaxValue, targetBytes = totalBytes / 3)
    assert(v > 0)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val ranges = txt.split("\n").drop(2).filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); (p(1).toLong, p(2).toLong) }.sortBy(_._1)
    assert(ranges.length >= 2, s"need several compacted files: ${ranges.toSeq}")
    ranges.sliding(2).foreach { w =>
      assert(w(0)._2 < w(1)._1,
        s"compacted ranges must be pairwise disjoint: ${ranges.toSeq}")
    }
    // content-neutral, and the probe prunes through the new layout
    val after = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(after == before)
    val victim = txt.split("\n").drop(2).filter(_.nonEmpty)
      .map(_.split("\t")(0)).zip(ranges).find(_._2._2 < 100L).get._1
    val out = fs.create(new org.apache.hadoop.fs.Path(path, victim), true)
    out.write("NOT A PARQUET FILE".getBytes); out.close()
    MergeTable.merge(spark, path,
      Seq((150L, "re150", 9L)).toDF("id", "payload", "grp"), "id")
    assert(manifestFiles(path).contains(victim),
      "post-compaction merge must still open candidates only")
  }

  test("string readRange opens only overlapping files (and rejects type mixups)") {
    import spark.implicits._
    val path = tmpDir()
    val df = (0 until 40).map(i => (f"REC$i%04d", s"v$i"))
      .toDF("recid", "payload").repartitionByRange(4, col("recid"))
    MergeTable.create(df, path, statsCol = Some("recid"))
    // corrupt a file whose string range cannot overlap the probe
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, "manifest-0000000000.txt"))
    val m0 = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val entries = m0.split("\n").drop(2).filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); (p(0), p(2), p(3)) }
    val victim = entries.find(e => e._3 < "REC0030").get._1
    val out = fs.create(new org.apache.hadoop.fs.Path(path, victim), true)
    out.write("NOT A PARQUET FILE".getBytes); out.close()
    val got = MergeTable.readRange(spark, path, "REC0035", "REC0037")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("REC0035", "REC0036", "REC0037"),
      s"exact residual over candidate files only — got $got")
    // a LONG range on a STRING-tracked table is a type error, not a scan
    intercept[IllegalArgumentException] {
      MergeTable.readRange(spark, path, 0L, 10L)
    }
    // and the converse on a LONG-tracked table
    val path2 = tmpDir()
    MergeTable.create(base, path2, statsCol = Some("id"))
    intercept[IllegalArgumentException] {
      MergeTable.readRange(spark, path2, "a", "z")
    }
  }

  test("readPrefix answers an application scan from its own files only") {
    import spark.implicits._
    val path = tmpDir()
    // two "applications" clustered into separate range files
    val df = ((0 until 20).map(i => (f"AC$i%04d", s"ac$i")) ++
      (0 until 20).map(i => (f"FT$i%04d", s"ft$i")))
      .toDF("recid", "payload").repartitionByRange(4, col("recid"))
    MergeTable.create(df, path, statsCol = Some("recid"))
    // corrupt every AC-range file: an FT scan must never open them
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, "manifest-0000000000.txt"))
    val m0 = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    m0.split("\n").drop(2).filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); (p(0), p(3)) }
      .filter(_._2 < "FT").foreach { case (n, _) =>
        val out = fs.create(new org.apache.hadoop.fs.Path(path, n), true)
        out.write("NOT A PARQUET FILE".getBytes); out.close()
      }
    val ft = MergeTable.readPrefix(spark, path, "FT").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(ft == (0 until 20).map(i => f"FT$i%04d"),
      s"prefix scan must answer the whole application exactly — got $ft")
    // boundary exactness: a prefix that is also a full key
    val one = MergeTable.readPrefix(spark, path, "FT0007")
      .collect().map(_.getString(0)).toSeq
    assert(one == Seq("FT0007"))
    // empty prefixes and LONG-tracked tables reject
    intercept[IllegalArgumentException] {
      MergeTable.readPrefix(spark, path, "")
    }
    val path2 = tmpDir()
    MergeTable.create(base, path2, statsCol = Some("id"))
    intercept[IllegalArgumentException] {
      MergeTable.readPrefix(spark, path2, "FT")
    }
  }

  test("applyBatch lands one epoch's upserts + deletes as ONE version") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    val ups = Seq((3L, "NEW3", 99L), (100L, "ADD100", 99L))
      .toDF("id", "payload", "grp")
    val dels = Seq(7L, 999L).toDF("id") // 999 matches nothing: harmless
    val v = MergeTable.applyBatch(spark, path, ups, dels, "id")
    assert(v == 1, "upserts and deletes must share ONE commit")
    assert(MergeTable.latestVersion(spark, path) == 1)
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // content ≡ the sequential merge-then-delete composition
    assert(now.size == 40 && now(3L) == "NEW3" && now(100L) == "ADD100" &&
      !now.contains(7L) && now(4L) == "v4")
    // the single-version CDF carries all three change kinds
    val cdf = MergeTable.changes(spark, path, 0, 1, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(cdf == Set(("insert", 100L), ("delete", 7L),
      ("update_preimage", 3L), ("update_postimage", 3L)))
    // an upsert∩delete overlap is ambiguous and rejected
    val ex = intercept[IllegalArgumentException] {
      MergeTable.applyBatch(spark, path,
        Seq((5L, "x", 0L)).toDF("id", "payload", "grp"),
        Seq(5L).toDF("id"), "id")
    }
    assert(ex.getMessage.contains("latest-per-key"))
    // an entirely empty epoch commits nothing
    val v2 = MergeTable.applyBatch(spark, path,
      ups.limit(0), dels.limit(0), "id")
    assert(v2 == 1 && MergeTable.latestVersion(spark, path) == 1)
    // schema evolution flows through the single-commit path too
    val v3 = MergeTable.applyBatch(spark, path,
      Seq((3L, "S3", 1L, 0.5)).toDF("id", "payload", "grp", "score"),
      Seq(8L).toDF("id"), "id")
    assert(v3 == 2)
    val evolved = MergeTable.read(spark, path)
    assert(evolved.schema.fieldNames.contains("score"))
    assert(evolved.count() == 39)
  }

  test("changesByVersion attributes rows to their commit; the endpoint diff nets") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // v1: insert 100 + update 3; v2: delete 100 (insert-then-delete
    // nets out at the endpoints, but each commit must still show it)
    MergeTable.merge(spark, path,
      Seq((3L, "NEW3", 9L), (100L, "ADD", 9L)).toDF("id", "payload", "grp"), "id")
    MergeTable.deleteKeys(spark, path, Seq(100L).toDF("id"), "id")
    val walked = MergeTable.changesByVersion(spark, path, 0, 2, "id").collect()
      .map(r => (r.getAs[Int]("_commit_version"),
        r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(walked == Set(
      (1, "insert", 100L), (1, "update_preimage", 3L),
      (1, "update_postimage", 3L), (2, "delete", 100L)), s"got $walked")
    // endpoint diff: stamped toV, and the churn on 100 nets out
    val netted = MergeTable.changes(spark, path, 0, 2, "id").collect()
      .map(r => (r.getAs[Int]("_commit_version"),
        r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(netted == Set((2, "update_preimage", 3L),
      (2, "update_postimage", 3L)), s"got $netted")
  }

  test("deleteWhere: NULL-evaluating rows survive regardless of file placement") {
    import spark.implicits._
    val path = tmpDir()
    // nullable column in the predicate, nulls in BOTH the hit file
    // (id 2, next to the true hit id 1) and a non-hit file (id 4)
    val df = Seq((1L, Some(10L)), (2L, Option.empty[Long]),
      (3L, Some(1L)), (4L, Option.empty[Long]))
      .toDF("id", "v")
      .repartitionByRange(2, col("id"))
    MergeTable.create(df, path)
    MergeTable.deleteWhere(spark, path, col("v") > 5L)
    val left = MergeTable.read(spark, path).collect().map(_.getLong(0)).toSet
    assert(left == Set(2L, 3L, 4L),
      s"only the TRUE row may go; NULL rows survive everywhere — got $left")
  }

  private def dataFileSet(path: String): Set[String] = manifestFiles(path)

  private def manifestText(path: String): String = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = MergeTable.latestVersion(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  test("merge-on-read delete: dv sidecar, untouched data files, time travel") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    val filesBefore = dataFileSet(path)
    val v1 = MergeTable.deleteKeysMor(spark, path,
      Seq(3L, 17L, 999L).toDF("id"), "id") // 999 absent: ignored
    assert(v1 == 1)
    // NO data file was rewritten — the whole point of MOR
    assert(dataFileSet(path) == filesBefore,
      "a MOR delete must not touch data files")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(path,
      "dv-*.parquet"))).getOrElse(Array.empty).length == 1)
    // reads exclude the dead keys; time travel still shows them
    val now = MergeTable.read(spark, path).collect().map(_.getLong(0)).toSet
    assert(now == (0L until 40L).toSet -- Set(3L, 17L))
    val v0 = MergeTable.read(spark, path, 0).collect().map(_.getLong(0)).toSet
    assert(v0 == (0L until 40L).toSet)
    // point lookups and range reads honor the dv
    val k = MergeTable.readKeys(spark, path,
      Seq(3L, 4L).toDF("id"), "id").collect().map(_.getLong(0)).toSet
    assert(k == Set(4L))
    val r = MergeTable.readRange(spark, path, 15L, 18L)
      .collect().map(_.getLong(0)).toSet
    assert(r == Set(15L, 16L, 18L))
    // deleting only-absent keys commits nothing
    assert(MergeTable.deleteKeysMor(spark, path,
      Seq(999L).toDF("id"), "id") == 1)
    // a second epoch accumulates on the same file
    val v2 = MergeTable.deleteKeysMor(spark, path, Seq(4L).toDF("id"), "id")
    assert(v2 == 2)
    assert(MergeTable.read(spark, path).count() == 37)
    // deleting an ALREADY-dead key is invisible (victims come from
    // visible rows, so nothing lands and no version commits)
    assert(MergeTable.deleteKeysMor(spark, path, Seq(3L).toDF("id"), "id") == 2)
  }

  test("MOR delete requires the tracked key") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path) // untracked
    val ex = intercept[IllegalArgumentException] {
      MergeTable.deleteKeysMor(spark, path, Seq(3L).toDF("id"), "id")
    }
    assert(ex.getMessage.contains("tracked stats key"))
  }

  test("a merge re-inserting a MOR-deleted key is not re-killed by the old dv") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    MergeTable.deleteKeysMor(spark, path, Seq(3L).toDF("id"), "id")
    assert(!MergeTable.read(spark, path).collect().map(_.getLong(0)).contains(3L))
    // re-insert key 3: the merge lands it in a fresh file the old dv
    // row (scoped to the ORIGINAL file) can never touch
    MergeTable.merge(spark, path,
      Seq((3L, "BACK", 0L)).toDF("id", "payload", "grp"), "id")
    val back = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back(3L) == "BACK")
    assert(back.size == 40)
  }

  test("a merge rewriting a dv'd file drops its dv and keeps dead rows dead") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    // kill key 3, then update key 4 (same low-range file): the COW
    // rewrite reads VISIBLE rows, so 3 stays dead in the new file and
    // the rewritten entry carries no dv reference
    MergeTable.deleteKeysMor(spark, path, Seq(3L).toDF("id"), "id")
    MergeTable.merge(spark, path,
      Seq((4L, "U4", 0L)).toDF("id", "payload", "grp"), "id")
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!now.contains(3L) && now(4L) == "U4" && now.size == 39)
    // the rewritten file's entry must NOT reference the old dv — if
    // every candidate was rewritten the manifest carries no V marker
    // for the low range anymore (key 3's file was the only dv'd one)
    assert(!manifestText(path).contains("\tV\t"),
      "rewritten entries must drop their dv references")
  }

  test("change feed across MOR deletes: exact rows, dv'd-file-priced") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))  // 4 files
    val v1 = MergeTable.deleteKeysMor(spark, path,
      Seq(3L, 17L).toDF("id"), "id")
    val feed = MergeTable.changes(spark, path, 0, v1, "id")
    assert(feed.collect().map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet ==
      Set(("delete", 3L), ("delete", 17L)))
    // only the dv'd files are scanned (same names on both sides, so
    // inputFiles dedup to the touched data files + the dv sidecar)
    val touched = Seq(3L, 17L).map(k => k / 10) // range-partitioned by id
    val scannedData = feed.inputFiles.filter(_.contains("data-")).toSet
    assert(scannedData.size <= 2,
      s"feed must scan only dv'd files, scanned ${scannedData.size}")
    // behavioral: corrupt every file EXCEPT the dv'd ones + sidecars —
    // the feed still answers
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = feed.inputFiles.map(_.split("/").last).toSet
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(path, "data-*.parquet")))
      .getOrElse(Array.empty)
      .filterNot(st => keep(st.getPath.getName))
      .foreach { st =>
        val out = fs.create(st.getPath, true)
        out.write("NOT A PARQUET FILE".getBytes); out.close()
      }
    assert(MergeTable.changes(spark, path, 0, v1, "id").count() == 2)
  }

  test("marker-letter string keys cannot brick the manifest parse") {
    import spark.implicits._
    // keys whose percent-encoding is a bare marker letter ("O", "V",
    // "E", "S") land in range stats; combined with a dv tail the old
    // parse misread "O" as a lineage marker and the table became
    // unreadable — the write side now force-escapes them
    val path = tmpDir()
    val df = Seq(("A", 1L), ("O", 2L), ("V", 3L), ("E", 4L), ("S", 5L),
      ("Z", 6L)).toDF("k", "x").repartitionByRange(3, col("k"))
    MergeTable.create(df, path, statsCol = Some("k"))
    // attach a dv to every file (the collision needs stats + V tail)
    val v1 = MergeTable.deleteKeysMor(spark, path,
      Seq("A", "Z").toDF("k"), "k")
    assert(v1 == 1)
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getString(0)).toSet
    assert(now == Set("O", "V", "E", "S"))
    // feed + merge + optimize all parse the escaped stats fine
    assert(MergeTable.changes(spark, path, 0, 1, "k").count() == 2)
    MergeTable.merge(spark, path, Seq(("O", 20L)).toDF("k", "x"), "k")
    assert(MergeTable.optimize(spark, path,
      smallBytes = Long.MaxValue, targetBytes = Long.MaxValue) > 0)
    val after = MergeTable.read(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == Map("O" -> 20L, "V" -> 3L, "E" -> 4L, "S" -> 5L))
  }

  test("pure-MOR feed takes the no-shuffle fast path; mixed spans fall back") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    val v1 = MergeTable.deleteKeysMor(spark, path,
      Seq(3L, 17L).toDF("id"), "id")
    val v2 = MergeTable.deleteKeysMor(spark, path, Seq(25L).toDF("id"), "id")
    // the 0 -> v2 span changed nothing but dv lists: the feed must be
    // the dead rows via scan + broadcast semi, never a full-outer
    val feed = MergeTable.changes(spark, path, 0, v2, "id")
    val got = feed.collect().map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("payload"))).toSet
    assert(got == Set(("delete", 3L, "v3"), ("delete", 17L, "v17"),
      ("delete", 25L, "v25")))
    val plan = feed.queryExecution.executedPlan.toString
    assert(!plan.contains("FullOuter") && !plan.contains("SortMergeJoin"),
      s"pure-MOR feed must not plan the general diff:\n$plan")
    // a span mixing a MOR delete with a re-inserting merge must fall
    // back: the key-aligned diff classifies the pair as an update
    val v3 = MergeTable.merge(spark, path,
      Seq((3L, "BACK", 9L)).toDF("id", "payload", "grp"), "id")
    val mixed = MergeTable.changes(spark, path, 0, v3, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(mixed == Set(
      ("update_preimage", 3L), ("update_postimage", 3L),
      ("delete", 17L), ("delete", 25L)),
      s"mixed span must use the key-aligned classification, got $mixed")
  }

  test("purgeDeletes materializes dvs: content-neutral, zero-scan feed, vacuum") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    MergeTable.deleteKeysMor(spark, path, Seq(3L, 17L, 25L).toDF("id"), "id")
    MergeTable.deleteKeysMor(spark, path, Seq(8L).toDF("id"), "id")
    val vPre = MergeTable.latestVersion(spark, path)
    val before = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val vP = MergeTable.purgeDeletes(spark, path)
    assert(vP == vPre + 1)
    val after = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(after == before, "purge must be content-neutral on visible rows")
    assert(!manifestText(path).contains("\tV\t"), "no dv refs may remain")
    // the purge is dataChange=false to the feed: zero files scanned
    val feed = MergeTable.changes(spark, path, vPre, vP, "id")
    assert(feed.inputFiles.isEmpty,
      s"purge feed must read nothing, read ${feed.inputFiles.toSeq}")
    assert(feed.count() == 0)
    // a second purge is a no-op
    assert(MergeTable.purgeDeletes(spark, path) == -1)
    // vacuum(minAge=0) collects the now-unreferenced dv sidecars
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeTable.vacuum(spark, path, keepVersions = 1, minAgeMs = 0)
    assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(path,
      "dv-*.parquet"))).getOrElse(Array.empty).isEmpty,
      "purged dv sidecars must be collectable")
    // and the purged snapshot still answers in full
    assert(MergeTable.read(spark, path).count() == 36)
  }

  test("fresh dv sidecars survive the vacuum retention window") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    MergeTable.deleteKeysMor(spark, path, Seq(3L).toDF("id"), "id")
    MergeTable.purgeDeletes(spark, path)
    // dv now unreferenced by the kept manifest, but FRESH: default
    // retention must keep it (an in-flight reader of the pre-purge
    // version may still be scanning it)
    MergeTable.vacuum(spark, path, keepVersions = 1)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(path,
      "dv-*.parquet"))).getOrElse(Array.empty).length == 1)
  }

  test("optimize materializes dvs of its small tail, still zero-scan to the feed") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    MergeTable.deleteKeysMor(spark, path, Seq(3L, 38L).toDF("id"), "id")
    val vPre = MergeTable.latestVersion(spark, path)
    val before = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val vOpt = MergeTable.optimize(spark, path,
      smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    assert(vOpt == vPre + 1)
    val after = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
    assert(!manifestText(path).contains("\tV\t"),
      "compaction must materialize the tail's dvs")
    val feed = MergeTable.changes(spark, path, vPre, vOpt, "id")
    assert(feed.inputFiles.isEmpty && feed.count() == 0,
      "dv materialization via optimize is dataChange=false")
  }

  test("timestamp time travel resolves the manifest published at-or-before") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create(base, path, statsCol = Some("id"))
    Thread.sleep(30) // separate manifest mtimes (ms granularity)
    MergeTable.merge(spark, path,
      Seq((3L, "U3", 0L)).toDF("id", "payload", "grp"), "id")
    Thread.sleep(30)
    MergeTable.merge(spark, path,
      Seq((3L, "U3b", 0L)).toDF("id", "payload", "grp"), "id")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtime(v: Int) = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
      .getModificationTime
    assert(MergeTable.versionAsOf(spark, path, mtime(0)) == 0)
    assert(MergeTable.versionAsOf(spark, path, mtime(1)) == 1)
    // between two commits resolves the earlier one
    assert(MergeTable.versionAsOf(spark, path, mtime(2) - 1) == 1)
    assert(MergeTable.versionAsOf(spark, path, System.currentTimeMillis() + 1000) == 2)
    val v1 = MergeTable.readAsOf(spark, path, mtime(1)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1(3L) == "U3")
    // before the first commit: loud error, never a wrong snapshot
    val ex = intercept[IllegalArgumentException] {
      MergeTable.versionAsOf(spark, path, mtime(0) - 1000)
    }
    assert(ex.getMessage.contains("earliest"))
  }

  test("partial-group compaction must not inherit the whole group's origins") {
    import spark.implicits._
    val path = tmpDir()
    // low keys carry fat payloads so the first compaction's range
    // split leaves one BIG file (low keys) and one small one — the
    // realistic remainder-file shape a later optimize re-compacts
    // without its sibling
    val df = (0L until 30L).map { k =>
      (k, if (k < 15) s"v$k-" * 200 else s"v$k")
    }.toDF("id", "payload").repartitionByRange(3, col("id"))
    MergeTable.create(df, path, statsCol = Some("id"))      // v0: 3 files
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sizes(): Map[String, Long] = manifestFiles(path).toSeq.map(n =>
      n -> fs.getFileStatus(new org.apache.hadoop.fs.Path(path, n)).getLen).toMap
    // v1: compact ALL THREE into a two-file group
    val total = sizes().values.sum
    val v1 = MergeTable.optimize(spark, path,
      smallBytes = Long.MaxValue, targetBytes = total / 2 + 1)
    assert(v1 == 1 && manifestFiles(path).size == 2, "need a 2-file group")
    // v2: append new keys (small payloads) as a fresh small file
    val v2 = MergeTable.merge(spark, path,
      (100L to 110L).map(k => (k, s"a$k")).toDF("id", "payload").coalesce(1), "id")
    assert(v2 == 2)
    // v3: re-compact ONLY the small group member + the appended file
    // (the big sibling stays put) — the partial-group case
    val bigSize = sizes().values.max
    val v3 = MergeTable.optimize(spark, path,
      smallBytes = bigSize, targetBytes = Long.MaxValue)
    assert(v3 == 3, "partial compaction must have fired")
    // v4: rewrite the big sibling via a merge on one of its keys
    val v4 = MergeTable.merge(spark, path,
      Seq((1L, "UPDATED")).toDF("id", "payload"), "id")
    assert(v4 == 4)
    // the feed v2 -> v4 must be exactly key 1's update; with the
    // whole-group origins wrongly inherited at v3, both of v2's group
    // members prove "identical" and the rewritten sibling's rows all
    // come out as inserts
    def snap(v: Int): Map[Long, String] =
      MergeTable.read(spark, path, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    def derive(b: Map[Long, String], a: Map[Long, String]) =
      (a.keySet -- b.keySet).map(k => ("insert", k)) ++
        (b.keySet -- a.keySet).map(k => ("delete", k)) ++
        (a.keySet & b.keySet).filter(k => a(k) != b(k)).flatMap(k =>
          Seq(("update_preimage", k), ("update_postimage", k)))
    val feed = MergeTable.changes(spark, path, 2, 4, "id").collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(feed == derive(snap(2), snap(4)),
      s"partial-group lineage over-claim: $feed vs ${derive(snap(2), snap(4))}")
    assert(feed == Set(("update_preimage", 1L), ("update_postimage", 1L)))
  }

  /** The data files Spark wrote under `dir`, by basename. */
  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq.sorted

  /** Footer ranges of every part under `dir` next to their scan truth. */
  private def footerVsScan(dir: String, c: String, isStr: Boolean)
      : (Map[String, Option[MergeTable.Stats]], Map[String, MergeTable.Stats]) = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val names = partFiles(dir)
    (names.map(n => n -> MergeTable.footerStats(spark,
      new org.apache.hadoop.fs.Path(d, n), c, isStr)).toMap,
      MergeTable.scanStats(spark, d, names, c, isStr))
  }

  test("footer stats equal the scan-derived ranges: LONG parts, all-NULL and zero-row parts") {
    import spark.implicits._
    val dir = tmpDir() + "/parts"
    // four ranged parts (negatives included), one in several row groups
    (-2000L until 2000L).map(k => (k, s"v$k")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
      .write.option("parquet.block.size", "4096").parquet(dir)
    // one all-NULL part and one zero-row part
    Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
      .write.mode("append").parquet(dir)
    val names = partFiles(dir)
    assert(names.size == 6, s"expected 4 ranged + all-NULL + zero-row parts: $names")
    val rowGroups = names.map { n =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dir, n), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(rowGroups.max > 1, s"need a part spanning several row groups: $rowGroups")
    assert(rowGroups.contains(0), s"need a zero-row part: $rowGroups")
    val (footer, scan) = footerVsScan(dir, "id", isStr = false)
    assert(footer.values.forall(_.isDefined), s"every footer must answer: $footer")
    assert(footer.map { case (n, s) => n -> s.get } == scan)
    assert(scan.values.count(_ == MergeTable.EmptyRange) == 2,
      s"the all-NULL and zero-row parts range over nothing: $scan")
    assert(scan.values.collect { case MergeTable.LongRange(a, b) => (a, b) }
      .toSeq.sorted.head._1 == -2000L)
  }

  test("footer stats on STRING keys follow Spark's UTF-8 byte order; a >4 KB key falls back to the scan") {
    import spark.implicits._
    val dir = tmpDir() + "/parts"
    // U+FFFF sorts BELOW the supplementary-plane U+1F600 in UTF-8 bytes
    // (EF BF BF < F0 9F 98 80) but ABOVE it in UTF-16 code units
    val keys = Seq("A", "z", "\u00e9t\u00e9", "\u4e2d\u6587", "\uffff",
      "\ud83d\ude00", "\ud83d\ude00x")
    keys.toDF("recid").withColumn("v", lit(1)).coalesce(1).write.parquet(dir)
    Seq("AC0001", "FT0002").toDF("recid").withColumn("v", lit(2))
      .coalesce(1).write.mode("append").parquet(dir)
    val (footer, scan) = footerVsScan(dir, "recid", isStr = true)
    assert(footer.values.forall(_.isDefined), s"every footer must answer: $footer")
    assert(footer.map { case (n, s) => n -> s.get } == scan)
    assert(scan.values.toSet.contains(
      MergeTable.StrRange("A", "\ud83d\ude00x")),
      s"max must be the supplementary-plane key: $scan")
    // parquet drops min/max over 4 KB (NULL counts stay): the footer
    // cannot answer, and fileStats scans exactly that part
    val big = "K" * 5000
    Seq(big, "B").toDF("recid").withColumn("v", lit(3))
      .coalesce(1).write.mode("append").parquet(dir)
    val (footer2, scan2) = footerVsScan(dir, "recid", isStr = true)
    assert(footer2.values.count(_.isEmpty) == 1,
      s"only the >4 KB part lacks footer stats: $footer2")
    assert(scan2.values.toSet.contains(MergeTable.StrRange("B", big)))
    val names = partFiles(dir)
    assert(MergeTable.fileStats(spark, new org.apache.hadoop.fs.Path(dir), names,
      "recid", isStr = true) == scan2)
  }

  /** (name, min, max) of every live entry of a LONG-tracked table. */
  private def longRanges(path: String): Seq[(String, Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = MergeTable.latestVersion(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    txt.split("\n").drop(2).filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); (p(0), p(1).toLong, p(2).toLong) }.toSeq
  }

  test("a small rewrite lands as one file: live ranges stay disjoint; the next epoch rewrites only the overlapping file") {
    import spark.implicits._
    val path = tmpDir()
    // 40 keys spaced 10 apart in 4 range files: [0, 90], [100, 190], ...
    MergeTable.create((0L until 40L).map(k => (k * 10, s"v$k")).toDF("id", "payload")
      .repartitionByRange(4, col("id")), path, statsCol = Some("id"))
    def disjoint(): Unit = {
      val rs = longRanges(path).sortBy(_._2)
      rs.sliding(2).foreach { w =>
        assert(w(0)._3 < w(1)._2, s"live ranges must be pairwise disjoint: $rs")
      }
    }
    disjoint()
    // two epochs on one narrow key range: update, insert-in-range, delete
    val epochs = Seq(
      (Seq((120L, "u120"), (125L, "i125")), Seq(130L)),
      (Seq((125L, "u125"), (140L, "u140")), Seq(150L)))
    epochs.foreach { case (ups, dels) =>
      val before = longRanges(path)
      val overlapping = before.filter(r => r._2 <= 150L && r._3 >= 120L).map(_._1).toSet
      assert(overlapping.size == 1, s"the narrow range lives in one file: $before")
      MergeTable.applyBatch(spark, path, ups.toDF("id", "payload"), dels.toDF("id"), "id")
      val after = longRanges(path).map(_._1).toSet
      val rewritten = before.map(_._1).toSet -- after
      assert(rewritten == overlapping,
        s"only the overlapping file may rewrite: $rewritten vs $overlapping")
      assert((after -- before.map(_._1)).size == 1, s"one file written: $after")
      disjoint()
    }
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now.size == 39 && now(120L) == "u120" && now(125L) == "u125" &&
      now(140L) == "u140" && !now.contains(130L) && !now.contains(150L))
  }

  test("updates from an uncached join keep the write's own layout: a guessed size never sets the file count") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create((0L until 1000L).map(k => (k, s"v$k")).toDF("id", "payload")
      .coalesce(1), path, statsCol = Some("id"))
    // five updates from a join: without CBO its size estimate is the
    // product of its sides (GBs here), nothing like the five rows it
    // returns (ranges, not local rows, which the optimizer would fold)
    val ups = spark.range(20000L).filter(col("id").between(10L, 14L))
      .join(spark.range(1000L).select(col("id"),
        concat(lit("u"), col("id").cast("string")).as("payload")), "id")
    val before = longRanges(path).map(_._1).toSet
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try MergeTable.merge(spark, path, ups, "id")
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val written = longRanges(path).map(_._1).toSet -- before
    assert(written.size <= 6,
      s"5 update rows + 995 survivors of one file wrote ${written.size} files")
    val now = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now.size == 1000 && now(12L) == "u12" && now(15L) == "v15")
  }

  test("mergeApplySink: NULL RECIDs rejected, empty epochs publish nothing, a steady epoch runs few jobs") {
    import spark.implicits._
    val path = tmpDir() + "/table"
    val sink = graft.streaming.Pipelines.mergeApplySink(path, "recid", "ts")
    def epoch(rows: Seq[(Option[String], Long, String, String)]) =
      rows.toDF("recid", "ts", "op", "payload")
    sink(epoch((0 until 200).map(i => (Some(f"R$i%04d"), 1L, "U", s"p$i"))), 0L)
    def steady(id: Long) = epoch((0 until 30).map(i =>
      (Some(f"R${i * 3}%04d"), id + 1, if (i % 10 == 0) "D" else "U", s"e$id-$i")))
    sink(steady(1L), 1L)
    val v = MergeTable.latestVersion(spark, path)
    // a NULL key is rejected with its own message and commits nothing
    val ex = intercept[IllegalArgumentException] {
      sink(epoch(Seq((None, 9L, "U", "x"), (Some("R0001"), 9L, "U", "y"))), 2L)
    }
    assert(ex.getMessage.contains("NULL"), s"got: ${ex.getMessage}")
    assert(MergeTable.latestVersion(spark, path) == v)
    // an empty epoch publishes no version
    sink(epoch(Nil), 3L)
    assert(MergeTable.latestVersion(spark, path) == v)
    // one steady epoch's Spark jobs, counted under its own job group:
    // the collapse's shuffle stage, the cache fill (AQE runs it as its
    // own table-cache stage), the one key-reading action and the one
    // shuffle-free staging write — 4. The path with a validation
    // aggregate, a binned probe and an anti-join ran 11 here; replayed
    // through the forced large path (the same first action, then the
    // binned probe and the anti-join), the same epoch stays under that
    // path's 12. A change that adds a Spark action to either path fails
    // here.
    val sc = spark.sparkContext
    def jobs(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "mt-steady"))
            n.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("mt-steady", "one steady sink epoch")
        try f finally sc.clearJobGroup()
        org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      } finally sc.removeSparkListener(listener)
      n.get()
    }
    def now() = MergeTable.read(spark, path).collect()
      .map(r => r.getAs[String]("recid") -> r.getAs[String]("payload")).toMap
    val small = jobs(sink(steady(4L), 4L))
    assert(MergeTable.latestVersion(spark, path) == v + 1)
    assert(small > 0 && small <= 4, s"$small jobs in one steady epoch")
    val after = now()
    assert(after.size == 197 && after("R0003") == "e4-1" && !after.contains("R0030"))
    val large = jobs(graft.streaming.Pipelines.applySink(path, "recid", "ts", "op", "D",
      smallKeys = -1)(steady(4L), 4L))
    assert(MergeTable.latestVersion(spark, path) == v + 2)
    assert(large > small && large <= 12, s"$large jobs in one steady epoch, large path")
    assert(now() == after)
  }

  /** Every line of the latest manifest of `path` past the header, split
    * into the file name and the rest (its stats). */
  private def manifestEntries(path: String): Seq[(String, String)] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = MergeTable.latestVersion(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    txt.split("\n").drop(2).filter(_.nonEmpty).map { l =>
      val p = l.split("\t", 2); p(0) -> p.lift(1).getOrElse("")
    }.toSeq
  }

  test("a collapsed epoch applies the same through the driver-side probe and the large path") {
    import spark.implicits._
    import graft.operators.IncrementalView
    val root = Files.createTempDirectory("mt_paths").toString
    val seedPath = s"$root/seed"
    MergeTable.create((0 until 120).map(i => (f"R$i%04d", 1L, s"g${i % 3}", i.toDouble))
      .toDF("recid", "ts", "grp", "amt").repartitionByRange(4, col("recid")),
      seedPath, statsCol = Some("recid"))
    val seeded = manifestEntries(seedPath).map(_._1).toSet
    // two copies of one table: the same file names to carry over
    val sides = Seq("driver" -> MergeTable.SmallEpochKeys, "large" -> -1).map { case (n, bound) =>
      val (src, p) = (java.nio.file.Paths.get(seedPath), s"$root/$n")
      Files.walk(src).forEach { f =>
        val to = java.nio.file.Paths.get(p).resolve(src.relativize(f))
        if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
      }
      IncrementalView.maintain(spark, p, s"$root/$n-mv", "recid", "grp", "amt")
      (p, s"$root/$n-mv", graft.streaming.Pipelines.applySink(p, "recid", "ts", "op", "D", bound))
    }
    def epoch(rows: (Option[String], Long, String, String, Double)*) =
      rows.toDF("recid", "ts", "op", "grp", "amt")
    def apply(e: org.apache.spark.sql.DataFrame, id: Long): Unit =
      sides.foreach { case (p, mv, sink) =>
        sink(e, id)
        IncrementalView.maintain(spark, p, mv, "recid", "grp", "amt")
      }
    def same(): Unit = {
      val Seq(a, b) = sides.map { case (p, mv, _) =>
        val m = manifestEntries(p)
        (MergeTable.latestVersion(spark, p),
          MergeTable.read(spark, p).collect().map(_.toSeq).toSet,
          m.map(_._1).filter(seeded).toSet, m.map(_._2).sorted,
          IncrementalView.read(spark, mv).collect().map(_.toSeq).toSet)
      }
      assert(a == b, s"the two paths diverge:\n$a\n$b")
    }
    same()
    // upserts (updates, an update of the same key twice, inserts) and deletes
    apply(epoch((Some("R0005"), 2L, "U", "g0", 50.0), (Some("R0005"), 3L, "U", "g1", 51.0),
      (Some("R0006"), 2L, "D", "g0", 0.0), (Some("R0007a"), 2L, "U", "g2", 7.5),
      (Some("R0100"), 2L, "U", "g9", 1.0), (Some("R9999"), 2L, "U", "g0", 2.0)), 1L)
    same()
    // deletes of absent keys, inside a file's range and past every range
    apply(epoch((Some("R0006"), 4L, "D", "g0", 0.0), (Some("R0050a"), 4L, "D", "g0", 0.0),
      (Some("S0000"), 4L, "D", "g0", 0.0)), 2L)
    same()
    val v = sides.map(s => MergeTable.latestVersion(spark, s._1))
    // an empty epoch publishes no version on either path
    apply(epoch(), 3L)
    same()
    // a NULL upsert key: the same rejection, and nothing published
    val msgs = sides.map { case (_, _, sink) =>
      intercept[IllegalArgumentException] {
        sink(epoch((None, 5L, "U", "g0", 1.0), (Some("R0001"), 5L, "U", "g0", 1.0)), 4L)
      }.getMessage
    }
    assert(msgs.distinct.size == 1 && msgs.head.contains("NULL"), s"got: $msgs")
    assert(sides.map(s => MergeTable.latestVersion(spark, s._1)) == v)
    same()
    val last = MergeTable.read(spark, sides.head._1).collect()
      .map(r => r.getAs[String]("recid") -> r.getAs[Double]("amt")).toMap
    assert(last.size == 121 && last("R0005") == 51.0 && !last.contains("R0006") &&
      last("R0007a") == 7.5 && last("R9999") == 2.0)
  }

  test("no commit adds a zero-row data file: a missed all-delete epoch, a rewrite that deletes every row") {
    import spark.implicits._
    val path = tmpDir()
    MergeTable.create((0 until 40).map(i => (f"REC$i%04d", s"v$i")).toDF("recid", "payload")
      .repartitionByRange(4, col("recid")), path, statsCol = Some("recid"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries(): Seq[String] = {
      val v = MergeTable.latestVersion(spark, path)
      val in = fs.open(new org.apache.hadoop.fs.Path(path, f"manifest-$v%010d.txt"))
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      txt.split("\n").drop(2).filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    }
    def rowsOf(n: String): Long = spark.read.parquet(s"$path/$n").count()
    val before = entries()
    assert(before.size == 4 && before.forall(rowsOf(_) > 0))
    // the all-delete epoch mergeApplySink sends when every key misses:
    // it still publishes its version, and that version adds no file
    val v1 = MergeTable.applyBatch(spark, path,
      Seq.empty[(String, String)].toDF("recid", "payload"), Seq("ZZZ9999").toDF("recid"), "recid")
    assert(v1 == 1 && entries() == before, s"an epoch that misses must add no file: ${entries()}")
    // deleting every key of one file rewrites it into nothing
    val first = MergeTable.read(spark, path).select("recid").as[String].collect().sorted.take(10)
    val v2 = MergeTable.deleteKeys(spark, path, first.toSeq.toDF("recid"), "recid")
    assert(v2 == 2 && entries().forall(rowsOf(_) > 0))
    assert(MergeTable.read(spark, path).count() == 30)
    // a predicate rewrite whose survivors are all deleted, tracked or not
    val v3 = MergeTable.deleteWhere(spark, path, lit(true))
    assert(v3 == 3 && entries().isEmpty, s"an emptied table lists no file: ${entries()}")
    assert(MergeTable.read(spark, path).count() == 0)
    val untracked = tmpDir()
    MergeTable.create((0 until 8).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      .repartitionByRange(2, col("id")), untracked)
    assert(MergeTable.deleteWhere(spark, untracked, lit(true)) == 1)
    assert(MergeTable.read(spark, untracked).count() == 0 &&
      MergeTable.read(spark, untracked).inputFiles.isEmpty)
  }
}
