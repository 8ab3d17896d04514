package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Range, Union}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Manifest-based copy-on-write table (SURVEY §2e) — the MERGE/DELETE
  * layer plain parquet directories lack. A table is a directory of
  * immutable `data-*.parquet` files plus numbered manifests; the
  * CURRENT version is the highest `manifest-N.txt`, and a manifest is
  * the complete truth of a version: schema (line 1, DDL), the stats
  * column (line 2, `-` if none), and the exact data files (one per
  * line, with the file's true [min, max] of the stats column when
  * tracked). This is the minimal shape of the log-structured table
  * formats (Delta/Iceberg — public designs):
  *
  *  - SNAPSHOT ISOLATION: readers resolve ONE manifest and read
  *    exactly its files. Writers never mutate a published file — a
  *    merge stages new files (invisible: staged under `_`-prefixed
  *    dirs until the manifest names them) and publishes by ONE atomic
  *    no-overwrite commit of the manifest. A crash at any point
  *    leaves the last published version intact; stray staged files
  *    are garbage, not corruption, and `vacuum` collects them.
  *  - TIME TRAVEL: any retained older manifest is a consistent
  *    snapshot (`read(path, version)`). Each manifest carries its own
  *    schema, so the schema HISTORY time-travels with the data.
  *  - OPTIMISTIC CONCURRENCY WITH RETRY: publishing commits
  *    `manifest-(N+1)` exclusively — on `file://` via a POSIX hard
  *    link (atomic, fails if the destination exists: the LogStore
  *    contract Delta documents per filesystem), elsewhere via
  *    rename-if-absent (atomic no-overwrite only where the FS
  *    contract provides it, e.g. HDFS; object stores need an external
  *    commit service, exactly as the public formats document). A lost
  *    race raises [[VersionConflictException]] and every mutator
  *    ([[merge]]/[[deleteKeys]]/[[deleteWhere]]/[[optimize]]) RETRIES
  *    FROM THE NEW LATEST (bounded attempts) — so a CDC apply sink
  *    survives a racing `optimize` maintainer instead of crashing the
  *    stream, and a racing `vacuum` is safe through its RETENTION
  *    WINDOW (unreferenced files younger than `minAgeMs` are never
  *    collected — an in-flight writer's staged-but-unpublished files
  *    are unreferenced by design, and deleting them would let it
  *    publish a manifest naming vanished files, a corruption the
  *    version check cannot see). The loser's staged files become
  *    debris `vacuum` collects once aged out; its re-derived attempt
  *    reads the winner's manifest, so no committed work is ever lost.
  *  - FILE-SKIPPING STATS: when a stats column is tracked (the merge
  *    key), every entry carries the file's TRUE [min, max] of it, so
  *    a merge/delete finds its candidate files by RANGE OVERLAP from
  *    metadata alone — the base table is never scanned to locate
  *    hits, only the (conservative, always-correct) candidate files
  *    are opened. A key outside every file's range touches NOTHING.
  *    The probe is an EQUI-join on a computed bin column (the file
  *    ranges rasterize onto fixed-width bins driver-side, metadata
  *    scale), not a per-key linear scan of all ranges — at 1M files ×
  *    1M keys a theta join would plan 10^12 comparisons; the binned
  *    probe hashes each key to its bin and compares only the files
  *    overlapping that bin. Degenerate key spans (wider than 2^62)
  *    fall back to the always-correct theta join.
  *  - SCHEMA EVOLUTION: a merge batch may carry NEW columns (never
  *    drop existing ones — an update row replaces its base row, so a
  *    missing column would be an ambiguous partial update). The
  *    manifest's DDL widens; files written before the evolution carry
  *    by name and project NULL for the new columns at read time
  *    (mergeSchema semantics at the manifest layer — parquet files
  *    are read under the manifest schema, missing columns null-fill).
  *
  * KEY DISCIPLINE: when a stats/merge key is declared, [[create]]
  * enforces it non-NULL and unique, [[merge]] rejects NULL or
  * duplicate update keys, and the COW rewrite preserves uniqueness by
  * construction (anti-join survivors ∪ unique updates) — so
  * [[changes]]' per-version key-uniqueness precondition is an
  * invariant of the tracked lifecycle (for tables created by THIS
  * code — a tracked table imported from elsewhere was never
  * validated; re-merge it once, or diff on a non-tracked key to get
  * the guard). For non-tracked keys the feed runs a BEST-EFFORT
  * guard over the files it diffs: a duplicate entirely inside the
  * diffed files is caught; one split across a shared and a
  * non-shared file is not visible to a manifest-aware diff — global
  * uniqueness is the caller's precondition, stated, not assumed
  * silently.
  *
  * The 100 TB posture is COPY-ON-WRITE WITH FILE PRUNING: a merge
  * rewrites ONLY candidate files (their unmatched survivors + every
  * update row land in fresh files); untouched files carry over to
  * the new manifest by NAME. Only the file LIST (metadata-scale,
  * like every table format's log) crosses the driver — row data
  * never does.
  */
object MergeTable {

  /** A publish lost the optimistic-concurrency race: the target
    * version already exists. Mutators catch this and retry from the
    * new latest; it only escapes after the bounded retries drain. */
  final class VersionConflictException(msg: String)
    extends java.io.IOException(msg)

  private val OccAttempts = 5

  /** Test seam: invoked once (self-clearing) inside the next mutator
    * attempt AFTER it resolved its base manifest and staged its files
    * but BEFORE it publishes — the window where a racing writer's
    * commit forces the OCC retry. Production value is a no-op. */
  private[graft] var midCommitHook: () => Unit = () => ()

  private val ManifestRe = """manifest-(\d{10})\.txt""".r

  /** Per-file stats: the true [min, max] of the tracked column within
    * a data file. LONG keys carry numeric ranges; STRING keys (the
    * reference's RECID shape) carry string ranges, percent-encoded in
    * the manifest so tabs/newlines in key values cannot tear a line.
    * [[EmptyRange]] marks a tracked file with nothing to range over
    * (zero rows or all-NULL stats) — it can never hold a probe hit. */
  private[graft] sealed trait Stats
  private[graft] case object NoStats extends Stats
  private[graft] case object EmptyRange extends Stats
  private[graft] final case class LongRange(mn: Long, mx: Long) extends Stats
  private[graft] final case class StrRange(mn: String, mx: String) extends Stats

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** enc() for STATS VALUES: a key whose encoding is a bare marker
    * letter would collide with the tail probes at parse time (a
    * string max of "O" followed by a dv tail reads as a lineage
    * marker and bricks the manifest) — force percent-escape those
    * four one-letter values; dec() reverses transparently. */
  private def encS(s: String): String = {
    val e = enc(s)
    if (e == "O" || e == "V" || e == "E" || e == "S")
      f"%%${e.head.toInt}%02X"
    else e
  }

  /** REWRITE LINEAGE for content-neutral rewrites (`dataChange=false`
    * in the public formats' terms): `optimize` stamps every file of a
    * compaction group with one group id, the group size, and the
    * CONTENT UNITS it rewrote (the compacted source files' own units,
    * so lineage chains across repeated compactions). [[changes]] uses
    * it to treat an INTACT group (all `size` members present) as
    * holding exactly its origins' rows — so a feed spanning a
    * compaction stays priced by the CHANGE volume instead of
    * re-diffing the whole compacted tail. A group any member of which
    * was since rewritten by a data change is void (its members fall
    * back to opaque by-name identity — conservative, never wrong). */
  private[graft] final case class Lineage(gid: String, size: Int,
                                          origins: Seq[String])

  /** Origin lists are manifest metadata: past this many units the
    * entry drops lineage (the next feed re-reads it — conservative)
    * rather than let the manifest grow unboundedly under a
    * pure-append + optimize loop. */
  private val MaxLineageUnits = 8192

  /** Files under this size are "small": [[optimize]]'s default
    * compaction threshold, and the largest rewrite [[merge]] and
    * [[applyBatch]] write as one file. */
  private val SmallFileBytes = 16L * 1024 * 1024

  /** A manifest entry: a data file plus its [[Stats]], optional
    * DELETION VECTORS (merge-on-read deletes — `dv-*.parquet`
    * sidecars of (file, key) pairs whose keys are dead in THIS file;
    * readers anti-join them, writers never touched the data file),
    * and optional rewrite [[Lineage]]. Line formats (legacy 3-field
    * numeric lines parse as LONG ranges, so manifests written before
    * the string-key support still read): `name` / `name\tE` /
    * `name\tmn\tmx` / `name\tS\tenc(mn)\tenc(mx)`, each optionally
    * followed by `\tV\t<dvRows>\t<enc(dv1),enc(dv2),...>` and then
    * `\tO\t<gid>\t<size>\t<enc(o1),enc(o2),...>`. */
  private[graft] case class Entry(name: String, stats: Stats,
                                  lineage: Option[Lineage] = None,
                                  dvs: Seq[String] = Nil,
                                  dvRows: Long = 0L) {
    def line: String = {
      val core = stats match {
        case NoStats        => name
        case EmptyRange     => s"$name\tE"
        case LongRange(a, b) => s"$name\t$a\t$b"
        case StrRange(a, b) => s"$name\tS\t${encS(a)}\t${encS(b)}"
      }
      val withDv =
        if (dvs.isEmpty) core
        else s"$core\tV\t$dvRows\t${dvs.map(enc).mkString(",")}"
      lineage match {
        case Some(Lineage(g, k, os)) =>
          s"$withDv\tO\t${enc(g)}\t$k\t${os.map(enc).mkString(",")}"
        case None => withDv
      }
    }
  }
  private def parseEntry(l: String): Entry = {
    val f = l.split("\t", -1)
    // lineage rides as a fixed 4-field tail; no lineage-free core is
    // ever 5+ fields, so the marker position cannot collide
    val (c1, lin) =
      if (f.length >= 5 && f(f.length - 4) == "O")
        (f.dropRight(4), Some(Lineage(dec(f(f.length - 3)),
          f(f.length - 2).toInt,
          f.last.split(",", -1).toSeq.filter(_.nonEmpty).map(dec))))
      else (f, None)
    // deletion vectors ride as a fixed 3-field tail under the lineage
    // tail; every dv-free core is <= 4 fields with "S" (never "V") at
    // the probe position, so the marker cannot collide either
    val (core, dvt) =
      if (c1.length >= 4 && c1(c1.length - 3) == "V")
        (c1.dropRight(3), Some((c1(c1.length - 2).toLong,
          c1.last.split(",", -1).toSeq.filter(_.nonEmpty).map(dec))))
      else (c1, None)
    val e = core match {
      case Array(n)           => Entry(n, NoStats)
      case Array(n, "E")      => Entry(n, EmptyRange)
      case Array(n, "S", a, b) => Entry(n, StrRange(dec(a), dec(b)))
      // legacy impossible-range sentinels (mn > mx) normalize to E
      case Array(n, a, b) =>
        val (mn, mx) = (a.toLong, b.toLong)
        Entry(n, if (mn <= mx) LongRange(mn, mx) else EmptyRange)
      case _ => throw new IllegalArgumentException(s"bad manifest line: $l")
    }
    e.copy(lineage = lin,
      dvs = dvt.map(_._2).getOrElse(Nil),
      dvRows = dvt.map(_._1).getOrElse(0L))
  }

  /** The CONTENT IDENTITY of an entry for the change-feed diff: the
    * file name alone when no deletion vectors apply (an immutable
    * file's name denotes exactly its rows), else the name plus the
    * sorted dv list (visible rows = the file minus those dv keys —
    * dv sidecars are immutable too, so the list IS the identity). Two
    * manifests sharing a unit id are guaranteed the same visible rows
    * for it. */
  private def unitId(e: Entry): String =
    if (e.dvs.isEmpty) e.name else e.name + "#" + e.dvs.sorted.mkString(",")

  private case class Manifest(ddl: String, statsCol: Option[String],
                              entries: Seq[Entry])

  private def fsFor(spark: SparkSession, dir: Path): FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versions(fs: FileSystem, dir: Path): Seq[Int] =
    Option(fs.globStatus(new Path(dir, "manifest-*.txt")))
      .getOrElse(Array.empty).toSeq
      .flatMap(st => st.getPath.getName match {
        case ManifestRe(n) => Some(n.toInt)
        case _             => None
      }).sorted

  private def manifestPath(dir: Path, v: Int): Path =
    new Path(dir, f"manifest-$v%010d.txt")

  private def readManifest(fs: FileSystem, dir: Path, v: Int): Manifest = {
    val in = fs.open(manifestPath(dir, v))
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    Manifest(lines.head,
      Some(lines(1)).filter(_ != "-"),
      lines.drop(2).map(parseEntry))
  }

  /** Publish version `v`: write the manifest under a `_tmp-` name,
    * then commit it onto the versioned name with an EXCLUSIVE
    * no-overwrite step — never a blind rename, which on local
    * filesystems and object stores silently replaces an existing
    * destination (two racing writers would both "win" and one commit
    * would vanish). On `file://` the commit is a POSIX hard link:
    * atomic, and raises if the destination exists. Elsewhere it is
    * rename-if-absent, atomic no-overwrite exactly where the FS
    * contract provides it (HDFS) — the per-filesystem commit
    * requirement the public formats document as their LogStore. A
    * lost race raises [[VersionConflictException]] for the caller's
    * retry loop. */
  private def publish(fs: FileSystem, dir: Path, v: Int, m: Manifest): Unit = {
    // fail FAST on filesystems with no atomic no-overwrite commit
    // primitive (object stores: exists()+rename() is check-then-act,
    // two racers can both pass and one manifest silently vanishes —
    // the public formats solve this with per-scheme LogStores / an
    // external commit service). file:// commits via hard link; HDFS
    // rename-if-absent is atomic by its own contract; anything else
    // must opt in explicitly, acknowledging single-writer discipline.
    require(fs.getScheme == "file" || fs.getScheme == "hdfs" ||
      fs.getScheme == "viewfs" ||
      fs.getConf.getBoolean("graft.mergetable.allowNonAtomicCommit", false),
      s"filesystem scheme '${fs.getScheme}' provides no atomic no-overwrite " +
        "rename contract, so optimistic concurrency cannot be guaranteed — " +
        "set graft.mergetable.allowNonAtomicCommit=true only under an " +
        "external single-writer guarantee")
    val tmp = new Path(dir, s"_tmp-manifest-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(
      (Seq(m.ddl, m.statsCol.getOrElse("-")) ++ m.entries.map(_.line))
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = manifestPath(dir, v)
    val committed =
      if (fs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else !fs.exists(dst) && fs.rename(tmp, dst)
    fs.delete(tmp, false)
    if (!committed)
      throw new VersionConflictException(
        s"version $v already published (concurrent writer) — retrying from latest")
  }

  /** Bounded optimistic-concurrency loop: `body` resolves the latest
    * manifest itself, so each retry re-derives against the winner's
    * version. Staged files of a lost attempt are unreferenced debris
    * (vacuum collects); re-running the body is safe because mutations
    * are deterministic in (base manifest, arguments). */
  private def withOccRetry[T](what: String)(body: => T): T = {
    var last: VersionConflictException = null
    var i = 0
    try {
      while (i < OccAttempts) {
        try return body
        catch { case e: VersionConflictException => last = e; i += 1 }
      }
    } finally
      // a test-armed hook applies to THIS mutator invocation only —
      // if the body threw before firing it, clearing here keeps the
      // stale hook from detonating inside an unrelated later mutator
      this.synchronized { midCommitHook = () => () }
    throw new java.io.IOException(
      s"$what lost the version race $OccAttempts times", last)
  }

  private def fireMidCommitHook(): Unit = {
    // read-then-clear under the lock so concurrent mutators can never
    // both claim (or tear) one armed hook
    val hook = this.synchronized {
      val h = midCommitHook
      midCommitHook = () => ()
      h
    }
    hook()
  }

  /** Write `df` into an invisible `_stage-` dir and rename each part
    * into the table root under `name(i)` — the one staging dance both
    * data files and dv sidecars ride. */
  private def stageParts(df: DataFrame, dir: Path, fs: FileSystem,
                         name: Int => String): Seq[String] = {
    val stageDir = new Path(dir, s"_stage-${UUID.randomUUID()}")
    df.write.parquet(stageDir.toString)
    val parts = Option(fs.globStatus(new Path(stageDir, "part-*.parquet")))
      .getOrElse(Array.empty).toSeq
    val renamed = parts.zipWithIndex.map { case (st, i) =>
      val n = name(i)
      if (!fs.rename(st.getPath, new Path(dir, n)))
        throw new java.io.IOException(s"could not stage ${st.getPath}")
      n
    }
    fs.delete(stageDir, true)
    renamed
  }

  /** Stage a DataFrame as immutable data files: Spark writes into an
    * invisible `_stage-` dir, then each part renames to a unique
    * `data-*.parquet` in the table root — ONE Spark write, and no
    * further job: when a stats column is tracked, each staged file's
    * true [min, max] comes from the parquet footer the write just
    * produced ([[fileStats]]), so only footers, never rows, reach the
    * driver. A part whose stats column is entirely NULL (or which
    * holds zero rows) carries the impossible range: it can never hold
    * a probe hit, so range pruning skips it — never an NPE mid-write.
    * Until a manifest lists them the files are unreferenced (readers
    * resolve manifests, never glob data files). */
  private def stage(df: DataFrame, dir: Path, fs: FileSystem,
                    statsCol: Option[String]): Seq[Entry] = {
    val renamed = stageParts(df, dir, fs,
      i => s"data-${UUID.randomUUID()}-$i.parquet")
    statsCol match {
      case None => renamed.map(Entry(_, NoStats))
      case Some(c) =>
        val stats = fileStats(df.sparkSession, dir, renamed, c,
          df.schema(c).dataType == StringType)
        renamed.map(n => Entry(n, stats(n)))
    }
  }

  /** Per-file [[Stats]] of column `c` for the data files `names` under
    * `dir`: from each file's parquet footer ([[footerStats]], driver
    * metadata reads, no Spark job), falling back to ONE scan grouped by
    * `_metadata.file_path` ([[scanStats]]) for only the files whose
    * footer cannot answer. */
  private[graft] def fileStats(spark: SparkSession, dir: Path, names: Seq[String],
                               c: String, isStr: Boolean): Map[String, Stats] = {
    val fromFooter = names.map(n =>
      n -> footerStats(spark, new Path(dir, n), c, isStr)).toMap
    val unknown = names.filter(fromFooter(_).isEmpty)
    val scanned =
      if (unknown.isEmpty) Map.empty[String, Stats]
      else scanStats(spark, dir, unknown, c, isStr)
    names.map(n => n -> fromFooter(n).getOrElse(scanned(n))).toMap
  }

  /** The file's [min, max] of top-level column `c` merged over its row
    * groups' footer statistics, in the column's parquet order — signed
    * for INT64, unsigned byte order for UTF-8 strings, i.e. Spark's own
    * ([[utf8Cmp]]). Zero rows, or all values NULL, is [[EmptyRange]].
    * None when any non-empty row group lacks a usable min/max: parquet
    * drops min/max values over 4 KB (NULL counts stay), and a writer
    * may disable statistics. (A truncated string min/max only widens
    * the range — a prefix min, an incremented max — so it adds
    * candidates, never misses one.) */
  private[graft] def footerStats(spark: SparkSession, file: Path, c: String,
                                 isStr: Boolean): Option[Stats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
    val chunks = blocks.filter(_.getRowCount > 0).map { b =>
      b -> b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(c)))
        .map(_.getStatistics).orNull
    }
    val answered = chunks.forall { case (b, s) =>
      s != null && (s.hasNonNullValue ||
        (s.isNumNullsSet && s.getNumNulls == b.getRowCount))
    }
    if (!answered) None
    else chunks.map(_._2).filter(_.hasNonNullValue) match {
      case Seq() => Some(EmptyRange)
      case s0 +: rest =>
        val all = s0.copy()
        rest.foreach(s => all.mergeStatistics(s))
        Some(
          if (isStr) StrRange(
            all.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
            all.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8)
          else LongRange(all.genericGetMin.asInstanceOf[java.lang.Long],
            all.genericGetMax.asInstanceOf[java.lang.Long]))
    }
  }

  /** Per-file [min, max] of `c` by reading the files back: one scan
    * grouped by `_metadata.file_path`, so data-sized work stays in
    * executors and only #files stat rows reach the driver. */
  private[graft] def scanStats(spark: SparkSession, dir: Path, names: Seq[String],
                               c: String, isStr: Boolean): Map[String, Stats] = {
    val found = spark.read
      .parquet(names.map(n => new Path(dir, n).toString): _*)
      .select(col(c), col("_metadata.file_path").as("__mt_file"))
      .groupBy("__mt_file")
      .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
      .collect()
      .flatMap { r =>
        if (r.isNullAt(1) || r.isNullAt(2)) None
        else {
          val p = r.getString(0)
          // key by basename: staged names are UUID-unique, so the
          // map lookup replaces an O(#files^2) suffix scan
          Some((p.substring(p.lastIndexOf('/') + 1),
            if (isStr) StrRange(r.getString(1), r.getString(2))
            else LongRange(r.getLong(1), r.getLong(2)): Stats))
        }
      }
      .toMap
    // zero rows or all-NULL stats: no range to track — the empty
    // range prunes the file from every probe
    names.map(n => n -> found.getOrElse(n, EmptyRange)).toMap
  }

  /** The ONE validation pass over a mutation's keys — the invariant
    * every tracked table maintains (see KEY DISCIPLINE): `upserts` keys
    * must be non-NULL and unique, and disjoint from the `deletes` keys
    * (NULL delete keys match nothing and are ignored). A single global
    * aggregate answered by `collect()`: no Limit plan, whose generated
    * class numbers its counter from a JVM-wide sequence and so can
    * never hit the codegen cache. A `collapsed` batch (an epoch already
    * reduced to latest-per-key, so unique and disjoint by
    * construction) skips the per-key grouping that proves those two
    * and is only checked for NULL upsert keys. Each failure mode has
    * its own message, so a NULL-key batch is not misdiagnosed as
    * duplicates. Returns whether the batch touches any non-NULL key —
    * false is an empty batch. */
  private def checkKeys(upserts: DataFrame, deletes: Option[DataFrame], key: String,
                        what: String, collapsed: Boolean = false): Boolean = {
    val k = col(key)
    val tagged = (upserts.select(k, lit(1L).as("__mt_nu"), lit(0L).as("__mt_nd")) +:
      deletes.toSeq.map(_.select(k, lit(0L).as("__mt_nu"), lit(1L).as("__mt_nd"))))
      .reduce(_.unionByName(_))
    val perKey =
      if (collapsed) tagged
      else tagged.groupBy(k)
        .agg(sum("__mt_nu").as("__mt_nu"), sum("__mt_nd").as("__mt_nd"))
    val (nu, nd, live) = (col("__mt_nu"), col("__mt_nd"), k.isNotNull)
    val proofs =
      if (collapsed) Nil
      else Seq(count_if(live && nu > 1), count_if(live && nu > 0 && nd > 0))
    val r = perKey.agg(coalesce(sum(when(k.isNull, nu)), lit(0L)),
      count_if(live) +: proofs: _*).collect()(0)
    require(r.getLong(0) == 0,
      s"$what carries ${r.getLong(0)} NULL '$key' value(s) — NULL merge keys " +
        "cannot match range pruning or the key join and are not supported")
    if (!collapsed) {
      require(r.getLong(2) == 0,
        s"$what carries duplicate '$key' values — ambiguous merge")
      require(r.getLong(3) == 0,
        "a key appears as BOTH upsert and delete in one epoch — collapse the " +
          "batch to latest-per-key first (apply order would be ambiguous)")
    }
    r.getLong(1) > 0
  }

  /** Create a table at `path` from `df` as version 0. Pass the merge
    * key as `statsCol` (a LONG or STRING column — the latter is the
    * reference's RECID shape) to track per-file key ranges — the
    * file-skipping metadata later merges prune with. A tracked key is
    * validated non-NULL and unique here; merges preserve both by
    * construction. */
  def create(df: DataFrame, path: String,
             statsCol: Option[String] = None): Unit = {
    val dir = new Path(path)
    val fs = fsFor(df.sparkSession, dir)
    fs.mkdirs(dir)
    require(versions(fs, dir).isEmpty, s"$path already holds a MergeTable")
    statsCol.foreach { c =>
      val t = df.schema(c).dataType
      require(t == LongType || t == StringType,
        s"stats column '$c' must be LONG or STRING, got $t")
      checkKeys(df, None, c, "initial data")
    }
    publish(fs, dir, 0, Manifest(df.schema.toDDL, statsCol,
      stage(df, dir, fs, statsCol)))
  }

  /** The latest version's schema at metadata cost (manifest DDL only
    * — no snapshot read, no file index). */
  def tableSchema(spark: SparkSession, path: String): StructType = {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val vs = versions(fs, dir)
    require(vs.nonEmpty, s"no MergeTable at $path")
    StructType.fromDDL(readManifest(fs, dir, vs.last).ddl)
  }

  /** Latest version number, or -1 if the table does not exist. */
  def latestVersion(spark: SparkSession, path: String): Int = {
    val dir = new Path(path)
    versions(fsFor(spark, dir), dir).lastOption.getOrElse(-1)
  }

  /** All retained (readable / time-travelable) version numbers —
    * what `vacuum` has not dropped. Consumers holding a version
    * watermark (e.g. IncrementalView) check it here before asking
    * for a feed from it. */
  def retainedVersions(spark: SparkSession, path: String): Seq[Int] = {
    val dir = new Path(path)
    versions(fsFor(spark, dir), dir)
  }

  /** Read a snapshot: the latest manifest, or an explicit retained
    * `version` (time travel). The manifest's schema is authoritative
    * — an empty version still answers with the right columns, and a
    * pre-evolution version answers with ITS schema. */
  def read(spark: SparkSession, path: String, version: Int = -1): DataFrame = {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val vs = versions(fs, dir)
    require(vs.nonEmpty, s"no MergeTable at $path")
    val v = if (version >= 0) version else vs.last
    require(vs.contains(v), s"version $v not present (have ${vs.mkString(",")})")
    val m = readManifest(fs, dir, v)
    fromEntries(spark, dir, StructType.fromDDL(m.ddl), m.entries, m.statsCol)
  }

  /** TIME TRAVEL BY TIMESTAMP: the newest retained version whose
    * manifest was PUBLISHED at or before `tsMillis` — manifest mtime,
    * stamped by the filesystem at commit, is the publication record
    * (the public formats' timestamp-as-of resolution; mtimes are
    * monotone across versions because publishes are sequential).
    * Versions dropped by `vacuum` are not resolvable: asking for a
    * time before the earliest retained manifest is an error, never a
    * silent answer from the wrong snapshot. */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val vs = versions(fs, dir)
    require(vs.nonEmpty, s"no MergeTable at $path")
    val at = vs.filter(v =>
      fs.getFileStatus(manifestPath(dir, v)).getModificationTime <= tsMillis)
    require(at.nonEmpty,
      s"no retained version of $path existed at $tsMillis — the earliest " +
        "retained manifest is newer (vacuumed history is not resolvable)")
    at.last
  }

  /** Read the snapshot current as of `tsMillis` — see [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, versionAsOf(spark, path, tsMillis))

  /** Range read over a LONG stats column: files whose [min, max]
    * cannot intersect [lo, hi] are never OPENED (manifest-level
    * skipping on top of parquet's own row-group stats); the residual
    * filter applies to the candidates. */
  def readRange(spark: SparkSession, path: String, lo: Long, hi: Long): DataFrame = {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val m = readManifest(fs, dir, versions(fs, dir).last)
    val c = m.statsCol.getOrElse(
      throw new IllegalArgumentException(s"$path tracks no stats column"))
    val live = m.entries.filter(_.stats match {
      case NoStats         => true // conservative: no metadata to skip on
      case EmptyRange      => false
      case LongRange(a, b) => a <= hi && b >= lo
      case _: StrRange =>
        throw new IllegalArgumentException(s"$path tracks STRING stats — use a string range")
    })
    fromEntries(spark, dir, StructType.fromDDL(m.ddl), live, m.statsCol)
      .filter(col(c) >= lo && col(c) <= hi)
  }

  /** Spark compares strings by UNSIGNED UTF-8 BYTE order (UTF8String),
    * which differs from String.compareTo (UTF-16 code units) for
    * supplementary characters — the manifest's string min/max were
    * computed by Spark, so the driver-side overlap test must use the
    * same order or a file could be wrongly pruned. */
  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** Range read over a STRING stats column (the reference's RECID
    * shape — e.g. all records of one application via a prefix range):
    * the same manifest-level skipping as the LONG variant, with the
    * overlap test in Spark's own UTF-8 byte order and the exact
    * residual on the candidates. */
  def readRange(spark: SparkSession, path: String, lo: String, hi: String): DataFrame = {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val m = readManifest(fs, dir, versions(fs, dir).last)
    val c = m.statsCol.getOrElse(
      throw new IllegalArgumentException(s"$path tracks no stats column"))
    val live = m.entries.filter(_.stats match {
      case NoStats        => true // conservative: no metadata to skip on
      case EmptyRange     => false
      case StrRange(a, b) => utf8Cmp(a, hi) <= 0 && utf8Cmp(b, lo) >= 0
      case _: LongRange =>
        throw new IllegalArgumentException(s"$path tracks LONG stats — use a long range")
    })
    fromEntries(spark, dir, StructType.fromDDL(m.ddl), live, m.statsCol)
      .filter(col(c) >= lo && col(c) <= hi)
  }

  /** PREFIX READ over a STRING stats column — the T24 APPLICATION
    * SCAN ("all FUNDS.TRANSFER records"): RECIDs of one application
    * share its prefix, and prefix-sharing keys are CONTIGUOUS in
    * UTF-8 byte order, so the prefix is exactly the range
    * [prefix, nextPrefix) and manifest-level file skipping applies
    * unchanged; the residual `startswith` pushes to the parquet scan.
    * On an application-clustered layout the scan opens O(application
    * size / file size) files, never the table. */
  def readPrefix(spark: SparkSession, path: String, prefix: String): DataFrame = {
    require(prefix.nonEmpty,
      "an empty prefix matches the whole table — use read()")
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val m = readManifest(fs, dir, versions(fs, dir).last)
    val c = m.statsCol.getOrElse(
      throw new IllegalArgumentException(s"$path tracks no stats column"))
    val pb = prefix.getBytes(StandardCharsets.UTF_8)
    // smallest byte string above every prefix extension: strip the
    // trailing 0xFF run, bump the last remaining byte; an all-0xFF
    // prefix has no upper bound (everything >= it matches the check)
    val upper: Option[Array[Byte]] = {
      var i = pb.length - 1
      while (i >= 0 && pb(i) == 0xFF.toByte) i -= 1
      if (i < 0) None
      else Some(pb.take(i + 1).updated(i, (pb(i) + 1).toByte))
    }
    def cmp(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
    val live = m.entries.filter(_.stats match {
      case NoStats        => true // conservative: no metadata to skip on
      case EmptyRange     => false
      case StrRange(a, b) =>
        cmp(b.getBytes(StandardCharsets.UTF_8), pb) >= 0 &&
          upper.forall(u => cmp(a.getBytes(StandardCharsets.UTF_8), u) < 0)
      case _: LongRange =>
        throw new IllegalArgumentException(
          s"$path tracks LONG stats — prefix scans need a STRING key")
    })
    fromEntries(spark, dir, StructType.fromDDL(m.ddl), live, m.statsCol)
      .filter(col(c).startsWith(prefix))
  }

  /** BATCH KEY LOOKUP: the read-side analog of [[deleteKeys]] — the
    * snapshot restricted to the files whose tracked range can hold
    * any of `keys` (the same metadata-only candidate probe merges
    * use; LONG or STRING key), then the exact semi-join. At 100 TB a
    * point or batch lookup opens O(hit files), never the table — the
    * CDC serving path (fetch current records for a RECID batch)
    * without an external index. */
  def readKeys(spark: SparkSession, path: String, keys: DataFrame,
               key: String): DataFrame = {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val m = readManifest(fs, dir, versions(fs, dir).last)
    val ks = keys.select(col(key)).na.drop().distinct()
    val hits = candidateFiles(spark, dir, m, ks, key)
    fromEntries(spark, dir, StructType.fromDDL(m.ddl), hits, m.statsCol)
      .join(ks, Seq(key), "left_semi")
  }

  /** Resolve entries to their VISIBLE rows: plain parquet reads for
    * dv-free entries; entries carrying deletion vectors anti-join the
    * (broadcast-small by contract) dv sidecars scoped per file — a
    * key deleted from file F and later re-inserted into a fresh file
    * is untouched, because the dv row names F. `withFileCol` keeps a
    * `__mt_file` column (the full file path) for callers that map
    * rows back to entries. */
  private def fromEntries(spark: SparkSession, dir: Path, schema: StructType,
                          entries: Seq[Entry],
                          statsCol: Option[String] = None,
                          withFileCol: Boolean = false): DataFrame = {
    val outSchema =
      if (withFileCol)
        schema.add(StructField("__mt_file",
          StringType, nullable = false))
      else schema
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    def raw(es: Seq[Entry], needFile: Boolean): DataFrame = {
      val base = spark.read.schema(schema)
        .parquet(es.map(e => new Path(dir, e.name).toString): _*)
      if (needFile) base.withColumn("__mt_file", col("_metadata.file_path"))
      else base
    }
    val (dirty, clean) = entries.partition(_.dvs.nonEmpty)
    if (dirty.isEmpty) raw(clean, withFileCol)
    else {
      val key = statsCol.getOrElse(throw new IllegalStateException(
        "deletion vectors require a tracked stats key (unreachable: " +
          "deleteKeysMor enforces it at write time)"))
      val dv = spark.read.parquet(
        dirty.flatMap(_.dvs).distinct.map(n => new Path(dir, n).toString): _*)
      // dv sidecars are broadcast-small by contract, but the manifest
      // KNOWS how small (dvRows accrues per entry at delete time) —
      // past a driver-safe bound, drop the hint and let the planner
      // shuffle rather than OOM the driver on a pathological backlog
      val dvSide =
        if (dirty.map(_.dvRows).sum <= 5000000L) broadcast(dv) else dv
      val applied0 = raw(dirty, needFile = true)
        .join(dvSide,
          element_at(split(col("__mt_file"), "/"), -1) === col("__dv_file") &&
            col(key) === col("__dv_k"),
          "left_anti")
      val applied =
        if (withFileCol) applied0 else applied0.drop("__mt_file")
      if (clean.isEmpty) applied
      else raw(clean, withFileCol).unionByName(applied)
    }
  }

  /** File-range probe via BINNED EQUI-JOIN: the manifest's ranges
    * rasterize driver-side onto fixed-width bins (bin width chosen so
    * the raster stays <= ~8 entries per file — metadata scale); each
    * key computes its bin with pure integer arithmetic and
    * BROADCAST-HASH-joins the raster on the bin, with the exact
    * [mn, mx] residual applied after the hash match. Same answer as
    * the naive theta join (the residual makes it exact), but the work
    * per key is the files overlapping ONE bin, not all files. Spans
    * wider than 2^62 (arithmetic would overflow) fall back to the
    * theta probe. */
  private[graft] def rangeCandidates(keys: DataFrame, key: String,
                                     ranged: Seq[(String, Long, Long)]): Set[String] = {
    val live = ranged.filter(e => e._2 <= e._3)
    if (live.isEmpty) return Set.empty
    val gmin = live.map(_._2).min
    val gmax = live.map(_._3).max
    val span = BigInt(gmax) - BigInt(gmin) + 1
    if (span > BigInt(Long.MaxValue) / 2)
      return rangeCandidatesTheta(keys, key, live)
    binnedProbe(
      keys.select(col(key).as("__mt_k")).na.drop().distinct()
        .filter(col("__mt_k") >= gmin && col("__mt_k") <= gmax)
        .withColumn("__mt_kb", col("__mt_k")),
      raster => raster.withColumn("__mt_resid",
        col("__mt_k") >= col("__mt_mn") && col("__mt_k") <= col("__mt_mx")),
      live, gmin, span)
  }

  /** The shared binned core: `live` carries (name, binMin, binMax) in
    * an order-preserving non-negative integer bin space; `keysBinned`
    * carries the probe value (`__mt_k`) plus its bin-space image
    * (`__mt_kb`); `addResidual` appends the exact `__mt_resid`
    * predicate (true string/long bounds) evaluated after the bin hash
    * match — bins are conservative, the residual makes the candidate
    * set exact. */
  private def binnedProbe(keysBinned: DataFrame,
                          addResidual: DataFrame => DataFrame,
                          live: Seq[(String, Long, Long)],
                          gmin: Long, span: BigInt): Set[String] = {
    val spark = keysBinned.sparkSession
    // bin width: start near 4 bins/file and widen until the raster
    // totals <= 8 entries/file (a file spanning the whole key space
    // cannot blow the raster up to #files x #bins)
    def rasterSize(w: Long): Long =
      live.map(e => (e._3 - gmin) / w - (e._2 - gmin) / w + 1).sum
    var nBins = math.min(4L * live.size, 1L << 20)
    def widthFor(n: Long): Long =
      ((span + n - 1) / n).max(1).toLong
    var w = widthFor(nBins)
    while (nBins > 1 && rasterSize(w) > 8L * live.size) {
      nBins /= 2; w = widthFor(nBins)
    }
    val raster = live.flatMap(e =>
      ((e._2 - gmin) / w to (e._3 - gmin) / w).map(b =>
        (b, e._1, e._2, e._3)))
    val rasterDf = spark.createDataFrame(raster)
      .toDF("__mt_bin", "__mt_name", "__mt_mn", "__mt_mx")
    addResidual(keysBinned
      .withColumn("__mt_bin", expr(s"(__mt_kb - ${gmin}L) div ${w}L"))
      .join(broadcast(rasterDf), Seq("__mt_bin")))
      .filter(col("__mt_resid"))
      .select("__mt_name").distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** The naive per-key linear probe (#keys x #files comparisons) —
    * the overflow fallback, and the spec's equality oracle for the
    * binned probe. */
  private[graft] def rangeCandidatesTheta(keys: DataFrame, key: String,
                                          ranged: Seq[(String, Long, Long)]): Set[String] = {
    val spark = keys.sparkSession
    val ranges = spark.createDataFrame(ranged)
      .toDF("__mt_name", "__mt_mn", "__mt_mx")
    keys.select(col(key)).na.drop().distinct()
      .join(broadcast(ranges),
        col(key) >= col("__mt_mn") && col(key) <= col("__mt_mx"))
      .select("__mt_name").distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** First 7 UTF-8 bytes of a string, zero-padded, as a non-negative
    * Long. ORDER-PRESERVING for Spark's binary string comparison
    * (UTF8 bytes compared unsigned): s1 <= s2 implies u56(s1) <=
    * u56(s2), so a key inside a file's true string range always lands
    * inside the file's u56 bin span — the string probe's bin space.
    * Strings sharing their first 7 bytes share a u56 (same bin); the
    * exact string residual decides. */
  private[graft] def u56(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    v
  }

  /** The same string-to-u56 mapping as a pure column expression (hex
    * of the first 7 bytes, zero-right-padded, parsed base 16 — all
    * codegen builtins, no UDF). */
  private def u56Col(c: Column): Column =
    conv(rpad(hex(substring(c.cast("binary"), lit(1), lit(7))), 14, "0"), 16, 10)
      .cast(LongType)

  /** STRING-key file-range probe (the reference's RECID shape): bins
    * live in u56 space (order-preserving 7-byte prefix), the residual
    * compares the TRUE string bounds — exact, never just the prefix.
    * Same binned-equi-join scaling argument as the LONG probe; u56
    * spans fit in 2^56, so no overflow fallback is needed. */
  private[graft] def strRangeCandidates(keys: DataFrame, key: String,
                                        ranged: Seq[(String, String, String)]): Set[String] = {
    if (ranged.isEmpty) return Set.empty
    val asBins = ranged.map(e => (e._1, u56(e._2), u56(e._3)))
    val gmin = asBins.map(_._2).min
    val gmax = asBins.map(_._3).max
    val spark = keys.sparkSession
    val boundsDf = spark.createDataFrame(ranged)
      .toDF("__mt_name", "__mt_smn", "__mt_smx")
    binnedProbe(
      keys.select(col(key).as("__mt_k")).na.drop().distinct()
        .withColumn("__mt_kb", u56Col(col("__mt_k")))
        .filter(col("__mt_kb") >= gmin && col("__mt_kb") <= gmax),
      raster => raster.join(broadcast(boundsDf), Seq("__mt_name"))
        .withColumn("__mt_resid",
          col("__mt_k") >= col("__mt_smn") && col("__mt_k") <= col("__mt_smx")),
      asBins, gmin, BigInt(gmax) - BigInt(gmin) + 1)
  }

  /** String theta probe — the spec's equality oracle. */
  private[graft] def strRangeCandidatesTheta(keys: DataFrame, key: String,
                                             ranged: Seq[(String, String, String)]): Set[String] = {
    val spark = keys.sparkSession
    val ranges = spark.createDataFrame(ranged)
      .toDF("__mt_name", "__mt_smn", "__mt_smx")
    keys.select(col(key)).na.drop().distinct()
      .join(broadcast(ranges),
        col(key) >= col("__mt_smn") && col(key) <= col("__mt_smx"))
      .select("__mt_name").distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Candidate files for a set of keys: with tracked ranges this is a
    * metadata-only probe of the (distinct) keys against the manifest
    * range table ([[rangeCandidates]] / [[strRangeCandidates]] per
    * the tracked column's type) — the base is never scanned; a false
    * positive only costs rewrite volume, never correctness (ranges
    * are true min/max, so every real hit file is a candidate).
    * Without stats it falls back to scanning the base for
    * `_metadata.file_path` hits. */
  private def candidateFiles(spark: SparkSession, dir: Path, m: Manifest,
                             keys: DataFrame, key: String): Seq[Entry] =
    m.statsCol match {
      case Some(c) if c == key =>
        val longR = m.entries.collect {
          case Entry(n, LongRange(a, b), _, _, _) => (n, a, b) }
        val strR = m.entries.collect {
          case Entry(n, StrRange(a, b), _, _, _) => (n, a, b) }
        val hit = rangeCandidates(keys, key, longR) ++
          strRangeCandidates(keys, key, strR)
        // entries with no metadata at all stay conservative
        // candidates; EmptyRange prunes by construction
        val statless = m.entries.filter(_.stats == NoStats)
        m.entries.filter(e => hit.contains(e.name)) ++ statless
      case _ =>
        val base = fromEntries(spark, dir, StructType.fromDDL(m.ddl),
          m.entries, m.statsCol, withFileCol = true)
        val hitPaths = base
          .join(keys.select(col(key)).distinct(), Seq(key))
          .select("__mt_file").distinct()
          .collect().map(_.getString(0)).toSet
        m.entries.filter(e => hitPaths.exists(_.endsWith("/" + e.name)))
    }


  /** Schema evolution contract shared by [[merge]] and [[applyBatch]]:
    * updates may ADD columns (the manifest DDL widens; pre-evolution
    * files null-fill at read), never drop or retype existing ones —
    * an update row replaces its whole base row, and a coerced union
    * would write files disagreeing with the manifest DDL. */
  private def evolvedSchema(schema: StructType, updates: DataFrame): StructType = {
    val missing = schema.fieldNames.toSet -- updates.columns.toSet
    require(missing.isEmpty,
      s"updates miss table column(s) ${missing.mkString(",")} — an update row " +
        "replaces its whole base row, so every table column is required")
    schema.fields.foreach { f =>
      require(updates.schema(f.name).dataType == f.dataType,
        s"column '${f.name}' type mismatch: table has ${f.dataType.sql}, " +
          s"updates carry ${updates.schema(f.name).dataType.sql} — " +
          "schema evolution adds columns, it never retypes")
    }
    val added = updates.columns.filterNot(schema.fieldNames.contains)
    StructType(schema.fields ++ added.map(c =>
      StructField(c, updates.schema(c).dataType, nullable = true)))
  }

  /** The upserts' size in bytes when their plan can state it: leaves
    * whose size is measured (a loaded cache, a file scan, local rows, a
    * range) under projections, filters and unions only, none of which
    * multiplies rows. None otherwise — without CBO a join's or an
    * aggregate's estimate is a guess (an inner join's is the product of
    * its sides). */
  private def measuredBytes(df: DataFrame): Option[BigInt] = {
    def measured(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: Union => p.children.forall(measured)
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      case _: LogicalRelation | _: LocalRelation | _: Range => true
      case _ => false
    }
    val plan = df.queryExecution.optimizedPlan
    if (measured(plan)) Some(plan.stats.sizeInBytes) else None
  }

  /** Lay out a tracked table's rewrite: one that fits in
    * [[SmallFileBytes]] lands as ONE file, through a single-partition
    * exchange (no sampling job). A steady epoch's hot range then stays
    * in one file, and the next epoch on the same keys hits that file
    * alone, not every file a parallel write spread them over. Bytes are
    * the hit files' lengths plus the upserts' [[measuredBytes]]. Larger
    * rewrites keep the write's own parallel partitioning — a range
    * shuffle there costs a sampling pass and a second shuffle of every
    * rewritten row — as do untracked tables and upserts whose size is
    * only a guess: a guess must not decide that one task writes it
    * all. */
  private def layout(rows: DataFrame, ups: DataFrame, hits: Seq[Entry],
                     dir: Path, fs: FileSystem,
                     statsCol: Option[String]): DataFrame = {
    def small = measuredBytes(ups).exists(upBytes => upBytes +
      hits.map(e => fs.getFileStatus(new Path(dir, e.name)).getLen).sum <= SmallFileBytes)
    if (statsCol.isDefined && small) rows.repartition(1) else rows
  }

  /** The copy-on-write body [[merge]] and [[applyBatch]] share, run
    * under the OCC retry: candidate files (range-overlap when the key is
    * the tracked stats column — found WITHOUT scanning the base) of
    * the upsert keys plus the non-NULL `deletes` keys rewrite as their
    * unmatched survivors + every upsert row, laid out by [[layout]];
    * all other files carry into the new manifest untouched. `empty`
    * (no key touched) commits nothing and returns the current
    * version. */
  private def commitUpserts(spark: SparkSession, path: String, what: String,
                            upserts: DataFrame, deletes: Option[DataFrame],
                            key: String, empty: Boolean = false): Int =
    withOccRetry(s"$what into $path") {
      val dir = new Path(path)
      val fs = fsFor(spark, dir)
      val v = versions(fs, dir).last
      val m = readManifest(fs, dir, v)
      val newSchema = evolvedSchema(StructType.fromDDL(m.ddl), upserts)
      if (empty) v
      else {
        val ups = upserts.select(newSchema.fieldNames.map(col).toIndexedSeq: _*)
        val touched = (ups.select(col(key)) +: deletes.toSeq).reduce(_.unionByName(_))
        val hits = candidateFiles(spark, dir, m, touched, key)
        val hitNames = hits.map(_.name).toSet
        val survivors =
          if (hits.isEmpty) ups // pure append
          else fromEntries(spark, dir, newSchema, hits, m.statsCol)
            .join(touched, Seq(key), "left_anti")
            .select(newSchema.fieldNames.map(col).toIndexedSeq: _*)
            .unionByName(ups)
        val rewritten = stage(layout(survivors, ups, hits, dir, fs, m.statsCol),
          dir, fs, m.statsCol)
        fireMidCommitHook()
        publish(fs, dir, v + 1,
          Manifest(newSchema.toDDL, m.statsCol,
            m.entries.filterNot(e => hitNames(e.name)) ++ rewritten))
        v + 1
      }
    }

  /** MERGE (upsert) by `key`: rows of `updates` replace same-key base
    * rows, new keys append. Copy-on-write with FILE PRUNING: only
    * candidate files (range-overlap when the key is the tracked
    * stats column — found WITHOUT scanning the base) are rewritten
    * (their unmatched survivors + every update row land in fresh
    * files — one file for a small rewrite of a tracked table, see
    * [[layout]]); all other files carry into the new manifest
    * untouched.
    * Returns the new version. `updates` must carry unique, non-NULL
    * keys — an ambiguous double-update is rejected, not resolved
    * silently. `updates` may carry NEW columns (schema evolution —
    * the manifest widens, pre-evolution files null-fill on read) but
    * never fewer than the table's. A lost publish race retries from
    * the new latest (bounded). */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            key: String): Int = {
    // key validation depends only on the batch, not the manifest —
    // run it ONCE, outside the OCC loop, so a contended merge never
    // re-pays the aggregation pass per retry
    checkKeys(updates, None, key, "updates")
    commitUpserts(spark, path, "merge", updates, None, key)
  }

  /** ONE-COMMIT EPOCH APPLY: upserts and deletes of one CDC epoch
    * land as a SINGLE new version — the [[merge]] + [[deleteKeys]]
    * composition without the double cost (one candidate probe, one
    * staging pass, one manifest commit; half the version churn
    * feeding the compaction loop). The two key sets must be DISJOINT
    * (the epoch-collapse contract: `latestPerKey` leaves each key
    * either an upsert or a delete — an overlap would make apply order
    * semantic and is rejected, not resolved silently). Either side
    * may be empty; an entirely empty epoch commits nothing and
    * returns the current version. Upserts may evolve the schema
    * exactly as [[merge]] does. Retries a lost publish race from the
    * new latest. Returns the version the epoch landed as.
    *
    * Spark actions per epoch on a tracked table: ONE validation
    * aggregate (NULL and duplicate upsert keys, upsert/delete overlap
    * and emptiness together — [[checkKeys]]), the candidate probe's
    * collect, and the staging write ([[layout]]: one file for a small
    * rewrite); file stats come from the written footers ([[stage]]).
    * An empty epoch stops after the first. */
  def applyBatch(spark: SparkSession, path: String, upserts: DataFrame,
                 deletes: DataFrame, key: String): Int =
    applyEpoch(spark, path, upserts, deletes, key, collapsed = false)

  /** [[applyBatch]], or with `collapsed` the form for an epoch already
    * reduced to latest-per-key (the `mergeApplySink` shape), whose keys
    * are unique and whose upserts and deletes are disjoint by
    * construction: its validation aggregate skips proving those two
    * and still rejects NULL upsert keys, and an empty epoch still
    * commits nothing. */
  private[graft] def applyEpoch(spark: SparkSession, path: String,
                                upserts: DataFrame, deletes: DataFrame,
                                key: String, collapsed: Boolean): Int = {
    val dels0 = deletes.select(col(key)).na.drop()
    val dels = if (collapsed) dels0 else dels0.distinct()
    val nonEmpty = checkKeys(upserts, Some(dels), key, "upserts", collapsed)
    commitUpserts(spark, path, "applyBatch", upserts, Some(dels), key,
      empty = !nonEmpty)
  }

  /** COW DELETE BY KEY SET: like [[deleteWhere]] but the doomed keys
    * arrive as a DataFrame (single `key` column) — the CDC-apply
    * shape, where a delete batch can be data-sized and must join, not
    * collect into a driver-side predicate. Only candidate files
    * (range-pruned like [[merge]]) rewrite. Retries a lost publish
    * race from the new latest. Returns the new version. */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
                 key: String): Int = withOccRetry(s"deleteKeys from $path") {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val v = versions(fs, dir).last
    val m = readManifest(fs, dir, v)
    val schema = StructType.fromDDL(m.ddl)
    val ks = keys.select(col(key)).na.drop().distinct()
    val hits = candidateFiles(spark, dir, m, ks, key)
    val hitNames = hits.map(_.name).toSet
    val next =
      if (hits.isEmpty) m.entries
      else {
        val survivors = fromEntries(spark, dir, schema, hits, m.statsCol)
          .join(ks, Seq(key), "left_anti")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        m.entries.filterNot(e => hitNames(e.name)) ++
          stage(survivors, dir, fs, m.statsCol)
      }
    fireMidCommitHook()
    publish(fs, dir, v + 1, m.copy(entries = next))
    v + 1
  }

  /** COW DELETE by arbitrary predicate: rewrites only the files
    * holding rows matching `cond`, found by ONE base scan (a general
    * predicate cannot be answered from key ranges — the documented
    * asymmetry vs [[deleteKeys]]); untouched files carry over. SQL
    * DELETE semantics: a row is deleted only where `cond` is TRUE —
    * rows where it evaluates NULL survive, in rewritten and carried
    * files alike (hit detection and the survivor filter share one
    * null-collapsed condition, so file placement can never decide a
    * row's fate). Retries a lost publish race. Returns the new
    * version. */
  def deleteWhere(spark: SparkSession, path: String, cond: Column): Int =
    withOccRetry(s"deleteWhere from $path") {
      val dir = new Path(path)
      val fs = fsFor(spark, dir)
      val v = versions(fs, dir).last
      val m = readManifest(fs, dir, v)
      val schema = StructType.fromDDL(m.ddl)
      val hitCond = coalesce(cond, lit(false))
      val base = fromEntries(spark, dir, schema, m.entries, m.statsCol,
        withFileCol = true)
      val hitPaths = base.filter(hitCond)
        .select("__mt_file").distinct()
        .collect().map(_.getString(0)).toSet
      val hits = m.entries.filter(e => hitPaths.exists(_.endsWith("/" + e.name)))
      val hitNames = hits.map(_.name).toSet
      val next =
        if (hits.isEmpty) m.entries
        else {
          val survivors = fromEntries(spark, dir, schema, hits, m.statsCol)
            .filter(!hitCond)
          m.entries.filterNot(e => hitNames(e.name)) ++
            stage(survivors, dir, fs, m.statsCol)
        }
      publish(fs, dir, v + 1, m.copy(entries = next))
      v + 1
    }

  /** Write a deletion-vector sidecar (`dv-*.parquet`, columns
    * `__dv_file` = data-file basename, `__dv_k` = dead key) and
    * return its name. One file per delete epoch — dv batches are
    * small by contract (scattered deletes; bulk deletes take the COW
    * path), so the single-part coalesce is the right shape. */
  private def writeDv(df: DataFrame, dir: Path, fs: FileSystem): String =
    stageParts(df.coalesce(1), dir, fs,
      _ => s"dv-${UUID.randomUUID()}.parquet").headOption.getOrElse(
        throw new java.io.IOException("deletion-vector write produced no file"))

  /** MERGE-ON-READ DELETE by key set: the answer to COW's write
    * amplification for SCATTERED deletes — [[deleteKeys]] rewrites
    * every candidate file in full, so at 100 TB deleting 1 000
    * scattered RECIDs rewrites up to 1 000 × 128 MB of parquet for a
    * few KB of dead keys. This variant writes a DELETION VECTOR
    * sidecar instead (the public formats' DV design): one
    * COLUMN-PRUNED scan of the candidate files (key column + file
    * metadata only — not even the payload columns decode) finds the
    * genuinely-alive victims per file, the dead (file, key) pairs
    * land as one `dv-*.parquet`, and every data file keeps its place
    * BY NAME. Readers anti-join the (broadcast-small) sidecars scoped
    * per file, so a key deleted here and later re-inserted by a merge
    * lands in a fresh file the old dv row can never touch. Deletes
    * accumulate until [[purgeDeletes]] (or an [[optimize]] catching
    * the file in its small tail) materializes them — the documented
    * read-cost / write-cost trade the formats expose as MOR vs COW.
    * Requires the tracked stats key (the CDC/RECID workload's shape;
    * untracked tables keep the COW path). Deleting absent keys is a
    * no-op that commits nothing. Returns the (possibly unchanged)
    * version. */
  def deleteKeysMor(spark: SparkSession, path: String, keys: DataFrame,
                    key: String): Int = withOccRetry(s"deleteKeysMor from $path") {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val v = versions(fs, dir).last
    val m = readManifest(fs, dir, v)
    require(m.statsCol.contains(key),
      s"merge-on-read deletes require the tracked stats key (table tracks " +
        s"${m.statsCol.getOrElse("none")}, got '$key') — use deleteKeys/deleteWhere")
    val schema = StructType.fromDDL(m.ddl)
    val ks = keys.select(col(key)).na.drop().distinct()
    val hits = candidateFiles(spark, dir, m, ks, key)
    if (hits.isEmpty) v
    else {
      val victims = fromEntries(spark, dir, schema, hits, m.statsCol,
          withFileCol = true)
        .join(ks, Seq(key), "left_semi")
        .select(
          element_at(split(col("__mt_file"), "/"), -1).as("__dv_file"),
          col(key).as("__dv_k"))
        .persist()
      try {
        val perFile = victims.groupBy("__dv_file").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        if (perFile.isEmpty) v // keys absent (or already dead): no-op
        else {
          val dvName = writeDv(victims, dir, fs)
          fireMidCommitHook()
          val next = m.entries.map { e =>
            perFile.get(e.name) match {
              case Some(n) =>
                e.copy(dvs = e.dvs :+ dvName, dvRows = e.dvRows + n)
              case None => e
            }
          }
          publish(fs, dir, v + 1, m.copy(entries = next))
          v + 1
        }
      } finally victims.unpersist()
    }
  }

  /** Materialize all deletion vectors: rewrite every dv'd file
    * without its dead rows (key-sorted into tight disjoint ranges,
    * like tracked compaction) and drop the dv references — the
    * MOR-side analog of [[optimize]], run when accumulated dv
    * anti-join cost outweighs one rewrite. Content-neutral w.r.t.
    * VISIBLE rows, and each purged file's unit id (name#dvs) denotes
    * exactly those rows, so the rewrite carries [[Lineage]] and a
    * change feed spanning the purge scans ZERO files. Returns the new
    * version, or -1 when no deletion vectors exist. */
  def purgeDeletes(spark: SparkSession, path: String,
                   targetBytes: Long = 128L * 1024 * 1024): Int =
    withOccRetry(s"purgeDeletes $path") {
      val dir = new Path(path)
      val fs = fsFor(spark, dir)
      val v = versions(fs, dir).last
      val m = readManifest(fs, dir, v)
      val dirty = m.entries.filter(_.dvs.nonEmpty)
      if (dirty.isEmpty) -1
      else {
        val schema = StructType.fromDDL(m.ddl)
        val visible = fromEntries(spark, dir, schema, dirty, m.statsCol)
        val totalBytes = dirty.map(e =>
          fs.getFileStatus(new Path(dir, e.name)).getLen).sum
        val nOut = math.max(1L,
          (totalBytes + targetBytes - 1) / targetBytes).toInt
        val shaped = m.statsCol match {
          case Some(c) => visible.repartitionByRange(nOut, col(c))
            .sortWithinPartitions(col(c))
          case None => visible.coalesce(nOut) // unreachable: dvs need a key
        }
        val staged = stage(shaped, dir, fs, m.statsCol)
        val origins = dirty.map(unitId).distinct
        val rewritten =
          if (staged.isEmpty || origins.size > MaxLineageUnits) staged
          else {
            val gid = UUID.randomUUID().toString
            staged.map(_.copy(lineage =
              Some(Lineage(gid, staged.size, origins))))
          }
        val dirtyNames = dirty.map(_.name).toSet
        fireMidCommitHook()
        publish(fs, dir, v + 1, m.copy(entries =
          m.entries.filterNot(e => dirtyNames(e.name)) ++ rewritten))
        v + 1
      }
    }

  /** The two sides' files a manifest-aware diff must actually scan.
    * Two pruning layers, both exact under file immutability:
    *  1. BY NAME: a file present in both manifests is bit-identical
    *     on both sides — it can never produce a change row.
    *  2. BY LINEAGE: an INTACT compaction group (all `size` members
    *     still present) holds exactly its origin CONTENT UNITS' rows,
    *     so when every one of those units is also present on the
    *     other side (by name, or via its own intact group) the
    *     group's rows are identical there too — `optimize` rewrites
    *     stop looking like churn to the feed. A driver-side fixpoint
    *     keeps the exclusion SYMMETRIC: when a file mixes excluded
    *     and non-excluded units it must be scanned, so its units
    *     return to the scan set on BOTH sides (rows of one unit are
    *     not separable from their file after compaction).
    * Units only survive a version step by name-carry or by
    * content-neutral rewrite (any data change retires the touched
    * files' names forever — UUIDs are never reused), so a unit on
    * both sides always denotes the same rows.
    */
  private[graft] def diffEntries(mb: Manifest, ma: Manifest): (Seq[Entry], Seq[Entry]) = {
    // identity includes the deletion-vector list: a file shared by
    // name whose dv set differs between the versions has DIFFERENT
    // visible rows (exactly the newly-dead keys) and must be scanned
    // on both sides — still change-priced, only the dv'd file re-reads
    val idShared = mb.entries.map(unitId).toSet
      .intersect(ma.entries.map(unitId).toSet)
    def remaining(m: Manifest): Seq[(Entry, Set[String])] = {
      val byGid = m.entries.filter(_.lineage.isDefined)
        .groupBy(_.lineage.get.gid)
      m.entries.filterNot(e => idShared(unitId(e))).map { e =>
        e -> (e.lineage match {
          // empty origins never occur (optimize compacts >= 2 files)
          // but would make the unit set vacuously excludable — guard.
          // A deletion vector on any member voids the group's origin
          // claim (the group no longer holds exactly its origins'
          // rows); the member's own unit id stays sound.
          case Some(l) if l.origins.nonEmpty && byGid(l.gid).size == l.size &&
              byGid(l.gid).forall(_.dvs.isEmpty) =>
            l.origins.toSet
          case _ => Set(unitId(e))
        })
      }
    }
    val bu = remaining(mb)
    val au = remaining(ma)
    var excluded = bu.flatMap(_._2).toSet.intersect(au.flatMap(_._2).toSet)
    var changed = excluded.nonEmpty
    while (changed) {
      changed = false
      (bu.iterator ++ au.iterator).foreach { case (_, us) =>
        if (!us.subsetOf(excluded) && us.exists(excluded)) {
          excluded --= us
          changed = true
        }
      }
    }
    (bu.filterNot(_._2.subsetOf(excluded)).map(_._1),
      au.filterNot(_._2.subsetOf(excluded)).map(_._1))
  }

  /** CHANGE DATA FEED between two retained versions — the read-side
    * complement of the CDC apply (`mergeApplySink` writes changes IN,
    * this reads changes OUT, so downstream consumers can follow a
    * table without rescanning it — the public formats' CDF). Rows
    * align on `key`; emits the Delta-CDF shape: `_change_type` ∈
    * insert / delete / update_preimage / update_postimage, where
    * updates are keys present in both versions whose full row
    * changed, plus `_commit_version` — ENDPOINT attribution: this is
    * a NET diff of the two snapshots, so every emitted row becomes
    * visible at `toV` relative to `fromV` and is stamped `toV`
    * (intermediate churn that nets out never appears). Consumers that
    * need exact per-version attribution use [[changesByVersion]] and
    * pay the pairwise walk.
    *
    * MANIFEST-AWARE: the diff reads ONLY the files [[diffEntries]]
    * cannot prove identical on both sides — files shared BY NAME, and
    * compaction groups shared BY LINEAGE (so a feed spanning an
    * `optimize` stays priced by the change volume: a rewrite-only
    * version contributes zero scanned files, the public formats'
    * `dataChange=false`). At 100 TB with an epoch touching 0.1% of
    * files, the feed therefore scans ~0.2% of the corpus, not 200% —
    * the touched files fully determine it. Emits under the `toV`
    * schema (pre-evolution files null-fill the added columns). The
    * key-uniqueness precondition is an INVARIANT when `key` is the
    * table's tracked stats column (create validates it, merge
    * preserves it by construction), so the guard pass is skipped
    * there; diffing on any OTHER key pays one count-vs-distinct pass
    * over the same non-shared files the diff reads.
    */
  def changes(spark: SparkSession, path: String, fromV: Int, toV: Int,
              key: String): DataFrame = {
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val vs = versions(fs, dir)
    require(vs.contains(fromV) && vs.contains(toV),
      s"need retained versions, have ${vs.mkString(",")}")
    val mb = readManifest(fs, dir, fromV)
    val ma = readManifest(fs, dir, toV)
    val schema = StructType.fromDDL(ma.ddl)
    val (beforeE, afterE) = diffEntries(mb, ma)
    val enforcedByLifecycle =
      mb.statsCol.contains(key) && ma.statsCol.contains(key)
    // PURE-MOR FAST PATH: when the span changed NOTHING but deletion
    // vectors (every diffed entry is the same file on both sides with
    // a strictly grown dv list — the shape of a deleteKeysMor epoch,
    // which a CDC follower walks one version at a time), the feed is
    // exactly the newly-dead keys' rows. The general full-outer diff
    // would shuffle every dv'd file's rows TWICE; here ONE scan of
    // the before-visible rows semi-joins the (broadcast-small) delta
    // dv sidecars — no shuffle at all. Sound only in the pure shape:
    // any rewrite/append in the span could re-insert a deleted key,
    // which the key-aligned diff must classify as an update, so mixed
    // spans fall through to the general path. Delta status is uniform
    // per dv file (a sidecar attaches to every file it touches in ONE
    // publish), and dv lists only grow for a fixed name (any data
    // change retires the name), so the subset check is exact.
    val afterByName = afterE.map(e => e.name -> e).toMap
    val pureMor = enforcedByLifecycle && beforeE.nonEmpty &&
      beforeE.map(_.name).toSet == afterE.map(_.name).toSet &&
      beforeE.forall { eb =>
        afterByName.get(eb.name).exists(ea =>
          eb.dvs.toSet.subsetOf(ea.dvs.toSet) && eb.dvs.toSet != ea.dvs.toSet)
      }
    if (pureMor) {
      val deltaDvs = beforeE.flatMap { eb =>
        afterByName(eb.name).dvs.filterNot(eb.dvs.toSet)
      }.distinct
      val dv = spark.read.parquet(
        deltaDvs.map(n => new Path(dir, n).toString): _*)
      return fromEntries(spark, dir, schema, beforeE, mb.statsCol,
          withFileCol = true)
        .join(broadcast(dv),
          element_at(split(col("__mt_file"), "/"), -1) === col("__dv_file") &&
            col(key) === col("__dv_k"),
          "left_semi")
        .drop("__mt_file")
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(toV))
    }
    val before = fromEntries(spark, dir, schema, beforeE, mb.statsCol)
    val after = fromEntries(spark, dir, schema, afterE, ma.statsCol)
    if (!enforcedByLifecycle) {
      val guard = before.select(col(key)).withColumn("__side", lit(fromV))
        .unionByName(after.select(col(key)).withColumn("__side", lit(toV)))
        .groupBy("__side")
        .agg(count(lit(1)).as("n"), count(col(key)).as("nn"),
          count_distinct(col(key)).as("d"))
        .collect()
      guard.foreach { r =>
        require(r.getLong(1) == r.getLong(2) && r.getLong(1) == r.getLong(3),
          s"version ${r.getInt(0)} holds NULL or duplicate '$key' values in its " +
            "changed files — changes() requires key-unique snapshots")
      }
    }
    val cols = schema.fieldNames.toSeq
    val b = before.select(col(key).as("__k"),
      struct(cols.map(col): _*).as("__b"))
    val a = after.select(col(key).as("__k"),
      struct(cols.map(col): _*).as("__a"))
    val j = b.join(a, Seq("__k"), "full_outer")
    val inserts = j.filter(col("__b").isNull)
      .select(col("__a.*")).withColumn("_change_type", lit("insert"))
    val deletes = j.filter(col("__a").isNull)
      .select(col("__b.*")).withColumn("_change_type", lit("delete"))
    // null-safe struct compare: evolution null-fills pre-evolution
    // rows, and plain =!= would return NULL (drop the change row)
    // whenever an undecided field is NULL on either side
    val updatedKeys = j.filter(col("__b").isNotNull && col("__a").isNotNull &&
      !(col("__b") <=> col("__a")))
    val pre = updatedKeys.select(col("__b.*"))
      .withColumn("_change_type", lit("update_preimage"))
    val post = updatedKeys.select(col("__a.*"))
      .withColumn("_change_type", lit("update_postimage"))
    inserts.unionByName(deletes).unionByName(pre).unionByName(post)
      .withColumn("_commit_version", lit(toV))
  }

  /** EXACT per-version change attribution: the pairwise walk over
    * every retained step in (fromV, toV], each step's rows stamped
    * with the version that committed them — the Delta-CDF consumer
    * contract (checkpoint mid-feed, audit WHEN a row changed).
    * Unlike [[changes]]' endpoint diff this does NOT net out
    * intermediate churn (a row inserted then deleted shows both).
    * Cost: each step is its own manifest-aware diff, so the total is
    * the sum of per-epoch touched files — still change-priced, never
    * table-priced. */
  def changesByVersion(spark: SparkSession, path: String, fromV: Int,
                       toV: Int, key: String): DataFrame = {
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    val dir = new Path(path)
    val steps = versions(fsFor(spark, dir), dir)
      .filter(v => v >= fromV && v <= toV)
    require(steps.headOption.contains(fromV) && steps.lastOption.contains(toV),
      s"need retained endpoints $fromV..$toV, have ${steps.mkString(",")}")
    steps.sliding(2).map(p => changes(spark, path, p.head, p.last, key))
      .reduce(_.unionByName(_))
  }

  /** OPTIMIZE: rewrite the current version's small files into
    * target-sized ones (a continuous CDC-apply produces a file per
    * epoch per touched range — scans degrade until compaction, the
    * Tables.compact problem at the table-format layer). Files at or
    * above `smallBytes` keep their place BY NAME (their stats and
    * their parquet row groups are already good); the small tail
    * rewrites into ceil(bytes/target) files. When a stats column is
    * tracked the tail is RANGE-PARTITIONED AND SORTED by it — churn
    * concentrates exactly where compaction runs, so coalescing there
    * would pile up wide overlapping [min, max] ranges and bleed the
    * binned probe's pruning after every compaction; the sorted
    * rewrite leaves tight pairwise-disjoint ranges (and sorted
    * parquet row groups) instead. Content-neutral either way
    * (spec-pinned). The rewritten files carry [[Lineage]] — the
    * compacted source units — so a later [[changes]] spanning this
    * version treats them as shared-by-lineage and still scans only
    * real data changes (the `dataChange=false` posture; without it a
    * CDC table's apply and compaction maintenance loops fight).
    * Publishes a new version — readers of the old one are untouched,
    * time travel intact. Retries a lost publish race (it may meet the
    * CDC apply mid-epoch). Returns the new version, or -1 when
    * nothing needed compacting. */
  def optimize(spark: SparkSession, path: String,
               smallBytes: Long = SmallFileBytes,
               targetBytes: Long = 128L * 1024 * 1024): Int =
    withOccRetry(s"optimize $path") {
      val dir = new Path(path)
      val fs = fsFor(spark, dir)
      val v = versions(fs, dir).last
      val m = readManifest(fs, dir, v)
      val sized = m.entries.map(e =>
        (e, fs.getFileStatus(new Path(dir, e.name)).getLen))
      val (small, big) = sized.partition(_._2 < smallBytes)
      if (small.size < 2) -1 // nothing to gain from one file
      else {
        val totalSmall = small.map(_._2).sum
        val nOut = math.max(1L, (totalSmall + targetBytes - 1) / targetBytes).toInt
        val tail = fromEntries(spark, dir, StructType.fromDDL(m.ddl),
          small.map(_._1), m.statsCol)
        val compacted = m.statsCol match {
          // one small-tail-sized shuffle buys disjoint ranges — the
          // probe keeps pruning through every compaction cycle
          case Some(c) => tail.repartitionByRange(nOut, col(c))
            .sortWithinPartitions(col(c))
          // untracked: boundary change only — no shuffle, no reorder
          case None => tail.coalesce(nOut)
        }
        val staged = stage(compacted, dir, fs, m.statsCol)
        // content units of the compacted sources, chained through
        // earlier intact groups so lineage survives repeated cycles.
        // Chaining is sound ONLY when the member's WHOLE intact group
        // compacts together: a group's origins describe the UNION of
        // its members' rows, and a member compacted alone (e.g. the
        // small remainder file of an earlier compaction, caught while
        // its target-sized siblings stay put) holds an unknowable
        // slice of them — inheriting the full origin set would let a
        // later feed prove too much and skip files whose rows differ.
        // The member's own NAME always denotes exactly its content,
        // so it is the fallback unit.
        val smallNames = small.map(_._1.name).toSet
        val byGid = m.entries.filter(_.lineage.isDefined)
          .groupBy(_.lineage.get.gid)
        val origins = small.map(_._1).flatMap { e =>
          e.lineage match {
            // a dv'd member also blocks chaining: the group no longer
            // holds exactly its origins' rows. unitId (name, or
            // name#dvs) denotes exactly the member's VISIBLE rows —
            // which is what the compaction read — so it is always a
            // sound unit, and compacting a dv'd file materializes its
            // deletions as a dataChange=false step.
            case Some(l) if l.origins.nonEmpty &&
                byGid(l.gid).size == l.size &&
                byGid(l.gid).forall(g => smallNames(g.name) && g.dvs.isEmpty) =>
              l.origins
            case _ => Seq(unitId(e))
          }
        }.distinct
        val rewritten =
          if (staged.isEmpty || origins.size > MaxLineageUnits) staged
          else {
            val gid = UUID.randomUUID().toString
            staged.map(_.copy(lineage =
              Some(Lineage(gid, staged.size, origins))))
          }
        publish(fs, dir, v + 1, m.copy(entries = big.map(_._1) ++ rewritten))
        v + 1
      }
    }

  /** Follow the table's change feed as a STRUCTURED STREAMING source
    * (offsets = table versions, each micro-batch a manifest-aware
    * `changes` span, checkpointed exactly-once progress) — see
    * [[MergeTableChangeSourceProvider]] for the full contract.
    * `startingVersion < 0` (default) starts from the CURRENT latest
    * version, i.e. only new changes; pass 0 for the retained
    * history. */
  def changeStream(spark: SparkSession, path: String, key: String,
                   startingVersion: Int = -1,
                   exactPerVersion: Boolean = false): DataFrame = {
    val r = spark.readStream.format("mergetable-changes")
      .option("path", path).option("key", key)
      .option("exactPerVersion", exactPerVersion.toString)
    (if (startingVersion >= 0)
      r.option("startingVersion", startingVersion.toString)
    else r).load()
  }

  /** Garbage-collect: keep the newest `keepVersions` manifests, drop
    * older manifests, every data file none of the kept manifests
    * reference, and any leftover `_stage-`/`_tmp-` debris (crashed,
    * abandoned, or OCC-defeated writes).
    *
    * RETENTION WINDOW: an in-flight writer's freshly staged files are
    * unreferenced BY DESIGN until its manifest publishes — deleting
    * them would let that writer publish a manifest naming vanished
    * files (corruption OCC retry cannot see: no version was stolen).
    * So unreferenced data files and `_`-debris are removed only when
    * older than `minAgeMs` (default 1 h) — the Delta-retention
    * contract: safe against any writer that stages-and-publishes
    * faster than the window; pass 0 only when no writer can be
    * in flight. Time-travel readers of dropped versions lose them
    * (single-maintainer convention). Returns #files removed. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             minAgeMs: Long = 3600L * 1000): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val vs = versions(fs, dir)
    val keep = vs.takeRight(keepVersions)
    val referenced = keep.flatMap(v => readManifest(fs, dir, v).entries
      .flatMap(e => e.name +: e.dvs)).toSet
    // age against the FILESYSTEM's clock, not the driver's: mtimes
    // are stamped by the FS, and clock skew against a remote store
    // would silently shrink the retention window — exactly the
    // in-flight-writer corruption it exists to prevent. A probe file
    // written now reads back the FS's own notion of "now".
    val fsNow = {
      val probe = new Path(dir, s"_tmp-clock-${UUID.randomUUID()}")
      try {
        fs.create(probe, true).close()
        fs.getFileStatus(probe).getModificationTime
      } finally fs.delete(probe, false)
    }
    val cutoff = fsNow - minAgeMs
    var removed = 0
    vs.dropRight(keepVersions).foreach { v =>
      if (fs.delete(manifestPath(dir, v), false)) removed += 1
    }
    (Option(fs.globStatus(new Path(dir, "data-*.parquet")))
      .getOrElse(Array.empty) ++
      Option(fs.globStatus(new Path(dir, "dv-*.parquet")))
        .getOrElse(Array.empty))
      .filterNot(st => referenced.contains(st.getPath.getName))
      .filter(_.getModificationTime <= cutoff)
      .foreach { st => if (fs.delete(st.getPath, false)) removed += 1 }
    Option(fs.listStatus(dir)).getOrElse(Array.empty)
      .filter(st => (st.getPath.getName.startsWith("_stage-") ||
        st.getPath.getName.startsWith("_tmp-")) &&
        st.getModificationTime <= cutoff)
      .foreach { st => if (fs.delete(st.getPath, true)) removed += 1 }
    removed
  }
}
