package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

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
  *    (all of them commit through one step, [[commit]]) RETRIES
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
  *    ranges rasterize onto power-of-two-wide bins driver-side,
  *    metadata scale), not a per-key linear scan of all ranges — at
  *    1M files × 1M keys a theta join would plan 10^12 comparisons;
  *    the binned probe hashes each key to its bin and compares only
  *    the files overlapping that bin. A bin is a right shift of an
  *    order-preserving unsigned image of the key (a LONG with its
  *    sign bit flipped, a STRING's first 7 UTF-8 bytes), so one probe
  *    serves both key types and every span up to the whole LONG
  *    domain. A collapsed CDC epoch small enough to hold its keys on
  *    the driver ([[applyEpoch]]) skips the join: the driver sorts the
  *    keys by the same images and binary-searches each file's range.
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

  /** Test seam: invoked once (self-clearing) inside the next commit
    * attempt AFTER it resolved its base manifest and staged its files
    * but BEFORE it publishes ([[commit]]) — the window where a racing
    * writer's commit forces the OCC retry. Production value is a
    * no-op. */
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

  /** The INTACT-GROUP test [[diffEntries]] and [[compact]] share: the
    * content units each of `entries` stands for. A member of an intact
    * compaction group — all `size` members present, every one dv-free
    * and passing `whole` — stands for the group's origins; any other
    * entry for its own [[unitId]], which always denotes exactly its
    * visible rows. A deletion vector on any member voids the group's
    * origin claim (the group no longer holds exactly its origins'
    * rows). Empty origins never occur (optimize compacts >= 2 files)
    * but would make the unit set vacuously excludable — guarded. */
  private def unitsOf(entries: Seq[Entry],
                      whole: Entry => Boolean = _ => true): Entry => Seq[String] = {
    val byGid = entries.filter(_.lineage.isDefined).groupBy(_.lineage.get.gid)
    e => e.lineage match {
      case Some(l) if l.origins.nonEmpty && byGid(l.gid).size == l.size &&
          byGid(l.gid).forall(g => g.dvs.isEmpty && whole(g)) =>
        l.origins
      case _ => Seq(unitId(e))
    }
  }

  private case class Manifest(ddl: String, statsCol: Option[String],
                              entries: Seq[Entry])

  /** One resolved version of a table: what every reader and the commit
    * step start from. */
  private final case class Head(spark: SparkSession, dir: Path, fs: FileSystem,
                                v: Int, m: Manifest) {
    def schema: StructType = StructType.fromDDL(m.ddl)
    /** The visible rows of `es` under `schema` ([[fromEntries]]). */
    def rows(es: Seq[Entry], schema: StructType = this.schema,
             withFileCol: Boolean = false): DataFrame =
      fromEntries(spark, dir, schema, es, m.statsCol, withFileCol)
    def len(e: Entry): Long = fs.getFileStatus(new Path(dir, e.name)).getLen
  }

  /** The one manifest lookup: the latest version, or an explicit
    * retained `version`. */
  private def head(spark: SparkSession, path: String, version: Int = -1): Head = {
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val vs = versions(fs, dir)
    require(vs.nonEmpty, s"no MergeTable at $path")
    val v = if (version >= 0) version else vs.last
    require(vs.contains(v), s"version $v not present (have ${vs.mkString(",")})")
    Head(spark, dir, fs, v, readManifest(fs, dir, v))
  }

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

  /** The ONE commit step every mutator runs, in a bounded
    * optimistic-concurrency loop: resolve the latest manifest, let
    * `next` derive its successor (`Left(r)`: commit nothing and return
    * `r`), fire [[midCommitHook]], publish the successor as the next
    * version and return that version. A lost race re-runs `next`
    * against the winner's version; the loser's staged files are
    * unreferenced debris (vacuum collects). Re-running is safe because
    * mutations are deterministic in (base manifest, arguments). */
  private def commit(spark: SparkSession, path: String, what: String)(
      next: Head => Either[Int, Manifest]): Int = {
    var last: VersionConflictException = null
    var i = 0
    try {
      while (i < OccAttempts) {
        try {
          val h = head(spark, path)
          return next(h) match {
            case Left(r) => r
            case Right(m) =>
              // read-then-clear under the lock so concurrent mutators
              // can never both claim (or tear) one armed hook
              val hook = this.synchronized {
                val f = midCommitHook
                midCommitHook = () => ()
                f
              }
              hook()
              publish(h.fs, h.dir, h.v + 1, m)
              h.v + 1
          }
        } catch { case e: VersionConflictException => last = e; i += 1 }
      }
    } finally
      // a test-armed hook applies to THIS mutator invocation only —
      // if `next` threw before firing it, clearing here keeps the
      // stale hook from detonating inside an unrelated later mutator
      this.synchronized { midCommitHook = () => () }
    throw new java.io.IOException(
      s"$what lost the version race $OccAttempts times", last)
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
    * driver. A part whose stats column is entirely NULL carries the
    * impossible range: it can never hold a probe hit, so range pruning
    * skips it — never an NPE mid-write. A zero-row part never reaches
    * a manifest: the write's first task leaves a file even when its
    * partition is empty (so an empty output keeps its schema), and
    * such a file is deleted here. Until a manifest lists them the
    * files are unreferenced (readers resolve manifests, never glob
    * data files). */
  private def stage(df: DataFrame, dir: Path, fs: FileSystem,
                    statsCol: Option[String]): Seq[Entry] = {
    val spark = df.sparkSession
    val (empty, written) = stageParts(df, dir, fs,
      i => s"data-${UUID.randomUUID()}-$i.parquet")
      .map(n => n -> footerBlocks(spark, new Path(dir, n)))
      .partition(_._2.forall(_.getRowCount == 0))
    empty.foreach(f => fs.delete(new Path(dir, f._1), false))
    statsCol match {
      case None => written.map(f => Entry(f._1, NoStats))
      case Some(c) =>
        val stats = fileStats(spark, dir, written.map(_._1), c,
          df.schema(c).dataType == StringType, written.toMap)
        written.map(f => Entry(f._1, stats(f._1)))
    }
  }

  /** Per-file [[Stats]] of column `c` for the data files `names` under
    * `dir`: from each file's parquet footer (`footers` when the caller
    * already read it, else a driver metadata read — no Spark job),
    * falling back to ONE scan grouped by `_metadata.file_path`
    * ([[scanStats]]) for only the files whose footer cannot answer. */
  private[graft] def fileStats(spark: SparkSession, dir: Path, names: Seq[String],
                               c: String, isStr: Boolean,
                               footers: Map[String, Seq[BlockMetaData]] = Map.empty)
      : Map[String, Stats] = {
    val fromFooter = names.map(n => n -> blockStats(
      footers.getOrElse(n, footerBlocks(spark, new Path(dir, n))), c, isStr)).toMap
    val unknown = names.filter(fromFooter(_).isEmpty)
    val scanned =
      if (unknown.isEmpty) Map.empty[String, Stats]
      else scanStats(spark, dir, unknown, c, isStr)
    names.map(n => n -> fromFooter(n).getOrElse(scanned(n))).toMap
  }

  /** A parquet file's row groups, from its footer alone. The read
    * options come from the session's Hadoop conf: without them the
    * reader builds its own over a fresh `Configuration`, which
    * re-parses Hadoop's default resources on every call. */
  private def footerBlocks(spark: SparkSession, file: Path): Seq[BlockMetaData] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
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
                                 isStr: Boolean): Option[Stats] =
    blockStats(footerBlocks(spark, file), c, isStr)

  private def blockStats(blocks: Seq[BlockMetaData], c: String,
                         isStr: Boolean): Option[Stats] = {
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

  /** File basenames of the distinct `__mt_file` paths in `rows`
    * (staged names are UUID-unique, so a set lookup matches entries
    * without a suffix scan per file). */
  private def baseNames(rows: DataFrame): Set[String] =
    rows.select("__mt_file").distinct().collect()
      .map { r => val p = r.getString(0); p.substring(p.lastIndexOf('/') + 1) }.toSet

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
    * never hit the codegen cache. Each failure mode has its own
    * message, so a NULL-key batch is not misdiagnosed as duplicates.
    * Returns whether the batch touches any non-NULL key — false is an
    * empty batch. */
  private def checkKeys(upserts: DataFrame, deletes: Option[DataFrame], key: String,
                        what: String): Boolean = {
    val k = col(key)
    val tagged = (upserts.select(k, lit(1L).as("__mt_nu"), lit(0L).as("__mt_nd")) +:
      deletes.toSeq.map(_.select(k, lit(0L).as("__mt_nu"), lit(1L).as("__mt_nd"))))
      .reduce(_.unionByName(_))
    val (nu, nd, live) = (col("__mt_nu"), col("__mt_nd"), k.isNotNull)
    val r = tagged.groupBy(k)
      .agg(sum("__mt_nu").as("__mt_nu"), sum("__mt_nd").as("__mt_nd"))
      .agg(coalesce(sum(when(k.isNull, nu)), lit(0L)), count_if(live),
        count_if(live && nu > 1), count_if(live && nu > 0 && nd > 0)).collect()(0)
    requireNoNullKeys(r.getLong(0), key, what)
    require(r.getLong(2) == 0,
      s"$what carries duplicate '$key' values — ambiguous merge")
    require(r.getLong(3) == 0,
      "a key appears as BOTH upsert and delete in one epoch — collapse the " +
        "batch to latest-per-key first (apply order would be ambiguous)")
    r.getLong(1) > 0
  }

  private def requireNoNullKeys(n: Long, key: String, what: String): Unit =
    require(n == 0,
      s"$what carries $n NULL '$key' value(s) — NULL merge keys " +
        "cannot match range pruning or the key join and are not supported")

  /** Most touched keys a collapsed epoch hands to the driver
    * ([[applyEpoch]]): 2^16 LONG or short STRING keys are a few MB on
    * the driver and in one `InSet`. */
  private[graft] val SmallEpochKeys = 1 << 16

  /** What the first action of a collapsed epoch learns about its keys:
    * how many non-NULL keys it touches (upserts and deletes), how many
    * upsert keys are NULL, and — when `live` is at most the bound the
    * action ran under — the touched keys themselves (Long or String). */
  private final case class EpochKeys(live: Long, nullUps: Long, keys: Option[Seq[Any]])

  /** ONE Spark action over a collapsed epoch's (key, is-delete) pairs
    * ([[EpochKeys]]; a NULL is-delete belongs to neither side). Each
    * task returns its counts and at most `bound + 1` keys, so nothing
    * above the bound reaches the driver; keys of a type the manifest
    * cannot range over are never collected. It runs as a plain
    * `mapPartitions` under its own SQL execution: no Limit plan (see
    * [[checkKeys]]), and no per-epoch literal in generated code. */
  private def epochKeys(epoch: DataFrame, key: String, isDelete: Column,
                        bound: Int): EpochKeys = {
    val pairs = epoch.select(col(key), isDelete)
    val dt = pairs.schema(0).dataType
    val take = if (dt == LongType || dt == StringType) bound + 1 else 0
    val isStr = dt == StringType
    val qe = pairs.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.execute().mapPartitions { rows =>
        var live = 0L
        var nullUps = 0L
        val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
        rows.filterNot(_.isNullAt(1)).foreach { r =>
          if (r.isNullAt(0)) { if (!r.getBoolean(1)) nullUps += 1 }
          else {
            live += 1
            if (keys.size < take)
              keys += (if (isStr) r.getUTF8String(0).toString else r.getLong(0))
          }
        }
        Iterator((live, nullUps, keys.toArray))
      }.collect()
    }
    val live = parts.map(_._1).sum
    EpochKeys(live, parts.map(_._2).sum,
      Some(parts.toSeq.flatMap(_._3)).filter(_.size == live && live <= bound))
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
  def tableSchema(spark: SparkSession, path: String): StructType =
    head(spark, path).schema

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
    val h = head(spark, path, version)
    h.rows(h.m.entries)
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
  def readRange(spark: SparkSession, path: String, lo: Long, hi: Long): DataFrame =
    overlapRead(spark, path, "tracks STRING stats — use a string range",
      { case LongRange(a, b) => a <= hi && b >= lo },
      c => c >= lo && c <= hi)

  /** The latest snapshot restricted to the files whose tracked range
    * `overlaps` (files without stats stay — no metadata to skip on;
    * empty ranges never do), then the exact `residual` on the tracked
    * column. A range of the other key type is `wrongType`. */
  private def overlapRead(spark: SparkSession, path: String, wrongType: String,
                          overlaps: PartialFunction[Stats, Boolean],
                          residual: Column => Column): DataFrame = {
    val h = head(spark, path)
    val c = h.m.statsCol.getOrElse(
      throw new IllegalArgumentException(s"$path tracks no stats column"))
    h.rows(h.m.entries.filter(_.stats match {
      case NoStats    => true
      case EmptyRange => false
      case s => overlaps.applyOrElse(s,
        (_: Stats) => throw new IllegalArgumentException(s"$path $wrongType"))
    })).filter(residual(col(c)))
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
  def readRange(spark: SparkSession, path: String, lo: String, hi: String): DataFrame =
    overlapRead(spark, path, "tracks LONG stats — use a long range",
      { case StrRange(a, b) => utf8Cmp(a, hi) <= 0 && utf8Cmp(b, lo) >= 0 },
      c => c >= lo && c <= hi)

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
    def cmp(a: String, b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(StandardCharsets.UTF_8), b)
    overlapRead(spark, path, "tracks LONG stats — prefix scans need a STRING key",
      { case StrRange(a, b) => cmp(b, pb) >= 0 && upper.forall(cmp(a, _) < 0) },
      _.startsWith(prefix))
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
    val h = head(spark, path)
    val ks = keys.select(col(key)).na.drop().distinct()
    h.rows(candidateFiles(h, ks, key)).join(ks, Seq(key), "left_semi")
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

  /** File-range probe via BINNED EQUI-JOIN, for LONG and STRING keys
    * alike. Each bound maps to an order-preserving unsigned 64-bit
    * image — a LONG with its sign bit flipped, a STRING's [[u56]] — and
    * a bin is that image shifted right by `s` bits, so no span, up to
    * the whole LONG domain, can overflow. The ranges rasterize
    * driver-side onto the bins (`s` chosen so the raster stays <= ~8
    * entries per file — metadata scale); each key computes its bin
    * with pure integer arithmetic and BROADCAST-HASH-joins the raster
    * on it, and the raster's true typed bounds give the exact residual
    * after the hash match. Same answer as a per-key theta join of all
    * ranges (the residual makes it exact), but the work per key is the
    * files overlapping ONE bin, not all files. Inverted (`mn > mx`)
    * LONG ranges hold nothing and never match; [[NoStats]] files have
    * no metadata to prune on and are always candidates. */
  private[graft] def rangeCandidates(keys: DataFrame, key: String,
                                     ranged: Seq[(String, Stats)]): Set[String] = {
    val live = imaged(ranged)
    if (live.isEmpty) return unranged(ranged)
    val isStr = live.head._2.isInstanceOf[String]
    val unsigned = Ordering.fromLessThan[Long](java.lang.Long.compareUnsigned(_, _) < 0)
    val span = live.map(_._5).max(unsigned) - live.map(_._4).min(unsigned)
    // start near 4 bins/file and widen until the raster totals <= 8
    // entries/file (a file spanning the whole key space cannot blow
    // the raster up to #files x #bins); s >= 1 keeps bins non-negative
    val bins = math.min(4L * live.size, 1L << 20)
    var s = math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(java.lang.Long.divideUnsigned(span, bins)))
    def rasterSize(s: Int): Long = live.map(e => (e._5 >>> s) - (e._4 >>> s) + 1).sum
    while (s < 63 && rasterSize(s) > 8L * live.size) s += 1
    val kt = if (isStr) StringType else LongType
    val raster = keys.sparkSession.createDataFrame(
      live.flatMap(e => ((e._4 >>> s) to (e._5 >>> s)).map(b => Row(b, e._1, e._2, e._3)))
        .asJava,
      StructType(Seq(StructField("__mt_bin", LongType), StructField("__mt_name", StringType),
        StructField("__mt_mn", kt), StructField("__mt_mx", kt))))
    val k = col("__mt_k")
    keys.select(col(key).as("__mt_k")).na.drop().distinct()
      .withColumn("__mt_bin", shiftrightunsigned(
        if (isStr) u56Col(k) else k.bitwiseXOR(lit(Long.MinValue)), s))
      .join(broadcast(raster), Seq("__mt_bin"))
      .filter(k >= col("__mt_mn") && k <= col("__mt_mx"))
      .select("__mt_name").distinct()
      .collect().map(_.getString(0)).toSet ++ unranged(ranged)
  }

  /** The ranges a key can fall in, as (name, typed min, typed max, and
    * the order-preserving unsigned images of both): a LONG with its sign
    * bit flipped, a STRING's [[u56]]. Inverted LONG ranges and
    * [[EmptyRange]] hold nothing; [[NoStats]] is [[unranged]]. */
  private def imaged(ranged: Seq[(String, Stats)]): Seq[(String, Any, Any, Long, Long)] =
    ranged.collect {
      case (n, LongRange(a, b)) if a <= b =>
        (n, a: Any, b: Any, a ^ Long.MinValue, b ^ Long.MinValue)
      case (n, StrRange(a, b)) => (n, a: Any, b: Any, u56(a), u56(b))
    }

  private def unranged(ranged: Seq[(String, Stats)]): Set[String] =
    ranged.collect { case (n, NoStats) => n }.toSet

  /** [[rangeCandidates]] for a key set the DRIVER holds (a small
    * collapsed epoch, [[applyEpoch]]): no Spark job. The keys sort by
    * their unsigned image, ties by the exact typed order (images
    * preserve it, so this is the typed order); each file binary-searches
    * its first key at or above its typed min, and is a candidate when
    * that key is at or below its typed max — the exact residual. Same
    * answer as the binned probe and the theta join. */
  private[graft] def keyCandidates(keys: Seq[Any], ranged: Seq[(String, Stats)]): Set[String] = {
    val live = imaged(ranged)
    if (live.isEmpty || keys.isEmpty) return unranged(ranged)
    val isStr = live.head._2.isInstanceOf[String]
    val cmp: (Any, Any) => Int =
      if (isStr) (a, b) => utf8Cmp(a.asInstanceOf[String], b.asInstanceOf[String])
      else (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    def before(x: (Long, Any), y: (Long, Any)): Boolean = {
      val c = java.lang.Long.compareUnsigned(x._1, y._1)
      c < 0 || c == 0 && cmp(x._2, y._2) < 0
    }
    val sorted = keys.map(k => (if (isStr) u56(k.asInstanceOf[String])
      else k.asInstanceOf[Long] ^ Long.MinValue, k)).toArray.sortWith(before)
    live.filter { case (_, mn, mx, lo, _) =>
      var (a, b) = (0, sorted.length)
      while (a < b) {
        val m = (a + b) >>> 1
        if (before(sorted(m), (lo, mn))) a = m + 1 else b = m
      }
      a < sorted.length && cmp(sorted(a)._2, mx) <= 0
    }.map(_._1).toSet ++ unranged(ranged)
  }

  /** First 7 UTF-8 bytes of a string, zero-padded, as a non-negative
    * Long. ORDER-PRESERVING for Spark's binary string comparison
    * (UTF8 bytes compared unsigned): s1 <= s2 implies u56(s1) <=
    * u56(s2), so a key inside a file's true string range always lands
    * inside the file's bin span — the string keys' unsigned image.
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

  /** Candidate files for a set of keys: with tracked ranges this is a
    * metadata-only probe of the (distinct) keys against the manifest
    * range table ([[rangeCandidates]]) — the base is never scanned; a
    * false positive only costs rewrite volume, never correctness
    * (ranges are true min/max, so every real hit file is a candidate).
    * Without stats it falls back to scanning the base for
    * `_metadata.file_path` hits. */
  private def candidateFiles(h: Head, keys: DataFrame, key: String): Seq[Entry] =
    h.m.statsCol match {
      case Some(c) if c == key =>
        val hit = rangeCandidates(keys, key, h.m.entries.map(e => e.name -> e.stats))
        h.m.entries.filter(e => hit(e.name))
      case _ =>
        val hitNames = baseNames(h.rows(h.m.entries, withFileCol = true)
          .join(keys.select(col(key)).distinct(), Seq(key)))
        h.m.entries.filter(e => hitNames(e.name))
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
      case _ => p.children.isEmpty && graft.operators.Spread.measured(p)
    }
    val plan = df.queryExecution.optimizedPlan
    if (measured(plan)) Some(plan.stats.sizeInBytes) else None
  }

  /** Lay out a tracked table's rewrite: one that fits in
    * [[SmallFileBytes]] lands as ONE file, by coalescing the rows into
    * one partition (no exchange, no sampling job — the write stays one
    * shuffle-free stage). A steady epoch's hot range then stays
    * in one file, and the next epoch on the same keys hits that file
    * alone, not every file a parallel write spread them over. Bytes are
    * the hit files' lengths plus the upserts' [[measuredBytes]] (none
    * for a delete). Larger rewrites keep the write's own parallel
    * partitioning — a range shuffle there costs a sampling pass and a
    * second shuffle of every rewritten row — as do untracked tables and
    * upserts whose size is only a guess: a guess must not decide that
    * one task writes it all. */
  private def layout(rows: DataFrame, ups: Option[DataFrame], hits: Seq[Entry],
                     h: Head): DataFrame = {
    def small = ups.fold(Option(BigInt(0)))(measuredBytes)
      .exists(_ + hits.map(h.len).sum <= SmallFileBytes)
    if (h.m.statsCol.isDefined && small) rows.coalesce(1) else rows
  }

  /** The ONE copy-on-write rewrite: the rows of the `hits` files that
    * `survive`, plus every `ups` row, are staged under `schema` (laid
    * out by [[layout]]) and replace the hits; every other file carries
    * into the successor manifest untouched, by name. Nothing to write
    * (no hits, no upserts) stages nothing. */
  private def rewrite(h: Head, schema: StructType, hits: Seq[Entry],
                      survive: DataFrame => DataFrame,
                      ups: Option[DataFrame]): Manifest = {
    val cols = schema.fieldNames.map(col).toIndexedSeq
    val survivors =
      if (hits.isEmpty) None else Some(survive(h.rows(hits, schema)).select(cols: _*))
    val staged = (survivors ++ ups).reduceOption(_.unionByName(_)).toSeq
      .flatMap(rows => stage(layout(rows, ups, hits, h), h.dir, h.fs, h.m.statsCol))
    val hitNames = hits.map(_.name).toSet
    Manifest(schema.toDDL, h.m.statsCol,
      h.m.entries.filterNot(e => hitNames(e.name)) ++ staged)
  }

  /** The key-set mutation [[merge]], [[applyBatch]] and [[deleteKeys]]
    * share: candidate files (range-overlap when the key is the tracked
    * stats column — found WITHOUT scanning the base) of the upsert keys
    * plus the non-NULL `deletes` keys go through [[rewrite]], keeping
    * the rows whose key neither side names. `empty` (no key touched)
    * commits nothing and returns the current version.
    *
    * `driverKeys`, when the caller already holds every touched key
    * ([[applyEpoch]]'s small path) and the key is the tracked stats
    * column, finds the candidates on the driver ([[keyCandidates]])
    * and keeps the survivors with an `InSet` of those keys — no probe
    * job and no anti-join. Otherwise the candidates come from
    * [[candidateFiles]] and the survivors from a `left_anti` join with
    * the touched keys. Both give the same hits and the same rows. */
  private def commitUpserts(spark: SparkSession, path: String, what: String,
                            upserts: Option[DataFrame], deletes: Option[DataFrame],
                            key: String, empty: Boolean = false,
                            driverKeys: Option[Seq[Any]] = None): Int =
    commit(spark, path, s"$what $path") { h =>
      val schema = upserts.fold(h.schema)(evolvedSchema(h.schema, _))
      if (empty) Left(h.v)
      else {
        val ups = upserts.map(_.select(schema.fieldNames.map(col).toIndexedSeq: _*))
        val (hits, survive) = driverKeys.filter(_ => h.m.statsCol.contains(key)) match {
          case Some(ks) =>
            val hit = keyCandidates(ks, h.m.entries.map(e => e.name -> e.stats))
            // InSet holds Catalyst values and codegens as a reference to
            // the set, so the survivor filter's class is the same every
            // epoch whatever the keys
            val touched = GraftBridge.column(InSet(GraftBridge.expression(col(key)),
              ks.map { case s: String => UTF8String.fromString(s); case k => k }.toSet))
            (h.m.entries.filter(e => hit(e.name)),
              (rows: DataFrame) => rows.filter(col(key).isNull || !touched))
          case None =>
            val touched = (ups.map(_.select(col(key))) ++ deletes).reduce(_.unionByName(_))
            (candidateFiles(h, touched, key),
              (rows: DataFrame) => rows.join(touched, Seq(key), "left_anti"))
        }
        Right(rewrite(h, schema, hits, survive, ups))
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
    commitUpserts(spark, path, "merge into", Some(updates), None, key)
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
    * An empty epoch stops after the first. An epoch already collapsed
    * to latest-per-key takes [[applyEpoch]]: one action and, while it
    * is small, no probe job. */
  def applyBatch(spark: SparkSession, path: String, upserts: DataFrame,
                 deletes: DataFrame, key: String): Int = {
    val dels = deletes.select(col(key)).na.drop().distinct()
    val nonEmpty = checkKeys(upserts, Some(dels), key, "upserts")
    commitUpserts(spark, path, "applyBatch into", Some(upserts), Some(dels), key,
      empty = !nonEmpty)
  }

  /** [[applyBatch]] for an `epoch` already reduced to latest-per-key
    * (the `mergeApplySink` shape), split on its `op` column: rows whose
    * `op` is `deleteOp` delete their key, rows with any other non-NULL
    * `op` upsert (without the `op` column). Keys are unique and the two
    * sides disjoint by construction, so neither needs proving. ONE
    * first action ([[epochKeys]]) reads the epoch's keys — filling the
    * caller's cache of the collapse — and answers NULL upsert keys
    * (rejected, nothing committed) and emptiness (nothing committed).
    * An epoch touching at most `smallKeys` keys hands them to the
    * commit, which finds its candidates on the driver, keeps survivors
    * with an `InSet` and stages once; a larger one runs the binned probe
    * and the anti-join ([[commitUpserts]]). The sink passes
    * [[SmallEpochKeys]] as `smallKeys`; -1 forces the large path. */
  private[graft] def applyEpoch(spark: SparkSession, path: String, epoch: DataFrame,
                                key: String, op: String, deleteOp: String,
                                smallKeys: Int): Int = {
    val isDelete = col(op) === deleteOp
    val ek = epochKeys(epoch, key, isDelete, smallKeys)
    requireNoNullKeys(ek.nullUps, key, "upserts")
    commitUpserts(spark, path, "applyBatch into", Some(epoch.filter(!isDelete).drop(op)),
      Some(epoch.filter(isDelete).select(col(key)).na.drop()), key,
      empty = ek.live == 0, driverKeys = ek.keys)
  }

  /** COW DELETE BY KEY SET: like [[deleteWhere]] but the doomed keys
    * arrive as a DataFrame (single `key` column) — the CDC-apply
    * shape, where a delete batch can be data-sized and must join, not
    * collect into a driver-side predicate. The upsert-free case of the
    * [[merge]] rewrite: only candidate files (range-pruned) rewrite.
    * Retries a lost publish race from the new latest. Returns the new
    * version. */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
                 key: String): Int =
    commitUpserts(spark, path, "deleteKeys from", None,
      Some(keys.select(col(key)).na.drop().distinct()), key)

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
    commit(spark, path, s"deleteWhere from $path") { h =>
      val hitCond = coalesce(cond, lit(false))
      val hitNames = baseNames(h.rows(h.m.entries, withFileCol = true).filter(hitCond))
      Right(rewrite(h, h.schema, h.m.entries.filter(e => hitNames(e.name)),
        _.filter(!hitCond), None))
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
                    key: String): Int = commit(spark, path, s"deleteKeysMor from $path") { h =>
    require(h.m.statsCol.contains(key),
      s"merge-on-read deletes require the tracked stats key (table tracks " +
        s"${h.m.statsCol.getOrElse("none")}, got '$key') — use deleteKeys/deleteWhere")
    val ks = keys.select(col(key)).na.drop().distinct()
    val hits = candidateFiles(h, ks, key)
    if (hits.isEmpty) Left(h.v)
    else {
      val victims = h.rows(hits, withFileCol = true)
        .join(ks, Seq(key), "left_semi")
        .select(
          element_at(split(col("__mt_file"), "/"), -1).as("__dv_file"),
          col(key).as("__dv_k"))
        .persist()
      try {
        val perFile = victims.groupBy("__dv_file").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        if (perFile.isEmpty) Left(h.v) // keys absent (or already dead): no-op
        else {
          val dvName = writeDv(victims, h.dir, h.fs)
          Right(h.m.copy(entries = h.m.entries.map { e =>
            perFile.get(e.name) match {
              case Some(n) =>
                e.copy(dvs = e.dvs :+ dvName, dvRows = e.dvRows + n)
              case None => e
            }
          }))
        }
      } finally victims.unpersist()
    }
  }

  /** Materialize all deletion vectors: [[optimize]]'s compaction
    * ([[compact]]) over every dv'd file — rewritten without its dead
    * rows, key-sorted into tight disjoint ranges, dv references
    * dropped — run when accumulated dv anti-join cost outweighs one
    * rewrite. Content-neutral w.r.t. VISIBLE rows, and each purged
    * file's unit id (name#dvs) denotes exactly those rows, so the
    * rewrite carries [[Lineage]] and a change feed spanning the purge
    * scans ZERO files. Returns the new version, or -1 when no deletion
    * vectors exist. */
  def purgeDeletes(spark: SparkSession, path: String,
                   targetBytes: Long = 128L * 1024 * 1024): Int =
    commit(spark, path, s"purgeDeletes $path") { h =>
      val dirty = h.m.entries.filter(_.dvs.nonEmpty)
      if (dirty.isEmpty) Left(-1)
      else Right(compact(h, dirty.map(e => e -> h.len(e)), targetBytes))
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
      val units = unitsOf(m.entries)
      m.entries.filterNot(e => idShared(unitId(e))).map(e => e -> units(e).toSet)
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

  /** What a diff of two retained versions must read: the entries
    * [[diffEntries]] cannot prove identical on both sides, as rows
    * under the `toV` schema (pre-evolution files null-fill the added
    * columns). `newDvs` is non-empty exactly when the span changed
    * NOTHING but deletion vectors — every diffed entry is the same
    * file on both sides with a strictly grown dv list, the shape of a
    * deleteKeysMor epoch — and then lists the sidecars the span
    * added. Such a span's only change is [[newlyDead]]: ONE scan of
    * the before-visible rows semi-joined to those (broadcast-small)
    * sidecars, where a diff of both sides would read every dv'd file
    * twice. Delta status is uniform per dv file (a sidecar attaches to
    * every file it touches in ONE publish), and dv lists only grow for
    * a fixed name (any data change retires the name), so the subset
    * check is exact. */
  private final case class Span(spark: SparkSession, dir: Path,
                                mb: Manifest, ma: Manifest,
                                beforeE: Seq[Entry], afterE: Seq[Entry],
                                newDvs: Seq[String]) {
    def schema: StructType = StructType.fromDDL(ma.ddl)
    def before: DataFrame = fromEntries(spark, dir, schema, beforeE, mb.statsCol)
    def after: DataFrame = fromEntries(spark, dir, schema, afterE, ma.statsCol)
    /** The before-visible rows the new sidecars kill (they key on the
      * tracked stats column, which deletion vectors require). */
    def newlyDead: DataFrame = {
      val dv = spark.read.parquet(newDvs.map(n => new Path(dir, n).toString): _*)
      fromEntries(spark, dir, schema, beforeE, mb.statsCol, withFileCol = true)
        .join(broadcast(dv),
          element_at(split(col("__mt_file"), "/"), -1) === col("__dv_file") &&
            col(mb.statsCol.get) === col("__dv_k"),
          "left_semi")
        .drop("__mt_file")
    }
  }

  private def span(spark: SparkSession, path: String, fromV: Int, toV: Int): Span = {
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    val dir = new Path(path)
    val fs = fsFor(spark, dir)
    val vs = versions(fs, dir)
    require(vs.contains(fromV) && vs.contains(toV),
      s"need retained versions, have ${vs.mkString(",")}")
    val mb = readManifest(fs, dir, fromV)
    val ma = readManifest(fs, dir, toV)
    val (beforeE, afterE) = diffEntries(mb, ma)
    val afterByName = afterE.map(e => e.name -> e).toMap
    val dvOnly = beforeE.nonEmpty &&
      beforeE.map(_.name).toSet == afterE.map(_.name).toSet &&
      beforeE.forall { eb =>
        afterByName.get(eb.name).exists(ea =>
          eb.dvs.toSet.subsetOf(ea.dvs.toSet) && eb.dvs.toSet != ea.dvs.toSet)
      }
    val newDvs =
      if (!dvOnly) Nil
      else beforeE.flatMap(eb => afterByName(eb.name).dvs.filterNot(eb.dvs.toSet)).distinct
    Span(spark, dir, mb, ma, beforeE, afterE, newDvs)
  }

  /** SIGNED ROWS of a version span, the delta of any additive
    * aggregate over the table: every row of the files [[diffEntries]]
    * cannot prove identical, under the `toV` schema, with `__sgn` = -1
    * when it is visible at `fromV` and +1 when it is visible at `toV`
    * (a dv-only span: only its newly-dead rows, at -1). No key
    * alignment: a row a rewrite left unchanged appears once per side
    * and cancels in any count or sum, so the delta needs neither a
    * join nor a key-unique snapshot. Same version checks and file
    * pruning as [[changes]]. */
  private[graft] def signedRows(spark: SparkSession, path: String,
                                fromV: Int, toV: Int): DataFrame = {
    val sp = span(spark, path, fromV, toV)
    if (sp.newDvs.nonEmpty) sp.newlyDead.withColumn("__sgn", lit(-1L))
    else sp.before.withColumn("__sgn", lit(-1L))
      .unionByName(sp.after.withColumn("__sgn", lit(1L)))
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
    val sp = span(spark, path, fromV, toV)
    val enforcedByLifecycle =
      sp.mb.statsCol.contains(key) && sp.ma.statsCol.contains(key)
    // a dv-only span's feed is exactly its newly-dead rows, as deletes
    // (no shuffle at all). Mixed spans take the key-aligned diff: a
    // rewrite or append in the span could re-insert a deleted key,
    // which the diff must classify as an update
    if (enforcedByLifecycle && sp.newDvs.nonEmpty)
      return sp.newlyDead
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(toV))
    val before = sp.before
    val after = sp.after
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
    val cols = sp.schema.fieldNames.toSeq
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
    commit(spark, path, s"optimize $path") { h =>
      val small = h.m.entries.map(e => e -> h.len(e)).filter(_._2 < smallBytes)
      if (small.size < 2) Left(-1) // nothing to gain from one file
      else Right(compact(h, small, targetBytes))
    }

  /** The compaction [[optimize]] and [[purgeDeletes]] share: the
    * visible rows of `members` (entry, byte length) rewrite into
    * ceil(bytes/target) files that replace them, stamped with one
    * [[Lineage]] group; every other file keeps its place by name. */
  private def compact(h: Head, members: Seq[(Entry, Long)],
                      targetBytes: Long): Manifest = {
    val nOut = math.max(1L,
      (members.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
    val rows = h.rows(members.map(_._1))
    val staged = stage(h.m.statsCol match {
      // one member-sized shuffle buys disjoint ranges — the probe
      // keeps pruning through every compaction cycle
      case Some(c) => rows.repartitionByRange(nOut, col(c)).sortWithinPartitions(col(c))
      // untracked: boundary change only — no shuffle, no reorder
      case None => rows.coalesce(nOut)
    }, h.dir, h.fs, h.m.statsCol)
    // content units of the compacted sources, chained through earlier
    // intact groups so lineage survives repeated cycles. Chaining is
    // sound ONLY when the member's WHOLE intact group compacts
    // together: a group's origins describe the UNION of its members'
    // rows, and a member compacted alone (e.g. the small remainder
    // file of an earlier compaction, caught while its target-sized
    // siblings stay put) holds an unknowable slice of them — inheriting
    // the full origin set would let a later feed prove too much and
    // skip files whose rows differ. A dv'd member's unit id (name#dvs)
    // denotes exactly the VISIBLE rows the compaction read, so
    // compacting it materializes its deletions as a dataChange=false
    // step.
    val names = members.map(_._1.name).toSet
    val units = unitsOf(h.m.entries, g => names(g.name))
    val origins = members.flatMap(m => units(m._1)).distinct
    val rewritten =
      if (staged.isEmpty || origins.size > MaxLineageUnits) staged
      else {
        val gid = UUID.randomUUID().toString
        staged.map(_.copy(lineage = Some(Lineage(gid, staged.size, origins))))
      }
    h.m.copy(entries = h.m.entries.filterNot(e => names(e.name)) ++ rewritten)
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
