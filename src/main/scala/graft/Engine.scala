package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{decode, lit, unhex}
import org.apache.spark.sql.internal.SQLConf

import graft.functions.T24

/** Runtime configuration applied idempotently at the head of every
  * engine entry point. graft's own mains (`Bench`, `Verify`,
  * `StreamDrive`, `GenData`) build their one session with [[session]],
  * which configures it before returning it; a deployment that builds its
  * own session calls [[configure]] on it first, so anything the engine
  * needs beyond defaults is set here at runtime rather than at builder
  * time.
  *
  * Besides session settings, [[configure]] installs two JVM-level ones,
  * and they must run first: before the session's first `spark.conf` call
  * (which builds Spark's shared state and, with it, the cached `file:`
  * FileSystem) and before its first plan (which initializes Spark's
  * codegen cache). Neither adds a conf, env var or parameter, and a value
  * the deployment set explicitly always wins:
  *  - [[LocalFiles.install]]: a local file system that forks no process
  *    per file operation;
  *  - [[CodegenCacheEntries]]: a codegen cache that holds a unit's classes.
  */
object Engine {
  /** The one session recipe of graft's mains: `local[SPARK_GRAFT_CPUS]`
    * (default: the machine's cores) with as many shuffle partitions, no
    * UI, whole-stage codegen fallback off (a Janino compile failure
    * aborts instead of running interpreted) and the engine's SQL
    * extensions. It is configured before it is returned, so no caller
    * plans or touches a file first. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }

  def configure(spark: SparkSession): SparkSession = {
    LocalFiles.install(spark.sparkContext.hadoopConfiguration)
    sizeCodegenCache(spark.sparkContext.getConf)
    // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark refuses
    // by default; read as Long (ns since epoch) and convert explicitly.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    registerFunctions(spark)
    spark
  }

  /** Entries of Spark's generated-class cache, one LRU cache per JVM
    * whose default of 100 is smaller than one unit of graft's work: a
    * `batch_mix` pass of the graftbench benchmark uses 150-200 distinct
    * classes and a `cdc_hot` epoch about 125, so at 100 a class is
    * evicted before its next use and recompiled (1.6 s of compiles per
    * `batch_mix` pass, 4 cores). Measured per pass: 150 entries still
    * compiled 452 ms; 200, 300 and 1000 compiled 0 ms, and 1000 left the
    * run's peak RSS unchanged. 1000 leaves room for a JVM that serves
    * several such workloads. */
  val CodegenCacheEntries = 1000

  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** The cache size to install, or None when the deployment set its
    * own in the SparkConf. */
  private[graft] def codegenCacheEntries(conf: SparkConf): Option[Int] =
    if (conf.contains(CodegenCacheKey)) None else Some(CodegenCacheEntries)

  private var codegenCacheDecided = false

  /** Once per JVM: Spark sizes the cache from `SQLConf.get` when
    * `CodeGenerator` initializes, so initialize it here under a conf
    * that carries the size. A JVM that compiled code before its first
    * [[configure]] keeps the size it started with (Spark's 100). */
  private def sizeCodegenCache(conf: SparkConf): Unit = synchronized {
    if (!codegenCacheDecided) {
      codegenCacheDecided = true
      codegenCacheEntries(conf).foreach { n =>
        val sized = new SQLConf
        sized.setConfString(CodegenCacheKey, n.toString)
        SQLConf.withExistingConf(sized)(CodeGenerator.compileTime)
      }
    }
  }

  /** The engine's SQL function surface by name — shared by
    * session-level registration ([[registerFunctions]]), the
    * `spark.sql.extensions` deployment path ([[GraftExtensions]]) and
    * `SchemaConverter`, which expands these names while it parses a
    * field's statement text, so its Column pipeline needs no
    * registration. */
  lazy val functionBuilders: Map[String, Seq[Expression] => Expression] = {
    val out = Map.newBuilder[String, Seq[Expression] => Expression]
    def ensure(name: String)(builder: Seq[Expression] => Expression): Unit =
      out += name -> builder
    def litOf(e: Expression, what: String): Any = e match {
      case Literal(v, _) if v != null => v
      case other => sys.error(s"$what must be a literal, got $other")
    }
    def litStr(e: Expression, what: String): String = litOf(e, what).toString
    def litInt(e: Expression, what: String): Int = litStr(e, what).trim.toInt

    ensure("simhash64")(exprs => graft.plans.SimHash64(exprs.head))
    ensure("cosine_sim")(exprs => graft.plans.CosineSim(exprs(0), exprs(1)))
    ensure("try_parse_timestamp") { exprs =>
      graft.plans.TryParseTimestamp(exprs.head, litStr(exprs(1), "try_parse_timestamp fmt"))
    }
    ensure("word_shingles") { exprs =>
      graft.plans.WordShingles(exprs.head, litInt(exprs(1), "word_shingles k"))
    }
    // dedup primitives for SQL-first users: POLYHASH(s [, modulus]) and
    // WINNOW_FINGERPRINTS(tokens [, k, w, modulus]) with the engine's
    // default constants (graft.operators.Dedup.P / the d10 parameters),
    // so the d6/d10/d16 pipelines are expressible in plain SQL
    def litLong(e: Expression, what: String): Long = {
      val s = litStr(e, what).trim
      val v = try s.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$what must be an integer literal, got '$s'")
      }
      require(v > 0, s"$what must be positive, got $v")
      v
    }
    ensure("polyhash") { exprs =>
      val p = if (exprs.length > 1) litLong(exprs(1), "polyhash modulus")
              else graft.operators.Dedup.P
      graft.plans.PolyHash(exprs.head, p)
    }
    ensure("winnow_fingerprints") { exprs =>
      val k = if (exprs.length > 1) litInt(exprs(1), "winnow k")
              else graft.operators.Dedup.WinnowK
      val w = if (exprs.length > 2) litInt(exprs(2), "winnow w")
              else graft.operators.Dedup.WinnowW
      val p = if (exprs.length > 3) litLong(exprs(3), "winnow modulus")
              else graft.operators.Dedup.WinnowModulus
      graft.plans.WinnowFingerprints(exprs.head, k, w, p)
    }
    // T24 surface (reference controllers/index.js:57-170, 293-403): each
    // name builds from its one definition in graft.functions.T24 (or the
    // native expression), so KSQL-shaped statements through spark.sql
    // and the Column pipeline run the same native/codegen expressions.
    def t24(name: String)(f: Seq[Expression] => Column): Unit =
      ensure(name)(exprs => GraftBridge.expression(f(exprs)))
    def c(e: Expression): Column = GraftBridge.column(e)
    t24("parse_date") { e =>
      if (e.length > 1) T24.parseDate(c(e(0)), litStr(e(1), "parse_date fmt"))
      else T24.parseDate(c(e(0)))
    }
    t24("parse_timestamp") { e =>
      if (e.length > 1) T24.parseTimestamp(c(e(0)), litStr(e(1), "parse_timestamp fmt"))
      else T24.parseTimestamp(c(e(0)))
    }
    t24("seab_field") { e =>
      val delim = litStr(e(1), "seab_field delim")
      require(delim.nonEmpty, "seab_field delim must be a non-empty string")
      T24.seabField(c(e(0)), delim, c(e(2)))
    }
    // SEAB_HEXTOTEXT(FROM_BYTES(x,'hex')) — the reference's hex-decode
    // pair (controllers/index.js:307); together they are T24.hexToText
    t24("seab_hextotext")(e => decode(c(e.head), "UTF-8"))
    t24("from_bytes") { e =>
      val enc = if (e.length > 1) litStr(e(1), "from_bytes encoding") else "hex"
      require(enc.equalsIgnoreCase("hex"), s"from_bytes: only 'hex' is supported, got $enc")
      unhex(c(e.head))
    }
    t24("mv_split")(e => T24.mvSplit(c(e.head)))
    t24("mv_index")(e => T24.mvIndex(c(e(0)), c(e(1))))
    t24("mv_join")(e => T24.mvJoin(c(e(0)), if (e.length > 1) c(e(1)) else lit(" ")))
    t24("inputter_his")(e => T24.inputterHis(c(e.head)))
    // the BLOB FE/FEFD packed-record decode and the subvalue split —
    // registered so the emitted BLOB_PARSE_T24 statement TEXT resolves
    // to the SAME native expressions as the Column pipeline
    ensure("mv_decode")(exprs => graft.plans.MvDecode(exprs.head))
    ensure("split_char")(exprs =>
      graft.plans.SplitChar(exprs(0), litStr(exprs(1), "split_char separator")))
    out.result()
  }

  /** Expose native expressions AND the full T24/KSQL scalar surface to
    * the SQL side (the reference's users write KSQL-shaped SQL against
    * `/api/execute`; `spark.sql` is the analog — after registration the
    * reference's generated statements parse and run as-is). */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functionBuilders.foreach { case (name, builder) =>
      if (!registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))) {
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
    }
  }

  /** Wrap a query builder so Engine configuration always precedes it. */
  def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => f(configure(s), d)
}
