package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference's `/api/execute` surface: users submit KSQL-shaped SQL
  * text. After `Engine.registerFunctions`, those statements parse and
  * run through `spark.sql`, resolving to the same native expressions as
  * the Column API (both build from `graft.functions.T24`). */
class EngineSqlSpec extends AnyFunSuite {
  import SparkTest._
  Engine.registerFunctions(spark)

  private def one(sql: String) = spark.sql(sql).head().get(0)

  test("KSQL scalar surface resolves through spark.sql") {
    assert(one("SELECT PARSE_DATE('20240131', 'yyyyMMdd')").toString == "2024-01-31")
    assert(one("SELECT PARSE_DATE('20240131')").toString == "2024-01-31")
    assert(one("SELECT PARSE_TIMESTAMP('2401311230', 'yyMMddHHmm')").toString
      == "2024-01-31 12:30:00.0")
    assert(one("SELECT SEAB_FIELD('a_b_c', '_', 2)") == "b")
    assert(one("SELECT SEAB_FIELD('a.b.c', '.', 3)") == "c", "delimiter must not act as regex")
    assert(one("SELECT SEAB_HEXTOTEXT(FROM_BYTES('414243', 'hex'))") == "ABC")
    assert(one("SELECT MV_INDEX('1:a#2:b#3:c', 2)") == "b")
    assert(one("SELECT MV_JOIN('1:a#s2:b', '|')") == "a|b")
    assert(one("SELECT INPUTTER_HIS('1:SYS_AGENT1#2:SYS_TELLER2')") == "AGENT1 TELLER2")
  }

  test("malformed input nulls the value, not the query (KSQL semantics)") {
    assert(one("SELECT PARSE_DATE('not-a-date')") == null)
    assert(one("SELECT SEAB_FIELD('nodash', '_', 2)") == null)
    assert(one("SELECT MV_INDEX('1:a', 9)") == null)
  }

  test("T24 multivalue functions resolve to the native splits, not a regex split") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    Seq("1:SYS_A#2:SYS_B").toDF("v").createOrReplaceTempView("engine_sql_native")
    Seq("MV_SPLIT(v)", "MV_INDEX(v, 2)", "MV_JOIN(v, '|')", "SEAB_FIELD(v, '_', 2)",
        "INPUTTER_HIS(v)").foreach { call =>
      val exprs = spark.sql(s"SELECT $call FROM engine_sql_native")
        .queryExecution.analyzed.expressions.flatMap(_.collect { case e => e })
      assert(exprs.exists {
        case _: graft.plans.MvMarkerSplit | _: graft.plans.SplitChar => true
        case _ => false
      }, s"$call must resolve to MvMarkerSplit or SplitChar")
      val regexes = exprs.collect { case sp: StringSplit => sp.regex.eval().toString }
      assert(!regexes.contains(graft.functions.T24.MvMarker),
        s"$call must not regex-split on the multivalue marker: $regexes")
      // INPUTTER_HIS keeps its own audit split (T24.inputterHis keeps
      // empty elements, which the marker decode drops); nothing else
      // may regex-split at all
      if (!call.startsWith("INPUTTER_HIS"))
        assert(regexes.isEmpty, s"$call must not regex-split: $regexes")
    }
  }

  test("every argument form keeps its result; an empty SEAB_FIELD delimiter is named") {
    import spark.implicits._
    Seq(("1:a#2:b#3:c", 2, "|", "x_y_z")).toDF("mv", "n", "d", "s")
      .createOrReplaceTempView("engine_sql_args")
    val r = spark.sql(
      """SELECT MV_INDEX(mv, n), SEAB_FIELD(s, '_', n), MV_JOIN(mv, d), MV_JOIN(mv)
        |FROM engine_sql_args""".stripMargin).head()
    assert(r.getString(0) == "b", "non-literal MV_INDEX index")
    assert(r.getString(1) == "y", "non-literal SEAB_FIELD index")
    assert(r.getString(2) == "a|b|c", "non-literal MV_JOIN delimiter")
    assert(r.getString(3) == "a b c", "default MV_JOIN delimiter")
    val e = intercept[Exception](
      spark.sql("SELECT SEAB_FIELD(s, '', 2) FROM engine_sql_args").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("seab_field delim")),
      s"the error must name the argument: $e")
  }

  test("GraftExtensions injects the full function surface") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must register every builder cleanly
    // the injected surface is the same builder list the session path uses
    val names = Engine.functionBuilders.map(_._1).toSet
    assert(Set("parse_date", "parse_timestamp", "seab_field", "seab_hextotext",
      "from_bytes", "mv_split", "mv_index", "mv_join", "inputter_his",
      "simhash64", "cosine_sim").subsetOf(names))
  }

  test("dedup primitives are expressible in plain SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text").createOrReplaceTempView("engine_sql_docs")
    val rows = spark.sql(
      """SELECT doc_id,
        |  POLYHASH(text) AS h,
        |  WINNOW_FINGERPRINTS(SPLIT(LOWER(TRIM(text)), '\\s+')) AS fps
        |FROM engine_sql_docs ORDER BY doc_id""".stripMargin).collect()
    // SQL results equal the Column-API formulations used by d6/d10
    val expH = Seq("alpha beta gamma delta epsilon zeta", "alpha beta gamma")
      .toDF("t").select(graft.functions.Native.polyHash(col("t"),
        graft.operators.Dedup.P)).collect().map(_.getLong(0))
    assert(rows.map(_.getLong(1)).toSeq == expH.toSeq)
    val expF = Seq("alpha beta gamma delta epsilon zeta", "alpha beta gamma")
      .toDF("t").select(graft.operators.Dedup.winnow(col("t")))
      .collect().map(_.getSeq[Long](0))
    assert(rows.map(_.getSeq[Long](2)).toSeq == expF.toSeq)
    // explicit-argument paths: spelling out the engine defaults must
    // equal the default-argument results (pins argument order and the
    // literal-to-Long conversion), and string-literal numbers with
    // whitespace are accepted like every litInt-based argument
    import graft.operators.Dedup.{WinnowK, WinnowModulus, WinnowW}
    val explicit = spark.sql(
      s"""SELECT POLYHASH(text, ${graft.operators.Dedup.P}) AS h,
         |  WINNOW_FINGERPRINTS(SPLIT(LOWER(TRIM(text)), '\\\\s+'),
         |    $WinnowK, $WinnowW, $WinnowModulus) AS fps,
         |  POLYHASH(text, ' ${graft.operators.Dedup.P} ') AS h2
         |FROM engine_sql_docs ORDER BY doc_id""".stripMargin).collect()
    assert(explicit.map(_.getLong(0)).toSeq == rows.map(_.getLong(1)).toSeq)
    assert(explicit.map(_.getSeq[Long](1)).toSeq == rows.map(_.getSeq[Long](2)).toSeq)
    assert(explicit.map(_.getLong(2)).toSeq == rows.map(_.getLong(1)).toSeq)
  }

  // ---- per-procType statement-TEXT round trips (the reference's
  // template→statement→execute flow closed at the text level: render
  // the emitted MAPPED/MULTIVALUE/BLOB statement for each handler
  // dispatch branch of controllers/index.js:573-610, run it via
  // spark.sql against synthesized RAW rows, and pin it row-for-row to
  // the Column pipeline; the sink DDL must also be runnable SQL) -----

  import graft.operators.{FieldSpec, SchemaConverter}

  private def hexOf(s: String) =
    s.getBytes("UTF-8").map("%02X".format(_)).mkString

  private def assertTextEqualsDsl(sql: String,
                                  dsl: org.apache.spark.sql.DataFrame,
                                  sortCols: Seq[String]): Unit = {
    val viaSql = spark.sql(sql)
    assert(viaSql.columns.toSeq == dsl.columns.toSeq,
      s"emitted text schema drifted: ${viaSql.columns.toSeq} vs ${dsl.columns.toSeq}")
    import org.apache.spark.sql.functions.col
    val a = viaSql.orderBy(sortCols.map(col): _*).collect().map(_.toString).toSeq
    val b = dsl.orderBy(sortCols.map(col): _*).collect().map(_.toString).toSeq
    assert(a == b, s"emitted text rows drifted:\n$a\nvs\n$b")
  }

  private def assertDdlRuns(schema: Seq[FieldSpec], table: String,
                            multivalue: Boolean = false): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(SchemaConverter.sinkDdl(schema, table, multivalue))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("procType XML single: emitted statement text runs and equals the pipeline") {
    import spark.implicits._
    val raw = Seq(
      ("1", Map("NAME" -> "ALPHA", "D" -> "20240131", "LOCALREF_N" -> "7",
        "MV" -> "1:a#2:b#3:c")),
      ("2", Map("NAME" -> "BETA", "D" -> "not-a-date", "MV" -> "1:x")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(
      FieldSpec("NAME"),
      FieldSpec("D", dataType = "date", transformation = "parse_date"),
      FieldSpec("LOCALREF_N", dataType = "int"),
      FieldSpec("MV", transformation = "string-join('|')"),
      FieldSpec("RECID", transformation = "UPPER($) KEY2"))
    raw.createOrReplaceTempView("proc_xml_single_raw")
    assertTextEqualsDsl(
      SchemaConverter.mappedSql(sch, "proc_xml_single_raw"),
      SchemaConverter.pipeline(raw, sch), Seq("RECID"))
    assertDdlRuns(sch, "proc_xml_single_sink")
  }

  test("procType XML multivalue: emitted statement text runs and equals the pipeline") {
    import spark.implicits._
    val raw = Seq(
      ("1", Map("NAME" -> "ALPHA",
        "DTS_multivalue" -> "1:20240131#2:20240301",
        "AMTS_multivalue" -> "1:10.5#2:20.25#3:30",
        "SUBS_multivalue" -> "1:a#2:b")),
      ("2", Map("NAME" -> "BETA", "DTS" -> "1:19991231",
        "AMTS" -> "1:1.5", "SUBS" -> "1:z")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(
      FieldSpec("NAME"),
      FieldSpec("DTS", dataType = "date", transformation = "parse_date",
        parseSv = false, parseVm = true),
      FieldSpec("AMTS", dataType = "double", parseSv = false, parseVm = true),
      FieldSpec("SUBS", parseSv = false, parseVs = true))
    raw.createOrReplaceTempView("proc_xml_multi_raw")
    assertTextEqualsDsl(
      SchemaConverter.multivalueSql(sch, "proc_xml_multi_raw"),
      SchemaConverter.pipeline(raw, sch),
      Seq("RECID", SchemaConverter.MvPos))
    assertDdlRuns(sch, "proc_xml_multi_sink", multivalue = true)
  }

  test("procType BLOB FE: emitted statement text runs and equals the pipeline") {
    import spark.implicits._
    val blob1 = hexOf("ALPHA") + "FE" + hexOf("20240131") + "FE" + hexOf("12.50")
    val blob2 = hexOf("BETA") // short record: later fields null
    val raw = Seq(("1", blob1), ("2", blob2))
      .toDF(SchemaConverter.RecId, SchemaConverter.Blob)
    val sch = Seq(
      FieldSpec("NAME"),
      FieldSpec("D", dataType = "date", transformation = "parse_date"),
      FieldSpec("AMT", dataType = "double"))
    raw.createOrReplaceTempView("proc_blob_fe_raw")
    assertTextEqualsDsl(
      SchemaConverter.blobFeSql(sch, "proc_blob_fe_raw"),
      SchemaConverter.blobFe(raw, sch), Seq("RECID"))
    assertDdlRuns(sch, "proc_blob_fe_sink")
  }

  test("procType BLOB FEFD: emitted statement text runs and equals the pipeline") {
    import spark.implicits._
    val blob = hexOf("S1") + "FE" +
      hexOf("20240131") + "FD" + hexOf("20240301") + "FE" +
      hexOf("a") + "FC" + hexOf("b") + // FD-multivalue + FC-subvalue field
      "FE" + hexOf("T2")
    val raw = Seq(("1", blob))
      .toDF(SchemaConverter.RecId, SchemaConverter.Blob)
    val sch = Seq(
      FieldSpec("STATUS"),
      FieldSpec("DTS", dataType = "date", transformation = "parse_date",
        parseSv = false, parseVm = true),
      FieldSpec("SUBS", parseSv = false, parseVs = true),
      // a repeated name still reads its own position
      FieldSpec("STATUS", transformation = "LOWER($) STATUS2"))
    raw.createOrReplaceTempView("proc_blob_fefd_raw")
    assertTextEqualsDsl(
      SchemaConverter.blobFeSql(sch, "proc_blob_fefd_raw"),
      SchemaConverter.blobFe(raw, sch),
      Seq("RECID", SchemaConverter.MvPos))
    assertDdlRuns(sch, "proc_blob_fefd_sink", multivalue = true)
  }

  test("procType BLOB SPLIT: emitted statement text runs and equals the pipeline") {
    import spark.implicits._
    val raw = Seq(
      ("1", Map("NAME" -> hexOf("ALPHA"), "D" -> hexOf("20240131"),
        "AMT" -> hexOf("12.50"))),
      ("2", Map("NAME" -> hexOf("BETA"), "D" -> "zz-not-hex")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(
      FieldSpec("NAME"),
      FieldSpec("D", dataType = "date", transformation = "parse_date"),
      FieldSpec("AMT", dataType = "double"))
    raw.createOrReplaceTempView("proc_blob_split_raw")
    assertTextEqualsDsl(
      SchemaConverter.blobMappedSql(sch, "proc_blob_split_raw"),
      SchemaConverter.blobMapped(raw, sch), Seq("RECID"))
    assertDdlRuns(sch, "proc_blob_split_sink")
  }

  test("a reference-shaped MAPPED statement runs end-to-end") {
    import spark.implicits._
    Seq(("1", Map("D" -> "20240131", "AMT" -> "12.5", "MV" -> "1:x#2:y")))
      .toDF("RECID", "XMLRECORD").createOrReplaceTempView("engine_sql_raw")
    val row = spark.sql(
      """SELECT RECID,
        |  PARSE_DATE(XMLRECORD['D'], 'yyyyMMdd') AS D,
        |  TRY_CAST(XMLRECORD['AMT'] AS double) AS AMT,
        |  MV_JOIN(XMLRECORD['MV'], ' ') AS MV
        |FROM engine_sql_raw""".stripMargin).head()
    assert(row.getString(0) == "1")
    assert(row.getDate(1).toString == "2024-01-31")
    assert(row.getDouble(2) == 12.5)
    assert(row.getString(3) == "x y")
  }
}
