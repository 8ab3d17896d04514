package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.T24
import graft.operators.{FieldSpec, SchemaConverter}

class SchemaConverterSpec extends AnyFunSuite {
  import SparkTest._
  // the SQL emission path resolves the KSQL function surface
  // (PARSE_DATE, SEAB_FIELD, …) from the session registry
  graft.Engine.registerFunctions(spark)

  private def raw = {
    import spark.implicits._
    Seq(
      ("1", Map("NAME" -> "ALPHA", "D" -> "20240131", "LOCALREF_N" -> "7",
        "MV" -> "1:a#2:b#3:c", "IN" -> "1:SYS_AGENT1#2:SYS_TELLER1")),
      ("2", Map("NAME" -> "BETA", "D" -> "19991231", "LOCALREF_N" -> "42",
        "MV" -> "1:x#2:y", "IN" -> "1:SYS_AGENT2"))
    ).toDF(SchemaConverter.RecId, SchemaConverter.Record)
  }

  private val schema = Seq(
    FieldSpec("NAME"),
    FieldSpec("D", dataType = "date", transformation = "parse_date"),
    FieldSpec("LOCALREF_N", dataType = "int"),
    FieldSpec("MV", transformation = "string-join('|')"),
    FieldSpec("IN", transformation = "inputter_his"))

  test("mapped stage compiles every transformation") {
    val out = SchemaConverter.mapped(raw, schema).orderBy("RECID").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("ALPHA", "BETA"))
    assert(out.head.getDate(2).toString == "2024-01-31")
    assert(out.map(_.getInt(3)).toSeq == Seq(7, 42))
    assert(out.map(_.getString(4)).toSeq == Seq("a|b|c", "x|y"))
    assert(out.map(_.getString(5)).toSeq == Seq("AGENT1 TELLER1", "AGENT2"))
  }

  test("LOCALREF_ prefix is stripped from output names") {
    val names = SchemaConverter.mapped(raw, schema).columns.toSeq
    assert(names == Seq("RECID", "NAME", "D", "N", "MV", "IN"))
  }

  test("multivalue stage explodes VM positions and keeps SV fields") {
    val sch = Seq(FieldSpec("NAME"), FieldSpec("MV", parseSv = false, parseVm = true))
    val out = SchemaConverter.multivalue(raw, sch)
      .orderBy("RECID", SchemaConverter.MvPos).collect()
    assert(out.map(r => (r.getString(0), r.getInt(2), r.getString(3))).toSeq ==
      Seq(("1", 1, "a"), ("1", 2, "b"), ("1", 3, "c"), ("2", 1, "x"), ("2", 2, "y")))
    assert(out.forall(r => Set("ALPHA", "BETA")(r.getString(1))))
  }

  test("unequal VM arrays pad with null (T24 missing-value semantics)") {
    import spark.implicits._
    val r2 = Seq(("1", Map("A" -> "1:a#2:b#3:c", "B" -> "1:x")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(
      FieldSpec("A", parseSv = false, parseVm = true),
      FieldSpec("B", parseSv = false, parseVm = true))
    val out = SchemaConverter.multivalue(r2, sch).orderBy(SchemaConverter.MvPos).collect()
    assert(out.length == 3)
    assert(out.map(r => Option(r.getString(3))).toSeq == Seq(Some("x"), None, None))
  }

  test("malformed values null the field, not the pipeline (KSQL semantics)") {
    import spark.implicits._
    val bad = Seq(
      ("1", Map("NAME" -> "OK", "D" -> "not-a-date", "LOCALREF_N" -> "NaNope",
        "MV" -> "1:x", "IN" -> "1:A_B")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val out = SchemaConverter.mapped(bad, schema).collect().head
    assert(out.getString(1) == "OK")
    assert(out.isNullAt(2), "bad date must be null")
    assert(out.isNullAt(3), "bad int must be null")
  }

  test("FUNC($) templates substitute the field and honor the alias") {
    import spark.implicits._
    val raw2 = Seq(("1", Map("N" -> "hello", "V" -> "42")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(
      FieldSpec("N", transformation = "UPPER($) LOUD"),
      FieldSpec("V", dataType = "int", transformation = "CONCAT($, '0')"))
    val out = SchemaConverter.mapped(raw2, sch)
    assert(out.columns.toSeq == Seq("RECID", "LOUD", "V"))
    val r = out.head()
    assert(r.getString(1) == "HELLO")
    assert(r.getInt(2) == 420)
    // SQL emission path agrees
    raw2.createOrReplaceTempView("tmpl_raw_test")
    val viaSql = spark.sql(SchemaConverter.mappedSql(sch, "tmpl_raw_test")).head()
    assert(viaSql.getString(1) == "HELLO" && viaSql.getInt(2) == 420)
  }

  test("emitted SQL text equals the Column-DSL pipeline") {
    raw.createOrReplaceTempView("t24_raw_test")
    val sql = SchemaConverter.mappedSql(schema, "t24_raw_test")
    val viaSql = spark.sql(sql).orderBy("RECID").collect().map(_.toString).toSeq
    val viaDsl = SchemaConverter.mapped(raw, schema).orderBy("RECID")
      .collect().map(_.toString).toSeq
    assert(viaSql == viaDsl)
  }

  test("VM fields apply their transformation per exploded element") {
    import spark.implicits._
    val r = Seq(("1", Map("DTS" -> "1:20240131#2:20240301", "BAD" -> "1:x")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(
      FieldSpec("DTS", dataType = "date", transformation = "parse_date",
        parseSv = false, parseVm = true))
    val out = SchemaConverter.multivalue(r, sch).orderBy(SchemaConverter.MvPos).collect()
    assert(out.map(_.getDate(2).toString).toSeq == Seq("2024-01-31", "2024-03-01"))
  }

  test("$$ templates splice the field NAME, not the value") {
    import spark.implicits._
    val r = Seq(("1", Map("SEG" -> "AUTOMOBILE")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(FieldSpec("SEG", transformation = "CONCAT('$$', '_X') TAGGED"))
    val out = SchemaConverter.mapped(r, sch)
    assert(out.columns.toSeq == Seq("RECID", "TAGGED"))
    // `$$` → the name SEG (spliced as text), NOT the value AUTOMOBILE
    assert(out.head.getString(1) == "SEG_X")
  }

  test("RECID as template input maps to the record key") {
    import spark.implicits._
    val r = Seq(("77", Map("A" -> "v"))).toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(FieldSpec("RECID", transformation = "CONCAT($, '_R') RTAG"))
    val out = SchemaConverter.mapped(r, sch)
    assert(out.head.getString(1) == "77_R")
  }

  test("FUNC([n]) templates take the n-th element with inferred params") {
    import spark.implicits._
    val r = Seq(("1", Map(
      "MV" -> "1:A_10#2:B_20",
      "DMV" -> "1:20240131#2:20240301")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(
      FieldSpec("MV", transformation = "seab_field([2]) P2"),
      FieldSpec("DMV", dataType = "date", transformation = "parse_date([1]) D1"),
      FieldSpec("MV", transformation = "SUBSTRING([1],1,3) S3"))
    val out = SchemaConverter.mapped(r, sch)
    assert(out.columns.toSeq == Seq("RECID", "P2", "D1", "S3"))
    val row = out.head()
    assert(row.getString(1) == "20")          // seab_field elem2 '_' part 2
    assert(row.getDate(2).toString == "2024-01-31")
    assert(row.getString(3) == "A_1")         // explicit params override
  }

  test("nested second-level templates wrap the transformed output") {
    import spark.implicits._
    val r = Seq(("1", Map("N" -> "abc"))).toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(FieldSpec("N", nested = "UPPER($) BIG"))
    val out = SchemaConverter.mapped(r, sch)
    assert(out.columns.toSeq == Seq("RECID", "BIG"))
    assert(out.head.getString(1) == "ABC")
  }

  test("unrecognized transformations pass through as raw expressions") {
    import spark.implicits._
    val r = Seq(("42", Map("A" -> "v"))).toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(FieldSpec("K", transformation = "SUBSTRING(RECID, 1, 1)"))
    val out = SchemaConverter.mapped(r, sch)
    assert(out.head.getString(1) == "4")
  }

  test("multivalue-consuming transforms read the NAME_multivalue key (T24 layout)") {
    import spark.implicits._
    // the reference layout stores multivalued fields under
    // NAME_multivalue; plain-key data must keep resolving too
    val r = Seq(
      ("1", Map("MV_multivalue" -> "1:a#2:b")),
      ("2", Map("MV" -> "1:c#2:d")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val sch = Seq(FieldSpec("MV", transformation = "string-join('|')"))
    val out = SchemaConverter.mapped(r, sch).orderBy("RECID").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("a|b", "c|d"))
  }

  test("the INPUTTER_HIS field name forces the audit transform") {
    import spark.implicits._
    val r = Seq(("1", Map("INPUTTER_multivalue" -> "1:SYS_AGENT9#2:SYS_TELLER9")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val out = SchemaConverter.mapped(r, Seq(FieldSpec("INPUTTER_HIS")))
    assert(out.columns.toSeq == Seq("RECID", "INPUTTER_HIS"))
    assert(out.head.getString(1) == "AGENT9 TELLER9")
  }

  test("compileField resolves every built-in transformation to its direct T24 composition") {
    import spark.implicits._
    val src = Seq("1:SYS_A#2:SYS_B").toDF("v")
    val v = col("v")
    def resolved(c: org.apache.spark.sql.Column) =
      src.select(c).queryExecution.analyzed.expressions.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }
    val direct = Seq(
      ""                 -> v,
      "parse_date"       -> T24.parseDate(v),
      "parse_timestamp"  -> T24.parseTimestamp(v),
      "substring"        -> T24.substr35(v),
      "seab_field"       -> T24.seabField(v, "_", lit(2)),
      "inputter_his"     -> T24.inputterHis(v),
      "string-join"      -> T24.mvJoin(v, lit(" ")),
      "string-join('d')" -> T24.mvJoin(v, lit("d")),
      "[2]"              -> T24.mvIndex(v, lit(2)))
    val wraps = Seq[(String, String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      ("string", "", c => c),
      ("timestamp", "", c => c.try_cast("timestamp")),
      ("decimal(18,2)", "CONCAT($, '-') W", c => concat(c, lit("-")).try_cast("decimal(18,2)")))
    for ((t, expected) <- direct; (dataType, nested, wrap) <- wraps) {
      val spec = FieldSpec("F", dataType = dataType, transformation = t, nested = nested)
      val got = resolved(SchemaConverter.compileField(v, spec)._1)
      val want = resolved(wrap(expected))
      assert(got.semanticEquals(want), s"$spec:\n$got\nvs\n$want")
    }
  }

  test("engine functions in templates resolve without session registration") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val r = Seq(("1", Map("P" -> "A_B_C")))
      .toDF(SchemaConverter.RecId, SchemaConverter.Record)
    val out = SchemaConverter.mapped(r,
      Seq(FieldSpec("P", transformation = "SEAB_FIELD($,'_',2) P2")))
    assert(out.columns.toSeq == Seq("RECID", "P2"))
    assert(out.head.getString(1) == "B")
  }

  test("blobFe splits a packed FE-delimited hex record positionally") {
    import spark.implicits._
    def hexOf(s: String) = s.getBytes("UTF-8").map("%02X".format(_)).mkString
    val blob = hexOf("ALPHA") + "FE" + hexOf("20240131") + "FE" + hexOf("12.50")
    val r = Seq(("1", blob)).toDF(SchemaConverter.RecId, SchemaConverter.Blob)
    val sch = Seq(
      FieldSpec("NAME"),
      FieldSpec("D", dataType = "date", transformation = "parse_date"),
      FieldSpec("AMT", dataType = "double"))
    val out = SchemaConverter.blobFe(r, sch).head()
    assert(out.getString(1) == "ALPHA")
    assert(out.getDate(2).toString == "2024-01-31")
    assert(out.getDouble(3) == 12.50)
  }

  test("blobFe tolerates short and malformed blobs (null fields, no failure)") {
    import spark.implicits._
    def hexOf(s: String) = s.getBytes("UTF-8").map("%02X".format(_)).mkString
    val r = Seq(
      ("1", hexOf("ONLYONE")),        // fewer fields than the schema
      ("2", "zz-not-hex"),            // unhex -> null payload
      ("3", null.asInstanceOf[String])) // null blob
      .toDF(SchemaConverter.RecId, SchemaConverter.Blob)
    val sch = Seq(
      FieldSpec("A"),
      FieldSpec("D", dataType = "date", transformation = "parse_date"))
    val out = SchemaConverter.blobFe(r, sch).orderBy("RECID").collect()
    assert(out.length == 3)
    assert(out(0).getString(1) == "ONLYONE" && out(0).isNullAt(2))
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
  }

  test("an SV-only schema through mapped keeps just RECID + fields") {
    import spark.implicits._
    val r = Seq(("1", Map("A" -> "x"))).toDF(SchemaConverter.RecId, SchemaConverter.Record)
    // a field missing from the record resolves to null, not an error
    val out = SchemaConverter.mapped(r, Seq(FieldSpec("A"), FieldSpec("MISSING")))
    assert(out.columns.toSeq == Seq("RECID", "A", "MISSING"))
    val row = out.head()
    assert(row.getString(1) == "x" && row.isNullAt(2))
  }

  test("blobFe FEFD mode explodes FD-delimited multivalues with transforms") {
    import spark.implicits._
    def hexOf(s: String) = s.getBytes("UTF-8").map("%02X".format(_)).mkString
    val blob = hexOf("S1") + "FE" + hexOf("20240131") + "FD" + hexOf("20240301")
    val r = Seq(("1", blob)).toDF(SchemaConverter.RecId, SchemaConverter.Blob)
    val sch = Seq(
      FieldSpec("STATUS"),
      FieldSpec("DTS", dataType = "date", transformation = "parse_date",
        parseSv = false, parseVm = true))
    val out = SchemaConverter.blobFe(r, sch).orderBy(SchemaConverter.MvPos).collect()
    assert(out.length == 2)
    assert(out.map(_.getString(1)).toSeq == Seq("S1", "S1"))
    assert(out.map(_.getDate(3).toString).toSeq == Seq("2024-01-31", "2024-03-01"))
  }

  test("a registered statement template overrides the emission; default returns on removal") {
    import graft.operators.SchemaRegistry
    val sch = Seq(FieldSpec("NAME"))
    val before = SchemaConverter.sinkDdl(sch, "ACCT_SINK")
    try {
      // a KSQL-dialect user template, the reference's DDL_SINGLE shape
      SchemaRegistry.putTemplate(SchemaConverter.DdlSingleTemplateName,
        "CREATE STREAM ${tableName} (\n${columns}\n) WITH (KAFKA_TOPIC='${tableName}', ${options});")
      val custom = SchemaConverter.sinkDdl(sch, "ACCT_SINK",
        options = Seq("VALUE_FORMAT" -> "AVRO"))
      assert(custom ==
        "CREATE STREAM ACCT_SINK (\n  RECID STRING,\n  NAME STRING\n) " +
          "WITH (KAFKA_TOPIC='ACCT_SINK', 'VALUE_FORMAT' = 'AVRO');")
      // the mapped statement renders through its own template name
      SchemaRegistry.putTemplate(SchemaConverter.MappedTemplateName,
        "/* ${schemaName} */ SELECT ${recId} FROM ${source}")
      assert(SchemaConverter.mappedSql(sch, "SRC") ==
        "/* SRC */ SELECT RECID FROM SRC")
    } finally {
      SchemaRegistry.removeTemplate(SchemaConverter.DdlSingleTemplateName)
      SchemaRegistry.removeTemplate(SchemaConverter.MappedTemplateName)
    }
    // with the store empty again, the built-in emission is byte-identical
    assert(SchemaConverter.sinkDdl(sch, "ACCT_SINK") == before)
    assert(before ==
      "CREATE TABLE ACCT_SINK (\n  RECID STRING,\n  NAME STRING\n) USING parquet")
  }

  test("sinkDdl options emit a runnable OPTIONS clause") {
    val sch = Seq(FieldSpec("NAME"), FieldSpec("V", dataType = "int"))
    val ddl = SchemaConverter.sinkDdl(sch, "graft_ddl_opts_test",
      options = Seq("compression" -> "snappy", "path.note" -> "it''s quoted"))
    assert(ddl.contains(
      "OPTIONS ('compression' = 'snappy', 'path.note' = 'it''''s quoted')"))
    // the emitted DDL must be valid Spark SQL, not just text
    spark.sql("DROP TABLE IF EXISTS graft_ddl_opts_test")
    spark.sql(ddl)
    try {
      val cat = spark.sql("DESCRIBE TABLE graft_ddl_opts_test").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(cat("RECID") == "string" && cat("V") == "int")
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_opts_test")
  }
}
