package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.functions.T24

/** One field of a T24 schema document — the reference's `procData` items
  * (`/root/reference/src/controllers/index.js:10-26`): `name`,
  * `transformation`, target `type`, the three parse flags
  * (`should_parse_sv` / `_vm` / `_vs`), and the optional second-level
  * `nested` template.
  */
case class FieldSpec(
    name: String,
    dataType: String = "string",
    transformation: String = "",
    parseSv: Boolean = true,
    parseVm: Boolean = false,
    parseVs: Boolean = false,
    nested: String = "")

/** The reference's core capability re-expressed Spark-first.
  *
  * The reference compiles a schema document into KSQL *text* (RAW →
  * MAPPED → MULTIVALUE → SINK statements, `controllers/index.js:406-623`).
  * Here one dispatch, [[sqlField]], writes each field's transform chain
  * as KSQL-shaped statement text. The statement emitters (`mappedSql`,
  * …) render that text for `spark.sql`, and the Column pipeline
  * ([[compileField]]) parses the same text into a Catalyst tree over a
  * raw DataFrame (`RECID` string + `XMLRECORD map<string,string>`, or a
  * packed hex `BLOB`), so pushdown/pruning/codegen apply to the
  * generated pipeline. Either way every KSQL function name resolves to
  * its one definition in `graft.functions.T24`, through
  * `Engine.functionBuilders`.
  *
  * Transformation grammar (reference `controllers/index.js:57-170`):
  *  - `""`              field passthrough `XMLRECORD['NAME']`
  *  - `"parse_date"`    PARSE_DATE yyyyMMdd
  *  - `"parse_timestamp"` PARSE_TIMESTAMP yyMMddHHmm
  *  - `"substring"`     SUBSTRING(x,1,35)
  *  - `"seab_field"`    split-by-'_'-take-2nd
  *  - `"string-join"` / `"string-join('<d>')"`  multivalue join
  *  - `"[n]"`           multivalue positional index (1-based)
  *  - `"inputter_his"`  the INPUTTER_HIS audit transform
  *  - `"FUNC(… $ …) [ALIAS]"` template: `$` = the field value (`DATA
  *    .RECID` when the field is named RECID, `:104-105`), `$$` = the
  *    field NAME spliced as text (`:110-111`; exclusive with `$`)
  *  - `"FUNC([n] [params]) [ALIAS]"` — FUNC over the n-th multivalue
  *    element, params inferred from the function (parse_date →
  *    `'yyyyMMdd'`, substring → `1,35`, seab_field → `'_',2`) or given
  *    explicitly (`:115-143`)
  *  - anything else     raw-expression passthrough, emitted verbatim
  *    (`:145-146`)
  * After the transformation, an optional `nested` template (`FUNC($)
  * [ALIAS]`) wraps the result (`:149-153`), then a CAST to the target
  * type (`:155-157`). `LOCALREF_` name prefixes are stripped (`:67-69`).
  * VM/VS fields receive the SAME dispatch per exploded element — the
  * reference's `multiParser` (`:172-290`).
  */
object SchemaConverter {
  val RecId = "RECID"
  val Record = "XMLRECORD"
  /** Packed-record input column for the BLOB FE/FEFD modes. */
  val Blob = "BLOB"
  /** Position column added by the multivalue explode stage. */
  val MvPos = "MV_POS"

  /** T24 packed-record delimiters after a latin-1 decode of the blob
    * (every byte maps to one char, so 0xFE/0xFD/0xFC survive). */
  val FeSep = "þ" // 0xFE: field marker
  val FdSep = "ý" // 0xFD: value (multivalue) marker
  val FcSep = "ü" // 0xFC: subvalue marker

  private val IndexT = """^\[(\d+)\]$""".r
  private val JoinArgT = """string-join\('([^']*)'\)""".r
  /** `FUNC(args) [ALIAS]` template transformations — the reference's
    * `$`-substitution parser (`controllers/index.js:96-144`). */
  private val TemplateT = """^([^\s(]+)\((.*)\)\s*(\S*)$""".r
  /** Template args of the `[n] params` element form (`:115-143`). */
  private val MvElemT = """^\[(\d+)\](.*)$""".r
  /** `nested` second-level template: `FUNC($) [ALIAS]` (`:149-153`). */
  private val NestedT = """(?s)^(.*\))\s*(\S*)\s*$""".r

  /** Attribute name [[compileField]] hands to [[sqlField]] as the input;
    * the parsed tree has the input column's expression substituted at
    * every such reference — the reference's string substitution, but
    * the result is a Catalyst tree, not text. */
  private val Placeholder = "__GRAFT_IN__"

  /** Parse statement text eagerly (Column's expr() defers parsing to
    * analysis, which would hide the placeholder from the transform
    * below), splice `input` in at the placeholder, and expand the
    * engine's own function names from `Engine.functionBuilders` — so
    * the Column pipeline needs no session registration. */
  private def spliceSql(sqlText: String, input: Column): Column = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    val inExpr = GraftBridge.expression(input)
    val engineFns = graft.Engine.functionBuilders
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sqlText)
    GraftBridge.column(parsed.transformUp {
      case a: UnresolvedAttribute if a.nameParts == Seq(Placeholder) => inExpr
      case f: UnresolvedFunction if f.nameParts.length == 1 &&
          engineFns.contains(f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
        engineFns(f.nameParts.head.toLowerCase(java.util.Locale.ROOT))(f.arguments)
    })
  }

  def outputName(spec: FieldSpec): String = {
    val base =
      if (spec.name.startsWith("LOCALREF_")) spec.name.stripPrefix("LOCALREF_")
      else spec.name
    base.toUpperCase
  }

  /** Whether the transformation consumes the multivalue-encoded input —
    * the reference then reads the `NAME_multivalue` record key instead
    * of `NAME` (`controllers/index.js:78,93,107,118`). */
  private[operators] def readsMultivalue(transformation: String): Boolean =
    transformation match {
      case JoinArgT(_)   => true
      case "string-join" => true
      case IndexT(_)     => true
      case TemplateT(_, args, _) =>
        if (args.contains("$"))
          !args.contains("$$") && transformation.contains("string-join")
        else MvElemT.pattern.matcher(args).matches()
      case _ => false
    }

  /** The XML-record input of a field: the T24 layout stores
    * multivalued fields under `NAME_multivalue` (and the INPUTTER_HIS
    * audit field reads `INPUTTER_multivalue`, reference `:70-72`); the
    * coalesce accepts either layout, so schemas written for the
    * reference and this engine's plain-key tests both resolve. */
  private def recordInputSql(spec: FieldSpec): String =
    if (spec.name == "INPUTTER_HIS")
      s"COALESCE($Record['INPUTTER_multivalue'], $Record['INPUTTER'])"
    else if (readsMultivalue(spec.transformation))
      s"COALESCE($Record['${spec.name}_multivalue'], $Record['${spec.name}'])"
    else s"$Record['${spec.name}']"

  /** Params for the `FUNC([n])` element form when none are given —
    * inferred from the function mentioned in the transformation
    * (reference `controllers/index.js:121-129`). */
  private def inferredParams(transformation: String): String = {
    val t = transformation.toLowerCase
    if (t.contains("parse_date")) ", 'yyyyMMdd'"
    else if (t.contains("parse_timestamp")) ", 'yyMMddHHmm'"
    else if (t.contains("substring")) ",1,35"
    else if (t.contains("seab_field")) ",'_',2"
    else ""
  }

  /** Compile one field's full transform chain over its input value
    * column: the parse of its [[sqlField]] text with the input spliced
    * in. Returns the output column and its (possibly template-aliased)
    * name. */
  def compileField(value: Column, spec: FieldSpec): (Column, String) = {
    val (sqlText, name) = sqlField(Placeholder, spec)
    (spliceSql(sqlText, value), name)
  }

  /** MAPPED stage: RECID + one compiled column per single-value field. */
  def mapped(raw: DataFrame, schema: Seq[FieldSpec]): DataFrame = {
    val cols = col(RecId) +: schema.filter(_.parseSv).map { sp =>
      val (c, name) = compileField(expr(recordInputSql(sp)), sp)
      c.as(name)
    }
    raw.select(cols: _*)
  }

  /** BLOB-mode MAPPED stage (reference `controllers/index.js:293-403`,
    * `BLOB_SPLIT`): field values arrive hex-encoded
    * (`SEAB_HEXTOTEXT(FROM_BYTES(…,'hex'))`); decode precedes every
    * per-field transformation. */
  def blobMapped(raw: DataFrame, schema: Seq[FieldSpec]): DataFrame = {
    val cols = col(RecId) +: schema.filter(_.parseSv).map { sp =>
      val (c, name) = compileField(T24.hexToText(col(Record)(sp.name)), sp)
      c.as(name)
    }
    raw.select(cols: _*)
  }

  /** BLOB FE / FEFD packed-record modes (reference handler dispatch
    * `controllers/index.js:582-601`): the whole record arrives as ONE
    * hex blob; 0xFE bytes delimit fields POSITIONALLY (schema order),
    * and in FEFD mode 0xFD bytes delimit multivalue elements within a
    * field (0xFC for subvalues). The blob is decoded once via latin-1
    * (delimiter bytes survive as chars), split, and each positional
    * field runs the same compileField dispatch as the XML path; VM/VS
    * fields explode exactly like [[multivalue]].
    */
  def blobFe(raw: DataFrame, schema: Seq[FieldSpec]): DataFrame = {
    // ONE byte pass over the hex blob (unhex + latin-1 + FE/FD split
    // fused — plans/MvExprs.scala); the composed
    // split(decode(unhex(..)), quote(þ)) chain Pattern.compiled per
    // row and round-tripped through java.lang.String twice. Decoded
    // ONCE into a real column: CollapseProject refuses to inline a
    // non-cheap expression used by several fields, so the decode is
    // never duplicated across field extractions.
    val DecTmp = "__FEFD"
    val withDec = raw.withColumn(DecTmp,
      GraftBridge.column(graft.plans.MvDecode(GraftBridge.expression(col(Blob)))))
    def elemsAt(i: Int) = try_element_at(col(DecTmp), lit(i + 1))
    // a single-value field is the FD-join of its elements (identity
    // when the field never contained an FD marker)
    def fieldAt(i: Int) = array_join(elemsAt(i), FdSep)
    if (!schema.exists(sp => sp.parseVm || sp.parseVs)) {
      withDec.select(col(RecId) +: schema.zipWithIndex.filter(_._1.parseSv).map {
        case (sp, i) => val (c, n) = compileField(fieldAt(i), sp); c.as(n)
      }: _*)
    } else exploded(withDec, schema,
      svInput = (_, i) => fieldAt(i),
      arrayOf = (_, i) => elemsAt(i),
      vsSplit = in => GraftBridge.column(graft.plans.SplitChar(GraftBridge.expression(in), FcSep)))
  }

  /** MULTIVALUE stage: decode every VM field to its element array, zip
    * the arrays (T24 multivalues are positionally aligned), and explode
    * one row per position — Spark's Generate operator instead of the
    * reference's self-join template. Single-value fields ride along.
    * Each exploded element then receives the FULL per-field transform
    * dispatch (the reference's `multiParser`, `controllers/index.js:
    * 172-290`) — a multivalued date field parses per element. VS
    * (subvalue) fields decode a second level within each element and
    * transform per subvalue.
    */
  def multivalue(raw: DataFrame, schema: Seq[FieldSpec]): DataFrame =
    exploded(raw, schema,
      svInput = (sp, _) => expr(recordInputSql(sp)),
      arrayOf = (sp, _) =>
        T24.mvSplit(coalesce(col(Record)(sp.name + "_multivalue"), col(Record)(sp.name))),
      vsSplit = T24.mvSplit)

  /** Shared Column shape of the exploded stages ([[multivalue]] and the
    * FEFD branch of [[blobFe]]), the Column twin of [[explodedSql]]: one
    * element array per VM/VS field (aliased to the output name, which
    * names the ARRAYS_ZIP struct field), the positional zip-explode, then
    * the per-element transform chains. The callbacks receive each field
    * with its schema position (the packed-blob layout is positional). */
  private def exploded(src: DataFrame, schema: Seq[FieldSpec],
                       svInput: (FieldSpec, Int) => Column,
                       arrayOf: (FieldSpec, Int) => Column,
                       vsSplit: Column => Column): DataFrame = {
    val posed = schema.zipWithIndex
    val svs = posed.filter(_._1.parseSv)
    val vms = posed.filter(_._1.parseVm)
    val vss = posed.filter(_._1.parseVs)
    require(vms.nonEmpty || vss.nonEmpty, "multivalue stage needs a VM/VS field")
    val arrays = (vms ++ vss).map { case (sp, i) => arrayOf(sp, i).as(outputName(sp)) }
    val svPairs = svs.map { case (sp, i) => compileField(svInput(sp, i), sp) }
    val zipped = src.select(
      (col(RecId) +: svPairs.map { case (c, n) => c.as(n) }) :+
        posexplode_outer(arrays_zip(arrays: _*)).as(Seq("pos", "mv")): _*)
    // per-element transformations (reference multiParser :172-290)
    val vmCols = vms.map { case (sp, _) =>
      val (c, n) = compileField(col("mv").getField(outputName(sp)), sp)
      c.as(n)
    }
    // VS fields: second-level decode, then per-subvalue transforms
    val vsCols = vss.map { case (sp, _) =>
      transform(vsSplit(col("mv").getField(outputName(sp))),
        e => compileField(e, sp)._1).as(outputName(sp) + "_VS")
    }
    zipped.select(
      (col(RecId) +: svPairs.map(p => col(p._2))) ++
        Seq((col("pos") + 1).as(MvPos)) ++ vmCols ++ vsCols: _*)
  }

  /** Full pipeline, mirroring the reference's handler dispatch
    * (`controllers/index.js:573-610`): multivalue explode when any
    * VM/VS field is flagged, plain MAPPED otherwise.
    */
  def pipeline(raw: DataFrame, schema: Seq[FieldSpec]): DataFrame =
    if (schema.exists(sp => sp.parseVm || sp.parseVs)) multivalue(raw, schema)
    else mapped(raw, schema)

  // ---- SQL text emission (parity with the reference's generated stmts) ----
  // Emits the KSQL-shaped function names (PARSE_DATE, SEAB_FIELD, …);
  // Engine.registerFunctions makes them resolvable by spark.sql, and
  // compileField expands them while parsing — both through the same
  // Engine.functionBuilders, so both paths run the same expressions.

  /** SQL text + output name of one field's full transform chain — the
    * one transformation dispatch: transformation → optional `nested`
    * wrap → TRY_CAST to the target type. [[compileField]] parses it. */
  def sqlField(input: String, spec: FieldSpec): (String, String) = {
    val defaultName = outputName(spec)
    // the INPUTTER_HIS field NAME forces the audit transform regardless
    // of its transformation (reference :70-72)
    val (body, name) = if (spec.name == "INPUTTER_HIS")
      (s"INPUTTER_HIS($input)", "INPUTTER_HIS")
    else spec.transformation match {
      case ""                => (input, defaultName)
      case "parse_date"      => (s"PARSE_DATE($input, 'yyyyMMdd')", defaultName)
      case "parse_timestamp" => (s"PARSE_TIMESTAMP($input, 'yyMMddHHmm')", defaultName)
      case "substring"       => (s"SUBSTRING($input, 1, 35)", defaultName)
      case "seab_field"      => (s"SEAB_FIELD($input, '_', 2)", defaultName)
      case "inputter_his"    => (s"INPUTTER_HIS($input)", defaultName)
      case JoinArgT(delim)   => (s"MV_JOIN($input, '$delim')", defaultName)
      case "string-join"     => (s"MV_JOIN($input, ' ')", defaultName)
      case IndexT(n)         => (s"MV_INDEX($input, ${n.toInt})", defaultName)
      case TemplateT(fn, args, alias) =>
        val outName = if (alias.nonEmpty) alias.toUpperCase else defaultName
        // RECID as template input maps to the record key, not the map
        // (reference :104-105)
        val in = if (spec.name == RecId) RecId else input
        // `$$` splices the field NAME into the template text
        // (reference :110-111; exclusive with `$`)
        if (args.contains("$$"))
          (s"${fn.toUpperCase}(${args.replace("$$", spec.name)})", outName)
        else if (args.contains("$"))
          (s"${fn.toUpperCase}(${args.replace("$", in)})", outName)
        else args match {
          case MvElemT(n, extra) =>
            val params =
              if (extra.exists(c => c != ',' && !c.isWhitespace)) extra
              else inferredParams(spec.transformation)
            (s"${fn.toUpperCase}(MV_INDEX($in, $n)$params)", outName)
          // template body without `$` or `[n]`: raw passthrough
          case _ => (spec.transformation, outName)
        }
      // unrecognized transformation: raw-expression passthrough,
      // emitted verbatim (reference :145-146)
      case other => (other, defaultName)
    }
    val (wrapped, name2) =
      if (spec.nested.contains("$")) spec.nested match {
        case NestedT(tpl, alias2) =>
          (tpl.replace("$", s"($body)"),
            if (alias2.nonEmpty) alias2.toUpperCase else name)
        case _ => (body, name)
      } else (body, name)
    // TRY_CAST: a malformed value nulls the field, never the pipeline
    // (KSQL semantics; ANSI cast would fail the job on one bad record)
    val cast =
      if (spec.dataType == "string") wrapped
      else s"TRY_CAST($wrapped AS ${spec.dataType})"
    (cast, name2)
  }

  /** Built-in emission templates — overridable per name through
    * [[SchemaRegistry.putTemplate]], mirroring the reference's
    * user-editable template collection (`services/index.js:43-79`;
    * template names follow the reference's: XML for the mapped
    * statement, DDL_SINGLE / DDL_MULTIVALUE for the sink DDL). */
  val MappedTemplateName = "XML"
  val DdlSingleTemplateName = "DDL_SINGLE"
  val DdlMultiTemplateName = "DDL_MULTIVALUE"
  val DefaultMappedTemplate: String =
    "SELECT\n  ${recId},\n${selectedFields}\nFROM ${source}"
  val DefaultDdlTemplate: String =
    "CREATE TABLE ${tableName} (\n${columns}\n) USING parquet${optionsClause}"

  /** Spark SQL text of the MAPPED statement over a source table/view —
    * the analog of the reference's `stmtMapped` template output,
    * rendered through the registered `XML` template when one exists
    * (interpolation variables: `${recId}`, `${selectedFields}`,
    * `${source}` — also bound as `${sourceStream}` and
    * `${schemaName}`, the reference's names for it). */
  def mappedSql(schema: Seq[FieldSpec], source: String): String = {
    val fields = schema.filter(_.parseSv).map { sp =>
      val (sql, name) = sqlField(recordInputSql(sp), sp)
      s"  $sql AS $name"
    }
    SchemaRegistry.render(MappedTemplateName, DefaultMappedTemplate, Map(
      "recId" -> RecId,
      "selectedFields" -> fields.mkString(",\n"),
      "source" -> source,
      "sourceStream" -> source,
      "schemaName" -> source))
  }

  /** Statement-text names for the non-XML stages — the reference's
    * template collection keys (`controllers/index.js:575,419,588,602`). */
  val MultivalueTemplateName = "MULTIVALUE"
  val BlobSplitTemplateName = "BLOB_SPLIT"
  val BlobParseTemplateName = "BLOB_PARSE_T24"

  /** Internal derived-column prefix for the emitted multivalue /
    * packed-blob statements (never reaches the output schema). */
  private val ArrPrefix = "__graft_arr_"

  /** Shared emission of the exploded (multivalue) statement shape: a
    * derived table computes one named element-array per VM/VS field
    * (names feed ARRAYS_ZIP's struct-field naming — the same mechanism
    * as the Column stage's `.as(...)` aliases), LATERAL VIEW OUTER
    * POSEXPLODE zips and explodes them positionally, and the outer
    * select runs the per-element transform dispatch. Like [[exploded]],
    * the callbacks receive each field with its schema position. */
  private def explodedSql(schema: Seq[FieldSpec], source: String,
                          templateName: String,
                          svInput: (FieldSpec, Int) => String,
                          arrayOf: (FieldSpec, Int) => String,
                          vsSplit: String => String): String = {
    val posed = schema.zipWithIndex
    val svs = posed.filter(_._1.parseSv)
    val vms = posed.filter(_._1.parseVm)
    val vss = posed.filter(_._1.parseVs)
    require(vms.nonEmpty || vss.nonEmpty, "multivalue statement needs a VM/VS field")
    val arrays = (vms ++ vss).map { case (sp, i) =>
      s"${arrayOf(sp, i)} AS $ArrPrefix${outputName(sp)}"
    }
    val inner = ("*" +: arrays).mkString(",\n    ")
    val zipArgs = (vms ++ vss).map { case (sp, _) => s"$ArrPrefix${outputName(sp)}" }.mkString(", ")
    val exploded =
      s"""(SELECT $inner\n  FROM $source) __graft_src
         |LATERAL VIEW OUTER POSEXPLODE(ARRAYS_ZIP($zipArgs)) __graft_mv AS pos, mv""".stripMargin
    val svFields = svs.map { case (sp, i) =>
      val (sql, name) = sqlField(svInput(sp, i), sp)
      s"  $sql AS $name"
    }
    val vmFields = vms.map { case (sp, _) =>
      val (sql, name) = sqlField(s"mv.$ArrPrefix${outputName(sp)}", sp)
      s"  $sql AS $name"
    }
    val vsFields = vss.map { case (sp, _) =>
      val (sql, _) = sqlField("__graft_x", sp)
      s"  TRANSFORM(${vsSplit(s"mv.$ArrPrefix${outputName(sp)}")}, " +
        s"__graft_x -> $sql) AS ${outputName(sp)}_VS"
    }
    val fields =
      (svFields :+ s"  pos + 1 AS $MvPos") ++ vmFields ++ vsFields
    SchemaRegistry.render(templateName, DefaultMappedTemplate, Map(
      "recId" -> RecId,
      "selectedFields" -> fields.mkString(",\n"),
      "source" -> exploded,
      "sourceStream" -> exploded,
      "schemaName" -> source))
  }

  /** Spark SQL text of the MULTIVALUE statement — the analog of the
    * reference's `stmtMultival`+mapped output (`multiHandler`,
    * `controllers/index.js:413-567`), equal row-for-row to
    * [[multivalue]] (spec-pinned): element arrays via MV_SPLIT, the
    * positional ARRAYS_ZIP explode, per-element transform chains, VS
    * second-level decode. */
  def multivalueSql(schema: Seq[FieldSpec], source: String): String =
    explodedSql(schema, source, MultivalueTemplateName,
      svInput = (sp, _) => recordInputSql(sp),
      arrayOf = (sp, _) =>
        s"MV_SPLIT(COALESCE($Record['${sp.name}_multivalue'], $Record['${sp.name}']))",
      vsSplit = in => s"MV_SPLIT($in)")

  /** Spark SQL text of the BLOB_SPLIT MAPPED statement (reference
    * `singleSplitBlobParser`, `controllers/index.js:294-403`): per-field
    * hex values decode through the reference's own
    * `SEAB_HEXTOTEXT(FROM_BYTES(..,'hex'))` pair before the transform
    * chain — equal to [[blobMapped]]. */
  def blobMappedSql(schema: Seq[FieldSpec], source: String): String = {
    val fields = schema.filter(_.parseSv).map { sp =>
      val (sql, name) = sqlField(
        s"SEAB_HEXTOTEXT(FROM_BYTES($Record['${sp.name}'], 'hex'))", sp)
      s"  $sql AS $name"
    }
    SchemaRegistry.render(BlobSplitTemplateName, DefaultMappedTemplate, Map(
      "recId" -> RecId,
      "selectedFields" -> fields.mkString(",\n"),
      "source" -> source,
      "sourceStream" -> source,
      "schemaName" -> source))
  }

  /** Spark SQL text of the BLOB FE / FEFD MAPPED statement (reference
    * `BLOB_PARSE_T24` dispatch, `controllers/index.js:582-601`) — equal
    * to [[blobFe]]: the packed record decodes ONCE via the registered
    * `MV_DECODE` (the same native expression the Column path uses),
    * fields read positionally, a single-value field FD-joins its
    * elements, and VM/VS fields ride the shared exploded shape with
    * `SPLIT_CHAR` for the 0xFC subvalue level. */
  def blobFeSql(schema: Seq[FieldSpec], source: String): String = {
    val Dec = s"${ArrPrefix}dec"
    val decoded = s"(SELECT *, MV_DECODE($Blob) AS $Dec FROM $source) __graft_dec"
    val posed = schema.zipWithIndex
    def elems(i: Int) = s"TRY_ELEMENT_AT($Dec, ${i + 1})"
    def fieldAt(i: Int) = s"ARRAY_JOIN(${elems(i)}, '$FdSep')"
    if (!schema.exists(sp => sp.parseVm || sp.parseVs)) {
      val fields = posed.filter(_._1.parseSv).map { case (sp, i) =>
        val (sql, name) = sqlField(fieldAt(i), sp)
        s"  $sql AS $name"
      }
      SchemaRegistry.render(BlobParseTemplateName, DefaultMappedTemplate, Map(
        "recId" -> RecId,
        "selectedFields" -> fields.mkString(",\n"),
        "source" -> decoded,
        "sourceStream" -> decoded,
        "schemaName" -> source))
    } else explodedSql(schema, decoded, BlobParseTemplateName,
      svInput = (_, i) => fieldAt(i),
      arrayOf = (_, i) => elems(i),
      vsSplit = in => s"SPLIT_CHAR($in, '$FcSep')")
  }

  /** CREATE TABLE DDL for the sink — the analog of the reference's
    * `stmtDdl` template output (`controllers/index.js:408,567`),
    * rendered through the registered `DDL_SINGLE` / `DDL_MULTIVALUE`
    * template when one exists (variables: `${tableName}`, `${columns}`,
    * `${options}`, `${optionsClause}`). The target schema IS the
    * compiled pipeline's schema. `options` carries WITH-style sink
    * options (the reference's DDL templates embed topic/format options)
    * emitted as an `OPTIONS ('k' = 'v', …)` clause. */
  def sinkDdl(schema: Seq[FieldSpec], tableName: String,
              multivalue: Boolean = false,
              options: Seq[(String, String)] = Seq.empty): String = {
    // the DDL column name must be the STATEMENT's output name — for
    // template-aliased fields (`UPPER($) KEY2`) that is the alias, not
    // the field name (sqlField's name resolution is input-independent)
    def ddlName(sp: FieldSpec): String = sqlField("NULL", sp)._2
    val fieldCols = schema.filter(_.parseSv).map { sp =>
      s"  ${ddlName(sp)} ${sp.dataType.toUpperCase}"
    }
    val mvCols =
      if (multivalue)
        s"  $MvPos INT" +:
          schema.filter(_.parseVm).map(sp => s"  ${ddlName(sp)} STRING") ++:
          schema.filter(_.parseVs).map(sp => s"  ${outputName(sp)}_VS ARRAY<STRING>")
      else Seq.empty
    def esc(s: String) = s.replace("'", "''")
    val optionsSql = options
      .map { case (k, v) => s"'${esc(k)}' = '${esc(v)}'" }
      .mkString(", ")
    val templateName = if (multivalue) DdlMultiTemplateName else DdlSingleTemplateName
    SchemaRegistry.render(templateName, DefaultDdlTemplate, Map(
      "tableName" -> tableName,
      "columns" -> (s"  $RecId STRING" +: (fieldCols ++ mvCols)).mkString(",\n"),
      "options" -> optionsSql,
      "optionsClause" -> (if (options.isEmpty) "" else s"\nOPTIONS ($optionsSql)")))
  }
}
