package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Engine.q
import graft.operators.Spread
import graft.functions.T24
import graft.operators.{FieldSpec, SchemaConverter, SchemaRegistry}
import graft.sources.Tables.table

/** §2b — the reference's own surface. T24-encoded inputs are synthesized
  * deterministically from TPC-H columns *inside each query* (both the
  * Spark side and the DuckDB oracle build the same encoded string, then
  * decode it), so the oracle checks the decode semantics end-to-end.
  * Columns used inside multivalue strings must not contain '#'
  * (p_type/p_name/priorities are safe; c_name/p_brand are not).
  */
object T24Queries {

  /** duckdb-side versions of the multivalue split patterns. */
  private val marker = T24.MvMarker
  private val lead = T24.MvLead

  /** The reference's RAW stage is a partitioned Kafka topic: records
    * arrive spread across the topic's partitions, so the decode pipeline
    * is parallel from its first operator. The synthetic sf tables are
    * single-row-group parquet — one scan task — which would serialize
    * the whole decode into that task, the opposite of the reference's
    * execution shape (SURVEY §6e). `recSynth` restores it AND puts the
    * record synthesis ABOVE the one range exchange: `src` carries the
    * bare RECID plus only the source columns the record needs, so the
    * range exchange's sampling pass reads the cheap key projection
    * instead of re-running the hex/map synthesis (round 13 measured
    * that double evaluation on t24_blob_pipeline: `recShaped` sat the
    * exchange above the built record, so the sampler re-synthesized
    * every record). Synthesis + converter decode run once, parallel,
    * above the single exchange; the final orderBy(RECID…) is satisfied
    * by the range partitioning (prefix rule) with no second exchange;
    * the partition count is data-aware (Spread). Same rows, same
    * order. */
  private def recSynth(src: DataFrame, record: Column,
                       out: String = SchemaConverter.Record): DataFrame =
    Spread.byRange(src, col(SchemaConverter.RecId))
      .select(col(SchemaConverter.RecId), record.as(out))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t24_mv_index" -> q { (s, d) =>
      table(s, d, "part")
        .select(col("p_partkey"),
          concat(lit("1:"), col("p_type"), lit("#2:"), col("p_name"),
            lit("#3:"), col("p_size").cast("string")).as("mv"))
        .transform(Spread.byRange(_, col("p_partkey")))
        .select(col("p_partkey"), T24.mvIndex(col("mv"), lit(2)).as("item2"))
        .orderBy("p_partkey")
    },

    "t24_mv_join" -> q { (s, d) =>
      table(s, d, "part")
        .select(col("p_partkey"),
          concat(lit("1:"), col("p_type"), lit("#2:"), col("p_name"),
            lit("#s3:"), col("p_size").cast("string")).as("mv"))
        .transform(Spread.byRange(_, col("p_partkey")))
        .select(col("p_partkey"), T24.mvJoin(col("mv"), lit("|")).as("joined"))
        .orderBy("p_partkey")
    },

    "t24_seab_field" -> q { (s, d) =>
      table(s, d, "customer")
        .transform(Spread.byRange(_, col("c_custkey")))
        .select(col("c_custkey"),
          T24.seabField(col("c_name"), "#", lit(2)).as("cust_num"))
        .orderBy("c_custkey")
    },

    "t24_hextotext" -> q { (s, d) =>
      table(s, d, "customer")
        .transform(Spread.byRange(_, col("c_custkey")))
        .select(col("c_custkey"), T24.hexToText(hex(col("c_name"))).as("decoded"))
        .orderBy("c_custkey")
    },

    "t24_parse_date" -> q { (s, d) =>
      table(s, d, "lineitem")
        .select(T24.parseDate(date_format(col("l_shipdate"), "yyyyMMdd")).as("ship_day"))
        .groupBy("ship_day").agg(count(lit(1)).as("n_lines"))
        .orderBy("ship_day")
    },

    "t24_parse_timestamp" -> q { (s, d) =>
      table(s, d, "events")
        .select(T24.parseTimestamp(
          date_format(timestamp_micros(expr("ts div 1000")), "yyMMddHHmm")).as("minute"))
        .groupBy("minute").agg(count(lit(1)).as("n_events"))
        .orderBy("minute")
    },

    // MULTIVALUE stage through the SchemaConverter (explode via Generate)
    "t24_mv_explode" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "orders").select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          col("o_orderstatus"), col("o_orderpriority")),
        map(
          lit("FLAGS"), concat(lit("1:"), col("o_orderstatus"),
            lit("#2:"), col("o_orderpriority"),
            lit("#3:"), col(SchemaConverter.RecId))))
      val schema = Seq(FieldSpec("FLAGS", parseSv = false, parseVm = true))
      SchemaConverter.pipeline(raw, schema)
        .select(col(SchemaConverter.RecId),
          col(SchemaConverter.MvPos).cast(LongType).as("mv_pos"), col("FLAGS").as("flag"))
        .orderBy("RECID", "mv_pos")
    },

    "t24_localref_strip" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "customer").select(
          col("c_custkey").cast("string").as(SchemaConverter.RecId),
          col("c_acctbal")),
        map(
          lit("LOCALREF_BAL"),
          col("c_acctbal").cast(DecimalType(18, 2)).cast("string")))
      val schema = Seq(FieldSpec("LOCALREF_BAL", dataType = "double"))
      SchemaConverter.pipeline(raw, schema).orderBy("RECID")
    },

    // End-to-end schema→pipeline compile: passthrough + parse_date +
    // LOCALREF cast + multivalue string-join, like a real proc schema.
    "t24_schema_pipeline" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "orders").select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          col("o_orderstatus"), col("o_orderdate"), col("o_totalprice"),
          col("o_orderpriority")),
        map(
          lit("STATUS"), col("o_orderstatus"),
          lit("ORDER_DATE"), date_format(col("o_orderdate"), "yyyyMMdd"),
          lit("LOCALREF_PRICE"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast("string"),
          lit("PRIORITY_MV"), concat(lit("1:"), col("o_orderpriority"),
            lit("#2:"), col("o_orderstatus"))))
      val schema = Seq(
        FieldSpec("STATUS"),
        FieldSpec("ORDER_DATE", dataType = "date", transformation = "parse_date"),
        FieldSpec("LOCALREF_PRICE", dataType = "double"),
        FieldSpec("PRIORITY_MV", transformation = "string-join('|')"))
      SchemaConverter.pipeline(raw, schema).orderBy("RECID")
    },

    // FUNC($) template transformations with output aliasing (the
    // reference's $-substitution parser)
    "t24_template_fn" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "customer").select(
          col("c_custkey").cast("string").as(SchemaConverter.RecId),
          col("c_name"), col("c_mktsegment")),
        map(
          lit("NAME"), col("c_name"),
          lit("SEG"), col("c_mktsegment")))
      val schema = Seq(
        FieldSpec("NAME", transformation = "UPPER($) UNAME"),
        FieldSpec("SEG", transformation = "SUBSTRING($, 1, 4) SEG4"))
      SchemaConverter.mapped(raw, schema).orderBy("RECID")
    },

    // BLOB procType (reference BLOB_SPLIT): field values arrive
    // hex-encoded; converter decodes then applies transformations
    "t24_blob_pipeline" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "orders").select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          col("o_orderstatus"), col("o_orderdate"), col("o_totalprice")),
        map(
          lit("STATUS"), hex(col("o_orderstatus")),
          lit("ORDER_DATE"), hex(date_format(col("o_orderdate"), "yyyyMMdd")),
          lit("LOCALREF_PRICE"),
          hex(col("o_totalprice").cast(DecimalType(18, 2)).cast("string"))))
      val schema = Seq(
        FieldSpec("STATUS"),
        FieldSpec("ORDER_DATE", dataType = "date", transformation = "parse_date"),
        FieldSpec("LOCALREF_PRICE", dataType = "double"))
      SchemaConverter.blobMapped(raw, schema).orderBy("RECID")
    },

    "t24_inputter_his" -> q { (s, d) =>
      table(s, d, "customer")
        .select(col("c_custkey"),
          concat(lit("1:SYS_AGENT"), col("c_custkey").cast("string"),
            lit("#2:SYS_TELLER"), col("c_custkey").cast("string")).as("inputter"))
        .transform(Spread.byRange(_, col("c_custkey")))
        .select(col("c_custkey"), T24.inputterHis(col("inputter")).as("inputter_his"))
        .orderBy("c_custkey")
    },

    // per-element transformations on exploded VM fields (the reference's
    // multiParser): a multivalued yyyyMMdd field parses per element
    "t24_mv_transform" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "orders").select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          col("o_orderstatus"), col("o_orderdate")),
        map(
          lit("STATUS"), col("o_orderstatus"),
          lit("DATES"), concat(lit("1:"), date_format(col("o_orderdate"), "yyyyMMdd"),
            lit("#2:"), date_format(date_add(col("o_orderdate"), 30), "yyyyMMdd"))))
      val schema = Seq(
        FieldSpec("STATUS"),
        FieldSpec("DATES", dataType = "date", transformation = "parse_date",
          parseSv = false, parseVm = true))
      SchemaConverter.pipeline(raw, schema)
        .select(col(SchemaConverter.RecId), col("STATUS"),
          col(SchemaConverter.MvPos).cast(LongType).as("mv_pos"), col("DATES").as("d"))
        .orderBy("RECID", "mv_pos")
    },

    // the full template grammar in one schema: $-substitution with a
    // RECID input, $$ name-splice, FUNC([n]) with inferred and explicit
    // params, nested second-level template, raw-expression passthrough
    "t24_template_grammar" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "customer").select(
          col("c_custkey").cast("string").as(SchemaConverter.RecId),
          col("c_mktsegment"), col("c_nationkey")),
        map(
          lit("NAME"), col("c_mktsegment"),
          lit("SEG"), col("c_mktsegment"),
          lit("PRIO_MV"), concat(lit("1:A_"), col("c_nationkey").cast("string"),
            lit("#2:B_"), col(SchemaConverter.RecId)),
          lit("DT_MV"), concat(lit("1:2024"),
            lpad((col("c_nationkey") % 12 + 1).cast("string"), 2, "0"), lit("15"))))
      val schema = Seq(
        FieldSpec("RECID", transformation = "CONCAT($, '_R') RTAG"),
        FieldSpec("SEG", transformation = "CONCAT('$$', '_X') SEGTAG"),
        FieldSpec("PRIO_MV", transformation = "seab_field([2]) P2"),
        FieldSpec("PRIO_MV", transformation = "SUBSTRING([1],1,3) S3"),
        FieldSpec("DT_MV", dataType = "date", transformation = "parse_date([1]) D1"),
        FieldSpec("NAME", nested = "UPPER($) BIGNAME"),
        FieldSpec("FIXED", transformation = "SUBSTRING(RECID, 1, 2)"))
      SchemaConverter.mapped(raw, schema).orderBy("RECID")
    },

    // the KSQL TABLE semantic over a CDC stream: latest record per key
    // wins — synthesized here as two versions per odd key (update ts=2)
    // and one per even key; the window keeps version with max cdc_ts
    "t24_cdc_latest" -> q { (s, d) =>
      val o = table(s, d, "orders")
      val v1 = o.select(col("o_orderkey").cast("string").as(SchemaConverter.RecId),
        lit(1L).as("cdc_ts"), col("o_orderstatus").as("STATUS"))
      val v2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          lit(2L).as("cdc_ts"), lit("X").as("STATUS"))
      val w = Window.partitionBy(SchemaConverter.RecId).orderBy(col("cdc_ts").desc)
      v1.unionByName(v2)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(SchemaConverter.RecId, "STATUS", "cdc_ts")
        .orderBy(SchemaConverter.RecId)
    },

    // the t24_cdc_latest scenario MATERIALIZED through the STRING-keyed
    // manifest table (t24_cow_apply): the reference's production loop
    // lands T24 change records in a maintained TABLE keyed by RECID —
    // a STRING (reference controllers/index.js:573-610) — so this is
    // the §2e MergeTable lifecycle under its real key type: create v0
    // from the initial records, MERGE the odd-key updates (STATUS→X,
    // ts 2), DELETE the mod-10 RECIDs (T24 delete markers), then read
    // the latest snapshot against a DuckDB oracle stating the same
    // apply relationally. The string key exercises the u56-binned
    // manifest range probe at the driver gate (candidates from
    // metadata, never a base scan — the per-epoch pruning a 100 TB
    // RECID table needs). Build memoizes on the manifest version (the
    // q74 convention: re-runs measure the read path).
    "t24_cow_apply" -> q { (s, d) =>
      import graft.sources.MergeTable
      val path = graft.ScratchDirs.stable("t24_cow", d) + "/table"
      if (MergeTable.latestVersion(s, path) < 2) {
        val o = table(s, d, "orders")
        val v1 = o.select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          lit(1L).as("cdc_ts"), col("o_orderstatus").as("STATUS"))
        if (MergeTable.latestVersion(s, path) < 0)
          MergeTable.create(v1, path, statsCol = Some(SchemaConverter.RecId))
        if (MergeTable.latestVersion(s, path) < 1)
          MergeTable.merge(s, path,
            o.filter(col("o_orderkey") % 2 === 1)
              .select(col("o_orderkey").cast("string").as(SchemaConverter.RecId),
                lit(2L).as("cdc_ts"), lit("X").as("STATUS")),
            SchemaConverter.RecId)
        MergeTable.deleteKeys(s, path,
          o.filter(col("o_orderkey") % 10 === 0)
            .select(col("o_orderkey").cast("string").as(SchemaConverter.RecId)),
          SchemaConverter.RecId)
      }
      MergeTable.read(s, path)
        .select(SchemaConverter.RecId, "STATUS", "cdc_ts")
        .orderBy(SchemaConverter.RecId)
    },

    // APPLICATION PREFIX SCAN over the RECID-keyed table
    // (t24_prefix_scan): T24 RECIDs carry their application in the
    // prefix (FT = funds transfer, AC = account, …), and "all records
    // of one application" is the reference's most common serving
    // query. On the MergeTable, prefix-sharing keys are contiguous in
    // UTF-8 byte order, so `readPrefix` turns the application into a
    // manifest-level file range — on this application-clustered
    // layout (repartitionByRange on RECID) the scan opens only the
    // application's own files, never the table (spec proves it with a
    // corrupted foreign-application file). The residual startswith
    // pushes to the parquet scan. Build memoizes on the manifest
    // (the q74 convention: re-runs measure the read path).
    "t24_prefix_scan" -> q { (s, d) =>
      import graft.sources.MergeTable
      val path = graft.ScratchDirs.stable("t24_prefix", d) + "/table"
      if (MergeTable.latestVersion(s, path) < 0) {
        val o = table(s, d, "orders")
        val app = expr("CASE o_orderkey % 3 WHEN 0 THEN 'FT' " +
          "WHEN 1 THEN 'AC' ELSE 'MM' END")
        val recs = o.select(
          concat(app, lpad(col("o_orderkey").cast("string"), 12, "0"))
            .as(SchemaConverter.RecId),
          col("o_orderstatus").as("STATUS"), col("o_totalprice"))
          .repartitionByRange(8, col(SchemaConverter.RecId))
        MergeTable.create(recs, path, statsCol = Some(SchemaConverter.RecId))
      }
      MergeTable.readPrefix(s, path, "FT")
        .groupBy("STATUS")
        .agg(count(lit(1)).as("n_recs"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .cast("double").as("sum_amt"))
        .orderBy("STATUS")
    },

    // SCD Type-2 validity intervals from the same CDC change log
    // t24_cdc_latest collapses: the core-banking warehouse keeps EVERY
    // version of a record as a [valid_from, valid_to] row (the
    // INPUTTER_HIS audit trail materialized as a dimension — the
    // reference's history rows are exactly this, reference
    // controllers/index.js:57-120 RECID semantics). Per RECID ordered
    // by cdc_ts: valid_from = the change's ts, valid_to = the NEXT
    // change's ts − 1 (open = the current version, flagged). One
    // lead() window — the whole history rides a single RECID exchange
    // (plan-gated); at 100 TB the change log shuffles once, keyed by
    // the record, and version counts per key are audit-bounded
    "t24_scd2_intervals" -> q { (s, d) =>
      val o = table(s, d, "orders")
      val v1 = o.select(col("o_orderkey").cast("string").as(SchemaConverter.RecId),
        lit(1L).as("cdc_ts"), col("o_orderstatus").as("STATUS"))
      val v2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          lit(2L).as("cdc_ts"), lit("X").as("STATUS"))
      val v3 = o.filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          lit(3L).as("cdc_ts"), lit("C").as("STATUS"))
      val w = Window.partitionBy(SchemaConverter.RecId).orderBy("cdc_ts")
      v1.unionByName(v2).unionByName(v3)
        .withColumn("valid_to",
          org.apache.spark.sql.functions.lead(col("cdc_ts"), 1).over(w) - 1L)
        .select(col(SchemaConverter.RecId), col("STATUS"),
          col("cdc_ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col(SchemaConverter.RecId), col("valid_from"))
    },

    // field-level audit diff over the CDC change log (the INPUTTER_HIS
    // "who changed what" view, reference controllers/index.js:57-120
    // RECID/version semantics): per RECID ordered by cdc_ts, each
    // version diffs against its predecessor FIELD BY FIELD and emits
    // one (field, old, new) row per changed field — unchanged fields
    // (v2 keeps PRIORITY) emit nothing, version 1 has no predecessor.
    // The lag windows ride ONE RECID exchange and the unpivot (stack)
    // is a post-window generator — no second shuffle, no per-field
    // self-join (the naive audit query joins the history to itself
    // once per field; at 100 TB that is F scans of the change log,
    // this is one). Plan-gated single exchange.
    "t24_field_changes" -> q { (s, d) =>
      val o = table(s, d, "orders")
      def v(ts: Long, filt: Column, st: Column, pr: Column) =
        o.filter(filt).select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          lit(ts).as("cdc_ts"), st.as("STATUS"), pr.as("PRIORITY"))
      val cdc = v(1L, lit(true), col("o_orderstatus"), col("o_orderpriority"))
        .unionByName(v(2L, col("o_orderkey") % 2 === 1, lit("X"),
          col("o_orderpriority")))
        .unionByName(v(3L, col("o_orderkey") % 4 === 1, lit("C"), lit("9-NONE")))
      val w = Window.partitionBy(SchemaConverter.RecId).orderBy("cdc_ts")
      cdc
        .withColumn("prev_s", lag(col("STATUS"), 1).over(w))
        .withColumn("prev_p", lag(col("PRIORITY"), 1).over(w))
        .selectExpr("RECID", "cdc_ts",
          "stack(2, 'STATUS', prev_s, STATUS, 'PRIORITY', prev_p, PRIORITY) AS (field, old_val, new_val)")
        .filter(col("old_val").isNotNull && col("old_val") =!= col("new_val"))
        .orderBy(col(SchemaConverter.RecId), col("cdc_ts"), col("field"))
    },

    // the /api/etl-pipeline + /api/execute composition: the schema goes
    // through the registry (put → run), then the compiled pipeline
    // executes — same oracle as the directly-compiled t24_schema_pipeline
    "t24_registry_pipeline" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "orders").select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          col("o_orderstatus"), col("o_orderdate"), col("o_totalprice"),
          col("o_orderpriority")),
        map(
          lit("STATUS"), col("o_orderstatus"),
          lit("ORDER_DATE"), date_format(col("o_orderdate"), "yyyyMMdd"),
          lit("LOCALREF_PRICE"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast("string"),
          lit("PRIORITY_MV"), concat(lit("1:"), col("o_orderpriority"),
            lit("#2:"), col("o_orderstatus"))))
      SchemaRegistry.put("REGISTRY_Q", Seq(
        FieldSpec("STATUS"),
        FieldSpec("ORDER_DATE", dataType = "date", transformation = "parse_date"),
        FieldSpec("LOCALREF_PRICE", dataType = "double"),
        FieldSpec("PRIORITY_MV", transformation = "string-join('|')")))
      SchemaRegistry.run(raw, "REGISTRY_Q").orderBy("RECID")
    },

    // BLOB FE mode: ONE packed hex blob per record, 0xFE field markers,
    // positional schema mapping (reference controllers/index.js:585-590)
    "t24_blob_fe" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "orders").select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          col("o_orderstatus"), col("o_orderdate"), col("o_totalprice")),
        concat(
          hex(col("o_orderstatus")), lit("FE"),
          hex(date_format(col("o_orderdate"), "yyyyMMdd")), lit("FE"),
          hex(col("o_totalprice").cast(DecimalType(18, 2)).cast("string"))),
        out = SchemaConverter.Blob)
      val schema = Seq(
        FieldSpec("STATUS"),
        FieldSpec("ORDER_DATE", dataType = "date", transformation = "parse_date"),
        FieldSpec("LOCALREF_PRICE", dataType = "double"))
      SchemaConverter.blobFe(raw, schema).orderBy("RECID")
    },

    // BLOB FEFD mode: 0xFD value markers inside a field explode to rows
    // with per-element transforms (reference controllers/index.js:591-600)
    "t24_blob_fefd" -> q { (s, d) =>
      val raw = recSynth(
        table(s, d, "orders").select(
          col("o_orderkey").cast("string").as(SchemaConverter.RecId),
          col("o_orderstatus"), col("o_orderdate")),
        concat(
          hex(col("o_orderstatus")), lit("FE"),
          hex(date_format(col("o_orderdate"), "yyyyMMdd")), lit("FD"),
          hex(date_format(date_add(col("o_orderdate"), 30), "yyyyMMdd"))),
        out = SchemaConverter.Blob)
      val schema = Seq(
        FieldSpec("STATUS"),
        FieldSpec("DATES", dataType = "date", transformation = "parse_date",
          parseSv = false, parseVm = true))
      SchemaConverter.blobFe(raw, schema)
        .select(col(SchemaConverter.RecId), col("STATUS"),
          col(SchemaConverter.MvPos).cast(LongType).as("mv_pos"), col("DATES").as("d"))
        .orderBy("RECID", "mv_pos")
    }
  )

  val oracles: Map[String, String] = Map(
    "t24_mv_index" ->
      s"""SELECT p_partkey,
         |  list_filter(regexp_split_to_array(
         |    concat('1:', p_type, '#2:', p_name, '#3:', CAST(p_size AS VARCHAR)),
         |    '$marker'), x -> x <> '')[2] AS item2
         |FROM part ORDER BY p_partkey""".stripMargin,

    "t24_mv_join" ->
      s"""SELECT p_partkey,
         |  array_to_string(list_filter(regexp_split_to_array(
         |    regexp_replace(concat('1:', p_type, '#2:', p_name, '#s3:', CAST(p_size AS VARCHAR)), '$lead', ''),
         |    '#(s?[0-9]+:)?'), x -> x <> ''), '|') AS joined
         |FROM part ORDER BY p_partkey""".stripMargin,

    "t24_seab_field" ->
      """SELECT c_custkey, split_part(c_name, '#', 2) AS cust_num
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "t24_hextotext" ->
      """SELECT c_custkey, decode(unhex(hex(c_name))) AS decoded
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "t24_parse_date" ->
      """SELECT CAST(strptime(strftime(l_shipdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS ship_day,
        |  COUNT(*) AS n_lines
        |FROM lineitem GROUP BY 1 ORDER BY ship_day""".stripMargin,

    "t24_parse_timestamp" ->
      """SELECT strptime(strftime(CAST(ts AS TIMESTAMP), '%y%m%d%H%M'), '%y%m%d%H%M') AS minute,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY minute""".stripMargin,

    "t24_mv_explode" ->
      s"""SELECT RECID, CAST(p.pos AS BIGINT) AS mv_pos, l[p.pos] AS flag
         |FROM (
         |  SELECT CAST(o_orderkey AS VARCHAR) AS RECID,
         |    list_filter(regexp_split_to_array(
         |      concat('1:', o_orderstatus, '#2:', o_orderpriority, '#3:', CAST(o_orderkey AS VARCHAR)),
         |      '$marker'), x -> x <> '') AS l
         |  FROM orders) t
         |CROSS JOIN (VALUES (1), (2), (3)) p(pos)
         |ORDER BY RECID, mv_pos""".stripMargin,

    "t24_localref_strip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS RECID,
        |  CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS BAL
        |FROM customer ORDER BY RECID""".stripMargin,

    "t24_schema_pipeline" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS RECID,
        |  o_orderstatus AS STATUS,
        |  CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS ORDER_DATE,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS PRICE,
        |  concat(o_orderpriority, '|', o_orderstatus) AS PRIORITY_MV
        |FROM orders ORDER BY RECID""".stripMargin,

    "t24_template_fn" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS RECID,
        |  upper(c_name) AS UNAME,
        |  substring(c_mktsegment, 1, 4) AS SEG4
        |FROM customer ORDER BY RECID""".stripMargin,

    "t24_blob_pipeline" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS RECID,
        |  decode(unhex(hex(o_orderstatus))) AS STATUS,
        |  CAST(strptime(decode(unhex(hex(strftime(o_orderdate, '%Y%m%d')))), '%Y%m%d') AS DATE) AS ORDER_DATE,
        |  CAST(decode(unhex(hex(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)))) AS DOUBLE) AS PRICE
        |FROM orders ORDER BY RECID""".stripMargin,

    "t24_inputter_his" ->
      s"""SELECT c_custkey,
         |  array_to_string(list_transform(regexp_split_to_array(
         |    regexp_replace(concat('1:SYS_AGENT', CAST(c_custkey AS VARCHAR), '#2:SYS_TELLER', CAST(c_custkey AS VARCHAR)), '$lead', ''),
         |    '#(s?[0-9]*:)?'), x -> split_part(x, '_', 2)), ' ') AS inputter_his
         |FROM customer ORDER BY c_custkey""".stripMargin,

    "t24_mv_transform" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS RECID, o_orderstatus AS STATUS,
        |  CAST(p.pos AS BIGINT) AS mv_pos,
        |  CASE WHEN p.pos = 1 THEN CAST(o_orderdate AS DATE) ELSE CAST(o_orderdate AS DATE) + 30 END AS d
        |FROM orders CROSS JOIN (VALUES (1), (2)) p(pos)
        |ORDER BY RECID, mv_pos""".stripMargin,

    "t24_template_grammar" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS RECID,
        |  CAST(c_custkey AS VARCHAR) || '_R' AS RTAG,
        |  'SEG_X' AS SEGTAG,
        |  CAST(c_custkey AS VARCHAR) AS P2,
        |  substring('A_' || CAST(c_nationkey AS VARCHAR), 1, 3) AS S3,
        |  CAST(strptime('2024' || lpad(CAST(c_nationkey % 12 + 1 AS VARCHAR), 2, '0') || '15', '%Y%m%d') AS DATE) AS D1,
        |  upper(c_mktsegment) AS BIGNAME,
        |  substring(CAST(c_custkey AS VARCHAR), 1, 2) AS FIXED
        |FROM customer ORDER BY RECID""".stripMargin,

    "t24_cdc_latest" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS RECID,
        |  CASE WHEN o_orderkey % 2 = 1 THEN 'X' ELSE o_orderstatus END AS STATUS,
        |  CAST(CASE WHEN o_orderkey % 2 = 1 THEN 2 ELSE 1 END AS BIGINT) AS cdc_ts
        |FROM orders ORDER BY RECID""".stripMargin,

    // the same apply stated relationally: merge result minus deleted
    // RECIDs — t24_cdc_latest's CASE collapse with the delete filter
    "t24_cow_apply" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS RECID,
        |  CASE WHEN o_orderkey % 2 = 1 THEN 'X' ELSE o_orderstatus END AS STATUS,
        |  CAST(CASE WHEN o_orderkey % 2 = 1 THEN 2 ELSE 1 END AS BIGINT) AS cdc_ts
        |FROM orders WHERE o_orderkey % 10 <> 0 ORDER BY RECID""".stripMargin,

    // the application's records stated directly — layout and prefix
    // pruning cannot change the answer
    "t24_prefix_scan" ->
      """SELECT o_orderstatus AS STATUS, COUNT(*) AS n_recs,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_amt
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "t24_scd2_intervals" ->
      """WITH cdc AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS RECID,
        |    CAST(1 AS BIGINT) AS cdc_ts, o_orderstatus AS STATUS FROM orders
        |  UNION ALL
        |  SELECT CAST(o_orderkey AS VARCHAR), 2, 'X' FROM orders
        |  WHERE o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT CAST(o_orderkey AS VARCHAR), 3, 'C' FROM orders
        |  WHERE o_orderkey % 4 = 1)
        |SELECT RECID, STATUS, cdc_ts AS valid_from,
        |  LEAD(cdc_ts) OVER (PARTITION BY RECID ORDER BY cdc_ts) - 1 AS valid_to,
        |  LEAD(cdc_ts) OVER (PARTITION BY RECID ORDER BY cdc_ts) IS NULL AS is_current
        |FROM cdc ORDER BY RECID, valid_from""".stripMargin,

    // per-field UNION ALL re-derivation of the lag-diff (the naive
    // form the Spark unpivot replaces — same rows, F scans)
    "t24_field_changes" ->
      """WITH cdc AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS RECID, CAST(1 AS BIGINT) AS cdc_ts,
        |    o_orderstatus AS STATUS, o_orderpriority AS PRIORITY FROM orders
        |  UNION ALL
        |  SELECT CAST(o_orderkey AS VARCHAR), 2, 'X', o_orderpriority FROM orders
        |  WHERE o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT CAST(o_orderkey AS VARCHAR), 3, 'C', '9-NONE' FROM orders
        |  WHERE o_orderkey % 4 = 1),
        |lg AS (
        |  SELECT RECID, cdc_ts, STATUS, PRIORITY,
        |    LAG(STATUS) OVER w AS ps, LAG(PRIORITY) OVER w AS pp
        |  FROM cdc WINDOW w AS (PARTITION BY RECID ORDER BY cdc_ts))
        |SELECT RECID, cdc_ts, field, old_val, new_val FROM (
        |  SELECT RECID, cdc_ts, 'STATUS' AS field, ps AS old_val, STATUS AS new_val
        |  FROM lg WHERE ps IS NOT NULL AND ps <> STATUS
        |  UNION ALL
        |  SELECT RECID, cdc_ts, 'PRIORITY', pp, PRIORITY
        |  FROM lg WHERE pp IS NOT NULL AND pp <> PRIORITY) ch
        |ORDER BY RECID, cdc_ts, field""".stripMargin,

    "t24_registry_pipeline" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS RECID,
        |  o_orderstatus AS STATUS,
        |  CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS ORDER_DATE,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS PRICE,
        |  concat(o_orderpriority, '|', o_orderstatus) AS PRIORITY_MV
        |FROM orders ORDER BY RECID""".stripMargin,

    "t24_blob_fe" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS RECID,
        |  o_orderstatus AS STATUS,
        |  CAST(o_orderdate AS DATE) AS ORDER_DATE,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS PRICE
        |FROM orders ORDER BY RECID""".stripMargin,

    "t24_blob_fefd" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS RECID, o_orderstatus AS STATUS,
        |  CAST(p.pos AS BIGINT) AS mv_pos,
        |  CASE WHEN p.pos = 1 THEN CAST(o_orderdate AS DATE) ELSE CAST(o_orderdate AS DATE) + 30 END AS d
        |FROM orders CROSS JOIN (VALUES (1), (2)) p(pos)
        |ORDER BY RECID, mv_pos""".stripMargin
  )
}
