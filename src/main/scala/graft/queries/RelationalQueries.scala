package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, TimestampType}

import graft.Engine.q
import graft.operators.Spread
import graft.sources.Tables.table

/** §2a relational core. Every query has a DuckDB oracle; parity rules:
  *  - identical aliases both sides;
  *  - deterministic ORDER BY closing every query;
  *  - double aggregation goes through DECIMAL(18,4) (associative-exact)
  *    and is cast back to double only at the end;
  *  - event timestamps: parquet carries ns; Spark reads Long ns (see
  *    Engine.configure) and truncates to µs exactly like DuckDB's read.
  */
object RelationalQueries {

  private def d4(c: Column): Column = c.cast(DecimalType(18, 4))
  private def one4 = lit(1).cast(DecimalType(18, 4))
  /** events.ts (Long, ns) → timestamp at µs precision (matches DuckDB). */
  // integral `div` keeps ns→µs truncation exact (double `/` could misround)
  private def evTs(c: Column): Column = timestamp_micros(expr("ts div 1000"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_agg" -> q { (s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(d4(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(d4(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(d4(col("l_extendedprice")) * (one4 - d4(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "q2_topk_orders" -> q { (s, d) =>
      table(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // pre-aggregated form (guide §2.3 "aggregate before you shuffle"):
    // lineitem collapses to one exact decimal revenue row PER ORDERKEY
    // before any join — the join then carries |orders| rows instead of
    // |lineitem|, and because o_orderkey is the orders PK (and custkey
    // → exactly one customer), each orderkey reaches the nation
    // aggregate exactly once, so count(1) ≡ countDistinct(o_orderkey)
    // — which also removes the Expand + second aggregation pass the
    // mixed distinct/plain aggregate used to plan. Decimal sums are
    // exact, so regrouping them is bit-identical; oracle unchanged.
    "q3_join_revenue" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(d4(col("l_extendedprice")) * (one4 - d4(col("l_discount"))))
          .as("ord_rev"))
      val o = table(s, d, "orders")
      val c = table(s, d, "customer")
      val n = table(s, d, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          sum(col("ord_rev")).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    "q4_semi_join" -> q { (s, d) =>
      val o = table(s, d, "orders")
      val li = table(s, d, "lineitem").filter(col("l_quantity") > 49)
        .select(col("l_orderkey"))
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    "q5_anti_join" -> q { (s, d) =>
      val c = table(s, d, "customer")
      val o = table(s, d, "orders").filter(col("o_totalprice") > 350000)
        .select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    "q6_filter_project" -> q { (s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.09 &&
          col("l_quantity") < 24)
        .agg(
          sum(d4(col("l_extendedprice")) * d4(col("l_discount")))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    "q7_window_rank" -> q { (s, d) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
      table(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), row_number().over(w).as("rn"))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("l_suppkey")
    },

    "q8_running_sum" -> q { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(d4(col("o_totalprice"))).over(w).cast(DoubleType).as("running_spend"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },

    "q9_distinct_agg" -> q { (s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supps"),
          count(lit(1)).as("n_lines"))
        .orderBy("l_returnflag")
    },

    "q10_case_agg" -> q { (s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_priority"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_priority"))
        .orderBy("o_orderstatus")
    },

    "q11_rollup" -> q { (s, d) =>
      table(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          grouping(col("l_returnflag")).cast(IntegerType).as("g_rf"),
          grouping(col("l_linestatus")).cast(IntegerType).as("g_ls"),
          count(lit(1)).as("n_lines"),
          sum(d4(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    "q12_union_all" -> q { (s, d) =>
      val c = table(s, d, "customer").select(col("c_custkey").as("id"),
        lit("customer").as("kind"), col("c_acctbal").as("acctbal"))
      val sup = table(s, d, "supplier").select(col("s_suppkey").as("id"),
        lit("supplier").as("kind"), col("s_acctbal").as("acctbal"))
      c.unionAll(sup).orderBy("kind", "id")
    },

    // group by the truncated TIMESTAMP (8-byte key) and format after
    // the agg — shuffling pre-formatted string keys wastes the exchange
    "q13_events_tumbling" -> q { (s, d) =>
      table(s, d, "events")
        .select(evTs(col("ts")).as("tts"), col("event_type"), col("value"))
        .groupBy(date_trunc("hour", col("tts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(d4(col("value"))).cast(DoubleType).as("total_value"))
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("hour", "event_type")
    },

    "q14_sessionize" -> q { (s, d) =>
      val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = table(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"))
      ev.withColumn("new_sess",
          when(col("ts_us") - lag(col("ts_us"), 1).over(wOrd) > 1800L * 1000000L, 1L)
            .when(lag(col("ts_us"), 1).over(wOrd).isNull, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(wRun))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
        .orderBy("user_id", "sess_id")
    },

    "q15_json_extract" -> q { (s, d) =>
      table(s, d, "events")
        .select(regexp_extract(col("props"), ":\\s*([0-9]+)", 1)
          .cast(IntegerType).as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k").cast(LongType)).as("sum_k"))
        .orderBy("k_mod")
    },

    "q16_pivot" -> q { (s, d) =>
      table(s, d, "events")
        .select((col("user_id") % 10).as("cohort"), col("event_type"))
        .groupBy("cohort")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("cohort")
    },

    "q17_nested_subquery" -> q { (s, d) =>
      val c = table(s, d, "customer")
      val mx = c.agg(max(col("c_acctbal")).as("mx"))
      c.crossJoin(broadcast(mx))
        .filter(col("c_acctbal") > col("mx") * lit(0.9))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },

    // merge-based as-of join (one shuffle + one window sort; see
    // operators/AsOfJoin): each error event picks up the user's most
    // recent click at-or-before it
    "q18_asof_join" -> q { (s, d) =>
      val ev = table(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_us").agg(max(col("event_id")).as("click_id"))
      graft.operators.AsOfJoin.asOf(errors, clicks, Seq("user_id"),
          "ts_us", "ts_us", Map("click_id" -> "click_id", "ts_us" -> "click_ts_us"))
        .orderBy("event_id")
    },

    // (l_orderkey, l_linenumber) is NOT unique in this synthetic data;
    // l_quantity joins the window order so tied rows carry equal lead/
    // lag values, and the final sort covers every output column so any
    // residual tie permutation is canonical
    "q19_window_suite" -> q { (s, d) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
      table(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"),
          lead(col("l_quantity"), 1).over(w).as("next_qty"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"))
        .orderBy(col("l_suppkey"), col("rnk"), col("l_orderkey"),
          col("l_linenumber"), col("quartile"),
          col("prev_qty").asc_nulls_first, col("next_qty").asc_nulls_first)
    },

    // stddev via decimal-exact sums + an explicit double formula: the
    // built-in stddev's merge order is partitioning-dependent; this is
    // deterministic AND matches the oracle bit-for-bit
    "q20_stats_formula" -> q { (s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(d4(col("l_quantity"))).cast(DoubleType).as("s1"),
          sum(d4(col("l_quantity")) * d4(col("l_quantity"))).cast(DoubleType).as("s2"))
        .select(col("l_returnflag"), col("n"),
          (col("s1") / col("n").cast(DoubleType)).as("mean_qty"),
          ((col("s2") - col("s1") * col("s1") / col("n").cast(DoubleType)) /
            (col("n") - 1).cast(DoubleType)).as("var_qty"))
        .orderBy("l_returnflag")
    },

    "q21_setops" -> q { (s, d) =>
      val c = table(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = table(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(sup).select(col("nationkey"), lit("both").as("src"))
        .unionAll(c.except(sup).select(col("nationkey"), lit("customer_only").as("src")))
        .orderBy("src", "nationkey")
    },

    "q22_argminmax" -> q { (s, d) =>
      table(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(max_by(col("c_name"), col("c_custkey")).as("latest_cust"),
          min_by(col("c_name"), col("c_custkey")).as("first_cust"),
          count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    },

    "q23_string_fns" -> q { (s, d) =>
      table(s, d, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          translate(col("p_type"), "AEO", "aeo").as("xlated"),
          regexp_replace(col("p_name"), " ", "_").as("snake"),
          reverse(col("p_name")).as("rev"),
          instr(col("p_name"), "widget").cast(LongType).as("pos"),
          repeat(col("p_brand"), 2).as("twice"))
        .orderBy("p_partkey")
    },

    "q24_date_fns" -> q { (s, d) =>
      table(s, d, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofyear(col("o_orderdate")).as("doy"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          last_day(col("o_orderdate")).as("eom"))
        .orderBy("o_orderkey")
    },

    "q25_null_fns" -> q { (s, d) =>
      table(s, d, "orders")
        .select(col("o_orderkey"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_c"),
          greatest(col("o_totalprice"), lit(100000.0)).as("floor_price"),
          least(col("o_totalprice"), lit(400000.0)).as("cap_price"),
          when(col("o_totalprice").isNull, 0.0).otherwise(col("o_totalprice")).as("nz_price"))
        .orderBy("o_orderkey")
    },

    // ONE array-form percentile buffers the per-group values once (three
    // scalar quartile aggs would triple the buffered list); quartiles
    // project to scalar columns post-agg — the driver harness sorts
    // results in pandas and cannot hash array cells
    "q26_percentiles" -> q { (s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("qs"),
          expr("percentile(l_extendedprice, 0.5D)").as("median_price"))
        .select(col("l_returnflag"),
          element_at(col("qs"), 1).as("qty_p25"),
          element_at(col("qs"), 2).as("qty_p50"),
          element_at(col("qs"), 3).as("qty_p75"),
          col("median_price"))
        .orderBy("l_returnflag")
    },

    "q30_from_json" -> q { (s, d) =>
      table(s, d, "events")
        .select(from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy((col("k") % 7).as("k_mod"))
        .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))
        .orderBy("k_mod")
    },

    // correlated-aggregate filter: orders above their own customer's
    // mean price (mean from decimal-exact sums; the grouped side
    // re-joins the fact — one shuffle each, AQE-broadcast when small)
    "q34_above_avg" -> q { (s, d) =>
      val o = table(s, d, "orders")
      val means = o.groupBy(col("o_custkey").as("mk"))
        .agg((sum(d4(col("o_totalprice"))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("mean_price"))
      o.join(means, col("o_custkey") === col("mk"))
        .filter(col("o_totalprice") > col("mean_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // 6-table star join with a region filter and the same-nation
    // condition (TPC-H Q5 shape): Catalyst reorders, dims broadcast
    "q33_star_join" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders")
      val c = table(s, d, "customer")
      val sup = table(s, d, "supplier")
      val n = table(s, d, "nation")
      val r = table(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("r_name", "n_name")
        .agg(sum(d4(col("l_extendedprice")) * (one4 - d4(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    },

    // hopping (sliding) time window: 1h windows every 30min — each event
    // lands in two windows via Spark's window() generate
    "q32_hopping" -> q { (s, d) =>
      table(s, d, "events")
        .select(timestamp_micros(expr("ts div 1000")).as("tts"), col("value"))
        .groupBy(window(col("tts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(d4(col("value"))).cast(DoubleType).as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("n_events"), col("total_value"))
        .orderBy("w_start")
    },

    // array aggregation: collect_list/collect_set are order-unstable
    // across partitionings, so sort_array makes the result (and the
    // oracle) deterministic; arrays are delimiter-joined to scalars so
    // the driver harness can hash the cells (same trade as q26)
    "q31_collect" -> q { (s, d) =>
      table(s, d, "supplier")
        .groupBy("s_nationkey")
        .agg(
          array_join(sort_array(collect_list(col("s_name"))), "|").as("names"),
          array_join(transform(sort_array(collect_set(col("s_suppkey"))),
            x => x.cast("string")), "|").as("keys"),
          count(lit(1)).as("n"))
        .orderBy("s_nationkey")
    },

    "q28_having" -> q { (s, d) =>
      table(s, d, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(d4(col("o_totalprice"))).cast(DoubleType).as("spend"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")
    },

    "q29_cube" -> q { (s, d) =>
      table(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_st"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("g_pr"),
          count(lit(1)).as("n"))
        .orderBy(col("g_st"), col("g_pr"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // HLL sketch values are engine-specific, so the raw estimate can't be
    // hash-compared — instead the query emits the exact distinct count plus
    // a boolean-as-int "estimate within 5% of exact", which the oracle
    // asserts as a literal 1. HLL is deterministic for fixed data, so once
    // green at a scale factor it stays green; rsd=0.02 keeps the 5% bound
    // at a 2.5-sigma margin (measured max error at sf0.1: 1.0%) without
    // the 16x-larger rsd=0.01 sketch.
    // approximate percentile sketch — the 100 TB path for q26's exact
    // percentiles (exact buffers every per-group value; the
    // Greenwald-Khanna style sketch is O(1/accuracy) state with
    // map-side merge). Sketch values are engine-specific, so like q27
    // the oracle checks a BOUND: the approximate median must land
    // within the exact p45-p55 band — true by the sketch's rank-error
    // guarantee at accuracy 1000 (eps 0.1%), far inside the band.
    "q48_approx_quantiles" -> q { (s, d) =>
      // one array-form exact percentile (the q26 rule: scalar
      // percentile aggs would buffer the per-group list once EACH)
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_median"),
          expr("percentile(l_extendedprice, array(0.45D, 0.55D))").as("band"),
          count(lit(1)).as("n_lines"))
        .select(col("l_returnflag"), col("n_lines"),
          // the rank-error argument assumes a non-trivial group: tiny
          // groups (where the sketch returns a data value that can sit
          // outside the interpolated band) and all-null groups pass
          // explicitly, so the oracle's literal 1 holds on ANY data
          (coalesce(col("approx_median").between(
              element_at(col("band"), 1), element_at(col("band"), 2)),
            lit(false)) || col("n_lines") < 20).cast(IntegerType)
            .as("within_band"))
        .orderBy("l_returnflag")
    },

    "q27_approx_distinct" -> q { (s, d) =>
      // mixing countDistinct with plain aggs plans through Expand
      // (every row replicated per aggregate group) — the round-8
      // telemetry caught it spilling 19.6 GB at sf1. HLL is
      // duplicate-insensitive, so EVERYTHING computes from the
      // pre-deduped (flag, partkey) pairs: one map-side-combinable
      // agg collapses duplicates at the scan, the second runs on
      // distinct pairs only — same approx sketch, same exact count,
      // same line count, no Expand, no distinct machinery.
      table(s, d, "lineitem")
        .groupBy("l_returnflag", "l_partkey")
        .agg(count(lit(1)).as("c"))
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          count(lit(1)).as("exact_parts"),
          sum(col("c")).as("n_lines"))
        .select(col("l_returnflag"), col("exact_parts"), col("n_lines"),
          (abs(col("approx_parts") - col("exact_parts")).cast(DoubleType)
            / col("exact_parts") <= lit(0.05)).cast(IntegerType).as("within_5pct"))
        .orderBy("l_returnflag")
    },

    // TPC-H Q22 shape: global scalar subquery (mean positive balance,
    // 1-row broadcast like q17) gating a filter, then an anti-join
    // against a filtered fact subset, then grouped totals — the
    // "high-balance customers with no urgent orders" report
    "q41_missed_opportunity" -> q { (s, d) =>
      val c = table(s, d, "customer")
        .select(col("c_custkey"), (col("c_nationkey") % 7).as("cgrp"),
          col("c_acctbal"))
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg((sum(d4(col("c_acctbal"))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_bal"))
      val urgent = table(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cgrp")
        .agg(count(lit(1)).as("numcust"),
          sum(d4(col("c_acctbal"))).cast(DoubleType).as("totacctbal"))
        .orderBy("cgrp")
    },

    // TPC-H Q13 shape: filtered LEFT OUTER join (customers with zero
    // qualifying orders must survive with count 0) + a second-level
    // distribution aggregation over the first's result
    "q40_custdist" -> q { (s, d) =>
      val c = table(s, d, "customer").select(col("c_custkey"))
      val o = table(s, d, "orders")
        .filter(col("o_orderpriority") =!= "3-MEDIUM")
        .select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    // multi-supplier order ("kept orders waiting"). The EXISTS / NOT
    // EXISTS correlations collapse into ONE per-order aggregation
    // (supplier count + late-supplier count) joined back to the late
    // lines — both consumers of the late-line projection sit on the
    // same explicit l_orderkey repartition, so the lineitem⋈orders
    // join runs ONCE (canonical-exchange reuse, the minhashNearDups
    // pattern; a literal semi+anti formulation would re-join the fact
    // tables once per leg — the spec cross-checks against it).
    "q42_supplier_wait" -> q { (s, d) =>
      val o = table(s, d, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val l1all = table(s, d, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), 90)).as("late"))
        .repartition(col("l_orderkey"))
      // two-level aggregate instead of double countDistinct: both
      // levels cluster by subsets of (l_orderkey, l_suppkey), which the
      // l_orderkey repartition already satisfies — no Expand operator,
      // no additional exchange. count/sum skip a null-suppkey group
      // exactly like countDistinct (and the oracle's EXISTS) would.
      val perOrder = l1all
        .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk2"))
        .agg(max(col("late")).as("any_late"))
        .groupBy("ok")
        .agg(count(col("sk2")).as("n_supp"),
          sum(when(col("any_late") && col("sk2").isNotNull, 1L).otherwise(0L))
            .as("n_late_supp"))
      val sup = table(s, d, "supplier")
      val n = table(s, d, "nation")
        .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
      l1all.filter(col("late"))
        .join(perOrder, col("l_orderkey") === col("ok"))
        .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },

    // TPC-H Q18 shape: HAVING-filtered aggregate (orders whose total
    // quantity exceeds 300) semi-joined back to the fact tables — the
    // "large-volume customer" report. The pre-aggregation runs on the
    // lineitem side BEFORE the wide join, so only qualifying orderkeys
    // reach the three-way join.
    "q43_large_orders" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
      val big = li.groupBy(col("l_orderkey").as("bk"))
        .agg(sum(d4(col("l_quantity"))).as("sq"))
        .filter(col("sq") > 300)
        .select("bk")
      table(s, d, "orders")
        .join(big, col("o_orderkey") === col("bk"), "left_semi")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"))
        .agg(sum(d4(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // TPC-H Q10 shape: returned-items revenue report — selective fact
    // filter (returnflag) + date-windowed orders + customer/nation
    // dims, grouped per customer, top-20 by lost revenue. The two
    // fact filters push to their scans; nation broadcasts.
    "q47_returned_items" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (d4(col("l_extendedprice")) * (one4 - d4(col("l_discount")))).as("rev"))
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-10-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1996-10-01").cast(TimestampType))
        .select("o_orderkey", "o_custkey")
      val c = table(s, d, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      val n = table(s, d, "nation").select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(col("rev")).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // TPC-H Q19 shape: disjunctive multi-attribute predicate over a
    // fact⋈dim join — three OR'd (brand, size-range, quantity-range)
    // branches that reference BOTH tables, so only the common
    // conjuncts (extracted by Catalyst's CNF conversion) can push to
    // the scans; the rest evaluates post-join. Exercises OR-predicate
    // handling that simple conjunctive queries never touch.
    "q46_disjunctive_join" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          (d4(col("l_extendedprice")) * (one4 - d4(col("l_discount")))).as("rev"))
      val p = table(s, d, "part").select("p_partkey", "p_brand", "p_size")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#24" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(col("rev")).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // TPC-H Q14 shape: promotion revenue share — the ratio of a
    // conditional aggregate to the total in ONE pass (two decimal sums
    // in the same aggregation, divided post-agg in double). The month
    // filter pushes to the lineitem scan.
    "q45_promo_share" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1995-10-01").cast(TimestampType))
        .select(col("l_partkey"),
          (d4(col("l_extendedprice")) * (one4 - d4(col("l_discount")))).as("rev"))
      val p = table(s, d, "part").select("p_partkey", "p_type")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            sum(when(col("p_type") === "PROMO", col("rev"))).cast(DoubleType) /
            sum(col("rev")).cast(DoubleType)).as("promo_revenue"),
          count(lit(1)).as("n_lines"))
    },

    // TPC-H Q7 shape: bidirectional nation-pair trade volume — the
    // two-role dimension pattern (nation joins TWICE under different
    // roles, both broadcast) with an OR'd pair predicate that only the
    // joined roles can evaluate, grouped by (supp_nation, cust_nation,
    // year). The year filter pushes to the lineitem scan.
    "q44_nation_volume" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast(TimestampType) &&
          col("l_shipdate") <= lit("1996-12-31").cast(TimestampType))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          (d4(col("l_extendedprice")) * (one4 - d4(col("l_discount")))).as("vol"))
      val o = table(s, d, "orders").select("o_orderkey", "o_custkey")
      val c = table(s, d, "customer").select("c_custkey", "c_nationkey")
      val sup = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val n1 = table(s, d, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val n2 = table(s, d, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("snk"))
        .join(broadcast(n2), col("c_nationkey") === col("cnk"))
        .filter((col("supp_nation") === "NATION_5" && col("cust_nation") === "NATION_8") ||
          (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_5"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum(col("vol")).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // TPC-H Q3 shape: date-filtered fact⋈fact join, grouped revenue,
    // top-10 by revenue — filters push to both scans before the join
    "q39_ship_priority" -> q { (s, d) =>
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast(TimestampType))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = table(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast(TimestampType))
        .select(col("l_orderkey"),
          (d4(col("l_extendedprice")) * (one4 - d4(col("l_discount")))).as("rev"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_orderpriority"))
        .agg(sum(col("rev")).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q2 shape: min-cost supplier per part — a per-group MIN
    // joined back to the detail rows that achieve it (the argmin-per-
    // key-with-payload pattern at fact scale). lineitem stands in for
    // partsupp: unit cost = min(l_extendedprice / l_quantity) per
    // (part, supplier). One explicit l_partkey repartition feeds BOTH
    // aggregation levels AND the join-back (partitioning on a subset
    // of the group keys satisfies each clustering), so the whole
    // argmin chain rides a single canonical exchange — the q42
    // pattern. Doubles compare exactly: both sides of the equality
    // are MINs over the same correctly-rounded IEEE divisions.
    "q49_min_cost_supplier" -> q { (s, d) =>
      val ps = table(s, d, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
      val minc = ps.groupBy(col("l_partkey").as("mpk"))
        .agg(min(col("cost")).as("min_cost"))
      val p = table(s, d, "part")
        .filter(col("p_type") === "STANDARD" && col("p_size") < 10)
        .select("p_partkey", "p_name", "p_size")
      ps.join(minc, col("l_partkey") === col("mpk") &&
          col("cost") === col("min_cost"))
        .join(p, col("p_partkey") === col("l_partkey"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(table(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("p_size"), col("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
    },

    // TPC-H Q11 shape: groups whose share of a GLOBAL total exceeds a
    // threshold — per-part value over a restricted supplier set, kept
    // only above 1.25× the mean per-part value. The threshold is
    // data-adaptive (value·nparts > 1.25·total) rather than TPC-H's
    // fixed fraction, so the query stays non-degenerate at EVERY scale
    // factor (Q11's literal 0.0001 is spec'd to shrink as 1/SF for the
    // same reason). The 1-row total/count re-aggregate broadcasts
    // back; the supplier keep-set broadcasts into the fact scan side.
    "q50_important_stock" -> q { (s, d) =>
      val keep = table(s, d, "supplier")
        .filter(col("s_nationkey") % 3 === 0).select("s_suppkey")
      val v = table(s, d, "lineitem")
        .join(broadcast(keep), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(d4(col("l_extendedprice"))).as("value"))
      val tot = v.agg(sum(col("value")).as("total"),
        count(lit(1)).as("nparts"))
      v.crossJoin(broadcast(tot))
        .filter(col("value").cast(DoubleType) * col("nparts").cast(DoubleType) >
          lit(1.25) * col("total").cast(DoubleType))
        .select(col("l_partkey"), col("value").cast(DoubleType).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },

    // TPC-H Q17 shape: a per-group average GATING the detail rows of
    // the same fact (small-quantity lines of one brand, priced as
    // yearly revenue). The brand part-set semi-reduces lineitem FIRST
    // (so the per-part average is only computed for parts that can
    // survive), then one explicit l_partkey repartition feeds both the
    // average aggregation and the gate join-back — the exchange-reuse
    // pattern again. Threshold compare runs in double on both engines
    // (identical IEEE inputs → identical outcome).
    "q51_small_qty_revenue" -> q { (s, d) =>
      val p = table(s, d, "part").filter(col("p_brand") === "Brand#13")
        .select("p_partkey")
      val li = table(s, d, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .repartition(col("l_partkey"))
      val aq = li.groupBy(col("l_partkey").as("apk"))
        .agg((sum(d4(col("l_quantity"))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_qty"))
      li.join(aq, col("l_partkey") === col("apk"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(d4(col("l_extendedprice"))).cast(DoubleType) / lit(7.0))
            .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },

    // TPC-H Q15 shape: top supplier by windowed revenue — a MAX over a
    // derived aggregate equality-joined back to that same aggregate
    // (the reference's CREATE VIEW revenue + WHERE total = MAX). The
    // equality runs on the exact DECIMAL revenue (never the double),
    // so ties are bit-deterministic on both engines.
    "q52_top_supplier" -> q { (s, d) =>
      val rev = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1996-04-01").cast(TimestampType))
        .groupBy(col("l_suppkey"))
        .agg(sum(d4(col("l_extendedprice")) * (one4 - d4(col("l_discount"))))
          .as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_rev") === col("max_rev"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("total_rev").cast(DoubleType).as("total_rev"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q16 shape: supplier diversity per part attribute — the
    // distinct (part, supplier) relationship anti-joined against a
    // supplier blacklist, then COUNT(DISTINCT) per attribute triple.
    // The blacklist is a filtered dim (broadcast anti-join); the
    // attribute dim stays a keyed join (at 100 TB the FILTERED part
    // table is still fact-sized — AQE may broadcast it when small,
    // but the plan must not require it).
    "q53_parts_supplier_cnt" -> q { (s, d) =>
      val ps = table(s, d, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
      val bad = table(s, d, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      val p = table(s, d, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      ps.join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },

    // TPC-H Q8 shape: market share — one supplier nation's slice of a
    // region's imported volume per year, the conditional-over-total
    // ratio computed WITHIN groups (q45's global ratio, q44's
    // two-role nation dim, composed): 5 joins, two broadcast nation
    // roles, the region membership and part-type filters as semi-joins
    // that never widen the fact row.
    "q55_market_share" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (d4(col("l_extendedprice")) * (one4 - d4(col("l_discount")))).as("vol"))
      val p = table(s, d, "part")
        .filter(col("p_type") === "PROMO").select("p_partkey")
      val o = table(s, d, "orders")
        .filter(col("o_orderdate").between(
          lit("1995-01-01").cast(TimestampType),
          lit("1996-12-31").cast(TimestampType)))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      val c = table(s, d, "customer").select("c_custkey", "c_nationkey")
      val n1 = table(s, d, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_regionkey"))
      val r = table(s, d, "region").filter(col("r_name") === "ASIA")
      val sup = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val n2 = table(s, d, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("cnk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"), "left_semi")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("snk"))
        .groupBy("o_year")
        .agg(
          (sum(when(col("supp_nation") === "NATION_5", col("vol")))
            .cast(DoubleType) / sum(col("vol")).cast(DoubleType))
            .as("mkt_share"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_year")
    },

    // cohort retention — the product-analytics shape (day-over-day
    // here; week-over-week is the same plan): distinct daily-active
    // (day, user) pairs self-joined one day apart. ONE explicit
    // user_id repartition serves the distinct, both join sides AND
    // the shifted twin (user_id is a subset of every clustering
    // involved — the q42 pattern); only the final per-day rollup
    // re-shuffles, and what shuffles is 12-byte (day, user) pairs.
    "q57_retention" -> q { (s, d) =>
      val active = table(s, d, "events")
        .select(to_date(evTs(col("ts"))).as("day"), col("user_id"))
        .repartition(col("user_id"))
        .distinct()
      val nxt = active.select(date_sub(col("day"), 1).as("day"),
        col("user_id"), lit(1L).as("ret"))
      active.join(nxt, Seq("day", "user_id"), "left_outer")
        .groupBy("day")
        .agg(count(lit(1)).as("n_active"),
          sum(coalesce(col("ret"), lit(0L))).as("n_retained"))
        .select(col("day"), col("n_active"), col("n_retained"),
          (col("n_retained").cast(DoubleType) / col("n_active").cast(DoubleType))
            .as("retention"))
        .orderBy("day")
    },

    // TPC-H Q12 shape: a dimension attribute (order priority) counted
    // conditionally under a FACT-side derived group (ship mode —
    // synthesized deterministically from the supplier key, as the
    // generator carries no shipmode column). The mode filter prunes
    // the fact scan; the CASE counts evaluate post-join.
    "q58_shipmode_priority" -> q { (s, d) =>
      val mode3 = col("l_suppkey") % 3
      val li = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType))
        .select(col("l_orderkey"),
          when(mode3 === 0, "MAIL").when(mode3 === 1, "SHIP").otherwise("AIR")
            .as("shipmode"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      table(s, d, "orders").select("o_orderkey", "o_orderpriority")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("shipmode")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("shipmode")
    },

    // TPC-H Q4 shape: order-priority backlog — orders in a quarter
    // having ANY late line, counted by priority. The correlated
    // EXISTS is a left-semi join with a cross-side date condition
    // (l_shipdate > o_orderdate + 60): the equi-key carries the join,
    // the inequality evaluates inside it, and no order row ever
    // duplicates however many lines are late.
    "q59_priority_backlog" -> q { (s, d) =>
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1996-10-01").cast(TimestampType))
      val li = table(s, d, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), 60),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // one-pass column profiler (the Deequ / DataFrame.summary shape):
    // per-column row count, null count and EXACT distinct count — the
    // data-quality report run before any pipeline trusts a new table.
    // The multiple exact-DISTINCT aggregates plan through ONE Expand
    // pass (one scan of the table, not a job per column); the unpivot
    // to (column, stats) rows is a stack() over the 1-row aggregate.
    // At 100 TB swap countDistinct for approx_count_distinct (the q27
    // sketch) — same plan shape minus the Expand multiplication.
    "q60_profile" -> q { (s, d) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c => Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")) }
      val stackArgs = cols.map(c =>
        s"'$c', n_rows, n_rows - nn_$c, nd_$c").mkString(", ")
      table(s, d, "orders")
        .agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${cols.length}, $stackArgs) AS " +
          "(column_name, n_rows, n_nulls, n_distinct)"))
        .orderBy("column_name")
    },

    // Count-Min-sketch heavy hitters (q61): the third classic sketch
    // next to q27's HLL and q48's quantiles — estimate hot keys from
    // a 3×1024-cell table instead of a full per-key aggregate (the hot
    // list is what feeds q38's salted-skew gate at scale). Hashes are
    // the engine-portable polyHash family with three fixed row
    // constants, so every cell count and every min-estimate is
    // bit-deterministic and FULLY oracled. The sketch build is one
    // pass with map-side partial aggs into ≤3072 cells; estimation
    // joins the distinct-key side against the broadcast-sized sketch.
    // The exact count column is the EVALUATION harness (the e12/e23
    // measurement-loop pattern): it proves the CMS never-undercount
    // guarantee row by row (spec-asserted too); a deployment at
    // 100 TB would keep only the sketch side.
    "q61_heavy_hitters" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
        .select(col("l_suppkey").cast("string").as("key"))
      val sketch = graft.operators.Cms.cells(li, "key")
      val exact = li.groupBy("key").agg(count(lit(1)).as("exact_cnt"))
      graft.operators.Cms.estimates(sketch, exact, "key")
        .select(col("key"), col("est_cnt"), col("exact_cnt"),
          (col("est_cnt") >= col("exact_cnt")).as("never_under"))
        .orderBy(col("est_cnt").desc, col("key").asc)
        .limit(20)
    },

    // TPC-H Q9 shape: product-line profit by (supplier nation, year) —
    // a computed measure spanning THREE tables (revenue minus a
    // retail-cost charge), name-filtered part dim, nation broadcast.
    // The cost factor multiplies in double FIRST (correctly-rounded
    // IEEE, identical both engines) and converts to decimal once —
    // chaining three decimal multiplications instead would walk the
    // engines' different precision/scale promotion rules.
    "q56_profit" -> q { (s, d) =>
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val p = table(s, d, "part")
        .filter(col("p_name").contains("gizmo"))
        .select("p_partkey", "p_retailprice")
      val sup = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val n = table(s, d, "nation").select("n_nationkey", "n_name")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(
          sum(d4(col("l_extendedprice")) * (one4 - d4(col("l_discount"))) -
            d4(col("p_retailprice") * col("l_quantity") * lit(0.1)))
            .cast(DoubleType).as("profit"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("nation"), col("o_year"))
    },

    // TPC-H Q20 shape: the nested semi-join chain — suppliers having
    // (a filtered part, excess-concentration) relationship. The
    // correlated EXISTS collapses into ONE conditional aggregation per
    // (part, supplier) pair (a year's shipments vs lifetime shipments,
    // both sums in one pass), the threshold compares decimals exactly
    // (qty_96·2 > qty_all — no division), and eligibility flows
    // through two left-semi joins (pairs ⋉ parts, suppliers ⋉ pairs) —
    // no fact row ever widens.
    "q54_excess_suppliers" -> q { (s, d) =>
      val pairs = table(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(d4(col("l_quantity"))).as("qty_all"),
          sum(when(year(col("l_shipdate")) === 1996, d4(col("l_quantity")))
            .otherwise(lit(0).cast(DecimalType(18, 4)))).as("qty_96"))
        .filter(col("qty_96") * 2 > col("qty_all"))
      val p = table(s, d, "part")
        .filter(col("p_name").startsWith("small")).select("p_partkey")
      val eligible = pairs
        .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_suppkey"))
      table(s, d, "supplier")
        .filter(col("s_nationkey") % 2 === 0)
        .join(eligible, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(table(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    },

    // the salted-join utility under the correctness gate: salting must
    // be bit-identical to the plain join (the oracle IS the plain join)
    "q38_skew_salted" -> q { (s, d) =>
      val li = table(s, d, "lineitem").select(
        col("l_partkey").as("pk"), col("l_orderkey"),
        (d4(col("l_extendedprice")) * (one4 - d4(col("l_discount")))).as("rev"))
      val p = table(s, d, "part").select(col("p_partkey").as("pk"), col("p_brand"))
      graft.operators.SkewJoin.saltedJoin(li, p, Seq("pk"),
          scatterOn = col("l_orderkey"))
        .groupBy("p_brand")
        .agg(sum(col("rev")).cast(DoubleType).as("revenue"), count(lit(1)).as("n"))
        .orderBy("p_brand")
    },

    // explicit GROUPING SETS (distinct from rollup/cube shapes)
    "q35_grouping_sets" -> q { (s, d) =>
      table(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_st"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("g_pr"),
          count(lit(1)).as("n"),
          sum(d4(col("o_totalprice"))).cast(DoubleType).as("spend"))
        .orderBy(col("g_st"), col("g_pr"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // VALUE-range window frame (RANGE x PRECEDING, not ROWS): each
    // order sums its customer's spend over the trailing 30 days —
    // peers at the same day aggregate together regardless of row order
    "q36_range_window" -> q { (s, d) =>
      val day = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
      val w = Window.partitionBy("o_custkey").orderBy(day)
        .rangeBetween(-30, Window.currentRow)
      table(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(d4(col("o_totalprice"))).over(w).cast(DoubleType).as("spend_30d"))
        .orderBy("o_orderkey")
    },

    // first/last/nth over an explicit full frame per key
    "q37_frame_navigation" -> q { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_orderkey")
    },

    // runtime bloom-filter join pruning (Spark's InjectRuntimeFilter):
    // when the dim side is too big to broadcast, a bloom filter built
    // from the FILTERED dim keys is pushed into the fact scan, so fact
    // rows that cannot join are dropped BEFORE the shuffle — at 100 TB
    // this is the difference between shuffling the whole fact table
    // and shuffling the ~join-surviving fraction. The builder models
    // the at-scale geometry (dim over the broadcast threshold, fact
    // over the 10 GB application-side default — both thresholds are
    // production no-ops at toy SF) and PINS the optimized plan by
    // materializing queryExecution under those confs, then restores
    // the session verbatim so no other query sees them. Oracle = the
    // plain join: the bloom only drops rows the join would drop
    "q62_bloom_join" -> q { (s, d) =>
      val tuned = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
      val saved = tuned.map { case (k, _) => k -> s.conf.getOption(k) }
      tuned.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val li = table(s, d, "lineitem")
        val p = table(s, d, "part").filter(col("p_size") <= 3)
        val df = li.join(p, col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(
            sum(d4(col("l_extendedprice")) * (one4 - d4(col("l_discount"))))
              .cast(DoubleType).as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("p_brand")
        // materialize the lazy plan chain NOW, under the tuned confs:
        // later actions reuse it, so the restore below cannot unplan
        // the bloom
        df.queryExecution.executedPlan
        df
      } finally {
        saved.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      }
    },

    // ordered event funnel (the product-analytics conversion shape):
    // per user, first 'view', first 'click' AFTER it, first 'purchase'
    // after THAT — strictly sequenced, so a click before the first
    // view does not convert. Three chained whole-partition window
    // minima + the per-user collapse + the final 1-row rollup all
    // ride ONE user_id exchange (the q57 pattern — every clustering
    // involved is user_id; plan-gated): at 100 TB the events table
    // shuffles once, and only (user_id, type, ts) rows at that
    "q63_funnel" -> q { (s, d) =>
      val w = Window.partitionBy("user_id")
      val ev = table(s, d, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      val staged = ev
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts_us"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts_us") > col("t1"),
            col("ts_us"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts_us") > col("t2"),
            col("ts_us"))).over(w))
      staged.groupBy("user_id")
        .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
        .agg(
          count(lit(1)).as("n_users"),
          count(col("t1")).as("n_viewed"),
          count(col("t2")).as("n_clicked"),
          count(col("t3")).as("n_purchased"))
        .select(col("n_users"), col("n_viewed"), col("n_clicked"),
          col("n_purchased"),
          when(col("n_viewed") > 0,
            col("n_clicked").cast(DoubleType) / col("n_viewed").cast(DoubleType))
            .otherwise(lit(0.0)).as("view_to_click"),
          when(col("n_clicked") > 0,
            col("n_purchased").cast(DoubleType) / col("n_clicked").cast(DoubleType))
            .otherwise(lit(0.0)).as("click_to_purchase"))
    },

    // interval (range) join WITHOUT an equi key, done scalably: "error
    // events inside any OTHER user's session window". The naive plan
    // is a nested-loop over sessions × errors; the scale plan
    // decomposes time into fixed 1-hour buckets — each session
    // EXPLODES to the buckets it overlaps (bounded by session length /
    // bucket), each point event lands in exactly ONE bucket, and the
    // candidate join becomes a bucket equi-join with the exact
    // containment as a residual filter (no duplicate pairs to dedup,
    // since a point has one bucket). Plan-gated: no NLJ, no cartesian.
    // At 100 TB the bucket width trades explode factor vs per-bucket
    // skew; zero-match sessions survive via the left join
    "q64_interval_join" -> q { (s, d) =>
      val sess = queries("q14_sessionize")(s, d)
        .select(col("user_id"), col("sess_id"), col("n_events"),
          col("start_us"), col("end_us"))
      val err = table(s, d, "events")
        .filter(col("event_type") === "error")
        .select(col("user_id").as("err_user"),
          expr("ts div 1000").as("err_us"))
      // the width stats pass is deterministic in the input generation,
      // so it persists as a 1-row artifact per corpus dir (the
      // Materialize.ensure contract every other per-generation
      // derivation rides): production pays it once per generation, a
      // fresh session reads the committed row, and the bench headline
      // measures the join, not a stats re-derivation
      foreignErrorCounts(sess, err, Some(ensureBucketWidth(sess, d)))
    },

    // dynamic partition pruning: the fact table materializes ONCE as a
    // hive-partitioned layout (partitionBy the join key — the
    // d50/e11 index-is-data lifecycle on the relational side), and a
    // filter on the DIM side prunes fact partition directories AT
    // RUNTIME through the join (Spark's DPP — the broadcast's key set
    // becomes a partition filter). At 100 TB this is the difference
    // between scanning every date/priority directory and only the
    // ones the dim filter names. The dim is a true attribute table
    // (urgency class is NOT derivable from the key by the optimizer),
    // so the pruning must be dynamic, not static. Plan-gated:
    // `dynamicpruning` in the scan's PartitionFilters
    "q65_dpp_prune" -> q { (s, d) =>
      import s.implicits._
      val dir = graft.ScratchDirs.stable("q65_orders_by_priority", d)
      val ord = graft.sources.Materialize.ensure(s, dir) {
        table(s, d, "orders")
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
      }
      // the dim materializes too: a LocalRelation dim would constant-
      // fold its filter away and DPP's selective-predicate check
      // (a Filter over a scan on the pruning side) would never fire —
      // with a real dim table the pruning is the one a warehouse does
      val dimDir = graft.ScratchDirs.stable("q65_priority_dim", d)
      val dim = graft.sources.Materialize.ensure(s, dimDir) {
        Seq(("1-URGENT", "rush"), ("2-HIGH", "rush"), ("3-MEDIUM", "std"),
            ("4-NOT SPECIFIED", "std"), ("5-LOW", "std"))
          .toDF("o_orderpriority", "urgency_class")
          .coalesce(1).write.mode("overwrite").parquet(dimDir)
      }
      ord.join(broadcast(dim.filter(col("urgency_class") === "rush")),
          Seq("o_orderpriority"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(d4(col("o_totalprice"))).cast(DoubleType).as("total_price"))
        .orderBy("o_orderpriority")
    },

    // incremental aggregate maintenance (materialized-view delta
    // merge — the Lambda-architecture batch side): the BASE partition
    // of the fact aggregates ONCE into a persisted per-key partial
    // state (exact decimal sums + counts — mergeable state, never
    // averages), and the query combines that tiny artifact with the
    // fresh DELTA slice's aggregate by key. At 100 TB the nightly
    // refresh re-aggregates only the arriving delta and merges k rows
    // — never rescans the base fact; ratios (avg) derive from the
    // MERGED sums, the one rule that makes MV maintenance correct.
    // Plan-gated: exactly one fact scan (the delta) + the artifact
    // scan. Oracle = the full aggregate over the whole fact — merge ≡
    // recompute is the query's own correctness statement
    "q66_mv_merge" -> q { (s, d) =>
      val dir = graft.ScratchDirs.stable("q66_base_agg", d)
      val base = graft.sources.Materialize.ensure(s, dir) {
        table(s, d, "lineitem")
          .filter(col("l_orderkey") % 8 =!= 0)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(d4(col("l_quantity"))).as("sum_qty"),
            sum(d4(col("l_extendedprice"))).as("sum_price"),
            count(lit(1)).as("n_lines"))
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }
      val delta = table(s, d, "lineitem")
        .filter(col("l_orderkey") % 8 === 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(d4(col("l_quantity"))).as("sum_qty"),
          sum(d4(col("l_extendedprice"))).as("sum_price"),
          count(lit(1)).as("n_lines"))
      base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("sum_qty")).as("mq"),
          sum(col("sum_price")).as("mp"),
          sum(col("n_lines")).as("n_lines"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("mq").cast(DoubleType).as("sum_qty"),
          col("mp").cast(DoubleType).as("sum_price"),
          col("n_lines"),
          (col("mp").cast(DoubleType) / col("n_lines").cast(DoubleType))
            .as("avg_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // per-key temporal anomaly detection (the ops-dashboard rate
    // alarm): each user's hourly event counts z-score against THAT
    // user's own history, hours more than 2σ ABOVE the mean flag. The
    // test is the log-free/divisionless integer form (the q20/d61
    // discipline): (cnt·n − S1)² > 4·(n·S2 − S1²) over exact long
    // sums S1=Σcnt, S2=Σcnt² — no sqrt, no per-row double whose ulp
    // could fork the flag cross-engine; the one double (the reported
    // mean) derives at the end. Plan shape: ONE explicit user_id
    // repartition serves the (user, hour) aggregation (grouping is a
    // superset of the partitioning) and the per-user whole-partition
    // window — plan-gated exactly-one-exchange, the d63 pattern
    "q67_anomaly" -> q { (s, d) =>
      val wU = Window.partitionBy("user_id")
      table(s, d, "events")
        .select(col("user_id"), expr("(ts div 1000) div 3600000000").as("hour"))
        .transform(Spread.byRange(_, col("user_id")))
        .groupBy("user_id", "hour")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("n_hours", count(lit(1)).over(wU))
        .withColumn("s1", sum(col("cnt")).over(wU))
        .withColumn("s2", sum(col("cnt") * col("cnt")).over(wU))
        .filter(col("cnt") * col("n_hours") > col("s1") &&
          (col("cnt") * col("n_hours") - col("s1")) *
            (col("cnt") * col("n_hours") - col("s1")) >
            lit(4L) * (col("n_hours") * col("s2") - col("s1") * col("s1")))
        .select(col("user_id"), col("hour"), col("cnt"), col("n_hours"),
          (col("s1").cast(DoubleType) / col("n_hours").cast(DoubleType))
            .as("mean_cnt"))
        .orderBy("user_id", "hour")
    },

    // time-series gap-fill + forward fill (grid densification — the
    // monitoring/feature-store "resample to a regular grid" op): each
    // user's hourly event series densifies to EVERY hour between that
    // user's observed hours, missing hours carrying cnt 0 and the last
    // observed hour's value forward. The grid generates WITHOUT a join:
    // lead(hour) per user turns each observed row into its [hour, next)
    // half-open run, sequence+explode emits the run — so the fill is
    // linear in output rows, never a range join against a calendar
    // table. One explicit user_id exchange serves both the (user, hour)
    // aggregation and the lead window (the q67 pattern, plan-gated).
    // At 100 TB the fill horizon would bound per-key (a dead series
    // must not explode years of zeros); the fixture's max gap is 140
    // hours so the unbounded form is the honest measurement here.
    "q68_gapfill" -> q { (s, d) =>
      val wU = Window.partitionBy("user_id").orderBy("hour")
      table(s, d, "events")
        .select(col("user_id"), expr("(ts div 1000) div 3600000000").as("hour"),
          d4(col("value")).as("v"))
        .transform(Spread.byRange(_, col("user_id")))
        .groupBy("user_id", "hour")
        .agg(count(lit(1)).as("obs_cnt"), sum(col("v")).as("val"))
        .withColumn("nxt", lead(col("hour"), 1).over(wU))
        .select(col("user_id"), col("obs_cnt"), col("val"), col("hour").as("obs_hour"),
          explode(sequence(col("hour"),
            coalesce(col("nxt") - 1L, col("hour")))).as("hour"))
        .select(col("user_id"), col("hour"),
          when(col("hour") === col("obs_hour"), col("obs_cnt"))
            .otherwise(lit(0L)).as("cnt"),
          (col("hour") =!= col("obs_hour")).as("is_gap"),
          col("val").cast(DoubleType).as("carried_value"))
        .orderBy("user_id", "hour")
    },

    // CUSUM drift detection (q71): Page's cumulative-sum control
    // chart (Page 1954) over each user's hourly event counts — the
    // SEQUENTIAL drift detector that fires on a sustained small shift
    // long before q67's per-point z-score does. The recurrence
    // S_t = max(0, S_{t−1} + (x_t − k)) is not a window aggregate,
    // but its closed form IS: S_t = P_t − min(0, min_{j≤t} P_j) over
    // the prefix sums P of (x − k) — the LEAST(0, ·) is the virtual
    // P_0 = 0 of Page's S_0 = 0 start (without it, a series whose
    // prefix sums stay positive would deflate by min P_j and alarm
    // late or never) — two cumulative windows on one keyed sort, no
    // recursion, no UDAF state. All-integer (counts, reference rate
    // k = 1, decision threshold h = 3 — alarm when S_t > h), so
    // cross-engine bit-exact; the q67/q68 single-user_id-exchange
    // pattern (plan-gate material).
    //
    // SCOPE NOTE: this form runs over OBSERVED hours only — hours with
    // zero events produce no row, so every increment cnt − 1 is ≥ 0
    // and S is monotone non-decreasing per user: a cumulative excess
    // counter that, once alarmed, never resets. That is the right
    // detector for "has this user EVER sustained excess rate"; for
    // the resettable Page chart (alarm clears when the rate drops
    // back), see q72_cusum_reset, which feeds the SAME closed form
    // the gap-filled hourly grid so empty hours contribute x = 0.
    "q71_cusum" -> q { (s, d) =>
      val wC = Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "events")
        .select(col("user_id"), expr("(ts div 1000) div 3600000000").as("hour"))
        .transform(Spread.byRange(_, col("user_id")))
        .groupBy("user_id", "hour")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("p", sum(col("cnt") - 1L).over(wC))
        .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(wC)))
        .select(col("user_id"), col("hour"), col("cnt"), col("s").as("cusum"),
          (col("s") > 3L).as("alarm"))
        .orderBy("user_id", "hour")
    },

    // RESETTABLE CUSUM (q72): q71's closed form fed the GAP-FILLED
    // hourly grid (the q68 lead/sequence/explode kernel — no calendar
    // join), so an hour with zero events contributes x = 0 and the
    // recurrence S_t = max(0, S_{t−1} + (cnt_t − 1)) can actually
    // decay and reset — Page's chart as published, where q71's
    // observed-hours form is the monotone cumulative-excess variant.
    // Still all-integer and still ONE user_id exchange: the same
    // repartition serves the hourly aggregate, the lead() run window,
    // and both cumulative windows (explode is narrow — partitioning
    // survives the fill). Fill horizon: first..last observed hour per
    // user (a dead series ends, it doesn't explode zeros forever).
    // ROUND-14 SHAPE: the recurrence runs over OBSERVED rows only and
    // the gap hours are filled ANALYTICALLY after it (guide §2.3 —
    // don't run the expensive pass over rows you can derive): a gap
    // hour contributes exactly −1 to the prefix sum, so at observed
    // hour t the dense-grid prefix sum is
    //   p(t) = Σ obs_cnt(≤t) − (t − first_hour + 1),
    // within a gap p decreases by 1 per hour (reaching p(t)−obs_cnt+1
    // just before the next observed row), and the dense running min is
    // the running min of per-row contributions
    //   contrib(t) = p(t) − (obs_cnt − 1) if a gap precedes t, else p(t).
    // Gap rows then explode AFTER both windows with
    //   p = p(obs) − j,   runmin = least(runmin(obs), p(obs) − j),
    // so the two cumulative windows sort ~9.5k observed rows instead of
    // ~105k grid rows. The one exchange is now a RANGE partition on
    // user_id: windows and the (user, hour) agg are satisfied by it
    // (clustered), and the final orderBy(user_id, hour) collapses to an
    // in-partition sort under the prefix rule — no second exchange, no
    // sampling re-run of the fill (the d1 pattern). All-integer, same
    // rows, same order; oracle unchanged.
    "q72_cusum_reset" -> q { (s, d) =>
      val wU = Window.partitionBy("user_id").orderBy("hour")
      val wC = wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "events")
        .select(col("user_id"), expr("(ts div 1000) div 3600000000").as("hour"))
        .transform(Spread.byRange(_, col("user_id")))
        .groupBy("user_id", "hour")
        .agg(count(lit(1)).as("obs_cnt"))
        .withColumn("nxt", lead(col("hour"), 1).over(wU))
        .withColumn("prv", lag(col("hour"), 1).over(wU))
        .withColumn("p", sum(col("obs_cnt")).over(wC)
          - (col("hour") - first(col("hour")).over(wC) + 1L))
        .withColumn("contrib",
          when(col("prv").isNull || col("prv") === col("hour") - 1L, col("p"))
            .otherwise(col("p") - col("obs_cnt") + 1L))
        .withColumn("runmin", min(col("contrib")).over(wC))
        .select(col("user_id"), col("obs_cnt"), col("p"), col("runmin"),
          col("hour").as("obs_hour"),
          explode(sequence(lit(0L),
            coalesce(col("nxt") - col("hour") - 1L, lit(0L)))).as("j"))
        .select(col("user_id"), (col("obs_hour") + col("j")).as("hour"),
          when(col("j") === 0L, col("obs_cnt")).otherwise(lit(0L)).as("cnt"),
          (col("p") - col("j")).as("pj"),
          least(col("runmin"), col("p") - col("j")).as("rmj"))
        .select(col("user_id"), col("hour"), col("cnt"),
          (col("pj") - least(lit(0L), col("rmj"))).as("cusum"))
        .select(col("user_id"), col("hour"), col("cnt"), col("cusum"),
          (col("cusum") > 3L).as("alarm"))
        .orderBy("user_id", "hour")
    },

    // BUCKETED co-located fact⋈fact join (q73): both facts land ONCE
    // as managed tables hash-bucketed and sorted by the join key
    // (Tables.writeBucketed — the §2e surface), so the repeated join
    // reads bucket-aligned files and plans SortMergeJoin with NO
    // exchange on either side: at 100 TB this converts every
    // recurring orderkey join from a corpus-wide shuffle into a
    // scan (bucket count is the parallelism floor — 32 here, sized
    // thousands in production). The build memoizes on the session
    // catalog (tableExists — min-of-N re-runs measure the warm read
    // path, the d47 convention); shuffle-freedom is PlanSpec-gated
    // with broadcast disabled so the gate can't pass vacuously.
    // FULL oracle: the plain join + the decimal-sum parity spelling.
    "q73_bucketed_join" -> q { (s, d) =>
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val lt = s"q73_lineitem_$tag"; val ot = s"q73_orders_$tag"
      // the memo is the SESSION CATALOG (bucket metadata lives there —
      // without a persistent metastore a bucketed table cannot be
      // re-mounted from files alone), so a fresh JVM rebuilds; its
      // warehouse DIRECTORY however survives the JVM, and saveAsTable
      // refuses an orphaned location — clear it before rebuilding
      def ensure(name: String)(build: => Unit): Unit =
        if (!s.catalog.tableExists(name)) {
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
          build
        }
      ensure(lt)(graft.sources.Tables.writeBucketed(table(s, d, "lineitem")
        .select("l_orderkey", "l_quantity"), lt, "l_orderkey"))
      ensure(ot)(graft.sources.Tables.writeBucketed(table(s, d, "orders")
        .select("o_orderkey", "o_orderpriority"), ot, "o_orderkey"))
      s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(d4(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy("o_orderpriority")
    },

    // copy-on-write MERGE through the manifest table (q74): the
    // sources/MergeTable lifecycle — create version 0 from orders,
    // MERGE one deterministic update batch (keys ≡ 3 mod 17 get
    // status 'U' and doubled price; keys ≡ 5 mod 31 re-key +10^9 and
    // append as 'N') — then aggregate BOTH snapshots: version 0 must
    // still answer the pre-merge state (snapshot isolation / time
    // travel) and version 1 the upserted one, certified against a
    // DuckDB oracle that states the merge RELATIONALLY (base minus
    // matched keys, union updates). The merge itself is the §2e
    // scale surface: only files holding a matched key rewrite (file
    // pruning via _metadata.file_path), untouched files carry into
    // the manifest by name, and visibility is one atomic manifest
    // rename — MergeTableSpec pins pruning, crash debris, vacuum.
    // Build memoizes on the manifest version (ScratchDirs.stable —
    // min-of-N re-runs measure the read path, the d47 convention).
    "q74_cow_merge" -> q { (s, d) =>
      import graft.sources.MergeTable
      val path = ensureMergedOrdersTable(s, d)
      def snap(v: Int) = MergeTable.read(s, path, v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(d4(col("o_totalprice"))).cast(DoubleType).as("sum_price"))
        .withColumn("version", lit(v))
      snap(0).unionByName(snap(1))
        .select("version", "o_orderstatus", "n_orders", "sum_price")
        .orderBy("version", "o_orderstatus")
    },

    // the CHANGE DATA FEED certified at the gate (q75): the row-level
    // diff MergeTable.changes derives between q74's two snapshots —
    // insert (appended keys), update pre-/post-images (matched keys;
    // a matched row always differs here: status flips to 'U', price
    // doubles), no deletes in this history — against a DuckDB oracle
    // stating the same feed relationally from the update batch
    // derivation. Shares q74's memoized table artifact (one build
    // serves the snapshot aggregate AND the feed); the diff is one
    // key-aligned full-outer join of two manifest-resolved snapshots.
    "q75_table_cdf" -> q { (s, d) =>
      val path = ensureMergedOrdersTable(s, d)
      graft.sources.MergeTable.changes(s, path, 0, 1, "o_orderkey")
        .orderBy("_change_type", "o_orderkey")
    },

    // SCHEMA EVOLUTION through the manifest table (q76): version 2 of
    // q74's table merges a WIDENED batch — the v1 rows with key ≡ 7
    // mod 23 re-merged carrying a new `o_score` column (deterministic:
    // key mod 100). The reference's schemas DO evolve (its template
    // CRUD exists to update field specs — services/index.js:31-79);
    // at the table layer that means add-column on merge: the manifest
    // DDL widens, files written BEFORE the evolution carry by name
    // and project NULL for the new column at read time (mergeSchema
    // semantics at the manifest layer — never a rewrite of the whole
    // corpus for a new column). The aggregate proves the null-fill
    // through values (n_scored counts only evolved rows) against a
    // DuckDB oracle stating v2 relationally; MergeTableSpec pins the
    // schema mechanics (old versions keep their own schema, CDF
    // across the evolution, post-evolution column requirement).
    "q76_schema_evolution" -> q { (s, d) =>
      val path = ensureEvolvedOrdersTable(s, d)
      graft.sources.MergeTable.read(s, path, 2)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          count(col("o_score")).as("n_scored"),
          sum(col("o_score")).as("sum_score"))
        .orderBy("o_orderstatus")
    },

    // INCREMENTAL VIEW MAINTENANCE off the change feed (q77) — the
    // operation the CDF exists to enable at 100 TB: a downstream
    // aggregate (orders by status) maintained from the v0 snapshot's
    // MV plus ONLY the change rows, never a recompute over the new
    // snapshot. Signed delta application is the classical IVM rule
    // (insert/postimage +1, delete/preimage −1 — a status flip
    // debits the old group and credits the new one; groups reaching
    // zero drop). The 100 TB shape CHAINS the round's manifest-aware
    // CDF: the feed reads only the files the epochs touched, so the
    // maintenance cost scales with the CHANGE volume, not the table —
    // exactly what a full recompute (the oracle's derivation) cannot
    // do. Decimal-exact: deltas apply as DECIMAL(18,4) sums, one
    // double conversion at the very end (the q74 convention). The
    // oracle recomputes the v2 aggregate directly — incremental ≡
    // recompute IS the correctness claim being certified. The
    // evolution epoch's updates (rows differing only in o_score)
    // cancel within their group, which the equality also proves.
    "q77_cdf_mv" -> q { (s, d) =>
      import graft.sources.MergeTable
      val path = ensureEvolvedOrdersTable(s, d)
      val mv0 = MergeTable.read(s, path, 0)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n0"), sum(d4(col("o_totalprice"))).as("p0"))
      val delta = MergeTable.changes(s, path, 0, 2, "o_orderkey")
        .withColumn("sgn",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("o_orderstatus")
        .agg(sum(col("sgn")).as("dn"),
          sum(when(col("sgn") === 1L, d4(col("o_totalprice")))
            .otherwise(-d4(col("o_totalprice")))).as("dp"))
      mv0.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("p0"), d4(lit(0))) + coalesce(col("dp"), d4(lit(0))))
            .cast(DoubleType).as("sum_price"))
        .filter(col("n_orders") > 0L)
        .orderBy("o_orderstatus")
    },

    // Z-ORDER read path at the driver gate (q78): the §2e clustered
    // layout (Tables.writeZOrdered — Morton-interleaved 2-D sort,
    // spec-proven narrow per file in BOTH dimensions) answering the
    // query shape it exists for — a 2-D box (orderkey × partkey
    // quartile windows, integer-div bounds so both engines agree
    // exactly) — against a DuckDB oracle over the PLAIN table: layout
    // equivalence certified at the gate, not just in spec. The box
    // bounds collect once (1-row metadata action, the
    // ensureBucketWidth convention) so the filters reach the scan as
    // LITERALS — PushedFilters + parquet min/max skipping engage, and
    // because every z-file is narrow in both dims the box touches
    // O(box volume) files, not a full stripe (the single-sort
    // failure mode). Build memoizes per generation (Materialize).
    "q78_zorder_prune" -> q { (s, d) =>
      val dir = graft.ScratchDirs.stable("q78_zorder", d) + "/lineitem_z"
      val zli = graft.sources.Materialize.ensure(s, dir) {
        graft.sources.Tables.writeZOrdered(
          table(s, d, "lineitem")
            .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"),
          dir, Seq("l_orderkey", "l_partkey"))
      }
      val r = zli.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
      val (mo, mp) = (r.getLong(0), r.getLong(1))
      zli.filter(col("l_orderkey").between(mo / 4, mo / 2) &&
          col("l_partkey").between(mp / 4, mp / 2))
        .agg(count(lit(1)).as("n_rows"),
          sum(d4(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(d4(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
    },

    // the PACKAGED IVM operator at the driver gate (q79): where q77
    // states the signed-delta rule inline, this drives
    // `IncrementalView.maintainAggs` itself — seed the MV at version
    // 0, then ADVANCE IT BY THE CHANGE FEED to the latest (the
    // toVersion bound exists exactly so the delta path, not the
    // seed, is what the gate certifies). The widened aggregate
    // surface is under test: multiple decomposable aggs per group
    // (count, sum, avg — avg derived at READ time as its
    // decimal-exact sum over n_rows; min/max are rejected by the
    // operator as non-decomposable under deletes). State sums live
    // at the promoted DECIMAL(38,4) so no maintenance step ever
    // narrows (the ANSI-overflow / silent-NULL seam); one double
    // conversion at the end, per the q74 convention. The oracle
    // recomputes the target snapshot directly — maintained ≡
    // recompute is the certified claim, through the operator's own
    // state lifecycle (versioned `_DONE` publishes) rather than a
    // one-shot query plan.
    "q79_mv_avg" -> q { (s, d) =>
      import graft.operators.IncrementalView
      val path = ensureEvolvedOrdersTable(s, d)
      val mvDir = graft.ScratchDirs.stable("q79_mv", d) + "/mv"
      val aggs = Seq("sum" -> "o_totalprice", "avg" -> "o_totalprice")
      IncrementalView.maintainAggs(s, path, mvDir, "o_orderkey",
        "o_orderstatus", aggs, toVersion = 0)
      IncrementalView.maintainAggs(s, path, mvDir, "o_orderkey",
        "o_orderstatus", aggs)
      IncrementalView.readAggs(s, mvDir, aggs)
        .select(col("o_orderstatus"), col("n_rows").as("n_orders"),
          col("sum_o_totalprice").cast(DoubleType).as("sum_price"),
          col("avg_o_totalprice").as("avg_price"))
        .orderBy("o_orderstatus")
    },

    // the ROLLUP'S OWN CHANGE FEED (q80): `maintainTable` stores the
    // maintained aggregate IN a MergeTable (watermark as a sentinel
    // row committed atomically with each epoch's group changes — a
    // torn maintain is impossible by construction, not merely
    // detectable), so the rollup inherits snapshot isolation, time
    // travel, group point lookups, and a CDF of its own. This query
    // emits that second-order feed — which ROLLUP rows moved when the
    // upstream advanced v0→v2 — the shape a downstream alert or cache
    // invalidation consumes at 100 TB instead of re-diffing the
    // rollup. Seeded at upstream v0 (MV table version 0), advanced by
    // the manifest-aware upstream feed in ONE applyBatch commit (MV
    // version 1): changed groups upsert, untouched groups' files
    // carry by name, so the MV diff below reads only moved groups.
    // Oracle states both rollups relationally and derives the same
    // insert / update pre-/post-image classification (no deletes in
    // this history — every v0 status survives).
    "q80_mv_table_cdf" -> q { (s, d) =>
      import graft.operators.IncrementalView
      import graft.sources.MergeTable
      val path = ensureEvolvedOrdersTable(s, d)
      val mvT = graft.ScratchDirs.stable("q80_mvt", d) + "/mv_table"
      val aggs = Seq("sum" -> "o_totalprice")
      IncrementalView.maintainTable(s, path, mvT, "o_orderkey",
        "o_orderstatus", aggs, toVersion = 0)
      IncrementalView.maintainTable(s, path, mvT, "o_orderkey",
        "o_orderstatus", aggs)
      MergeTable.changes(s, mvT, 0, 1, "__g_key")
        .filter(col("__g_key") =!= "W")
        .select(col("_change_type"), col("o_orderstatus"),
          col("n_rows").as("n_orders"),
          col("sum_o_totalprice").cast(DoubleType).as("sum_price"),
          col("_commit_version"))
        .orderBy("_change_type", "o_orderstatus")
    },

    // MERGE-ON-READ DELETE through the table layer (q81): COW's
    // write amplification answered with DELETION VECTORS — two
    // scattered delete epochs land as (file, key) sidecars (one
    // column-pruned candidate scan each, ZERO data files rewritten),
    // readers anti-join them per file, and purgeDeletes materializes
    // the dead rows as a dataChange=false rewrite. Three certified
    // facts in one result: the v0->v2 feed emits exactly the deleted
    // rows as deletes (both epochs, endpoint-netted), the MOR
    // snapshot (v2) answers without the dead keys, and the purged
    // snapshot (v3) answers identically — visibility is invariant
    // across the MOR->materialized transition. DuckDB states all
    // three from the delete predicate directly.
    "q81_mor_delete" -> q { (s, d) =>
      import graft.sources.MergeTable
      val path = ensureMorOrdersTable(s, d)
      def agg(df: DataFrame, part: String) = df
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(d4(col("o_totalprice"))).cast(DoubleType).as("sum_price"))
        .withColumn("part", lit(part))
      val feed = MergeTable.changes(s, path, 0, 2, "o_orderkey")
        .filter(col("_change_type") === "delete")
        .drop("_change_type", "_commit_version")
      agg(feed, "feed_deletes")
        .unionByName(agg(MergeTable.read(s, path, 2), "v_mor"))
        .unionByName(agg(MergeTable.read(s, path, 3), "v_purged"))
        .select("part", "o_orderstatus", "n", "sum_price")
        .orderBy("part", "o_orderstatus")
    },

    // nearest as-of join with tolerance (q70): the pandas
    // merge_asof(direction='nearest', tolerance=...) semantics q18's
    // backward-only join can't express — each error matches its
    // CLOSEST click within ±5 s, ties resolving backward. The plan is
    // the same union-merge as q18 run in both directions over ONE
    // user_id shuffle (backward `last` + forward `first` windows on
    // one sort) — never a range join, any click density. The oracle
    // is the brute-force range join + argmin (oracle-side cost only).
    "q70_asof_nearest" -> q { (s, d) =>
      val ev = table(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_us").agg(max(col("event_id")).as("click_id"))
      graft.operators.AsOfJoin.asOfNearest(errors, clicks, Seq("user_id"),
          "ts_us", "ts_us",
          Map("click_id" -> "click_id", "ts_us" -> "click_ts_us"),
          tolerance = 5000000L)
        .orderBy("event_id")
    },

    // per-key decile report (q69): NTILE over a KEYED window — the
    // distribution-profiling op (balance deciles per nation) that a
    // global-ntile would solve with a single-partition sort; keying
    // the window by nation keeps the sort per-group (the q7/q19
    // partitioned-window scale shape — no total order anywhere).
    // Deciles follow the SQL-standard ntile fill (larger tiles
    // first), identical in both engines given the (acctbal, custkey)
    // total tie-break; sums ride the DECIMAL(18,4) parity recipe.
    "q69_decile_report" -> q { (s, d) =>
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      table(s, d, "customer")
        .select(col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
        .withColumn("decile", ntile(10).over(w))
        .groupBy("c_nationkey", "decile")
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          sum(d4(col("c_acctbal"))).cast(DoubleType).as("sum_bal"))
        .orderBy("c_nationkey", "decile")
    }
  )

  /** The q64 interval-join kernel: count, per session, the error
    * events of OTHER users inside the session's [start_us, end_us] —
    * a range join with no equi key, done scalably: time decomposes
    * into fixed-width buckets, each session explodes to the buckets
    * it overlaps, each point event lands in exactly ONE bucket (the
    * candidate set needs no dedup), and the range predicate evaluates
    * as a residual on the bucket equi-join. Zero-match sessions
    * survive via the left join.
    *
    * The bucket width is DATA-DRIVEN: the p99 session span (a 1-row
    * approx-percentile aggregate over the tiny session table, floored
    * at one minute) — with a fixed width, long-session skew degrades
    * the explode factor unboundedly (a week-long session × 1-hour
    * buckets = 168 candidate rows); at the p99 span a typical session
    * explodes to ≤ 2 buckets and only the tail beyond p99 pays more.
    * The width only shapes CANDIDATE generation — the residual filter
    * fixes the semantics — so the result (and the brute-force oracle)
    * is width-independent, and the stats pass is one narrow scan of
    * the already-aggregated session rows, cheap next to the explode
    * it bounds (q64 memoizes it per input generation). */
  /** p99 session span, floored at one minute — [[foreignErrorCounts]]'s
    * data-driven bucket width. An empty session table makes
    * approx_percentile return NULL — fall back to the 1-minute floor
    * instead of throwing at query-construction time. */
  /** q74/q75's shared build: orders as a MergeTable (key-range stats
    * on o_orderkey) merged ONCE with the deterministic update batch —
    * memoized on the manifest version, so min-of-N re-runs and both
    * consumers measure the read path. */
  private def ensureMergedOrdersTable(s: SparkSession, d: String): String = {
    import graft.sources.MergeTable
    val path = graft.ScratchDirs.stable("q74_merge", d) + "/table"
    if (MergeTable.latestVersion(s, path) < 1) {
      val orders = table(s, d, "orders")
      if (MergeTable.latestVersion(s, path) < 0)
        MergeTable.create(orders, path, statsCol = Some("o_orderkey"))
      val ups = orders.filter(col("o_orderkey") % 17L === 3L)
        .withColumn("o_totalprice", col("o_totalprice") * 2.0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(orders.filter(col("o_orderkey") % 31L === 5L)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
          .withColumn("o_orderstatus", lit("N")))
      MergeTable.merge(s, path, ups, "o_orderkey")
    }
    path
  }

  /** q76's build step on the SAME memoized artifact: version 2 evolves
    * the schema by re-merging the v1 rows with key ≡ 7 mod 23 widened
    * with `o_score` (key mod 100 — deterministic on both engines).
    * Updates derive FROM the v1 snapshot, so every non-new column
    * round-trips unchanged and only the evolution is under test. */
  private def ensureEvolvedOrdersTable(s: SparkSession, d: String): String = {
    import graft.sources.MergeTable
    val path = ensureMergedOrdersTable(s, d)
    if (MergeTable.latestVersion(s, path) < 2) {
      val ups = MergeTable.read(s, path, 1)
        .filter(col("o_orderkey") % 23L === 7L)
        .withColumn("o_score", col("o_orderkey") % 100L)
      MergeTable.merge(s, path, ups, "o_orderkey")
    }
    path
  }

  /** q81's build: a fresh tracked orders table driven through the
    * merge-on-read delete lifecycle — two dv epochs (keys ≡ 2 mod 13,
    * then ≡ 11 mod 19; the overlap is already dead in epoch 2 and
    * contributes nothing) and a final purge. Memoized per generation
    * like the q74 artifact. */
  private def ensureMorOrdersTable(s: SparkSession, d: String): String = {
    import graft.sources.MergeTable
    val path = graft.ScratchDirs.stable("q81_mor", d) + "/table"
    if (MergeTable.latestVersion(s, path) < 3) {
      val orders = table(s, d, "orders")
      if (MergeTable.latestVersion(s, path) < 0)
        MergeTable.create(orders, path, statsCol = Some("o_orderkey"))
      if (MergeTable.latestVersion(s, path) < 1)
        MergeTable.deleteKeysMor(s, path,
          orders.filter(col("o_orderkey") % 13L === 2L).select("o_orderkey"),
          "o_orderkey")
      if (MergeTable.latestVersion(s, path) < 2)
        MergeTable.deleteKeysMor(s, path,
          orders.filter(col("o_orderkey") % 19L === 11L).select("o_orderkey"),
          "o_orderkey")
      if (MergeTable.latestVersion(s, path) < 3)
        MergeTable.purgeDeletes(s, path)
    }
    path
  }

  private[graft] def sessionBucketWidth(sess: DataFrame): Long = {
    val row = sess
      .agg(expr("approx_percentile(end_us - start_us, 0.99, 10000)"))
      .collect()(0)
    val p99 = if (row.isNullAt(0)) 0L else row.getLong(0)
    math.max(p99, 60L * 1000000L)
  }

  /** The q64 width memo on the SAME build-once artifact lifecycle every
    * other per-generation derivation rides (`Materialize.ensure` under
    * `ScratchDirs.stable`): the 1-row width table commits next to the
    * other artifacts, so any later consumer — including a second
    * SparkSession pointed at the same scratch generation — READS the
    * committed width instead of re-paying the stats pass. (This
    * replaces a per-JVM TrieMap, the one per-generation memo the
    * artifact convention didn't cover.) The width only shapes
    * candidate generation, so the memo can never affect results —
    * width-independence is what the brute-force oracle proves. */
  private[graft] def ensureBucketWidth(sess: DataFrame, d: String): Long = {
    val spark = sess.sparkSession
    import spark.implicits._
    val dir = graft.ScratchDirs.stable("q64_bucket_width", d)
    graft.sources.Materialize.ensure(spark, dir) {
      Seq(sessionBucketWidth(sess)).toDF("bucket_us")
        .repartition(1).write.mode("overwrite").parquet(dir)
    }.collect()(0).getLong(0)
  }

  private[graft] def foreignErrorCounts(sess: DataFrame, err: DataFrame,
                                        bucketUs: Option[Long] = None): DataFrame = {
    val B = bucketUs.getOrElse(sessionBucketWidth(sess))
    val sessB = sess.withColumn("bucket",
      explode(sequence(expr(s"start_us div $B"), expr(s"end_us div $B"))))
    val errB = err.withColumn("bucket", expr(s"err_us div $B"))
    val cnt = sessB.join(errB, Seq("bucket"))
      .filter(col("err_us") >= col("start_us") &&
        col("err_us") <= col("end_us") &&
        col("err_user") =!= col("user_id"))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("cnt"))
    sess.join(cnt, Seq("user_id", "sess_id"), "left")
      .select(col("user_id"), col("sess_id"), col("n_events"),
        col("start_us"), col("end_us"),
        coalesce(col("cnt"), lit(0L)).as("n_foreign_errors"))
      .orderBy("user_id", "sess_id")
  }

  /** The one SQL spelling of discounted line revenue — every oracle
    * that sums it (plain or under CASE) must share this text so the
    * decimal parity recipe can never diverge per-query. */
  private val discExpr =
    "CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"
  private val sumDisc = s"SUM($discExpr)"

  /** The q14 sessionization chain WITHOUT the final ORDER BY, so q64
    * can mount the identical session intervals as a CTE — one text,
    * the two oracles cannot drift. */
  private val sessionizeSql =
    """SELECT user_id, sess_id, COUNT(*) AS n_events,
      |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      |FROM (
      |  SELECT user_id, event_id, ts_us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM (
      |    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |      CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL THEN 1
      |           WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000 THEN 1
      |           ELSE 0 END AS new_sess
      |    FROM events) a) b
      |GROUP BY user_id, sess_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // the bloom filter is a pure plan transform — the oracle is the
    // plain join it prunes for
    "q62_bloom_join" ->
      s"""SELECT p_brand, CAST($sumDisc AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size <= 3
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q63_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
        |    OVER (PARTITION BY user_id) AS t1 FROM ev),
        |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us > t1 THEN ts_us END)
        |    OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us > t2 THEN ts_us END)
        |    OVER (PARTITION BY user_id) AS t3 FROM w2),
        |pu AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
        |  FROM w3 GROUP BY user_id)
        |SELECT COUNT(*) AS n_users, COUNT(t1) AS n_viewed,
        |  COUNT(t2) AS n_clicked, COUNT(t3) AS n_purchased,
        |  CASE WHEN COUNT(t1) > 0
        |    THEN CAST(COUNT(t2) AS DOUBLE) / CAST(COUNT(t1) AS DOUBLE)
        |    ELSE 0.0 END AS view_to_click,
        |  CASE WHEN COUNT(t2) > 0
        |    THEN CAST(COUNT(t3) AS DOUBLE) / CAST(COUNT(t2) AS DOUBLE)
        |    ELSE 0.0 END AS click_to_purchase
        |FROM pu""".stripMargin,

    // the CMS table and min-estimates re-derived from the embedded
    // portable-hash constants; exact side proves never-undercount
    "q61_heavy_hitters" -> {
      // geometry pulled from the ONE Cms definition — the oracle
      // cannot drift from the Scala sketch
      val P = graft.operators.Cms.P
      val w = graft.operators.Cms.Width
      val rows3 = graft.operators.Cms.Rows
        .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH li AS (SELECT CAST(l_suppkey AS VARCHAR) AS key FROM lineitem),
         |h AS (SELECT key, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(regexp_split_to_array(key, ''),
         |      ch -> CAST(ascii(ch) AS BIGINT))), (a, b) -> (a*31 + b) % $P) AS hv
         |  FROM li),
         |rows3(i, a, b2) AS (VALUES $rows3),
         |cells AS (SELECT r.i, ((h.hv * r.a + r.b2) % $P) % $w AS bucket
         |  FROM h CROSS JOIN rows3 r),
         |sketch AS (SELECT i, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
         |exact AS (SELECT key, COUNT(*) AS exact_cnt FROM li GROUP BY 1),
         |keys AS (SELECT DISTINCT key, hv FROM h),
         |est AS (SELECT k.key, MIN(s.cnt) AS est_cnt
         |  FROM keys k CROSS JOIN rows3 r
         |  JOIN sketch s ON s.i = r.i
         |    AND s.bucket = ((k.hv * r.a + r.b2) % $P) % $w
         |  GROUP BY k.key)
         |SELECT key, est_cnt, exact_cnt, est_cnt >= exact_cnt AS never_under
         |FROM (SELECT e.key, e.est_cnt, x.exact_cnt,
         |    ROW_NUMBER() OVER (ORDER BY e.est_cnt DESC, e.key) AS rn
         |  FROM est e JOIN exact x ON x.key = e.key) t
         |WHERE rn <= 20 ORDER BY est_cnt DESC, key""".stripMargin
    },
    "q1_pricing_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
         |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
         |  CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q3_join_revenue" ->
      s"""SELECT n_name,
         |  CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS revenue,
         |  COUNT(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q4_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin,

    "q5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 350000)
        |ORDER BY c_custkey""".stripMargin,

    "q6_filter_project" ->
      """SELECT
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.02 AND l_discount <= 0.09
        |  AND l_quantity < 24""".stripMargin,

    "q7_window_rank" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn = 1 ORDER BY l_suppkey""".stripMargin,

    "q8_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q9_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS nd_parts,
        |  COUNT(DISTINCT l_suppkey) AS nd_supps,
        |  COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // CAST ... AS BIGINT: DuckDB SUM(integer) yields HUGEINT (Decimal in
    // arrow) which hash-mismatches Spark's BIGINT even at equal values
    "q10_case_agg" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q11_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |  COUNT(*) AS n_lines,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q12_union_all" ->
      """SELECT c_custkey AS id, 'customer' AS kind, c_acctbal AS acctbal FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
        |ORDER BY kind, id""".stripMargin,

    "q13_events_tumbling" ->
      """SELECT strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q14_sessionize" ->
      s"$sessionizeSql ORDER BY user_id, sess_id",

    // sessions remounted verbatim; the range join runs brute-force
    // here (DuckDB's prerogative at oracle scale) — the Spark side's
    // bucket decomposition must produce the identical pair set
    "q64_interval_join" ->
      s"""WITH sessions AS ($sessionizeSql),
         |err AS (SELECT user_id AS err_user, epoch_us(ts) AS err_us
         |  FROM events WHERE event_type = 'error'),
         |pairs AS (SELECT s.user_id, s.sess_id, COUNT(*) AS cnt
         |  FROM sessions s JOIN err e
         |    ON e.err_us >= s.start_us AND e.err_us <= s.end_us
         |   AND e.err_user <> s.user_id
         |  GROUP BY s.user_id, s.sess_id)
         |SELECT s.user_id, s.sess_id, s.n_events, s.start_us, s.end_us,
         |  COALESCE(p.cnt, 0) AS n_foreign_errors
         |FROM sessions s LEFT JOIN pairs p USING (user_id, sess_id)
         |ORDER BY user_id, sess_id""".stripMargin,

    // the partitioned layout is a pure storage transform — the oracle
    // is the same aggregate over the flat table
    "q65_dpp_prune" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the base/delta split is a pure execution transform — the oracle
    // is the full aggregate the merged view must equal (exact decimal
    // sums merge associatively, so partition-then-merge ≡ recompute)
    "q66_mv_merge" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // integer z²-test re-derived with window sums — exact longs on
    // both sides, so the flag predicate can never fork cross-engine
    "q67_anomaly" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT user_id, hour, cnt,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_hours,
        |    SUM(cnt) OVER (PARTITION BY user_id) AS s1,
        |    SUM(cnt * cnt) OVER (PARTITION BY user_id) AS s2
        |  FROM hourly)
        |SELECT user_id, hour, cnt, n_hours,
        |  CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_cnt
        |FROM stats
        |WHERE cnt * n_hours > s1
        |  AND (cnt * n_hours - s1) * (cnt * n_hours - s1)
        |      > 4 * (n_hours * s2 - s1 * s1)
        |ORDER BY user_id, hour""".stripMargin,

    // the same lead-run derivation: each observed hourly row unnests
    // its [hour, next) run; exact decimal hourly sums carry forward and
    // cast to double only at the edge
    "q68_gapfill" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |    COUNT(*) AS obs_cnt, SUM(CAST(value AS DECIMAL(18,4))) AS val
        |  FROM events GROUP BY 1, 2),
        |runs AS (
        |  SELECT user_id, hour, obs_cnt, val,
        |    LEAD(hour) OVER (PARTITION BY user_id ORDER BY hour) AS nxt
        |  FROM hourly)
        |SELECT user_id, g.h AS hour,
        |  CAST(CASE WHEN g.h = runs.hour THEN obs_cnt ELSE 0 END AS BIGINT) AS cnt,
        |  g.h <> runs.hour AS is_gap,
        |  CAST(val AS DOUBLE) AS carried_value
        |FROM runs, unnest(generate_series(hour, COALESCE(nxt - 1, hour))) AS g(h)
        |ORDER BY user_id, hour""".stripMargin,

    "q69_decile_report" ->
      """SELECT c_nationkey, decile, COUNT(*) AS n,
        |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM (SELECT c_nationkey, c_acctbal,
        |        NTILE(10) OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal, c_custkey) AS decile
        |      FROM customer) t
        |GROUP BY c_nationkey, decile
        |ORDER BY c_nationkey, decile""".stripMargin,

    "q15_json_extract" ->
      """SELECT k % 10 AS k_mod, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM (SELECT CAST(regexp_extract(props, ':\s*([0-9]+)', 1) AS INTEGER) AS k FROM events) t
        |GROUP BY k % 10 ORDER BY k_mod""".stripMargin,

    "q16_pivot" ->
      """SELECT user_id % 10 AS cohort,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY user_id % 10 ORDER BY cohort""".stripMargin,

    "q17_nested_subquery" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT MAX(c_acctbal) FROM customer) * CAST(0.9 AS DOUBLE)
        |ORDER BY c_custkey""".stripMargin,

    "q18_asof_join" ->
      """WITH errors AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'error'),
        |clicks AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT e.user_id, e.event_id, e.ts_us,
        |  c.click_id, c.ts_us AS click_ts_us
        |FROM errors e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND c.ts_us <= e.ts_us
        |ORDER BY e.event_id""".stripMargin,

    // the same prefix-sum/running-min closed form of the max(0, ·)
    // recurrence, over the same hourly aggregation; LEAST(0, MIN(p))
    // supplies Page's virtual P_0 = 0 start
    "q71_cusum" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |pf AS (SELECT user_id, hour, cnt,
        |    SUM(cnt - 1) OVER (PARTITION BY user_id ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM hourly)
        |SELECT user_id, hour, cnt,
        |  CAST(p - LEAST(0, MIN(p) OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS cusum,
        |  (p - LEAST(0, MIN(p) OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) > 3 AS alarm
        |FROM pf ORDER BY user_id, hour""".stripMargin,

    // q71's closed form over q68's gap-filled grid: zero-event hours
    // enter the recurrence as cnt = 0, so the detector can reset
    "q72_cusum_reset" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |runs AS (
        |  SELECT user_id, hour, cnt,
        |    LEAD(hour) OVER (PARTITION BY user_id ORDER BY hour) AS nxt
        |  FROM hourly),
        |filled AS (
        |  SELECT user_id, g.h AS hour,
        |    CAST(CASE WHEN g.h = runs.hour THEN cnt ELSE 0 END AS BIGINT) AS cnt
        |  FROM runs, unnest(generate_series(hour, COALESCE(nxt - 1, hour))) AS g(h)),
        |pf AS (SELECT user_id, hour, cnt,
        |    SUM(cnt - 1) OVER (PARTITION BY user_id ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM filled)
        |SELECT user_id, hour, cnt,
        |  CAST(p - LEAST(0, MIN(p) OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS cusum,
        |  (p - LEAST(0, MIN(p) OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) > 3 AS alarm
        |FROM pf ORDER BY user_id, hour""".stripMargin,

    // the bucketed layout cannot change the answer — the oracle is the
    // plain join over the source tables
    "q73_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the merge stated relationally: base minus matched keys, union
    // the update batch; version 0 is the plain base
    "q74_cow_merge" ->
      """WITH ups AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice * 2.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 31 = 5),
        |v1 AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
        |  UNION ALL SELECT * FROM ups)
        |SELECT 0 AS version, o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 1, o_orderstatus, COUNT(*),
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |FROM v1 GROUP BY 2
        |ORDER BY version, o_orderstatus""".stripMargin,

    // all three parts stated from the delete predicate: the feed's
    // deletes are the dead rows, both snapshots are the live rows
    "q81_mor_delete" ->
      """WITH dead AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey % 13 = 2 OR o_orderkey % 19 = 11),
        |live AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_orderkey % 13 = 2 OR o_orderkey % 19 = 11))
        |SELECT 'feed_deletes' AS part, o_orderstatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM dead GROUP BY 2
        |UNION ALL
        |SELECT 'v_mor', o_orderstatus, COUNT(*),
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |FROM live GROUP BY 2
        |UNION ALL
        |SELECT 'v_purged', o_orderstatus, COUNT(*),
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |FROM live GROUP BY 2
        |ORDER BY part, o_orderstatus""".stripMargin,

    // the same update-batch derivation, emitted as the change feed
    "q75_table_cdf" ->
      """WITH ups AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice * 2.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 31 = 5)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority, 'insert' AS _change_type,
        |  1 AS _commit_version
        |FROM ups WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT u.o_orderkey, u.o_custkey, u.o_orderstatus, u.o_totalprice,
        |  u.o_orderdate, u.o_orderpriority, 'update_postimage', 1
        |FROM ups u WHERE u.o_orderkey IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority, 'update_preimage', 1
        |FROM orders WHERE o_orderkey % 17 = 3
        |ORDER BY _change_type, o_orderkey""".stripMargin,

    // v2 stated relationally: v1 (the q74 derivation) widened with the
    // evolved column — NULL except where the evolution batch matched
    "q76_schema_evolution" ->
      """WITH ups AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice * 2.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 31 = 5),
        |v1 AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
        |  UNION ALL SELECT * FROM ups),
        |v2 AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 23 = 7 THEN o_orderkey % 100 END AS o_score
        |  FROM v1)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(o_score) AS n_scored,
        |  CAST(SUM(o_score) AS BIGINT) AS sum_score
        |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the DIRECT v2 aggregate — equality with the Spark side's
    // incrementally maintained MV is the IVM correctness claim
    // (v2's (status, price) multiset equals v1's: the evolution
    // epoch only adds a column)
    "q77_cdf_mv" ->
      """WITH ups AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice * 2.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 31 = 5),
        |v1 AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
        |  UNION ALL SELECT * FROM ups)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin,

    // both rollups stated relationally; the feed classification is
    // the same full-row diff the MV-table CDF derives (statuses only
    // in the target are inserts, none vanish, the rest compare)
    "q80_mv_table_cdf" ->
      """WITH ups AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice * 2.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 31 = 5),
        |v1 AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
        |  UNION ALL SELECT * FROM ups),
        |a0 AS (SELECT o_orderstatus, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s
        |  FROM orders GROUP BY 1),
        |a2 AS (SELECT o_orderstatus, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s
        |  FROM v1 GROUP BY 1)
        |SELECT 'insert' AS _change_type, o_orderstatus, n AS n_orders,
        |  s AS sum_price, 1 AS _commit_version
        |FROM a2 WHERE o_orderstatus NOT IN (SELECT o_orderstatus FROM a0)
        |UNION ALL
        |SELECT 'delete', o_orderstatus, n, s, 1
        |FROM a0 WHERE o_orderstatus NOT IN (SELECT o_orderstatus FROM a2)
        |UNION ALL
        |SELECT 'update_preimage', a0.o_orderstatus, a0.n, a0.s, 1
        |FROM a0 JOIN a2 USING (o_orderstatus)
        |WHERE a0.n <> a2.n OR a0.s <> a2.s
        |UNION ALL
        |SELECT 'update_postimage', a2.o_orderstatus, a2.n, a2.s, 1
        |FROM a0 JOIN a2 USING (o_orderstatus)
        |WHERE a0.n <> a2.n OR a0.s <> a2.s
        |ORDER BY _change_type, o_orderstatus""".stripMargin,

    // the direct target-snapshot aggregate with avg — equality with
    // the OPERATOR-maintained MV (seeded at v0, advanced by the feed)
    // is the IVM claim for the widened aggregate surface; the avg
    // divides the decimal-exact sum (as double) by the count on both
    // engines so the IEEE division matches bit for bit
    "q79_mv_avg" ->
      """WITH ups AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice * 2.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 31 = 5),
        |v1 AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
        |  UNION ALL SELECT * FROM ups)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same 2-D box over the PLAIN table — equality certifies the
    // z-ordered layout is a pure rearrangement on its read path
    "q78_zorder_prune" ->
      """WITH b AS (
        |  SELECT MAX(l_orderkey) AS mo, MAX(l_partkey) AS mp FROM lineitem)
        |SELECT COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem, b
        |WHERE l_orderkey BETWEEN mo // 4 AND mo // 2
        |  AND l_partkey BETWEEN mp // 4 AND mp // 2""".stripMargin,

    // brute-force nearest pick: every in-tolerance candidate ranked by
    // (distance, forward-flag) — backward wins ties, matching the
    // merge plan's side ordering; (user, ts)-deduped clicks make the
    // rank total
    "q70_asof_nearest" ->
      """WITH errors AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'error'),
        |clicks AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |cand AS (
        |  SELECT e.event_id, c.click_id, c.ts_us AS click_ts_us,
        |    abs(e.ts_us - c.ts_us) AS dist,
        |    CASE WHEN c.ts_us <= e.ts_us THEN 0 ELSE 1 END AS fwd
        |  FROM errors e JOIN clicks c ON c.user_id = e.user_id
        |  WHERE abs(e.ts_us - c.ts_us) <= 5000000),
        |pick AS (SELECT event_id, click_id, click_ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY dist, fwd) AS rn
        |  FROM cand)
        |SELECT e.user_id, e.event_id, e.ts_us, p.click_id, p.click_ts_us
        |FROM errors e LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p
        |  ON p.event_id = e.event_id
        |ORDER BY e.event_id""".stripMargin,

    "q19_window_suite" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  RANK() OVER w AS rnk,
        |  DENSE_RANK() OVER w AS drnk,
        |  LAG(l_quantity, 1) OVER w AS prev_qty,
        |  LEAD(l_quantity, 1) OVER w AS next_qty,
        |  NTILE(4) OVER w AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cdist
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)
        |ORDER BY l_suppkey, rnk, l_orderkey, l_linenumber, quartile,
        |  prev_qty NULLS FIRST, next_qty NULLS FIRST""".stripMargin,

    "q20_stats_formula" ->
      """SELECT l_returnflag, n,
        |  s1 / CAST(n AS DOUBLE) AS mean_qty,
        |  (s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var_qty
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s1,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin,

    "q21_setops" ->
      """SELECT nationkey, 'both' AS src FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS src FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY src, nationkey""".stripMargin,

    "q22_argminmax" ->
      """SELECT c_nationkey,
        |  arg_max(c_name, c_custkey) AS latest_cust,
        |  arg_min(c_name, c_custkey) AS first_cust,
        |  COUNT(*) AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q23_string_fns" ->
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  lpad(p_brand, 12, '*') AS padded,
        |  translate(p_type, 'AEO', 'aeo') AS xlated,
        |  replace(p_name, ' ', '_') AS snake,
        |  reverse(p_name) AS rev,
        |  CAST(strpos(p_name, 'widget') AS BIGINT) AS pos,
        |  repeat(p_brand, 2) AS twice
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q24_date_fns" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
        |  CAST(last_day(o_orderdate) AS DATE) AS eom
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q25_null_fns" ->
      """SELECT o_orderkey,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_c,
        |  GREATEST(o_totalprice, CAST(100000.0 AS DOUBLE)) AS floor_price,
        |  LEAST(o_totalprice, CAST(400000.0 AS DOUBLE)) AS cap_price,
        |  CASE WHEN o_totalprice IS NULL THEN 0.0 ELSE o_totalprice END AS nz_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q26_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS qty_p25,
        |  quantile_cont(l_quantity, 0.5) AS qty_p50,
        |  quantile_cont(l_quantity, 0.75) AS qty_p75,
        |  quantile_cont(l_extendedprice, 0.5) AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q30_from_json" ->
      """SELECT k % 7 AS k_mod, COUNT(*) AS n, MAX(k) AS max_k
        |FROM (SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events) t
        |GROUP BY k % 7 ORDER BY k_mod""".stripMargin,

    "q34_above_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders JOIN (
        |  SELECT o_custkey AS mk,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS mean_price
        |  FROM orders GROUP BY o_custkey) m ON o_custkey = mk
        |WHERE o_totalprice > mean_price
        |ORDER BY o_orderkey""".stripMargin,

    "q33_star_join" ->
      s"""SELECT r_name, n_name,
         |  CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name IN ('ASIA', 'EUROPE')
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,

    "q32_hopping" ->
      """SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |           - k.k * INTERVAL '30 minutes' AS w_start, value
        |  FROM events CROSS JOIN (VALUES (0), (1)) k(k)) t
        |GROUP BY 1 ORDER BY w_start""".stripMargin,

    "q31_collect" ->
      """SELECT s_nationkey,
        |  array_to_string(list_sort(list(s_name)), '|') AS names,
        |  array_to_string(list_transform(list_sort(list(DISTINCT s_suppkey)),
        |    x -> CAST(x AS VARCHAR)), '|') AS keys,
        |  COUNT(*) AS n
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q28_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
        |ORDER BY o_custkey""".stripMargin,

    "q29_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pr,
        |  COUNT(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g_st, g_pr, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q39_ship_priority" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority,
         |  CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
         |GROUP BY l_orderkey, o_date, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q38_skew_salted" ->
      s"""SELECT p_brand,
         |  CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q35_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pr,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS spend
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
        |ORDER BY g_st, g_pr, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q36_range_window" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS spend_30d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q37_frame_navigation" ->
      """SELECT o_orderkey, o_custkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_ok,
        |  LAST_VALUE(o_orderkey) OVER w AS last_ok,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,

    "q41_missed_opportunity" ->
      """SELECT c_nationkey % 7 AS cgrp, COUNT(*) AS numcust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |           / CAST(COUNT(*) AS DOUBLE)
        |    FROM customer WHERE c_acctbal > 0)
        |  AND c_custkey NOT IN (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY cgrp ORDER BY cgrp""".stripMargin,

    "q47_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q46_disjunctive_join" ->
      s"""SELECT CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q45_promo_share" ->
      s"""SELECT 100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
         |    THEN $discExpr END)
         |    AS VARCHAR) AS DOUBLE)
         |  / CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS promo_revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'""".stripMargin,

    "q44_nation_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(CAST(l_shipdate AS DATE)) AS INTEGER) AS l_year,
         |  CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND l_shipdate <= TIMESTAMP '1996-12-31 00:00:00'
         |  AND ((n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_8')
         |    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_5'))
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q42_supplier_wait" ->
      """WITH l1all AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90 AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, COUNT(*) AS numwait
        |FROM l1all l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE l1.late
        |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        |  AND EXISTS (SELECT 1 FROM l1all l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l1all l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "q43_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_date, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q40_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN
        |    (SELECT o_custkey, o_orderkey FROM orders
        |     WHERE o_orderpriority <> '3-MEDIUM') o
        |    ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // like q27: the oracle asserts Spark's computed in-band boolean
    // against a literal 1 — the sketch value never crosses engines
    "q48_approx_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  CAST(1 AS INTEGER) AS within_band
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q49_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |minc AS (SELECT l_partkey AS mpk, MIN(cost) AS min_cost
        |  FROM ps GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, p_size, cost
        |FROM ps
        |JOIN minc ON l_partkey = mpk AND cost = min_cost
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'STANDARD' AND p_size < 10
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,

    "q50_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS value
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey % 3 = 0
        |  GROUP BY 1),
        |t AS (SELECT CAST(CAST(SUM(value) AS VARCHAR) AS DOUBLE) AS total,
        |    CAST(COUNT(*) AS DOUBLE) AS nparts FROM v)
        |SELECT l_partkey, CAST(CAST(value AS VARCHAR) AS DOUBLE) AS value
        |FROM v CROSS JOIN t
        |WHERE CAST(CAST(value AS VARCHAR) AS DOUBLE) * nparts > 1.25 * total
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q51_small_qty_revenue" ->
      """SELECT
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN (SELECT l_partkey AS apk,
        |        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
        |          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |      FROM lineitem GROUP BY 1) a ON apk = l_partkey
        |WHERE p_brand = 'Brand#13' AND l_quantity < 0.2 * avg_qty""".stripMargin,

    "q52_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, $sumDisc AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, s_acctbal,
         |  CAST(CAST(total_rev AS VARCHAR) AS DOUBLE) AS total_rev
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q55_market_share" ->
      s"""SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year,
         |  CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
         |      THEN $discExpr END) AS VARCHAR) AS DOUBLE)
         |    / CAST(CAST($sumDisc AS VARCHAR) AS DOUBLE) AS mkt_share,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE r_name = 'ASIA' AND p_type = 'PROMO'
         |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
         |    AND TIMESTAMP '1996-12-31 00:00:00'
         |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q58_shipmode_priority" ->
      """SELECT CASE l_suppkey % 3 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
        |    ELSE 'AIR' END AS shipmode,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY shipmode ORDER BY shipmode""".stripMargin,

    "q59_priority_backlog" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q60_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "q57_retention" ->
      """WITH a AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |n AS (SELECT day - 1 AS day, user_id, 1 AS ret FROM a)
        |SELECT a.day AS day, COUNT(*) AS n_active,
        |  CAST(SUM(COALESCE(n.ret, 0)) AS BIGINT) AS n_retained,
        |  CAST(SUM(COALESCE(n.ret, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS retention
        |FROM a LEFT JOIN n ON a.day = n.day AND a.user_id = n.user_id
        |GROUP BY a.day ORDER BY a.day""".stripMargin,

    "q56_profit" ->
      s"""SELECT n_name AS nation,
         |  CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year,
         |  CAST(CAST(SUM($discExpr
         |    - CAST(p_retailprice * l_quantity * 0.1 AS DECIMAL(18,4)))
         |    AS VARCHAR) AS DOUBLE) AS profit,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%gizmo%'
         |GROUP BY n_name, o_year ORDER BY n_name, o_year""".stripMargin,

    "q54_excess_suppliers" ->
      """WITH pairs AS (
        |  SELECT l_partkey, l_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty_all,
        |    SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1996
        |      THEN CAST(l_quantity AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS qty_96
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_nationkey % 2 = 0
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM pairs
        |    WHERE qty_96 * 2 > qty_all
        |      AND l_partkey IN (
        |        SELECT p_partkey FROM part WHERE p_name LIKE 'small%'))
        |ORDER BY s_suppkey""".stripMargin,

    "q53_parts_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // the oracle asserts the HLL estimate lands within 5% of exact by
    // matching Spark's computed boolean against a literal 1 — the sketch
    // value itself never crosses engines
    "q27_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(*) AS n_lines,
        |  CAST(1 AS INTEGER) AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
