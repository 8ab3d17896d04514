package graft

import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gate: the properties that make these queries scale are
  * asserted mechanically so a refactor can't silently regress them.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTest._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(FormattedMode)

  /** Every exchange of a query's FINAL executed plan: the query runs,
    * so AQE has settled its stages, and the walk descends into query
    * stages, reused exchanges and subqueries. */
  private def finalExchanges(name: String): Seq[Exchange] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    def walk(p: SparkPlan): Seq[Exchange] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case e: Exchange => e +: walk(e.child)
      case o => (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Whether a type carries binary data at any nesting depth. */
  private def hasBinary(t: DataType): Boolean = t match {
    case BinaryType => true
    case a: ArrayType => hasBinary(a.elementType)
    case m: MapType => hasBinary(m.keyType) || hasBinary(m.valueType)
    case st: StructType => st.fields.exists(f => hasBinary(f.dataType))
    case _ => false
  }

  /** The binary attributes in the child output of each exchange of a
    * query's final plan — the payload columns that cross a shuffle. */
  private def binaryAcrossShuffles(name: String): Seq[String] = {
    val exchanges = finalExchanges(name)
    assert(exchanges.nonEmpty, s"$name: expected the spread + stats exchanges")
    exchanges.flatMap(_.child.output.filter(a => hasBinary(a.dataType)).map(_.toString))
  }

  test("q6: filters and projection reach the parquet scan") {
    val p = plan("q6_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "range filter not pushed to scan")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      "scan reads more columns than the query needs")
  }

  test("q3: dimension joins broadcast, no sort-merge for nation") {
    val p = plan("q3_join_revenue")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("e1: rank<=k is planned as WindowGroupLimit (partial top-k per task)") {
    val p = plan("e1_cosine_topk")
    assert(p.contains("WindowGroupLimit"), "top-k not pushed below the shuffle")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side should broadcast")
  }

  test("d5: candidate pairing is an equi-join, never a cartesian product") {
    val p = plan("d5_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), "jaccard must not cross-join the corpus")
  }

  test("d6: LSH banding plan contains no cartesian product") {
    val p = plan("d6_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
  }

  test("q1: aggregation is two-phase (partial before the exchange)") {
    val p = plan("q1_pricing_agg")
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
  }

  test("e4: near-dup candidates come from the LSH bucket key, not a label block") {
    val p = plan("e4_cosine_neardup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("label"), "e4 must not self-join on the label column")
    assert(p.contains("bucket"), "expected the (tbl, bucket) equi-join")
  }

  test("d16: contamination is a fingerprint equi-join, no text comparison") {
    val p = plan("d16_contamination")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("fingerprint"), "expected the fingerprint join key")
  }

  test("d7b: the banded self-join shuffles on the band key (single SimHash pass)") {
    val p = plan("d7b_simhash_bands")
    assert(!p.contains("CartesianProduct"))
    // both sides repartition on (band, chunk) at the explicit
    // data-aware count (a keyless REPARTITION_BY_COL lets AQE coalesce
    // the tiny band table to one task): canonically identical
    // exchanges that AQE's stage reuse executes ONCE at runtime
    assert(p.contains("REPARTITION_BY_NUM"),
      "expected the explicit band-key repartition enabling exchange reuse")
  }

  test("e13: semdedup candidates come from the cell equi-join, key-only rows") {
    val p = plan("e13_semdedup")
    assert(!p.contains("CartesianProduct"), "semdedup must not cross-join the corpus")
    // both self-join sides repartition on cell: canonically identical
    // exchanges that AQE stage reuse executes once
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit cell repartition enabling exchange reuse")
    // embeddings join back by id for the verify pass only — the cell
    // self-join must carry (vec_id, cell), never the vector payload
    val cellJoinSide = p.linesIterator.filter(_.contains("REPARTITION_BY_COL")).mkString
    assert(!cellJoinSide.contains("embedding"),
      "the candidate self-join must not shuffle embedding payloads")
  }

  test("d34: the incremental screen shuffles fingerprints, never text") {
    // the screen plan (no write executed): both the vs-index and
    // within-delta screens must move 16-byte (id, hash) rows only
    val dir = java.nio.file.Files.createTempDirectory("graft_d34_gate").toString
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    graft.operators.Dedup.writeSimhashIndex(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      s"$dir/idx")
    val p = graft.operators.Dedup.screenDelta(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
        s"$dir/idx", ingestId = 1)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "raw text must never cross a shuffle")
  }

  test("q60: the profiler reads the table once (one scan, one Expand pass)") {
    val p = plan("q60_profile")
    assert(p.contains("Expand"),
      "multiple exact DISTINCTs should plan through one Expand pass")
    // count node-detail headers: FormattedMode prints each scan twice
    // (tree summary + "(N) Scan parquet" detail)
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1, s"profiler must scan the table once, found $scans scans")
  }

  test("d35: decontamination joins ship gram hashes, text never shuffles") {
    val p = plan("d35_decontaminate")
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "raw text must not cross a shuffle")
    assert(exchanges.contains("gram"), "expected the gram-key equi-join exchange")
  }

  test("q39: both date filters are pushed to their parquet scans") {
    val p = plan("q39_ship_priority")
    assert(p.contains("GreaterThan(l_shipdate"),
      "lineitem shipdate filter not pushed to the lineitem scan")
    assert(p.contains("LessThan(o_orderdate"),
      "orders orderdate filter not pushed to the orders scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q38: salted join is a keyed hash join on (key, salt), no cartesian") {
    val p = plan("q38_skew_salted")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashJoin"), "expected a hash join on the salted key")
    // the salt column must be part of the join key, not a post-filter
    assert("Left keys \\[2\\]".r.findFirstIn(p).isDefined &&
      p.contains("__salt"),
      "expected a two-column join key including __salt")
  }

  test("t24_blob_fefd: one Generate, decode never key-shuffles") {
    val p = plan("t24_blob_fefd")
    // the packed-record explosion is a single Generate. Allowed
    // exchanges: the round-robin RAW distribution (the topic-shaped
    // input — reference RAW is a partitioned Kafka topic) and the range
    // partitioning for the deterministic final ORDER BY (an oracle
    // requirement). The decode itself must stay a pure per-row
    // expansion: no hash exchange anywhere.
    val generates = "\\(\\d+\\) Generate".r.findAllIn(p).size
    assert(generates == 1, s"expected exactly one Generate, found $generates")
    assert(!p.contains("hashpartitioning"),
      "FE/FD decode must not key-shuffle — it is a pure per-row expansion")
    // the decode must be the fused native expression, not the composed
    // regex chain (which Pattern.compiles per row — SURVEY §6d)
    assert(p.contains("mv_decode"), "expected the native mv_decode")
    assert(!p.contains("\\Q"),
      "no Pattern.quote regex split may remain on the blob path")
  }

  test("q42: one shared late-line exchange feeds both consumers, no cartesian") {
    val p = plan("q42_supplier_wait")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the per-order aggregate and the late-line probe both sit on the
    // explicit l_orderkey repartition: canonically identical exchanges
    // that AQE stage reuse executes ONCE (the minhashNearDups pattern)
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit l_orderkey repartition enabling exchange reuse")
    assert(p.contains("BroadcastHashJoin"), "nation dim should broadcast")
    // the per-order stats are a two-level aggregate on subsets of the
    // repartition key — a double countDistinct would reintroduce an
    // Expand (2x the rows through the aggregation)
    assert(!p.contains("Expand"), "q42 must not plan an Expand")
  }

  test("q43: lineitem pre-aggregates to qualifying orderkeys before the wide join") {
    val p = plan("q43_large_orders")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "qualifying orders should semi-join")
    assert(p.contains("partial_sum"), "the HAVING aggregate must be two-phase")
  }

  test("d18: only block hashes shuffle — the text column never reaches an exchange") {
    val p = plan("d18_passage_dedup")
    assert(!p.contains("CartesianProduct"))
    // the window keeper-pick shuffles on the md5 block hash; the doc
    // text must be consumed by the scan-side Generate, not shuffled
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(exchanges.contains("bh"), "expected the block-hash exchange")
    assert(!exchanges.contains("text"), "raw text must not cross a shuffle")
  }

  test("e8: knn-graph candidates come from the bucket equi-join with top-k pushdown") {
    val p = plan("e8_knn_graph")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("bucket"), "expected the (tbl, bucket) band equi-join")
    assert(p.contains("WindowGroupLimit"), "per-node top-k not pushed below the shuffle")
  }

  test("e15: IVF-SQ8 candidates come from the cell equi-join, top-k pushes down") {
    val p = plan("e15_ivf_sq8")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "probe side should broadcast")
    assert(p.contains("WindowGroupLimit"), "top-k not pushed below the shuffle")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the bucketed IVF-SQ8 path must stay an equi-join — no brute-force NLJ")
  }

  test("e17: the rerank cascade stays equi-join, both top-k stages push down") {
    val p = plan("e17_ann_rerank")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay the SQ8 cell equi-join")
    // two WindowGroupLimit stages: top-c candidates, then top-k rerank
    val wgl = "WindowGroupLimit".r.findAllIn(p).length
    assert(wgl >= 2, s"both cascade stages should plan partial top-k, found $wgl")
  }

  test("e9: IVF+PQ scan carries codes, probes broadcast, top-k pushes down") {
    val p = plan("e9_ivf_pq")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "probe side should broadcast")
    assert(p.contains("WindowGroupLimit"), "top-k not pushed below the shuffle")
    assert(p.contains("pq_encode"), "scan side must carry PQ codes")
    // e7's brute-force ADC demonstrator scores ALL candidates via a
    // broadcast nested-loop join — acceptable there by design, fatal
    // here: e9 is the scale path and its candidate set must come from
    // the IVF cell equi-join only. Gate so a refactor can't silently
    // swap the demonstrator shape in.
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the bucketed IVF+PQ path must stay an equi-join — no brute-force NLJ")
  }

  test("q26: quartiles buffer the per-group list once (array-form percentile)") {
    val p = plan("q26_percentiles")
    // one two-phase percentile aggregate: partial + final
    assert("\\(\\d+\\) ObjectHashAggregate".r.findAllIn(p).size == 2,
      "expected exactly one two-phase percentile aggregate")
    // exactly two aggregate functions per phase: the ONE array-form
    // quartile call + the median — a regression to three scalar
    // quartile aggregates (three independent buffered lists) would
    // print Functions [4]
    val fnLines = p.linesIterator.filter(_.trim.startsWith("Functions")).toSeq
    assert(fnLines.nonEmpty && fnLines.forall(_.contains("Functions [2]")),
      s"expected 2 aggregate functions (array quartiles + median):\n${fnLines.mkString("\n")}")
    assert(fnLines.forall(_.contains("[0.25,0.5,0.75]")),
      "quartiles must be the single array-form percentile call")
  }

  test("d28: packing rides ONE shard exchange; offsets are a partitioned window") {
    val p = plan("d28_sequence_pack")
    // a single un-partitioned running sum would serialize the corpus
    // through one task — the window MUST partition by shard, and the
    // whole packing assignment costs exactly one hash exchange (the
    // final deterministic ORDER BY adds a range exchange, not hash)
    assert(p.linesIterator.count(_.contains("hashpartitioning")) == 1,
      "packing must cost exactly one hash exchange (the shard window)")
    assert(p.contains("Window"), "running token offset must be a window sum")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must read only doc_id + text")
  }

  test("d29: query-term filter precedes the explode; df and stats broadcast") {
    val p = plan("d29_bm25")
    // only tokens matching the query's terms may reach the tf shuffle —
    // the per-row array filter must sit INSIDE the Generate's input, so
    // the corpus-wide vocabulary never explodes
    assert(p.contains("explode(filter("),
      "explode must consume the term-filtered array, not the full token array")
    assert(p.contains("BroadcastHashJoin"), "3-row df table must broadcast")
    assert(!p.contains("SortMergeJoin"), "no shuffle join against tiny stats")
    assert(!p.contains("CartesianProduct"))
  }

  test("q44: both nation roles broadcast and the date filter reaches the scan") {
    val p = plan("q44_nation_volume")
    assert(!p.contains("CartesianProduct"))
    // FormattedMode prints every node twice (tree + detail header), so
    // count detail headers only — the file's node-counting idiom — and
    // pin BOTH nation roles via their distinct join keys
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both nation roles should broadcast")
    assert(p.contains("snk") && p.contains("cnk"),
      "expected both nation-role join keys in the plan")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate range filter not pushed to the lineitem scan")
  }

  test("q46: disjunctive predicate partially pushes to the scans as Or filters") {
    val p = plan("q46_disjunctive_join")
    assert(!p.contains("CartesianProduct"))
    val scanLines = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    // Catalyst's CNF extraction pushes the per-table disjunction of
    // each branch's single-table conjuncts (brand/size to part,
    // quantity to lineitem) — the cross-table residue evaluates
    // post-join. A regression to no pushdown would ship every row.
    assert(scanLines.exists(_.contains("Or(")),
      s"expected an Or(...) pushed filter on at least one scan:\n${scanLines.mkString("\n")}")
  }

  test("q49: the argmin chain rides one explicit partkey repartition, no cartesian") {
    val p = plan("q49_min_cost_supplier")
    assert(!p.contains("CartesianProduct"))
    // both aggregation levels AND the join-back cluster on subsets of
    // l_partkey — the explicit repartition is the only fact exchange
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit l_partkey repartition enabling exchange reuse")
    assert(p.contains("BroadcastHashJoin"), "nation dim should broadcast")
  }

  test("q50/q52: the 1-row global re-aggregate broadcasts back, facts never cross-join") {
    Seq("q50_important_stock", "q52_top_supplier").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: the 1-row side must broadcast, not cartesian")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$name: expected the broadcast join for the global aggregate")
      assert(p.contains("partial_sum"), s"$name: aggregation must be two-phase")
    }
  }

  test("q51: brand parts semi-reduce lineitem before the shared-exchange gate join") {
    val p = plan("q51_small_qty_revenue")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "the brand part-set should semi-join first")
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit l_partkey repartition shared by avg and gate")
  }

  test("q53: blacklist anti-joins broadcast; distinct relationship aggregates two-phase") {
    val p = plan("q53_parts_supplier_cnt")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftAnti"), "expected the blacklist anti-join")
    assert(p.contains("BroadcastHashJoin"), "the blacklist should broadcast")
  }

  test("q54: eligibility flows through semi-joins — no fact row ever widens") {
    val p = plan("q54_excess_suppliers")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "pairs and suppliers must semi-join, not inner-join")
    assert(p.contains("partial_sum"), "the pair aggregate must be two-phase")
  }

  test("e10: MIPS top-k keeps WindowGroupLimit; the re-rank adds no exchange") {
    val p = plan("e10_mips_topk")
    assert(p.contains("WindowGroupLimit"), "ip top-k not pushed below the shuffle")
    // both windows partition on q_id: ONE q_id hash exchange total (the
    // other exchanges are the 1-row max-norm aggregate's SinglePartition
    // and the final ORDER BY's range partitioning)
    val qidExchanges = p.linesIterator
      .filter(_.contains("hashpartitioning(q_id")).toSeq
    assert(qidExchanges.size == 1,
      s"the agreement re-rank must reuse the ip window's q_id exchange:\n$qidExchanges")
  }

  test("q58/q59: the Q12 date window pushes; the Q4 EXISTS stays a semi-join") {
    val p58 = plan("q58_shipmode_priority")
    assert(!p58.contains("CartesianProduct"))
    assert(p58.contains("GreaterThanOrEqual(l_shipdate"),
      "Q12's ship-date window not pushed to the lineitem scan")
    val p59 = plan("q59_priority_backlog")
    assert(p59.contains("LeftSemi"),
      "the EXISTS must plan as a semi-join (an inner join would duplicate orders)")
    assert(p59.contains("GreaterThanOrEqual(o_orderdate"),
      "Q4's order-date window not pushed to the orders scan")
  }

  test("q57: retention self-join rides the one explicit user_id repartition") {
    val p = plan("q57_retention")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit user_id repartition shared by distinct and both join sides")
    // the distinct, the join probe and the shifted twin all cluster on
    // user_id: every user_id exchange must be the canonical explicit
    // repartition (AQE stage reuse executes it once) — an
    // ENSURE_REQUIREMENTS exchange would be a real re-shuffle
    val userExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("user_id")).toSeq
    assert(userExchanges.nonEmpty &&
      userExchanges.forall(_.contains("REPARTITION_BY_COL")),
      s"retention must not re-shuffle on user_id:\n${userExchanges.mkString("\n")}")
  }

  test("q56: profit joins broadcast the nation dim; name filter stays on the part scan") {
    val p = plan("q56_profit")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "nation dim should broadcast")
    assert(p.contains("StringContains(p_name,gizmo)"),
      "name filter not pushed to the part scan")
    assert(p.contains("partial_sum"), "profit aggregation must be two-phase")
  }

  test("e12: the recall join is keyed — no cartesian between exact and approx") {
    val p = plan("e12_recall_report")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"), "both top-k chains keep partial top-k")
  }

  test("q55: both nation roles broadcast; membership filters stay semi-joins") {
    val p = plan("q55_market_share")
    assert(!p.contains("CartesianProduct"))
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both nation roles should broadcast")
    assert(p.contains("LeftSemi"), "part-type and region membership must semi-join")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "date window not pushed to the orders scan")
  }

  test("d26: containment candidates come from the fingerprint join — text never shuffles") {
    val p = plan("d26_containment")
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(exchanges.contains("fingerprint"), "expected the fingerprint exchange")
    assert(!exchanges.contains("text"), "raw text must not cross a shuffle")
  }

  test("m6: video frame near-dup is the banded hamming join — planes never shuffle") {
    val p = plan("m6_video_frame_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("REPARTITION_BY_NUM"),
      "expected the band-key repartition enabling exchange reuse")
    val exchanges = p.linesIterator.filter(_.contains("partitioning")).mkString
    assert(!exchanges.contains("payload") && !exchanges.contains("_2"),
      "video payloads must not cross a shuffle — only (fid, dhash, band, chunk)")
  }

  test("m5: image near-dup is the banded hamming join — pixels never shuffle") {
    val p = plan("m5_image_phash")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("REPARTITION_BY_NUM"),
      "expected the band-key repartition enabling exchange reuse")
    val exchanges = p.linesIterator.filter(_.contains("partitioning")).mkString
    assert(!exchanges.contains("payload") && !exchanges.contains("_2"),
      "image payloads must not cross a shuffle — only (id, dhash, band, chunk)")
  }

  test("d23: boilerplate cleaning is a narrow map — no key shuffle anywhere") {
    val p = plan("d23_boilerplate_clean")
    assert(!p.contains("hashpartitioning"),
      "line cleaning must stay a pure per-row map (sort-only exchanges)")
  }

  test("d24: frequency agg and join probe share one explicit bigram repartition") {
    val p = plan("d24_bigram_lm")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit bigram repartition enabling exchange reuse")
  }

  test("e28: indexed graph search reads the edge table — no LSH rebuild in-plan") {
    val p = plan("e28_graph_indexed")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("edges"), "search must read the persisted edge table")
    assert(!p.contains("bucket"),
      "the LSH banding chain must not appear — the graph build is paid once, not per query")
    assert(p.contains("BroadcastHashJoin"),
      "beam frontiers must broadcast every round")
  }

  test("e29: indexed PQ reads codes only — no corpus embedding scan in-plan") {
    val p = plan("e29_pq_indexed")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("codes"), "query must read the persisted codes table")
    // the ONLY embeddings scan is the query side, and its vec_id < 5
    // predicate reaches parquet — the corpus embeddings are never read
    assert(p.sliding("embeddings.parquet".length).count(
      _ == "embeddings.parquet") == 1,
      "exactly one embeddings scan (the 5 query vectors) is allowed")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("LessThan(vec_id,5)"),
      s"the query-side scan must push vec_id < 5 to parquet, got: $pushed")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the query LUT side must broadcast")
  }

  test("d50: indexed BM25 reads only postings — term pushed down, no corpus scan") {
    val p = plan("d50_bm25_indexed")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("postings"), "query must read the persisted postings table")
    assert(!p.contains("documents.parquet"),
      "the corpus text must never be scanned at query time")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "df slice and corpus stats must broadcast")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("In(term") || pushed.contains("term"),
      s"term predicate must reach the postings scan, got: $pushed")
  }

  test("d48: tertile thresholds broadcast; only the bigram/doc keys shuffle") {
    val p = plan("d48_perplexity_buckets")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the d24 bigram repartition enabling exchange reuse")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row threshold join must broadcast")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must not cross a shuffle")
  }

  test("d49: candidates from band equi-joins; only the 256-char prefix shuffles") {
    val p = plan("d49_lsh_edit_verify")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the (band, bucket) repartition enabling exchange reuse")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"),
      "full document text must not cross a shuffle — only the bounded prefix")
  }

  test("d25: stratum stats broadcast — corpus text never shuffles") {
    val p = plan("d25_stratified_sample")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "stratum counts should broadcast")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must not cross a shuffle")
  }

  test("q13/q32: window aggregations group by timestamp keys, not strings") {
    Seq("q13_events_tumbling", "q32_hopping").foreach { name =>
      val p = plan(name)
      // FormattedMode prints aggregate keys on their own "Keys [n]:" lines
      val keyLines = p.linesIterator.filter(_.trim.startsWith("Keys")).mkString
      assert(keyLines.nonEmpty, s"$name: expected aggregate Keys lines in the plan")
      assert(!keyLines.contains("date_format"),
        s"$name must format AFTER the aggregation, not shuffle string keys")
    }
  }

  test("d31: token totals and probe share one token exchange; side tables broadcast") {
    val p = plan("d31_source_divergence")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit token repartition enabling exchange reuse")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "per-source totals and the corpus total should broadcast")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must not cross a shuffle")
  }

  test("d32: per-domain cap is WindowGroupLimit; blocklist broadcasts as anti-join") {
    val p = plan("d32_domain_cap")
    assert(p.contains("WindowGroupLimit"),
      "rk<=K must plan as a partial top-K below the domain shuffle")
    assert(p.contains("LeftAnti"), "blocklist must be an anti-join")
    assert(!p.contains("SortMergeJoin"), "the tiny blocklist must broadcast")
  }

  test("e18: per-cell diversity cap is WindowGroupLimit over the cell exchange") {
    val p = plan("e18_cell_diversity_sample")
    // the cell map arrives unpartitioned, so the window inserts the
    // cell exchange itself and the group limit runs in BOTH modes:
    // Partial below the exchange (each task ships <= k rows per cell)
    // and Final above it
    assert(p.contains("row_number(), 8, Partial"),
      "rank<=k must plan as a partial top-k below the cell shuffle")
    assert(p.contains("row_number(), 8, Final"),
      "expected the final group limit above the cell exchange")
    assert(!p.contains("CartesianProduct"),
      "centroid assignment must be a broadcast join, not a cartesian")
  }

  test("e19: two-level assignment broadcasts supers, equi-joins branches") {
    val p = plan("e19_two_level_cells")
    assert(!p.contains("CartesianProduct"),
      "hierarchical assignment must never cartesian the corpus")
    // the super argmax stages are broadcast crossJoins of the tiny
    // super table; the within-branch stage is a branch equi-join whose
    // exchange is what bounds per-vector fan-out to the branch size
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "supers must broadcast")
    assert(p.contains("hashpartitioning(branch"),
      "within-branch argmax must ride a branch equi-join exchange")
  }

  test("e38: the two-level route is ONE expression over the scan — no join, no shuffle") {
    val p = plan("e38_route_two_level")
    // the router carries the centroid table inside the expression
    // (codegen reference object), so the whole assignment is a
    // stateless projection: the only plan features allowed are the
    // scan, the cell_route projection, and the final presentation sort
    assert(p.contains("cell_route"), "expected the CellRoute expression")
    assert(!p.contains("Join"), "routing must not plan any join")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).size
    assert(exchanges == 0,
      s"routing is in-row — no hash exchange belongs in this plan, saw $exchanges")
  }

  test("d39: the snapshot diff joins fingerprints, never text") {
    val p = plan("d39_corpus_diff")
    assert(!p.contains("CartesianProduct"))
    // both snapshot sides reduce to (doc_id, source, fp) at the scan;
    // the full-outer join exchange must not carry the text column
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "raw text must never cross a shuffle")
  }

  test("d38: the mixture gate broadcasts stats and streams the corpus") {
    val p = plan("d38_temperature_mix")
    assert(!p.contains("SortMergeJoin"),
      "the per-source stats side must broadcast into the corpus scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("d40/d41: chat render and validation are narrow maps — no key shuffle") {
    // the in-row prefix-sum / array-fold claim, gated: the only
    // exchanges allowed are the final sort's range partitioning
    Seq("d40_chat_render", "d41_turn_validate").foreach { name =>
      val p = plan(name)
      assert(!p.contains("hashpartitioning"),
        s"$name must stay a pure per-row map (sort-only exchanges)")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("d42: prompt dedup shuffles 8-byte fingerprints, never text") {
    val p = plan("d42_prompt_dedup")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(exchanges.contains("prompt_fp"), "agg must key on the fingerprint")
    assert(!exchanges.contains("text"), "raw text must never cross a shuffle")
    // map-side combine: a partial aggregate runs before the exchange
    assert(p.contains("HashAggregate"), "expected hash aggregation")
  }

  test("e20: drift means aggregate partially before the cell exchange; cents broadcast") {
    val p = plan("e20_centroid_drift")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "the nlist-row joins at the tail must broadcast")
    // the (cell, pos) mean state is ONE long per group: partial agg
    // below the exchange keeps the embedding payload out of the shuffle
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("embedding") || !exchanges.contains("ce"),
      "raw embeddings must not cross the mean shuffle")
  }

  test("e21: 2-hop expansion joins narrow edge keys — no cartesian, no vector payload") {
    val p = plan("e21_knn_expand")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "hop-2 must be an equi-join on dst=src, not a nested loop")
    // everything past the checkpointed edge list is (src,dst) algebra:
    // no embedding column may appear in any exchange above it
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("embedding"),
      "vector payload must not cross the expansion shuffles")
  }

  test("e22: every beam round broadcasts the frontier — edges and vectors never shuffle for it") {
    val p = plan("e22_graph_search")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "frontier joins must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no round may sort-merge the edge or vector side against the tiny frontier")
  }

  test("d51: both signals in the scan projection; the range row broadcasts") {
    val p = plan("d51_quality_calibration")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row [mn,mx] join must broadcast")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must not cross a shuffle")
  }

  test("d52: gram counts prune to duplicates before the join back; text never shuffles") {
    val p = plan("d52_dup_density")
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"),
      "only (id, gram-hash) rows may cross the dedup-density shuffles")
  }

  test("d53: one md5-hash exchange carries the funnel; raw text stays in the scan") {
    val p = plan("d53_pipeline_funnel")
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning"))
      .mkString.replace("text_hash", "")
    assert(!exchanges.contains("text"),
      "only the md5 hash (not document text) may key the funnel exchange")
  }

  test("d54/d55: chunking and span corruption are pure in-row maps — no key shuffle") {
    for (name <- Seq("d54_rag_chunks", "d55_span_corruption")) {
      val p = plan(name)
      assert(!p.contains("hashpartitioning"),
        s"$name must not shuffle before the final sort")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("d56: fertility aggregates integer partials below the lang exchange") {
    val p = plan("d56_tokenizer_fertility")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      p.contains("HashAggregate"), "expected map-side partial aggregation")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must not cross a shuffle")
  }

  test("d57: the keeper window keys on lines, never whole documents") {
    val p = plan("d57_line_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"), "expected the first-occurrence keeper window")
  }

  test("e30: every sweep point rides equi-joins and partial top-k windows") {
    val p = plan("e30_nprobe_recall")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must plan as WindowGroupLimit")
  }

  test("e31: the metadata filter lands before a WindowGroupLimit top-k") {
    val p = plan("e31_filtered_search")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"),
      "the post-filter rank<=10 must plan as WindowGroupLimit")
  }

  test("m16: resample is per-partition decode — payloads never cross a shuffle") {
    // exchanges exist (the key-scan spread before the decode and the
    // narrow stats re-key that pins the decode to ONE run under the
    // final sort's range-sampling pass), but they may only ever carry
    // the 8-byte key or the decoded STATS row — never the WAV payload
    val leaked = binaryAcrossShuffles("m16_audio_resample")
    assert(leaked.isEmpty, s"decoded audio payloads must never cross a shuffle: $leaked")
  }

  test("d58: tertile thresholds broadcast over the in-row score chain") {
    val p = plan("d58_curriculum_order")
    assert(!p.contains("SortMergeJoin"),
      "the 1-row threshold side must broadcast, never sort-merge")
    // the only hash exchange allowed is the percentile aggregation's
    // single-group collapse; the scored corpus itself never re-keys
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must never cross a shuffle")
  }

  test("d59: per-language stats broadcast back; the epoch explode is in-row") {
    val p = plan("d59_epoch_upsample")
    assert(p.contains("BroadcastHashJoin"),
      "the per-language target table must broadcast into the corpus scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Generate"), "expected the sequence explode")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must never cross a shuffle")
  }

  test("e32: the near-dup ceiling filters before a WindowGroupLimit top-k") {
    val p = plan("e32_hard_negatives")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"),
      "the ceiling-filtered rank<=10 must plan as WindowGroupLimit")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the query side should broadcast into the cell equi-join")
  }

  test("d60: the Bloom probe is in-row; confirm join equi-keyed, no cartesian") {
    val p = plan("d60_bloom_dedup")
    assert(!p.contains("CartesianProduct"))
    // the bitmap rides as an array literal inside the filter, never as
    // a join: the bypass branch must carry no join at all, so the only
    // join keys are the hash column of the confirm branch
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must never cross a shuffle")
  }

  test("d61: scoring is in-row against model literals — no join in the scored plan") {
    val p = plan("d61_dsir_select")
    assert(!p.contains("SortMergeJoin"),
      "the scoring pass must not join the bucket models — they ride as literals")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must never cross a shuffle")
  }

  test("m17: VAD is per-partition decode — payloads never cross a shuffle") {
    val leaked = binaryAcrossShuffles("m17_vad")
    assert(leaked.isEmpty, s"decoded audio payloads must never cross a shuffle: $leaked")
  }

  test("q62: the runtime bloom filter prunes the fact scan before the shuffle") {
    val p = plan("q62_bloom_join")
    assert(p.contains("might_contain"),
      "expected InjectRuntimeFilter's bloom probe on the fact side")
    // the builder restores the session verbatim — the tuned thresholds
    // must not leak into every other query's planning
    assert(SparkTest.spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "q62's conf overrides leaked out of its builder")
  }

  test("q63: the whole funnel rides one user_id exchange") {
    val p = plan("q63_funnel")
    assert(!p.contains("CartesianProduct"))
    val userExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning(user_id"))
      .size
    assert(userExchanges == 1,
      s"expected exactly one user_id exchange, saw $userExchanges — " +
        "the three window stages and both aggregations must share it")
  }

  test("d62: df agg and tf⋈df probe share the term repartition; top-5 is WindowGroupLimit") {
    val p = plan("d62_tfidf_keywords")
    assert(!p.contains("CartesianProduct"),
      "only the broadcast 1-row corpus-size join may cross — never a cartesian")
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit term repartition enabling exchange reuse")
    assert(p.contains("WindowGroupLimit"),
      "per-doc top-5 must push below the doc_id exchange")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"), "document text must never cross a shuffle")
  }

  test("m18: mime sniff is in-row prefix compares — shuffle-free before the sort") {
    val p = plan("m18_mime_sniff")
    assert(!p.contains("hashpartitioning"),
      "the sniff must run at the scan; payloads never cross a shuffle")
  }

  test("q64: the interval join is a bucket equi-join — no nested loop, no cartesian") {
    val p = plan("q64_interval_join")
    assert(!p.contains("CartesianProduct"),
      "sessions × errors must never cross-join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the range predicate must ride the bucket equi-join as a residual, not an NLJ")
    assert(p.contains("bucket"), "expected the time-bucket join key")
  }

  test("q65: the dim filter prunes fact partitions dynamically") {
    val p = plan("q65_dpp_prune")
    assert(p.contains("dynamicpruning"),
      "expected DPP's runtime partition filter on the partitioned fact scan")
    assert(p.contains("BroadcastHashJoin"), "the tiny dim must broadcast")
  }

  test("d63: confusion matrix and row totals share one true_lang exchange") {
    val p = plan("d63_langid_eval")
    assert(p.contains("REPARTITION_BY_COL"),
      "expected the explicit true_lang repartition")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).size
    assert(exchanges == 1,
      s"agg and window must both ride the true_lang exchange, saw $exchanges")
  }

  test("e33: the MMR pool work is broadcast-only — no corpus self-join") {
    val p = plan("e33_mmr_select")
    // the returned frame is the driver fold's materialized picks; the
    // heavy lifting happened in the pool/sims jobs, which the builder
    // already executed — assert the OUTPUT plan stays trivial (no
    // accidental re-computation graft)
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Scan parquet"),
      "e33's result is the bounded driver fold — it must not re-scan the corpus")
  }

  test("q66: the merge reads the base ARTIFACT — exactly one fact scan (the delta)") {
    val p = plan("q66_mv_merge")
    assert(!p.contains("CartesianProduct"))
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 2,
      s"expected the delta fact scan + the base-aggregate artifact scan, saw $scans — " +
        "a third scan means the base fact is being re-read")
    assert(p.contains("ReadSchema: struct<l_returnflag"),
      "the delta scan must prune to the aggregation columns")
  }

  test("q68: agg, lead window, grid explode AND the final sort ride one range exchange") {
    val p = plan("q68_gapfill")
    val ranges = p.linesIterator.filter(_.contains("rangepartitioning")).size
    assert(ranges == 1,
      s"expected exactly the one user_id range exchange, saw $ranges")
    assert(!p.linesIterator.exists(_.contains("hashpartitioning")),
      "the range partition must serve the agg and window — no hash exchange")
    assert(!p.contains("Join"),
      "the grid must generate from lead runs, never join a calendar table")
  }

  test("t24_field_changes: the whole audit history diffs on one RECID exchange") {
    val p = plan("t24_field_changes")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).size
    assert(exchanges == 1,
      s"the lag windows and the unpivot must share the RECID exchange, saw $exchanges")
    assert(!p.contains("Join"),
      "field diffs must come from the unpivoted lag, never per-field self-joins")
  }

  test("q67: aggregation, window, and the final sort ride one range exchange") {
    val p = plan("q67_anomaly")
    val ranges = p.linesIterator.filter(_.contains("rangepartitioning")).size
    assert(ranges == 1,
      s"expected exactly the one user_id range exchange, saw $ranges")
    assert(!p.linesIterator.exists(_.contains("hashpartitioning")),
      "the range partition must serve the agg and window — no hash exchange")
  }

  test("d64: candidates ride the band equi-join — no cartesian, text never keys a shuffle") {
    val p = plan("d64_lsh_curve")
    assert(!p.contains("CartesianProduct"),
      "the S-curve must be measured on band candidates, never all pairs")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"),
      "raw document text must never key an exchange")
  }

  test("d66: dup-span marking joins on hashes and merges on one doc_id window — no all-pairs") {
    val p = plan("d66_dup_spans")
    assert(!p.contains("CartesianProduct"),
      "the dup set must come from a keyed aggregate, never pairwise comparison")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("gram") && !exchanges.contains("text"),
      "only the 8-byte shingle hash and doc_id may key exchanges")
    assert(!p.contains("SortMergeJoin") || p.contains("hashpartitioning(h"),
      "the dup join must be the hash equi-join")
  }

  test("d66_spans_indexed: reads the stored dup set — one doc scan, no grid re-aggregate") {
    // ensureDupGrams commits the artifact during query construction,
    // so the inspected plan is the warm read path
    val p = plan("d66_spans_indexed")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("dup_grams"),
      "query must read the persisted dup-gram table")
    val docScans = p.linesIterator.count(_.contains("documents.parquet"))
    assert(docScans == 1,
      s"exactly ONE documents scan (the positional grid), saw $docScans")
    assert(!p.contains("min(doc_id") && !p.contains("max(doc_id"),
      "the dup-set aggregate must never re-derive at read time")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("gram") && !exchanges.contains("text"),
      "only the 8-byte shingle hash and doc_id may key exchanges")
  }

  test("d75: the cut is in-row — spans broadcast back, text never keys an exchange") {
    val p = plan("d75_span_cut")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("dup_grams"),
      "the cut must ride the persisted dup-gram artifact")
    // no forced hint in the query (the span side is O(dup-docs) —
    // unbounded on a dup-heavy crawl): this asserts the PLANNER still
    // picks the broadcast from size stats at test SF, while at scale
    // the same join degrades to the doc_id equi-exchange instead of
    // OOMing on a pinned broadcast
    assert(p.contains("BroadcastHashJoin"),
      "the per-doc span lists must broadcast onto the doc scan")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text") && !exchanges.contains("toks"),
      "document text/tokens must never key an exchange")
  }

  test("d67: candidates come only from the prefix hash equi-join — no all-pairs path") {
    val p = plan("d67_prefix_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "candidate generation must be the prefix equi-join, never pairwise comparison")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text") && !exchanges.contains("toks"),
      "only 8-byte token hashes and doc ids may key exchanges")
  }

  test("d65: shingles shuffle as 8-byte hashes — text never keys an exchange") {
    val p = plan("d65_ngram_novelty")
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("gram") && !exchanges.contains("text"),
      "only the polyHash value may key the shingle exchanges")
  }

  test("d68: PMI dictionaries join on grams; the corpus totals broadcast as 1-row sides") {
    val p = plan("d68_pmi_collocations")
    assert(!p.contains("CartesianProduct"),
      "collocation scoring must ride keyed dictionary joins, never all pairs")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"),
      "raw document text must never key an exchange — only gram/count dictionary rows")
  }

  test("d69: the only exchange is the per-shard window — no global sort before it") {
    val p = plan("d69_shuffle_shard")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).size
    assert(exchanges == 1,
      s"shard routing must shuffle once (the per-shard position window), saw $exchanges")
    assert(!p.contains("Exchange SinglePartition"),
      "a single-partition exchange means a global sort snuck in")
    assert(!p.contains("Join"), "shard assignment is in-row — no join anywhere")
  }

  test("d70: the FIM rewrite is in-row — shuffle-free before the output sort") {
    val p = plan("d70_fim_transform")
    assert(!p.linesIterator.exists(_.contains("hashpartitioning")),
      "the PSM projection must not shuffle")
    assert(!p.contains("Join"))
  }

  test("q69: the decile window is KEYED and the report shares its exchange") {
    val p = plan("q69_decile_report")
    assert(!p.contains("Exchange SinglePartition"),
      "a global ntile would plan a single-partition exchange — the window must key on nation")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).size
    assert(exchanges == 1,
      s"the ntile window and the per-tile agg must share the c_nationkey exchange, saw $exchanges")
  }

  test("e34: the returned trace is the bounded driver fold — no corpus re-scan") {
    val p = plan("e34_kcenter_init")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Scan parquet"),
      "e34's result is k driver-collected picks — it must not re-scan the corpus")
  }

  test("e35: residual IVFADC joins broadcast; embeddings never key an exchange") {
    val p = plan("e35_residual_pq")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the centroid and cell joins must all broadcast")
    assert(p.contains("BroadcastHashJoin"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("embedding"),
      "float vectors must never key an exchange — codes and ids only")
  }

  test("q70: the nearest as-of join plans with NO join operator at all") {
    val p = plan("q70_asof_nearest")
    assert(!p.contains("Join"),
      "nearest-asof must be the union-merge — any Join node means a range join snuck in")
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).size
    assert(exchanges == 2,
      s"expected the clicks dedup agg + the one union-merge window exchange, saw $exchanges")
  }

  test("q71: CUSUM's agg, both cumulative windows, and the sort ride one range exchange") {
    val p = plan("q71_cusum")
    val ranges = p.linesIterator.filter(_.contains("rangepartitioning")).size
    assert(ranges == 1,
      s"expected exactly the one user_id range exchange, saw $ranges")
    assert(!p.linesIterator.exists(_.contains("hashpartitioning")),
      "the range partition must serve the agg and windows — no hash exchange")
    assert(!p.contains("Join"), "the closed form is window-only — no self-join")
  }

  test("q72: the gap-filled CUSUM rides one range exchange, windows BELOW the explode") {
    val p = plan("q72_cusum_reset")
    // the recurrence runs over observed rows and the fill is analytic:
    // both cumulative windows must sit BELOW the Generate in the plan,
    // and the one range exchange serves agg + windows + the final sort
    val ranges = p.linesIterator.filter(_.contains("rangepartitioning")).size
    assert(ranges == 1,
      s"expected exactly the one user_id range exchange, saw $ranges")
    assert(!p.linesIterator.exists(_.contains("hashpartitioning")),
      "the range partition must serve the agg and windows — no hash exchange")
    assert(!p.contains("Join"), "the grid generates by explode — no calendar join")
    // tree-section lines print as "+- Window (n)" / "+- Generate (n)";
    // the Generate consuming the windows must sit ABOVE (earlier line)
    val lines = p.linesIterator.toSeq
    val gen = lines.indexWhere(_.contains("Generate ("))
    val lastWin = lines.lastIndexWhere(_.contains("Window ("))
    assert(gen >= 0 && lastWin >= 0 && gen < lastWin,
      "both cumulative windows must run over OBSERVED rows (below the explode)")
  }

  test("d76: the E2E span funnel never cartesians and never shuffles text") {
    val p = plan("d76_span_residual")
    assert(!p.contains("CartesianProduct"),
      "1-row report joins must broadcast, facts must equi-join")
    // the merged-span table is a one-shot eager snapshot (the grid +
    // persisted dup_grams read execute inside it), so the FINAL plan
    // reads it back as an existing-RDD scan — the artifact usage is
    // asserted in DedupSpec/the d75 gate; here the snapshot scan and
    // the exchange keys are the contract
    assert(p.contains("ExistingRDD"),
      "the span side must be the one-shot snapshot scan")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text") && !exchanges.contains("toks") &&
      !exchanges.contains("kept") && !exchanges.contains("gram"),
      "only 8-byte hashes and doc_id may key exchanges")
  }

  test("q73: the bucketed fact join plans SMJ with no exchange on the join key") {
    // broadcast disabled so the gate cannot pass vacuously — at test
    // SF the optimizer would otherwise broadcast the orders side and
    // never exercise the bucket alignment the query exists to prove
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q73_bucketed_join")
      assert(p.contains("SortMergeJoin"), "expected the bucket-aligned SMJ")
      assert(!p.contains("hashpartitioning(l_orderkey") &&
        !p.contains("hashpartitioning(o_orderkey"),
        "the join key must never be exchanged — the bucketed scan " +
          "already satisfies the join's required distribution")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("d73: the indexed screen joins (id, hash) rows — text never keys an exchange") {
    val p = plan("d73_decontaminate_indexed")
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(!exchanges.contains("text"),
      "only 8-byte gram hashes and doc ids may key exchanges")
    assert(p.contains("Scan parquet"),
      "the eval side must READ the persisted gram index, not re-derive it")
  }

  test("d74: soft-dedup weights are one scan, one exchange, no join") {
    val p = plan("d74_soft_dedup_weights")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1,
      s"the window form reads the corpus ONCE, saw $scans scans")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).size
    assert(exchanges == 1,
      s"the commonness window needs exactly one content-hash exchange, saw $exchanges")
    assert(!p.contains("Join"), "count-over-window — no self-join anywhere")
  }

  test("t24_scd2: the whole version history rides one RECID exchange") {
    val p = plan("t24_scd2_intervals")
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning(RECID")).size
    assert(exchanges == 1,
      s"expected exactly one RECID exchange for the lead() window, saw $exchanges")
  }

  test("d78: the screen reads the STORED ladder — no doubling machinery at read time") {
    // ensureLadder commits during construction; the inspected plan is
    // the warm consumer path
    val p = plan("d78_repeat_screen")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ladder"),
      "the screen must scan the persisted w=<width> level tables")
    assert(!p.contains("__sa_pid"),
      "the distributed dense-rank kernel must not re-run at read time")
    val docScans = p.linesIterator.count(_.contains("documents.parquet"))
    assert(docScans == 1,
      s"exactly ONE documents scan (the per-doc base), saw $docScans")
  }

  test("d79: the rank recurrence runs over the MATERIALIZED graph — no per-iteration re-derivation") {
    val p = plan("d79_pagerank")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Scan parquet"),
      "iterations must read the checkpointed graph, not re-derive it " +
        "from the corpus scan (5x redundant derivation at scale)")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      "the materialized edge/host tables must feed the recurrence")
  }

  test("q74: the snapshot aggregate reads manifest files only — no merge at read time") {
    val p = plan("q74_cow_merge")
    assert(!p.contains("orders.parquet"),
      "snapshots must read the table's own data files, never the source")
    assert(p.linesIterator.count(_.contains("data-")) >= 2,
      "both versions' manifest-listed data files must be scanned")
    assert(!p.toLowerCase.contains("broadcastnestedloop") &&
      !p.contains("CartesianProduct"))
  }

  test("d82: chunking shuffles nothing but signatures — no doc exchange, no window") {
    val p = plan("d82_cdc_chunks")
    assert(!p.contains("hashpartitioning(doc_id"),
      "the per-row kernel must not re-introduce a doc_id exchange")
    assert(!p.contains("Window"),
      "chunk assignment must stay inside the row, not a doc window")
    assert(p.contains("partial_count"),
      "the explode must feed a map-side-combining aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("q78: the 2-D box reaches the z-ordered scan as literal pushed filters") {
    val p = plan("q78_zorder_prune")
    assert(p.contains("GreaterThanOrEqual(l_orderkey") &&
      p.contains("LessThanOrEqual(l_orderkey") &&
      p.contains("GreaterThanOrEqual(l_partkey") &&
      p.contains("LessThanOrEqual(l_partkey"),
      "both dimensions' bounds must push to the scan (file/row-group skipping)")
  }

  test("q77: the IVM delta side reads MergeTable data files, never the source table") {
    val p = plan("q77_cdf_mv")
    assert(!p.contains("orders.parquet"),
      "both the v0 MV seed and the feed must read the table's own files")
    assert(!p.contains("CartesianProduct"))
  }

  test("t24_cow_apply: the string-keyed snapshot reads its own manifest files") {
    val p = plan("t24_cow_apply")
    assert(!p.contains("orders.parquet"),
      "the apply result must come from the table's data files")
    assert(p.contains("data-"), "manifest-listed files must be scanned")
  }
}
