package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.Text
import graft.operators.{FieldSpec, SchemaConverter}

/** One user event for session-window tracking. */
case class SessionEvent(userId: Long, ts: Timestamp, value: Double)
/** An emitted (closed) session window. */
case class SessionWindow(userId: Long, startTs: Timestamp, endTs: Timestamp,
                         nEvents: Long, total: Double)
/** Per-user in-flight session state (epoch-ms bounds). */
case class SessionState(start: Long, end: Long, n: Long, total: Double)
/** One exploded page line arriving at ingest (streamLineDedup). */
case class LineItem(docId: Long, lineIdx: Int, line: String)
/** A [[LineItem]] carrying its event time (streamLineDedupTtl). */
case class TimedLineItem(docId: Long, lineIdx: Int, line: String, ts: Timestamp)
/** The first-occurrence keeper of one distinct line. */
case class LineKeeper(line: String, docId: Long, lineIdx: Int)
/** One user event for funnel tracking (streamFunnel). */
case class FunnelEvent(userId: Long, eventType: String, tsUs: Long)
/** Per-user funnel progress: first-reach micros per stage,
  * Long.MaxValue = not reached. */
case class FunnelState(t1: Long, t2: Long, t3: Long)
/** Emitted when a user FIRST reaches a funnel stage. */
case class FunnelAdvance(userId: Long, stage: Int, tsUs: Long)

/** Structured Streaming re-expression of the reference's streaming
  * pipelines (SURVEY §2d). The reference's RAW stage is a KSQL stream
  * over a Kafka topic (`/root/reference/src/controllers/index.js:573-583`);
  * here any streaming DataFrame with the same shape (`RECID` string +
  * `XMLRECORD map<string,string>`) plugs in — the environment has no
  * broker, so file/memory sources stand in, and a Kafka source would be
  * `spark.readStream.format("kafka")…` mapped to this schema at the
  * seam below. Every stage is stateless-narrow except the windowed
  * aggregations, which carry watermarked state.
  */
object Pipelines {

  /** RAW→MAPPED→(MULTIVALUE) as one streaming transform. The
    * SchemaConverter stages are projections + Generate — fully
    * streaming-safe, no state. */
  def t24Pipeline(raw: DataFrame, schema: Seq[FieldSpec]): DataFrame =
    SchemaConverter.pipeline(raw, schema)

  /** BLOB_RAW streaming mode (the reference's `procType === 'BLOB'`
    * dispatch, `controllers/index.js:582-601`): packed FE/FEFD hex
    * records stream through the same positional decode — projections +
    * Generate only, streaming-safe, no state. */
  def t24BlobPipeline(raw: DataFrame, schema: Seq[FieldSpec]): DataFrame =
    SchemaConverter.blobFe(raw, schema)

  /** File-based RAW source (the Kafka seam: swap for format("kafka") +
    * a value-deserialization select with the same output schema). */
  def fileSource(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Watermarked tumbling-window aggregate over an event stream. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String = "5 minutes",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Stream-stream equi-join WITHIN a time interval — the KSQL
    * `[INNER|LEFT|FULL] JOIN … WITHIN n` surface. Both sides are
    * watermarked; the time-band condition bounds the join state Spark
    * must keep (rows age out once the watermark passes their band),
    * so state is O(key-rate × interval), not unbounded.
    *
    * `joinType` "inner" (default), "left_outer", or "full_outer":
    * KSQL's outer interval joins emit a null-padded row for an
    * unmatched side once the watermark passes the end of its band —
    * the clicks-to-impressions join where a click with no impression
    * inside the hour must still report. Spark defers the null-padded
    * emission to the first micro-batch AFTER the watermark clears the
    * band (correctness over latency — a match could still arrive up
    * to that point), which is the same contract KSQL documents for
    * its grace period. */
  def streamStreamJoinWithin(left: DataFrame, right: DataFrame,
                             leftKey: String, rightKey: String,
                             leftTs: String, rightTs: String,
                             within: String = "1 hour",
                             watermarkDelay: String = "10 minutes",
                             joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, expr(
      s"$leftKey = $rightKey AND $rightTs BETWEEN $leftTs - INTERVAL $within " +
        s"AND $leftTs + INTERVAL $within"), joinType)
  }

  /** Streaming exact dedup on key columns, state bounded by the
    * watermark (late duplicates beyond the delay age out of state). */
  def statefulDedup(df: DataFrame, tsCol: String, keyCols: Seq[String],
                    watermarkDelay: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(keyCols :+ tsCol)

  /** Streaming corpus-lifetime LINE dedup — the d57 streaming twin at
    * the ingest boundary: exploded page lines keep only their FIRST
    * occurrence, keyed state = one marker per distinct line. Within a
    * micro-batch the keeper is the smallest (doc_id, line_idx) — the
    * batch tie-break — so the stream equals the batch rule whenever
    * arrival order respects doc order, and is deterministic under
    * replay regardless.
    *
    * The state here is corpus-lifetime (one marker per distinct line
    * forever) — correct for bounded backfills; an unbounded crawl
    * stream uses [[streamLineDedupTtl]], whose event-time TTL evicts
    * markers the watermark has aged out. */
  def streamLineDedup(lines: Dataset[LineItem]): Dataset[LineKeeper] = {
    import lines.sparkSession.implicits._
    lines.groupByKey(_.line)
      .flatMapGroupsWithState[Long, LineKeeper](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (line: String, rows: Iterator[LineItem], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(r => (r.docId, r.lineIdx))
            state.update(1L)
            Iterator(LineKeeper(line, first.docId, first.lineIdx))
          }
      }
  }

  /** [[streamLineDedup]] with BOUNDED state — the unbounded-crawl
    * form: each line's marker carries an EVENT-TIME timeout `stateTtl`
    * past its latest sighting, refreshed on every arrival, so hot
    * boilerplate stays deduped while a line unseen for one TTL window
    * evicts once the watermark passes it and re-admits as a fresh
    * keeper on its next arrival (the generation reset). State is
    * O(lines seen within one TTL window), not O(corpus lifetime).
    * Event time (not processing time) keeps eviction REPLAY-
    * DETERMINISTIC — a checkpoint restart replays the same watermark
    * sequence and evicts identically, where a wall-clock TTL would
    * depend on when the job happened to run (and a processing-time
    * timeout busy-spins empty micro-batches while armed). */
  def streamLineDedupTtl(lines: Dataset[TimedLineItem],
                         watermarkDelay: String = "10 minutes",
                         stateTtlMs: Long = 30L * 86400000L): Dataset[LineKeeper] = {
    import lines.sparkSession.implicits._
    val ttlMillis = stateTtlMs
    lines.withWatermark("ts", watermarkDelay)
      .as[TimedLineItem]
      .groupByKey(_.line)
      .flatMapGroupsWithState[Long, LineKeeper](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (line: String, rows: Iterator[TimedLineItem], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // aged out with no arrivals since the TTL: drop the marker —
            // the line's next sighting re-admits it as a fresh keeper
            state.remove()
            Iterator.empty
          } else {
            val items = rows.toSeq
            val maxTs = items.iterator.map(_.ts.getTime).max
            // a straggler older than (watermark - ttl) must still arm a
            // legal timeout: clamp above the current watermark
            val fireAt = math.max(maxTs + ttlMillis,
              state.getCurrentWatermarkMs() + 1L)
            val out =
              if (state.exists) Iterator.empty
              else {
                val first = items.minBy(r => (r.docId, r.lineIdx))
                state.update(1L)
                Iterator.single(LineKeeper(line, first.docId, first.lineIdx))
              }
            state.setTimeoutTimestamp(fireAt)
            out
          }
      }
  }

  /** Live conversion-funnel tracking — the q63 streaming twin: per
    * user, the strictly-sequenced view → click-after-it →
    * purchase-after-that state machine runs incrementally in
    * flatMapGroupsWithState, emitting one row the FIRST time a user
    * reaches each stage (the live dashboard feed; the batch q63 is
    * the retrospective rollup). State per user is three longs —
    * first-reach micros per stage, monotone non-increasing updates —
    * so state is O(users), never O(events). Within a micro-batch rows
    * apply in (ts, type) order; like the batch rule, a click counts
    * only with a strictly earlier view already seen, so the stream
    * equals q63's stage sets whenever arrival order respects event
    * time (the streamLineDedup contract), and replay is deterministic
    * regardless. */
  def streamFunnel(events: Dataset[FunnelEvent]): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    val None_ = Long.MaxValue
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None_, None_, None_))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
          rows.toSeq.sortBy(r => (r.tsUs, r.eventType)).foreach { r =>
            r.eventType match {
              case "view" if r.tsUs < st.t1 =>
                if (st.t1 == None_) out += FunnelAdvance(uid, 1, r.tsUs)
                st = st.copy(t1 = r.tsUs)
              case "click" if st.t1 != None_ && r.tsUs > st.t1 && r.tsUs < st.t2 =>
                if (st.t2 == None_) out += FunnelAdvance(uid, 2, r.tsUs)
                st = st.copy(t2 = r.tsUs)
              case "purchase" if st.t2 != None_ && r.tsUs > st.t2 && r.tsUs < st.t3 =>
                if (st.t3 == None_) out += FunnelAdvance(uid, 3, r.tsUs)
                st = st.copy(t3 = r.tsUs)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Gap-based session windows via flatMapGroupsWithState with
    * EVENT-TIME timeouts: a session closes (and is emitted) when the
    * watermark passes its end + gap — deterministic in the data, no
    * wall-clock dependence. The KSQL SESSION window analog and the
    * streaming twin of the batch `q14_sessionize` query. State is one
    * small record per active key, reclaimed by the watermark, so it
    * scales with concurrently-active keys, not with history.
    */
  def sessionWindows(events: Dataset[SessionEvent],
                     gapMs: Long = 30L * 60 * 1000,
                     watermarkDelay: String = "10 seconds"): Dataset[SessionWindow] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionWindow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def emit(s: SessionState) =
            SessionWindow(userId, new Timestamp(s.start), new Timestamp(s.end),
              s.n, s.total)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(emit(s))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionWindow]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed ::= emit(s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Incremental near-dup screening: arriving documents check against
    * a STATIC reference corpus via the SimHash chunk-band equi-join — a
    * stream-static join, so it is STATELESS (no watermark, no growing
    * state). Emits (in_id, match_id, hamming) for stream docs within
    * `maxHamming` of a corpus doc — the ingest-time filter of a 100 TB
    * training-data pipeline.
    *
    * @param corpusBands the static side, pre-banded via
    *   `Dedup.simhashBands(corpus)` and MATERIALIZED by the caller
    *   (`.cache()`, or a written bands table). Spark re-executes the
    *   static plan on every micro-batch, so handing an unmaterialized
    *   corpus here would recompute its full SimHash pass per batch. */
  def streamNearDupScreen(stream: DataFrame, corpusBands: DataFrame,
                          maxHamming: Int = 3): DataFrame = {
    import graft.operators.Dedup
    val s = Dedup.simhashBands(stream)
      .withColumnRenamed("doc_id", "in_id").withColumnRenamed("simhash", "in_hash")
    val c = corpusBands
      .withColumnRenamed("doc_id", "match_id").withColumnRenamed("simhash", "match_hash")
    bandedHammingScreen(s, c, maxHamming)
  }

  /** Shared tail of the stream-static hamming screens (SimHash text
    * screen, image-phash screen): band equi-join + per-row
    * first-matching-band dedup + XOR-popcount verify. Pairs sharing
    * several bands would duplicate, and a stateful dropDuplicates
    * would grow forever on a stream — so dedup is PER-ROW: both
    * hashes travel with the row, making "is this the FIRST band where
    * the chunks agree?" a pure expression (band layout shared with
    * `Dedup.bandChunks` via `Dedup.simhashChunk`). Both inputs are
    * pre-banded and renamed to (in_id, in_hash) / (match_id,
    * match_hash). */
  private def bandedHammingScreen(s: DataFrame, c: DataFrame,
                                  maxHamming: Int): DataFrame = {
    import graft.operators.Dedup
    val firstMatchingBand = (0 until Dedup.SimhashBandCount).reverse
      .foldLeft(lit(-1): Column) { (acc, b) =>
        when(Dedup.simhashChunk(col("in_hash"), b) ===
          Dedup.simhashChunk(col("match_hash"), b), lit(b)).otherwise(acc)
      }
    s.join(c, Seq("band", "chunk"))
      .filter(col("band") === firstMatchingBand)
      .select(col("in_id"), col("match_id"),
        bit_count(col("in_hash").bitwiseXOR(col("match_hash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Ingest-time passage-contamination screen: arriving documents'
    * 20-token blocks check against a STATIC reference block table
    * (the eval/benchmark set) on the block hash — a stream-static
    * equi-join, STATELESS (no watermark, no growing state). Emits one
    * (in_id, block_idx, ref_id) row per contaminated passage — the
    * streaming twin of the batch d16/d18 family.
    *
    * @param refBlocks the static side, built via
    *   `Dedup.passageBlocks(reference)` and MATERIALIZED by the caller
    *   (cache or a written blocks table) — Spark re-executes the
    *   static plan on every micro-batch. */
  def streamPassageScreen(stream: DataFrame, refBlocks: DataFrame): DataFrame = {
    import graft.operators.Dedup
    // fullOnly: fragments shorter than the passage unit must not flag
    Dedup.passageBlocks(stream, fullOnly = true)
      .withColumnRenamed("doc_id", "in_id")
      // distinct: a reference doc repeating a block (or two reference
      // docs sharing one) must not multiply an arriving passage's rows
      // beyond one per (passage, ref doc)
      .join(refBlocks.select(col("doc_id").as("ref_id"), col("bh")).distinct(), "bh")
      .select("in_id", "block_idx", "ref_id")
  }

  /** Ingest-time duplicated-SPAN screen — the d66 streaming twin:
    * arriving docs probe a Bloom filter built over the corpus's
    * duplicated 5-shingle hashes (`Dedup.bloomBuild` over the d66 dup
    * set) ENTIRELY in-row — positional shingle hashes, the membership
    * probe, and the gaps-and-islands span merge are one array fold —
    * so the screen is stateless, zero-shuffle, and needs no state
    * store. The bloom has no false negatives (no true duplicated span
    * is missed); the sized fp-rate can at worst widen a span by a
    * stray gram — screen semantics, the same honest trade as the
    * d34-style bloom delta screen. At 100 TB the corpus side
    * compresses to ~10 bits per duplicated gram and broadcasts inside
    * the expression. Emits (in_id, start_tok, end_tok, n_dup_grams)
    * per merged span, the exact d66 output unit. */
  /** The in-row bloom-marked span fold shared by [[streamSpanScreen]]
    * and [[streamSpanCut]] (one kernel, the two twins cannot drift):
    * positional shingle hashes, the membership probe, and the
    * gaps-and-islands merge as one array fold over `text`, yielding
    * `array<struct<start, last, n>>` of merged duplicated spans
    * (`last` = the span's final shingle START; consumers extend by
    * shingleK − 1 to the final covered token). */
  private def bloomSpanFold(text: Column, bloomBits: Array[Long],
                            numBits: Int, k: Int, shingleK: Int): Column = {
    import graft.operators.Dedup
    val spanT = "array<struct<start:bigint,last:bigint,n:bigint>>"
    val hashed = transform(Dedup.shingles(text, shingleK),
      (g, i) => struct((i + lit(1)).cast("long").as("spos"),
        Dedup.shingleHash(g).as("h")))
    val marked = transform(filter(hashed,
      s => Dedup.bloomMightContain(bloomBits, s.getField("h"), numBits, k)),
      s => s.getField("spos"))
    // gaps-and-islands as a pure array fold: extend the open span while
    // the next marked position is <= shingleK away, else open a new one
    aggregate(marked, array().cast(spanT),
      (acc, p) => when(size(acc) > 0 &&
          p - element_at(acc, -1).getField("last") <= shingleK,
        concat(slice(acc, lit(1), size(acc) - 1), array(struct(
          element_at(acc, -1).getField("start").as("start"),
          p.as("last"),
          (element_at(acc, -1).getField("n") + 1).as("n")))))
        .otherwise(concat(acc,
          array(struct(p.as("start"), p.as("last"), lit(1L).as("n"))))))
  }

  /** Ingest-time CONTENT-DEFINED-CHUNK screen — the d82 streaming
    * twin: each arriving doc chunks via the SAME pure per-row kernel
    * as the batch report (`Chunking.chunkSigs` — gear-hash
    * boundaries, order-sensitive signature fold; one kernel, the
    * twins cannot drift), then each chunk probes the persisted
    * corpus chunk store by (sig, n_toks) — a stream-static left
    * join, append-safe, no state store and no streaming aggregation.
    * Emits one row per (in_id, chunk_idx) with the chunk's length,
    * signature and dup verdict — the unit a router drops or an
    * excision step consumes. At 100 TB the store side is a parquet
    * table of 16-byte signatures; the probe is the only join and the
    * chunking itself shuffles nothing. */
  def streamChunkScreen(stream: DataFrame, chunkStore: DataFrame): DataFrame =
    stream
      .select(col("doc_id").as("in_id"),
        posexplode(graft.operators.Chunking.chunkSigs(col("text")))
          .as(Seq("chunk_idx", "c")))
      .select(col("in_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.n_toks").as("n_toks"), col("c.sig").as("sig"))
      .join(chunkStore.select(col("sig"), col("n_toks")).distinct()
          .withColumn("__hit", lit(1L)),
        Seq("sig", "n_toks"), "left_outer")
      .select(col("in_id"), col("chunk_idx"), col("n_toks"), col("sig"),
        (coalesce(col("__hit"), lit(0L)) === 1L).as("is_dup"))

  def streamSpanScreen(stream: DataFrame, bloomBits: Array[Long],
                       numBits: Int, k: Int = 3, shingleK: Int = 5): DataFrame = {
    val spans = bloomSpanFold(col("text"), bloomBits, numBits, k, shingleK)
    stream.select(col("doc_id").as("in_id"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("n_toks"),
        explode(spans).as("sp"))
      .select(col("in_id"), col("sp.start").as("start_tok"),
        least(col("sp.last") + (shingleK - 1), col("n_toks")).as("end_tok"),
        col("sp.n").as("n_dup_grams"))
  }

  /** Ingest-time duplicated-SPAN cut — the d75 streaming twin: each
    * arriving doc re-emits with its bloom-marked duplicated token
    * ranges EXCISED from the normalized token stream (the removal
    * half of ExactSubstr applied at the ingest boundary, before the
    * doc ever lands). Same [[bloomSpanFold]] kernel as the screen and
    * the same honest bloom trade: no true span survives (no false
    * negatives), a false positive at worst cuts a stray gram's
    * tokens. Stateless, zero-shuffle — the spans and the indexed
    * token filter are all in-row; emits the exact d75 output unit
    * (in_id, n_toks, n_cut, cleaned_text), replay-identical. */
  def streamSpanCut(stream: DataFrame, bloomBits: Array[Long],
                    numBits: Int, k: Int = 3, shingleK: Int = 5): DataFrame = {
    val spans = bloomSpanFold(col("text"), bloomBits, numBits, k, shingleK)
    stream.select(col("doc_id").as("in_id"),
        graft.functions.Text.tokens(lower(col("text"))).as("toks"),
        spans.as("spans"))
      .withColumn("kept", filter(col("toks"), (t, i) =>
        !exists(col("spans"), sp =>
          (i + 1) >= sp.getField("start") &&
            (i + 1) <= sp.getField("last") + (shingleK - 1))))
      .select(col("in_id"),
        size(col("toks")).cast("long").as("n_toks"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_cut"),
        array_join(col("kept"), " ").as("cleaned_text"))
  }

  /** Ingest-time eval-set DECONTAMINATION screen — the d35/d73
    * streaming twin: arriving docs probe a Bloom filter built over the
    * persisted eval 13-gram index (`Dedup.bloomBuild` over the d73
    * `eval_grams/` artifact) ENTIRELY in-row — the same distinct
    * 13-gram polyHash fingerprints as the batch screen, counted
    * against the bloom in one array pass. Stateless, zero-shuffle,
    * replay-identical. The bloom has no false negatives (no truly
    * contaminated doc passes clean); a false positive at worst
    * inflates n_hit by a stray gram — screen semantics, the same
    * honest trade as streamSpanScreen. Emits the d35 verdict unit
    * (doc_id, n_grams, n_hit, overlap, drop_doc at overlap ≥ 0.5);
    * gram-free docs report 0 hits and never divide by zero. */
  def streamDecontaminate(stream: DataFrame, bloomBits: Array[Long],
                          numBits: Int, k: Int = 3,
                          gramK: Int = 13): DataFrame = {
    import graft.operators.Dedup
    val hs = array_distinct(transform(
      graft.functions.Native.wordShingles(
        graft.functions.Text.tokens(lower(col("text"))), gramK),
      sh => graft.functions.Native.polyHash(sh, 1000003L)))
    stream
      .withColumn("hs2", hs)
      .withColumn("n_grams", size(col("hs2")).cast("long"))
      .withColumn("n_hit", size(filter(col("hs2"),
        h => Dedup.bloomMightContain(bloomBits, h, numBits, k))).cast("long"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        when(col("n_grams") > 0,
          col("n_hit").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)).as("overlap"))
      .withColumn("drop_doc", (col("overlap") >= 0.5).cast("int"))
  }

  /** Ingest-time per-DOMAIN admission cap — the d32 streaming twin:
    * at most `cap` documents ever land per domain, enforced by ONE
    * long of keyed state (admitted-so-far) via
    * flatMapGroupsWithState — state scales with live domains, not
    * history, the latestPerKey posture. Within a micro-batch rows
    * admit in doc_id order (the batch query's rank order), so a
    * REPLAYED epoch re-makes identical decisions from the checkpoint
    * state and the idempotent sink's exactly-once contract holds.
    * The semantic seam vs batch d32, stated honestly: batch ranks the
    * whole corpus by doc_id; the stream admits in arrival order
    * across epochs (first-come) — the only cap a one-pass system can
    * enforce without buffering the corpus. NoTimeout: domain state is
    * one counter that must live as long as the cap does (event-time
    * TTL would re-open a capped domain — wrong here by design). */
  def streamDomainCap(stream: DataFrame, cap: Long): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("domain").cast("string"), col("doc_id").cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (domain, rows, state) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = math.max(0L, cap - admitted)
          val take = rows.map(_._2).toSeq.sorted.take(
            math.min(room, Int.MaxValue.toLong).toInt)
          if (take.nonEmpty) state.update(admitted + take.size)
          take.iterator.zipWithIndex.map { case (id, i) =>
            (domain, admitted + i + 1L, id)
          }
      }
      .toDF("domain", "rk", "doc_id")
  }

  /** Ingest-time IMAGE near-dup screen — the m5 streaming twin:
    * arriving image payloads decode + perceptually hash per partition
    * (real dHash over real pixels, `Multimodal.hashImages`), then
    * band-join a STATIC hashed corpus on the shared
    * `Dedup.bandChunks` layout — stream-static and STATELESS. A
    * re-uploaded or merely re-brightened image is caught at ingest;
    * a content hash would miss the latter. Emits
    * (in_id, match_id, hamming) within `maxHamming`; undecodable
    * payloads drop (null hash), never fail the stream. Per-row
    * first-matching-band dedup (the streamNearDupScreen trick) keeps
    * it stateless.
    *
    * @param corpusBands static side — `Dedup.bandChunks` over
    *   `Multimodal.hashImages` output ((id, dhash, band, chunk) rows),
    *   MATERIALIZED by the caller (cache or a written bands table):
    *   Spark re-executes the static plan per micro-batch, so an
    *   unbanded corpus here would redo the 4-way band explosion —
    *   and an unhashed one the full decode — every batch. */
  def streamImagePhashScreen(stream: Dataset[(Long, Array[Byte])],
                             corpusBands: DataFrame,
                             maxHamming: Int = 3): DataFrame = {
    import graft.operators.{Dedup, Multimodal}
    val s = Dedup.bandChunks(
        Multimodal.hashImages(stream).toDF()
          .filter(col("dhash").isNotNull).select("id", "dhash"),
        "id", "dhash")
      .withColumnRenamed("id", "in_id").withColumnRenamed("dhash", "in_hash")
    val c = corpusBands
      .withColumnRenamed("id", "match_id").withColumnRenamed("dhash", "match_hash")
    bandedHammingScreen(s, c, maxHamming)
  }

  /** Ingest-time stratified (mixture-balancing) sampler — the
    * streaming twin of the batch d25 query. `stratumCounts` is a
    * STATIC (lang, source, cnt, mincnt) rates table built from the
    * reference corpus (e.g. the previous mixture report) and
    * MATERIALIZED by the caller; arriving documents join it
    * (broadcast) and pass the divisionless portable-hash gate
    * (h mod M)·cnt < mincnt·M. Stateless AND deterministic per key —
    * a replayed micro-batch makes the identical keep/drop decisions,
    * which is exactly what the idempotent exactly-once sink needs
    * (a rand()-based sampler would re-roll on recovery).
    *
    * Unknown-stratum contract: a (lang, source) stratum with NO row in
    * the rates table — a new language/source appearing mid-stream —
    * passes through UNSAMPLED (keep-all). The rates table encodes the
    * mixture seen at its build time; silently dropping a stratum it has
    * never seen would lose a new data source with no signal, whereas
    * keeping it over-represents it only until the next rates rebuild
    * folds it in. The keep-all branch is a null test, so decisions stay
    * deterministic under replay. */
  def streamStratifiedSample(stream: DataFrame,
                             stratumCounts: DataFrame): DataFrame = {
    val M = 1000003L
    stream.join(broadcast(stratumCounts), Seq("lang", "source"), "left_outer")
      .filter(col("cnt").isNull ||
        graft.functions.Text.portableHash(col("doc_id")) % M *
          col("cnt") < col("mincnt") * M)
      .drop("cnt", "mincnt")
  }

  /** Ingest-time temperature-scaled mixture sampler — the streaming
    * twin of the batch `d38_temperature_mix`: arriving docs join a
    * STATIC broadcast per-source table of (cnt, target) — computed
    * once from the reference corpus by the d38 aggregates (target =
    * floor(sqrt(mincnt·cnt)), the α=1/2 flattening) — and pass the
    * same divisionless portable-hash gate. Stateless AND
    * deterministic per doc_id, so replayed micro-batches make
    * identical keep/drop decisions (the idempotent exactly-once sink's
    * requirement; rand() would re-roll on recovery). Sources absent
    * from the table pass unsampled (the d25 twin's left-outer rule:
    * new sources are kept until the next rate refresh). */
  def streamTemperatureMix(stream: DataFrame,
                           sourceTargets: DataFrame): DataFrame = {
    val M = 1000003L
    stream.join(broadcast(sourceTargets), Seq("source"), "left_outer")
      .filter(col("cnt").isNull ||
        graft.functions.Text.portableHash(col("doc_id")) % M *
          col("cnt") < col("target") * M)
      .drop("cnt", "target")
  }

  /** Ingest-time curriculum routing — the d58 streaming twin: arriving
    * documents score through the SAME shared quality kernel
    * (`Text.docQualityScore` — one definition, batch and stream cannot
    * drift) and tag their curriculum phase at the batch-trained tertile
    * thresholds (shipped as two doubles, exactly like
    * streamPerplexityRoute ships its thresholds — the stream never
    * recomputes corpus percentiles); the deterministic shuffle key
    * rides along so downstream shard writers can order within phase.
    * Stateless, shuffle-free, replay-identical. */
  def streamCurriculumRoute(stream: DataFrame, t1: Double, t2: Double): DataFrame =
    stream
      .withColumn("score", graft.functions.Text.docQualityScore(col("text")))
      .withColumn("phase",
        when(col("score") >= lit(t2), lit(1))
          .when(col("score") >= lit(t1), lit(2))
          .otherwise(lit(3)))
      .withColumn("shuffle_key",
        graft.functions.Text.portableHash(col("doc_id")))

  /** Ingest-time content-type routing — the m18 streaming twin:
    * arriving payloads sniff through the SAME shared magic-byte
    * kernel (`Multimodal.sniffMime`/`mimeRoute` — one definition, so
    * batch and stream verdicts cannot drift) and tag the decoder
    * family they fan out to. Stateless, shuffle-free,
    * replay-identical: the sniff reads only the row's own bytes, so a
    * recovered micro-batch re-derives identical routes (the
    * idempotent sink's requirement). */
  def streamMimeRoute(stream: DataFrame): DataFrame =
    stream
      .withColumn("mime", graft.operators.Multimodal.sniffMime(col("payload")))
      .withColumn("route", graft.operators.Multimodal.mimeRoute(col("mime")))

  /** Live rate-anomaly flagging — the q67 streaming twin: arriving
    * (user_id, hour, cnt) rows flag against the batch-trained per-user
    * history stats (user_id, n_hours, s1, s2 — q67's window sums
    * shipped as an artifact, the streamPerplexityRoute posture) with
    * the SAME divisionless integer z²-test, so stream and batch
    * verdicts cannot fork: (cnt·n − S1)² > 4·(n·S2 − S1²) above the
    * mean. Stateless: one broadcast left join + an in-row integer
    * predicate — the stream never recomputes corpus history; users
    * with no history never flag (coalesce to false). */
  def streamAnomaly(counts: DataFrame, stats: DataFrame): DataFrame = {
    val dev = col("cnt") * col("n_hours") - col("s1")
    counts.join(broadcast(stats), Seq("user_id"), "left")
      .withColumn("is_anomaly", coalesce(
        dev > 0L && dev * dev >
          lit(4L) * (col("n_hours") * col("s2") - col("s1") * col("s1")),
        lit(false)))
      .select(col("user_id"), col("hour"), col("cnt"), col("is_anomaly"))
  }

  /** Ingest-time DSIR screening — the d61 streaming twin: arriving
    * documents score IN-ROW through the SAME shared hashed-bigram
    * kernels (`Text.dsirBuckets`/`dsirSum`) against the two
    * batch-trained 1024-bucket count models, shipped as broadcast
    * array literals (the model-is-an-artifact posture); rows below the
    * batch-derived importance threshold drop. Stateless, shuffle-free
    * (one in-row fold per model), replay-identical. */
  def streamDsirSelect(stream: DataFrame, targetModel: Array[Long],
                       rawModel: Array[Long], minScore: Double): DataFrame = {
    val bkts = graft.functions.Text.dsirBuckets(col("text"))
    stream
      .withColumn("t_sum", graft.functions.Text.dsirSum(bkts, targetModel))
      .withColumn("r_sum", graft.functions.Text.dsirSum(bkts, rawModel))
      .withColumn("score",
        col("t_sum").cast("double") / col("r_sum").cast("double"))
      .filter(col("score") >= lit(minScore))
  }

  /** Ingest-time epoch upsampling — the d59 streaming twin: arriving
    * documents expand into their epoch copies against a batch-trained
    * per-language mixture artifact (lang, cnt, target — the d59
    * aggregate, shipped to the stream exactly like streamCellRoute
    * ships centroids); the copy rule is the SAME integer arithmetic
    * (target DIV cnt base copies + the hash-thresholded fractional
    * residual), so stream and batch epochs cannot drift. Unknown
    * languages pass through with one copy — the mixture never drops a
    * document at ingest. Stateless and shuffle-free: one broadcast
    * left join + an in-row sequence explode, replay-deterministic. */
  def streamEpochUpsample(stream: DataFrame, langTargets: DataFrame): DataFrame = {
    val nCopies = when(col("cnt").isNull, lit(1L)).otherwise(
      expr("target DIV cnt") +
        when(graft.functions.Text.portableHash(col("doc_id")) % col("cnt")
          < col("target") % col("cnt"), lit(1L)).otherwise(lit(0L)))
    stream.join(broadcast(langTargets), Seq("lang"), "left_outer")
      .withColumn("n_copies", nCopies)
      .filter(col("n_copies") > 0)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
      .drop("cnt", "target", "n_copies")
  }

  /** Ingest-time BM25 keyword screen — the streaming twin of the batch
    * `d29_bm25` retrieval query: arriving documents score against a
    * FIXED term list with df/corpus stats baked in as literals
    * (computed once from the reference corpus, e.g. by the d29 df/stats
    * aggregates), and rows under `minScore` drop. Completely STATELESS
    * and shuffle-free: tf per term is a per-row array count
    * (`size(filter(tokens, = term))`), the score a left-to-right fold
    * over the term list — no explode, no join, no aggregation state,
    * so the screen composes with any sink and replays
    * deterministically. Rational log-free idf, matching d29. */
  def streamKeywordScreen(stream: DataFrame, termDfs: Seq[(String, Long)],
                          nDocs: Long, avgdl: Double,
                          minScore: Double): DataFrame = {
    require(termDfs.nonEmpty, "termDfs must list at least one (term, df)")
    val ts = split(trim(lower(col("text"))), "\\s+")
    val dl = size(ts).cast("double")
    val score = termDfs.map { case (term, df) =>
      val tf = size(filter(ts, t => t === lit(term))).cast("double")
      val idf = (lit(nDocs.toDouble) - df + lit(0.5)) / (lit(df.toDouble) + lit(0.5))
      when(tf > 0,
        idf * (tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / lit(avgdl))))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    stream.withColumn("bm25", score).filter(col("bm25") >= minScore)
  }

  /** Ingest-time model-based quality gate — the d33 streaming twin:
    * arriving docs score through the SAME hashed-feature linear
    * classifier (one shared `Text.classifierRawScore` definition, so
    * batch and stream can never drift) and rows whose logit falls
    * under `minLogit` drop. Completely STATELESS and shuffle-free —
    * the score is one narrow per-row fold over the token array (no
    * explode, no join, no aggregation state), so the screen composes
    * with any sink and replays bit-identically: integer weight sums,
    * one deterministic double division per row. */
  def streamQualityScreen(stream: DataFrame, minLogit: Double): DataFrame = {
    val toks = graft.functions.Text.tokens(lower(col("text")))
    stream
      .withColumn("logit",
        graft.functions.Text.classifierRawScore(toks).cast("double") /
          size(toks).cast("double"))
      .filter(col("logit") >= minLogit)
  }

  /** Ingest-time Gopher-rules gate — the d36 streaming twin: arriving
    * docs evaluate the full Rae et al. table-A1 battery through ONE
    * pass of the native `GopherStats` expression and the SHARED
    * `Text.gopherPass` boolean (one gate definition — batch report
    * and ingest screen cannot drift); only survivors land. Stateless,
    * zero-shuffle, scan-speed, replay-identical — the heuristic
    * pre-filter most pretraining pipelines run before any
    * model-based screen (streamQualityScreen is the model stage). */
  def streamGopherScreen(stream: DataFrame): DataFrame =
    stream
      .withColumn("g", graft.functions.Native.gopherStats(col("text")))
      .filter(graft.functions.Text.gopherPass(col("g")))
      .drop("g")

  /** Ingest-time chunking — the d54 streaming twin: arriving documents
    * split into sliding-window token chunks through the SAME shared
    * kernel (`Text.ragChunks`, 64/48 geometry) the batch query uses,
    * so stream and batch chunk boundaries cannot drift. Pure in-row
    * projection + explode: stateless, shuffle-free, replay-identical —
    * the front of a streaming chunk→embed→route ingest (streamCellRoute
    * consumes the other end). */
  def streamRagChunks(stream: DataFrame,
                      chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    val toks = graft.functions.Text.tokens(lower(col("text")))
    stream
      .select(col("doc_id"),
        explode(graft.functions.Text.ragChunks(toks, chunkSize, stride))
          .as("c"))
      .select(col("doc_id"),
        col("c")("chunk_idx").as("chunk_idx"),
        col("c")("start_tok").as("start_tok"),
        size(col("c")("chunk")).as("n_tok"),
        concat_ws(" ", col("c")("chunk")).as("chunk_text"))
  }

  /** Ingest-time FIM rewrite — the d70 streaming twin: arriving
    * documents pass through the SAME `Text.fimTransform` kernel
    * (hash-gated PSM layout, hash-derived cuts), so stream and batch
    * infilling examples cannot drift. Pure in-row projection:
    * stateless, shuffle-free, replay-identical. */
  def streamFimTransform(stream: DataFrame): DataFrame =
    stream
      .select(col("doc_id"),
        graft.functions.Text.fimTransform(col("doc_id"), col("text")).as("f"))
      .select(col("doc_id"), col("f")("fim_applied").as("fim_applied"),
        col("f")("n_prefix").as("n_prefix"),
        col("f")("n_middle").as("n_middle"),
        col("f")("n_suffix").as("n_suffix"),
        col("f")("psm_text").as("psm_text"))

  /** Ingest-time shard routing — the d69 streaming twin: arriving
    * documents take their training shard + permutation sort key from
    * the SAME `Text.shardOf`/`portableHash2` kernels, with the shard
    * count shipped from the batch derivation (the streamEpochUpsample
    * ship-the-artifact pattern — ingest must not re-derive a count
    * that depends on corpus size mid-stream). The within-shard
    * POSITION is deliberately absent: a global position is an
    * ever-growing state on an unbounded stream; the sort key is what
    * the downstream shard writer sorts by at file-close time.
    * Stateless, shuffle-free, replay-identical. */
  def streamShardRoute(stream: DataFrame, nShards: Long): DataFrame =
    stream.select(col("doc_id"),
      graft.functions.Text.shardOf(col("doc_id"), nShards).as("shard"),
      graft.functions.Text.portableHash2(col("doc_id")).as("sort_key"))

  /** Ingest-time robots.txt screen — the d72 twin: arriving URLs gate
    * on the SAME longest-prefix-match rule (RFC 9309 — longest
    * matching rule wins, allow on ties, default allow) against a
    * STATIC per-domain rule table shipped PRE-GROUPED as (domain,
    * rules array). Grouping the rules per domain is what keeps the
    * screen STATELESS: the batch query's per-doc argmax aggregation
    * becomes a pure in-row `aggregate` fold over the ≤ handful of
    * matching rules in the row's own array — one broadcast left join,
    * no groupBy state, replay-identical. */
  def streamRobotsScreen(stream: DataFrame, domainRules: DataFrame): DataFrame = {
    // best = argmax (len(rpath), allow, rpath) over prefix-matching
    // rules, folded in-row; null when nothing matches (default allow)
    val best = aggregate(
      filter(col("rules"), r => col("path").startsWith(r.getField("rpath"))),
      lit(null).cast(
        "struct<l:int,a:int,rp:string>"),
      (acc, r) => {
        val cand = struct(
          length(r.getField("rpath")).as("l"),
          r.getField("allow").as("a"),
          r.getField("rpath").as("rp"))
        when(acc.isNull || cand > acc, cand).otherwise(acc)
      })
    stream.join(broadcast(domainRules), Seq("domain"), "left_outer")
      .withColumn("m", best)
      .select(col("doc_id"), col("domain"), col("path"),
        col("m")("rp").as("matched_rule"),
        coalesce(col("m")("a") === 1, lit(true)).as("allowed"))
  }

  /** Ingest-time WARC record split — the m21 twin: arriving crawl
    * containers expand into their Content-Length-framed records
    * through the SAME `Multimodal.decodeWarcRecords` per-partition
    * parser (one parser context per task, payloads never shuffle,
    * malformed containers yield the null row instead of failing the
    * batch). Stateless flatMap: no watermark, no state store,
    * replay-identical — the very front of a crawl ingest, upstream of
    * every text screen in this file. */
  def streamWarcIngest(stream: DataFrame): DataFrame = {
    import stream.sparkSession.implicits._
    graft.operators.Multimodal.decodeWarcRecords(
        stream.select(col("doc_id"), col("payload"))
          .as[(Long, Array[Byte])])
      .toDF()
  }

  /** Ingest-time soft-dedup weighting — the d74 twin: arriving
    * documents take sample_weight = 1/n_copies against a STATIC
    * commonness table (the d74 batch aggregate of the historical
    * corpus, shipped like streamEpochUpsample's mixture artifact);
    * content unseen in history weights 1.0 — ingest never drops or
    * zero-weights a novel doc. Stateless: one broadcast left join +
    * one in-row division, replay-identical. */
  def streamSoftDedupWeights(stream: DataFrame, commonness: DataFrame): DataFrame =
    stream
      .withColumn("h", md5(lower(col("text"))))
      .join(broadcast(commonness), Seq("h"), "left_outer")
      .withColumn("n_copies", coalesce(col("n_copies"), lit(1L)))
      .select(col("doc_id"), col("n_copies"),
        (lit(1.0) / col("n_copies").cast("double")).as("sample_weight"))

  /** Ingest-time LEAKAGE-SAFE split routing — d81's streaming twin:
    * arriving docs join the persisted near-dup cluster map (the same
    * d47/d81 `cluster_map` artifact; the caller materializes it) and
    * route train/val/test by the SAME portable hash of the cluster id
    * — a doc near-duplicating anything already clustered lands in its
    * cluster's split, a fresh doc hashes its own id (exactly the
    * batch singleton rule, so stream and batch verdicts agree doc for
    * doc — spec-pinned). Stateless stream-static join + an in-row
    * gate: no state store, replay-identical. The honest seam (the
    * streamDomainCap convention): a NEW near-dup pair arriving wholly
    * after the map was built routes by its members' own ids until the
    * next map generation — ingest-time routing is as fresh as the
    * last index build, the price every persisted-artifact screen in
    * this suite states. */
  def streamClusterSplit(stream: DataFrame, clusterMap: DataFrame): DataFrame =
    stream
      .join(broadcast(clusterMap), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("bucket", Text.portableHash(col("cluster")) % 100L)
      .withColumn("split",
        when(col("bucket") < 90L, "train")
          .when(col("bucket") < 95L, "val").otherwise("test"))

  /** Ingest-time VERIFIED near-dup screen — the d49 cascade at the
    * stream boundary: arriving docs compute the d6 MinHash signature
    * IN-ROW (`Dedup.minhashSignatureExpr` — no explode/groupBy state),
    * band against a STATIC corpus signature table (built once via
    * `Dedup.minhashSignatures(corpus)` and materialized by the caller),
    * and the O(len²) Levenshtein verify runs in the SAME micro-batch —
    * corpus text joins by id only per candidate PAIR, never per shared
    * band. Pairs sharing several bands dedup PER-ROW (both signatures
    * travel with the row, so "is this the FIRST band whose buckets
    * agree?" is a pure expression over the shared `Dedup.bucketOf`
    * geometry — the bandedHammingScreen trick; a stateful
    * dropDuplicates would grow forever on a stream). STATELESS
    * stream-static equi-joins only: no watermark, no state store, and
    * a replayed micro-batch emits the identical verified pairs. */
  def streamEditVerify(stream: DataFrame, corpusSigs: DataFrame,
                       corpusTexts: DataFrame, maxDist: Long): DataFrame = {
    import graft.operators.Dedup
    val bands = 16
    val sIn = stream.select(col("doc_id").as("in_id"),
        substring(col("text"), 1, 256).as("in_prefix"),
        Dedup.minhashSignatureExpr(col("text")).as("in_sig"))
      .select(col("in_id"), col("in_prefix"), col("in_sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => Dedup.bucketOf(col("in_sig"), b))).as(Seq("band", "bucket")))
    val c = corpusSigs.select(col("doc_id").as("match_id"),
        col("signature").as("match_sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => Dedup.bucketOf(col("signature"), b))).as(Seq("band", "bucket")))
    val firstSharedBand = (0 until bands).reverse.foldLeft(lit(-1): Column) {
      (acc, b) =>
        when(Dedup.bucketOf(col("in_sig"), lit(b)) ===
          Dedup.bucketOf(col("match_sig"), lit(b)), lit(b)).otherwise(acc)
    }
    sIn.join(c, Seq("band", "bucket"))
      .filter(col("in_id") =!= col("match_id") &&
        col("band") === firstSharedBand)
      .join(corpusTexts.select(col("doc_id").as("match_id"),
        substring(col("text"), 1, 256).as("match_prefix")), "match_id")
      .select(col("in_id"), col("match_id"),
        levenshtein(col("in_prefix"), col("match_prefix"))
          .cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** Ingest-time perplexity routing — the d48 batch bucketing's
    * streaming twin: arriving documents score through a BOUNDED head
    * vocabulary of (bigram → corpus frequency) and route to
    * head/middle/tail at the batch-trained thresholds. The LM ships as
    * a trained ARTIFACT (the capped vocab map + two threshold doubles),
    * exactly like streamCellRoute ships centroids — the stream never
    * recomputes corpus statistics. Out-of-vocabulary bigrams count the
    * floor frequency 1 (the head-vocab convention: everything below the
    * cap is indistinguishable from hapax). Completely STATELESS and
    * shuffle-free — the score is one in-row fold over the document's
    * bigram array against a map literal (no explode, no join, no
    * aggregation state), so the route composes with any sink and
    * replayed micro-batches decide identically. Keep the vocab ≲ 4096
    * entries (the literal-size bound — streamCellRoute's documented
    * Janino caveat, an order louder here because keys are strings). */
  def streamPerplexityRoute(stream: DataFrame, vocab: Map[String, Long],
                            t1: Double, t2: Double): DataFrame = {
    require(vocab.nonEmpty && vocab.size <= 4096,
      s"head vocab must hold 1..4096 entries, got ${vocab.size}")
    val m = typedlit(vocab)
    val toks = graft.functions.Text.tokens(lower(col("text")))
    val bgs = graft.functions.Native.wordShingles(toks, 2)
    val meanCf = aggregate(bgs, lit(0L),
        (acc, b) => acc + coalesce(element_at(m, b), lit(1L)))
      .cast("double") / size(bgs).cast("double")
    stream
      .withColumn("mean_cf", meanCf)
      .withColumn("bucket",
        when(col("mean_cf") < t1, lit("tail"))
          .when(col("mean_cf") < t2, lit("middle"))
          .otherwise(lit("head")))
  }

  /** Ingest-time conversation-structure screen (the d41 batch gate's
    * streaming twin): arriving conversations carry (roles, bodies)
    * array columns and structurally broken rows DROP before landing —
    * wrong opening role, broken alternation, empty turns, trailing
    * user turn, or no full exchange. Completely STATELESS and
    * shuffle-free (every predicate is an in-row array fold — no
    * explode, no join, no aggregation state), so it composes with any
    * sink and replayed micro-batches decide identically (the
    * idempotent exactly-once sink's requirement). ONE shared
    * `graft.functions.Chat` definition with the batch screen, so the
    * two gates can never drift. */
  def streamTurnValidate(stream: DataFrame): DataFrame =
    stream.filter(
      graft.functions.Chat.valid(col("roles"), col("bodies")) === 1L)

  /** Ingest-time duplicate-prompt screen (the d42 batch dedup's
    * streaming twin): arriving conversations fingerprint their first
    * user turn with the SAME shared `Chat.promptFingerprint`
    * expression the batch dedup keys on, then equi-join a STATIC
    * reference prompt table (d42's output, or any (prompt_fp, keep_id)
    * table) — a question the corpus already answers is flagged at
    * ingest, before it lands. Stream-static and STATELESS: only 8-byte
    * fingerprints join, text never shuffles, and replayed micro-
    * batches decide identically. Emits one (in_id, ref_id) row per
    * contaminated arrival. */
  def streamPromptScreen(stream: DataFrame, refPrompts: DataFrame): DataFrame =
    stream
      .withColumn("prompt_fp",
        graft.functions.Chat.promptFingerprint(col("text")))
      .join(refPrompts.select(col("prompt_fp"),
        col("keep_id").as("ref_id")).distinct(), "prompt_fp")
      .select(col("doc_id").as("in_id"), col("ref_id"), col("prompt_fp"))

  /** Ingest-time language-mixing screen — the d46 report computed
    * ENTIRELY in-row (window language votes ride a higher-order
    * `transform` over the segment index range, distinct/majority are
    * array folds over the tiny 4-language alphabet), so the stream is
    * a stateless narrow projection with ZERO shuffles where the batch
    * query needs a keyed agg + windowed argmax. Majority ties break
    * (count desc, lang asc) exactly as d46 — spec-pinned equal to the
    * batch report row-for-row. */
  def streamLangMix(stream: DataFrame): DataFrame = {
    val segLen = 40
    val toks = graft.functions.Text.tokens(col("text"))
    val nSeg = floor((size(toks) + segLen - 1) / segLen).cast("int")
    // guard the range: sequence(0, -1) would default to step -1 and
    // fabricate [0, -1] — two bogus segments. Unreachable today only
    // because Text.tokens("") returns [""] (size 1); the guard keeps
    // stream/batch parity from resting on that incidental invariant.
    val langs = transform(sequence(lit(0), greatest(nSeg, lit(1)) - 1),
      i => graft.functions.Text.langId(
        concat_ws(" ", slice(toks, i * segLen + 1, lit(segLen)))))
    def cnt(lang: String) =
      size(filter(col("langs"), l => l === lang))
    stream
      .select(col("doc_id"), langs.as("langs"))
      .select(col("doc_id"), size(col("langs")).as("n_segments"),
        size(array_distinct(filter(col("langs"), l => l =!= "und")))
          .cast("long").as("n_langs"),
        cnt("de").as("c_de"), cnt("en").as("c_en"), cnt("es").as("c_es"))
      .select(col("doc_id"), col("n_segments"), col("n_langs"),
        (col("n_langs") >= 2).as("is_mixed"),
        when(col("c_de") > 0 && col("c_de") >= col("c_en") &&
          col("c_de") >= col("c_es"), "de")
          .when(col("c_en") > 0 && col("c_en") >= col("c_es"), "en")
          .when(col("c_es") > 0, "es")
          .otherwise("und").as("majority_lang"))
  }

  /** Ingest-time audio screening: arriving (doc_id, payload) WAV rows
    * decode through the full [[graft.operators.WavCodec]] family
    * (PCM16 / µ-law / IMA ADPCM) and keep only clips that are loud
    * enough and awake enough — the dead-air drop an audio ingest
    * pipeline runs FIRST, before any expensive featurization.
    * STATELESS narrow map (the m13 analysis fold per row, zero
    * shuffles, no watermark state); malformed payloads surface with
    * keep=false and null stats rather than failing the stream. */
  def streamAudioScreen(stream: DataFrame, minRms: Double,
                        maxSilenceRatio: Double): DataFrame = {
    import stream.sparkSession.implicits._
    graft.operators.Multimodal
      .audioStats(stream.select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])])
      .toDF()
      .select(col("id").as("doc_id"), col("n_samples"), col("rms"),
        col("silence_ratio"),
        (col("rms").isNotNull && col("rms") >= minRms &&
          col("silence_ratio") <= maxSilenceRatio).as("keep"))
  }

  /** Ingest-time subword tokenization with a TRAINED merge table
    * (d45_bpe_train's output, rank-ordered): each arriving document
    * tokenizes word-by-word through `BpeTrain.encode` and reports its
    * subword count and chars-per-subword compression — the streaming
    * twin of applying the learned vocabulary, the first
    * tokenization-dependent stat a training-data ingest pipeline
    * needs (length buckets, packing plans, token budgets). STATELESS
    * narrow map: the merge list is a small driver-side value shipped
    * with the task closure, so the stream runs at scan speed with
    * zero shuffles and no watermark state. */
  def streamBpeTokenize(stream: DataFrame,
                        merges: Seq[(String, String)]): DataFrame = {
    import stream.sparkSession.implicits._
    stream.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val words =
            if (text == null) Array.empty[String]
            else text.trim.split("\\s+").filter(_.nonEmpty)
          var n = 0
          words.foreach(w => n += graft.operators.BpeTrain.encode(w, merges).length)
          val chars = if (text == null) 0 else text.length
          (id, n, chars, if (n == 0) 0.0 else chars.toDouble / n)
        }
      }
      .toDF("doc_id", "n_subwords", "n_chars", "chars_per_subword")
  }

  /** Incremental ANN screening: arriving query vectors score against a
    * STATIC PQ-encoded corpus — the streaming twin of the batch
    * `e7_pq_adc` query. Stream-static and STATELESS: each arriving
    * vector computes its (m × ks) distance LUT once (narrow map), joins
    * the corpus CODES (m small ints per vector, not embeddings — the
    * 32×-narrower side is what makes the per-batch re-join viable), and
    * keeps candidates under `maxAdc`. The caller MATERIALIZES
    * `corpusCodes` (cache or a written codes table) — Spark re-executes
    * the static plan per micro-batch.
    *
    * @param corpusCodes static side: (cand_id, code array<int>), e.g.
    *   built once via `Native.pqEncode` over the corpus.
    */
  def streamPqScreen(stream: DataFrame, corpusCodes: DataFrame,
                     codebook: Array[Double], maxAdc: Double,
                     m: Int = 8, ks: Int = 16, subDim: Int = 8): DataFrame = {
    val q = stream.select(col("vec_id").as("q_id"),
      graft.functions.Native.pqLut(col("embedding"), codebook, m, ks, subDim).as("lut"))
    q.join(corpusCodes, col("cand_id") =!= col("q_id"))
      .select(col("q_id"), col("cand_id"),
        graft.functions.Native.pqAdc(col("lut"), col("code"), ks).as("adc"))
      .filter(col("adc") <= maxAdc)
  }

  /** Semantic cell routing of an embedding stream against a PERSISTED
    * IVF index (`Similarity.writeIvfIndex` layout): each arriving
    * vector gets the argmax-cosine cell of the index's `centroids/`
    * table — the ingest-side router that directs every vector to its
    * cell's partition before it lands next to its neighbors (the
    * streaming twin of the batch cell-assignment geometry e3/e13/e19
    * share). STATELESS by construction: the centroids are a bounded
    * one-time collect riding the projection as a codegen reference
    * object (`Similarity.cellRouteExpr` — the SAME kernel the index
    * build assigns with, so persisted cells and ingest routing cannot
    * drift), so there is no per-batch static-side re-scan, no state
    * store, and a replayed epoch routes identically. Generated code is
    * constant-size at any nlist (the old inlined-literal form's ~128
    * Janino bound is gone), and above `FlatAssignCap` centroids the
    * route goes two-level (⌈√nlist⌉ supers, then within-branch — the
    * e19 shape), matching the batch side's autoNlist growth. */
  def streamCellRoute(stream: DataFrame, indexPath: String): DataFrame = {
    val withCids = stream.sparkSession.read.parquet(s"$indexPath/centroids")
      .orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    stream.select(col("vec_id"),
      graft.operators.Similarity.cellRouteExpr(
        withCids.map(_._1), withCids.map(_._2))(col("embedding")).as("cell"))
  }

  /** The KSQL TABLE materialization over a CDC stream: latest record
    * per key, continuously updated (use OutputMode.Update). State is
    * ONE small row per key (max_by keeps the argmax struct), so it
    * scales with live keys, not history — the streaming twin of the
    * batch `t24_cdc_latest` query. */
  def latestPerKey(cdc: DataFrame, keyCol: String, tsCol: String,
                   valueCols: Seq[String]): DataFrame =
    cdc.groupBy(col(keyCol))
      .agg(max_by(struct((tsCol +: valueCols).map(col): _*), col(tsCol)).as("latest"))
      .select(col(keyCol) +: (tsCol +: valueCols).map(c => col(s"latest.$c").as(c)): _*)

  /** SINK stage: continuous parquet append with checkpointing — the
    * analog of the reference's SINK/DDL statement pair (target schema =
    * the DataFrame schema). */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  /** Exactly-once parquet sink for `foreachBatch`: each micro-batch
    * lands in its own `batch=<epoch>` hive partition with overwrite,
    * so a REPLAYED epoch (failure recovery redelivers the same batch
    * id) overwrites its own previous output instead of appending
    * duplicates — idempotent-write exactly-once, the standard pattern
    * when the downstream store has no transactions. Readers get the
    * epoch as a normal partition column and prune on it. Pair with
    * `Tables.compact` for small-file maintenance at high trigger
    * rates. */
  def idempotentParquetSink(path: String): (DataFrame, Long) => Unit =
    (batch, epochId) =>
      batch.write.mode("overwrite").parquet(s"$path/batch=$epochId")

  /** Per-epoch sequence packing landed exactly-once — the streaming
    * twin of the batch `d28_sequence_pack` query, as a `foreachBatch`
    * body. Non-time windows are unsupported on streaming DataFrames,
    * so the packing window runs INSIDE foreachBatch where the
    * micro-batch is an ordinary batch DataFrame. Sequences are scoped
    * (epoch, shard, seq) — epochs pack independently with no
    * cross-batch state — and `Packing.sequencePack` is deterministic
    * in the batch CONTENT alone (portable-hash order, all-integer
    * chunk math), so a replayed epoch packs identically and the
    * idempotent `batch=<epoch>` overwrite makes redelivery a no-op:
    * the d25-sampler exactly-once recipe applied to packing. */
  def epochSequencePackSink(path: String, seqLen: Long = 512L,
                            nShards: Long = 8L): (DataFrame, Long) => Unit =
    (batch, epochId) =>
      idempotentParquetSink(path)(
        graft.operators.Packing.sequencePack(batch, seqLen, nShards), epochId)

  /** CDC APPLY onto the copy-on-write table — the reference's actual
    * production consumer: its 4-stage KSQL pipeline exists to land
    * T24 change records in a continuously maintained TABLE
    * (reference src/controllers/index.js:573-610 RAW →
    * SINK/DDL_TABLE), and this is that materialization on the §2e
    * `MergeTable` — each micro-batch collapses to latest-per-key
    * (the `latestPerKey` posture applied WITHIN the epoch: several
    * updates to one key in a batch apply as their newest), splits on
    * the op column (delete markers remove keys, everything else
    * upserts), and lands via COW merge — only files holding touched
    * keys rewrite, a snapshot reader never sees a half-applied epoch
    * (visibility is one manifest rename).
    *
    * Exactly-once: the apply is IDEMPOTENT IN STATE — a replayed
    * epoch (failure redelivers the same batch id) re-applies the same
    * collapsed rows, landing the identical table CONTENT (the version
    * counter advances; content, which is what a reader queries, does
    * not change). Epochs arrive in offset order, so a later epoch's
    * value for a key always applies after an earlier one's.
    * Within-epoch ties on `tsCol` resolve by max_by's struct
    * comparison — give CDC records monotone timestamps (T24 records
    * carry them) for a fully deterministic replay. Spec-pinned:
    * multi-update epochs, cross-epoch update, delete, and a
    * double-applied epoch.
    *
    * ONE COMMIT PER EPOCH: the collapsed batch PERSISTS for the
    * epoch's duration (it feeds the upsert/delete splits and the
    * apply — without the cache each would re-run the groupBy), and
    * upserts + deletes land through `MergeTable.applyBatch`'s
    * collapsed form as a SINGLE manifest version, in three Spark
    * actions: one validation aggregate (which also fills the cache;
    * the collapse already makes keys unique and the two sides
    * disjoint, so only NULL keys and emptiness are checked — an empty
    * epoch stops here and publishes nothing), one candidate probe and
    * one staging write (a single file while the rewrite is small)
    * whose file stats come from the written footers. (The creating epoch's delete markers match
    * nothing by construction — the collapse leaves each key either
    * upsert or delete, and the table holds only the epoch's own
    * upserts.) */
  def mergeApplySink(path: String, keyCol: String, tsCol: String,
                     opCol: String = "op",
                     deleteOp: String = "D"): (DataFrame, Long) => Unit =
    (batch, _) => {
      import graft.sources.MergeTable
      val spark = batch.sparkSession
      val valueCols = batch.columns.toSeq
        .filter(c => c != keyCol && c != tsCol)
      val latest = latestPerKey(batch, keyCol, tsCol, valueCols).persist()
      try {
        val dels = latest.filter(col(opCol) === deleteOp)
          .select(col(keyCol))
        val ups = latest.filter(col(opCol) =!= deleteOp).drop(opCol)
        // track per-file key ranges when the key supports them (LONG,
        // or STRING — the T24 RECID shape): applies then find
        // candidate files from manifest metadata alone instead of a
        // per-epoch base scan
        val stats = Some(keyCol).filter(k =>
          ups.schema(k).dataType == org.apache.spark.sql.types.LongType ||
            ups.schema(k).dataType == org.apache.spark.sql.types.StringType)
        if (MergeTable.latestVersion(spark, path) < 0)
          MergeTable.create(ups, path, statsCol = stats)
        else
          MergeTable.applyEpoch(spark, path, ups, dels, keyCol, collapsed = true)
      } finally latest.unpersist()
    }

  /** CDC apply + MAINTAINED ROLLUP in one sink — [[mergeApplySink]]
    * composed with `IncrementalView.maintain`: each micro-batch lands
    * on the COW table (latest-per-key collapse, delete markers,
    * file-pruned merge), then the downstream aggregate advances by
    * applying ONLY that epoch's change feed (manifest-aware — the
    * maintenance step costs the files the epoch touched). This closes
    * the reference's whole production loop in one sink: KSQL CDC
    * records → maintained TABLE → continuously fresh rollup, with
    * both layers idempotent in state (a replayed epoch re-lands identical
    * table content, and the MV redo is deterministic in the feed).
    * The MV lag is at most the current epoch and catches up on the
    * next batch — same single-maintainer convention as the table ops. */
  def mergeApplyWithMvSink(path: String, mvDir: String, keyCol: String,
                           tsCol: String, groupCol: String, sumCol: String,
                           opCol: String = "op",
                           deleteOp: String = "D"): (DataFrame, Long) => Unit = {
    val apply = mergeApplySink(path, keyCol, tsCol, opCol, deleteOp)
    (batch, epochId) => {
      apply(batch, epochId)
      graft.operators.IncrementalView.maintain(
        batch.sparkSession, path, mvDir, keyCol, groupCol, sumCol)
    }
  }

  /** Streaming Count-Min maintenance — the q61 sketch kept fresh by
    * an ingest stream, as a `foreachBatch` body: each micro-batch
    * lands its OWN (i, bucket, cnt) cell table under `batch=<epoch>`
    * (idempotent overwrite — the cells are deterministic in the batch
    * content, so a replayed epoch rewrites identical rows and
    * redelivery is a no-op), and `Cms.readMergedSketch` folds every
    * epoch into the current sketch by cell ADDITION. That mergeability
    * is the whole point of sketch maintenance at 100 TB: the global
    * hot-key state stays KB-sized per epoch, no key-space shuffle,
    * no read-modify-write race — epochs are independent files and the
    * merge is associative. */
  def cmsSketchSink(path: String, keyCol: String): (DataFrame, Long) => Unit =
    (batch, epochId) =>
      idempotentParquetSink(path)(
        graft.operators.Cms.cells(batch, keyCol), epochId)
}
