package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}

import graft.functions.Text

/** Deduplication family for 100 TB document corpora (SURVEY §2c).
  *
  * Shuffle posture: signatures (MinHash/SimHash/fingerprints) are
  * narrow per-row maps computed at the scan; the only shuffles are
  * keyed groupBys/joins on hash keys. No operator materializes an
  * O(n²) cross product — candidate generation is always an equi-join
  * on a bucket key (LSH bands, hamming prefixes, or text prefixes),
  * and exact verification runs only on candidate pairs.
  */
object Dedup {

  /** Exact dedup: group by normalized-text hash, keep the smallest id. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(lower(col(textCol))).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** k-word shingles of a text column (native one-pass expression). */
  def shingles(c: Column, k: Int): Column =
    graft.functions.Native.wordShingles(Text.tokens(lower(c)), k)

  /** Composed-builtins shingler (interpreted lambda + a slice copy per
    * shingle) — kept only to equivalence-test the native expression. */
  private[graft] def shinglesComposed(c: Column, k: Int): Column = {
    val toks = Text.tokens(lower(c))
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Prime modulus: h,a,b < P (~2^31) keeps every a·h+b product exact in
    * a Long, and the whole hash family is plain arithmetic — portable
    * to the DuckDB oracle. */
  val P = 2038074743L

  /** Engine-portable shingle hash (see plans/PolyHash): the identical
    * fold runs in the DuckDB oracle, which is what makes the MinHash
    * pipeline fully oracle-verifiable. */
  def shingleHash(c: Column): Column = graft.functions.Native.polyHash(c, P)

  /** The k permutation constants, deterministic; also embedded in the
    * generated oracle SQL. */
  def minhashPerms(k: Int): (Array[Long], Array[Long]) = permutations(k)

  private def permutations(k: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(7L)
    val pairs = Array.fill(k)((math.abs(rnd.nextLong() % P) + 1, math.abs(rnd.nextLong() % P)))
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** MinHash signatures: k permutations h_i(x) = (a_i·x + b_i) mod P over
    * xxhash64 shingle hashes, aggregated by the single-buffer
    * `MinHashSketch` imperative aggregate (one k-wide buffer instead of
    * k aggregate columns; map-side combine still applies). */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", k: Int = 64,
                        shingleLen: Int = 3): DataFrame = {
    val (pa, pb) = permutations(k)
    docs.select(col(idCol), explode(array_distinct(shingles(col(textCol), shingleLen))).as("shingle"))
      .select(col(idCol), shingleHash(col("shingle")).as("h"))
      .groupBy(idCol)
      .agg(graft.functions.Native.minhashSketch(col("h"), pa, pb, P).as("signature"))
  }

  /** Compose-built-ins formulation (k independent min aggregates) —
    * kept to equivalence-test the imperative sketch. */
  private[graft] def minhashSignaturesComposed(docs: DataFrame, idCol: String = "doc_id",
                                               textCol: String = "text", k: Int = 64,
                                               shingleLen: Int = 3): DataFrame = {
    val (pa, pb) = permutations(k)
    val mins = (0 until k).map { i =>
      min(pmod(col("h") * pa(i) + pb(i), lit(P))).as(s"mh_$i")
    }
    docs.select(col(idCol), explode(array_distinct(shingles(col(textCol), shingleLen))).as("shingle"))
      .select(col(idCol), shingleHash(col("shingle")).as("h"))
      .groupBy(idCol)
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"mh_$i")): _*).as("signature"))
  }

  /** LSH banding: one row per (doc, band) with the band's bucket hash —
    * a polynomial combine of the band's signature components (plain
    * arithmetic, mirrored exactly in the oracle SQL). Docs sharing any
    * (band, bucket) are near-dup candidates. */
  /** The band's bucket hash from a signature column — ONE definition
    * shared by [[minhashBands]] and the stream-side banding
    * (`Pipelines.streamEditVerify`), so batch and stream geometry can
    * never drift. */
  private[graft] def bucketOf(sig: Column, b: Column, rows: Int = 4): Column =
    (0 until rows).foldLeft(lit(0L)) { (acc, r) =>
      (acc * 31 + element_at(sig, (b * rows + r + 1).cast("int"))) % P
    }

  def minhashBands(sigs: DataFrame, idCol: String = "doc_id",
                   bands: Int = 16, rows: Int = 4): DataFrame =
    sigs.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => bucketOf(col("signature"), b, rows))).as(Seq("band", "bucket")))

  /** In-row MinHash signature — the STREAM-side formulation: the same
    * 64-permutation sketch as [[minhashSignatures]] computed as a pure
    * per-row expression over the distinct-shingle array (one array_min
    * per permutation), so a streaming pipeline gets signatures with no
    * explode/groupBy aggregation state. Spec-pinned equal to the
    * aggregate sketch row-for-row. */
  def minhashSignatureExpr(text: Column, k: Int = 64,
                           shingleLen: Int = 3): Column = {
    val (pa, pb) = permutations(k)
    val hs = transform(array_distinct(shingles(text, shingleLen)),
      s => shingleHash(s))
    array((0 until k).map(i =>
      array_min(transform(hs, h => pmod(h * pa(i) + pb(i), lit(P))))): _*)
  }

  /** Candidate pairs from LSH buckets, verified with exact Jaccard over
    * distinct shingle sets; `minJaccard` filters the final answer. */
  def minhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 64, bands: Int = 16,
                      shingleLen: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, k, shingleLen)
    // same canonical exchange on both self-join sides → the signature
    // pass runs once (see simhashNearDups); explicit data-aware count —
    // a keyless count lets AQE coalesce the tiny-bytes band table to
    // ONE partition and serialize the whole self-join (guide §2.5)
    val b = Spread.byKey(minhashBands(sigs, idCol, bands, k / bands),
      col("band"), col("bucket"))
    val cands = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
    val sh = docs.select(col(idCol),
      array_distinct(shingles(col(textCol), shingleLen)).as("sh"))
    cands
      .join(sh.select(col(idCol).as("a_id"), col("sh").as("sh_a")), "a_id")
      .join(sh.select(col(idCol).as("b_id"), col("sh").as("sh_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The d10 winnowing parameters — ONE definition shared by the
    * Column API, the SQL registration (Engine), and the generated
    * oracle SQL, so they can never drift apart. */
  val WinnowK = 3
  val WinnowW = 4
  val WinnowModulus = 1000000000000000L

  /** Winnowing fingerprints: polynomial hash per k-word shingle, then
    * the minimum of every w-wide sliding window of hashes, deduped and
    * sorted. Guarantees any sufficiently-long match between two
    * documents shares a fingerprint — the robust local dedup sketch.
    * Narrow per-row computation (no shuffle); fingerprints typically
    * feed an explode + equi-join like the MinHash bands. */
  def winnow(c: Column, k: Int = WinnowK, w: Int = WinnowW): Column =
    graft.functions.Native.winnowFingerprints(Text.tokens(lower(c)), k, w,
      WinnowModulus)

  /** Composed-builtins winnowing (shingle strings + per-window slice
    * copies + interpreted lambdas — ~50× the native cost at sf0.1);
    * kept to equivalence-test the native expression. */
  private[graft] def winnowComposed(c: Column, k: Int = WinnowK,
                                    w: Int = WinnowW): Column = {
    val sh = shingles(c, k)
    val hashes = transform(sh, s =>
      aggregate(split(s, ""), lit(0L),
        (acc, ch) => (acc * 31 + ascii(ch)) % WinnowModulus))
    val cnt = size(hashes)
    sort_array(array_distinct(transform(
      sequence(lit(1), greatest(cnt - w + 1, lit(1))),
      i => array_min(slice(hashes, i, lit(w))))))
  }

  /** Consecutive `blockSize`-token block hashes per document — the
    * sub-document passage unit shared by the batch passage dedup
    * (d18) and the streaming contamination screen. Narrow generate:
    * only (id, block_idx, 32-byte hash) rows leave the scan. */
  /** With `fullOnly`, trailing partial blocks are dropped: a screen
    * matching on fragments shorter than the passage unit (down to one
    * token, or md5("") for empty docs) would flag coincidences as
    * contamination. The intra-corpus dedup (d18) keeps partials — they
    * hash consistently on both sides there. */
  def passageBlocks(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", blockSize: Int = 20,
                    fullOnly: Boolean = false): DataFrame = {
    val toks = Text.tokens(lower(col(textCol)))
    val nBlocks =
      greatest(ceil(size(toks) / lit(blockSize.toDouble)).cast("int") - 1, lit(0))
    val base = docs.select(col(idCol),
      floor(size(toks) / lit(blockSize.toDouble)).cast("int").as("__nfull"),
      posexplode(transform(sequence(lit(0), nBlocks),
        i => md5(concat_ws(" ", slice(toks, i * blockSize + 1, lit(blockSize))))))
        .as(Seq("block_idx", "bh")))
    (if (fullOnly) base.filter(col("block_idx") < col("__nfull")) else base)
      .drop("__nfull")
  }

  /** Connected components over a near-dup pair list: every document
    * gets the MINIMUM doc id of its component as cluster id — the
    * canonical "duplicate cluster" assignment that chains A~B~C into
    * one group even when A and C never pair directly. Every id that
    * appears in a pair gets exactly one (id, cluster) row.
    *
    * The pair list is snapshotted once (the caller's pair derivation
    * runs once), and the one action that materializes the snapshot
    * also counts its pairs and their non-NULL ids. Then one of two
    * paths runs; both give the same labels.
    *
    * IN ONE TASK, when the list holds at most `InTaskPairs` (2^20)
    * pairs, both id columns are Long or both are Int, and no id is
    * NULL: the snapshot coalesces to one partition and a union-find
    * with union-by-minimum-id runs inside that one executor task. No
    * shuffle, no per-round action, and nothing data-sized reaches the
    * driver. Small graphs are where the loop below pays its per-round
    * fixed cost (planning, scheduling, checkpoint, convergence action)
    * for a few hundred ids — finishing them in memory is the small-graph
    * step of Kiveris et al., "Connected Components in MapReduce and
    * Beyond" (SoCC'14). The returned plan reads the snapshot's blocks,
    * which outlive this call. Other id types, and lists holding a NULL
    * id, take the loop.
    *
    * THE DISTRIBUTED LOOP, otherwise: iterative min-label propagation
    * with POINTER JUMPING. The edge table carries both directions plus
    * a SELF-LOOP per node, so one propagation (label := min over
    * neighbours' labels, the node's own included) is one keyed join +
    * groupBy. One ROUND is TWO propagations followed by one pointer
    * jump (label := min(label, label-of-label), one more keyed join),
    * which collapses chains in O(log diameter) rounds instead of
    * O(diameter). All joins are equi-joins on node ids; per-round
    * state is the narrow (id, label) pair set. Each round's state is a
    * LAZY snapshot that truncates lineage, and the round's one action
    * — the exact decimal SUM of all labels — both materializes it and
    * tests convergence: labels only ever decrease, so the loop exits
    * on the first round whose sum is unchanged. The driver never sees
    * the data, only that sum. With the default localCheckpoint that is
    * one Spark action per round; a reliable checkpoint
    * (`checkpointDir`) writes its files in a second job that
    * recomputes the round.
    *
    * `maxRounds` bounds the loop's ROUNDS, not hops: one round is 2
    * propagations + 1 jump, so `maxRounds = 25` allows up to 50
    * propagation hops (plus the jumps' shortcuts) before the loop
    * stops unconverged. The in-task path always converges.
    *
    * `checkpointDir`: localCheckpoint (the default) stores the pair
    * snapshot and round state in executor block managers — fastest
    * locally, but on a real cluster an executor loss mid-loop kills
    * the job because the truncated lineage cannot recompute. Passing a
    * directory (HDFS/S3 on a cluster) switches every snapshot to a
    * RELIABLE `checkpoint()` that survives executor loss. Sets the
    * context checkpoint dir as a side effect; snapshot files accumulate
    * under it for the life of the session unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id", maxRounds: Int = 25,
                          checkpointDir: Option[String] = None): DataFrame =
    components(pairs, aCol, bCol, maxRounds, checkpointDir, InTaskPairs)

  /** Most pairs [[connectedComponents]] finishes in one task: 2^20
    * pairs of Long ids are 16 MB, and the task's arrays stay under
    * ~64 MB. */
  private val InTaskPairs = 1L << 20

  /** [[connectedComponents]] with its in-task bound explicit: -1
    * forces the distributed loop, `Long.MaxValue` the in-task path
    * (for ids it supports). */
  private[graft] def components(pairs: DataFrame, aCol: String, bCol: String,
                                maxRounds: Int, checkpointDir: Option[String],
                                inTaskPairs: Long): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def snapshot(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    // the PAIR LIST is snapshotted once: the loop's edge union reads
    // it from four branches, and each branch would otherwise rerun the
    // caller's pair derivation (for d20/d37/e14 the whole LSH band
    // self-join + exact verify chain). This count is the snapshot's
    // materializing action, BEFORE anything else reads it, so the
    // derivation runs once — no race between the union's branches to
    // compute the same partitions
    val p0 = snapshot(pairs.select(col(aCol), col(bCol)))
    val counts = p0.agg(count(lit(1)), count(col(aCol)), count(col(bCol))).collect()(0)
    val n = counts.getLong(0)
    val idType = p0.schema(aCol).dataType
    val inTask = n <= inTaskPairs && counts.getLong(1) == n && counts.getLong(2) == n &&
      p0.schema(bCol).dataType == idType && (idType == LongType || idType == IntegerType)
    if (inTask) {
      val longPairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      p0.select(col(aCol).cast(LongType), col(bCol).cast(LongType)).as(longPairs)
        .coalesce(1)
        .mapPartitions(unionFind)(longPairs)
        .select(col("_1").cast(idType).as("id"), col("_2").cast(idType).as("cluster"))
    } else roundLoop(p0, aCol, bCol, n, maxRounds, snapshot)
  }

  /** Union-find over one task's (a, b) pairs: every id in a pair with
    * the minimum id of its component. Ids are numbered by rank in the
    * sorted distinct id set, so union by minimum NUMBER is union by
    * minimum id, and every root is its component's minimum. */
  private def unionFind(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val (as, bs) = {
      val a = Array.newBuilder[Long]; val b = Array.newBuilder[Long]
      pairs.foreach { case (x, y) => a += x; b += y }
      (a.result(), b.result())
    }
    val sorted = as ++ bs
    java.util.Arrays.sort(sorted)
    var nIds = 0
    sorted.indices.foreach { i =>
      if (i == 0 || sorted(i) != sorted(nIds - 1)) { sorted(nIds) = sorted(i); nIds += 1 }
    }
    val ids = java.util.Arrays.copyOf(sorted, nIds)
    val parent = Array.range(0, nIds)
    def find(i: Int): Int = { // path halving
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    as.indices.foreach { k =>
      val ra = find(java.util.Arrays.binarySearch(ids, as(k)))
      val rb = find(java.util.Arrays.binarySearch(ids, bs(k)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Iterator.tabulate(nIds)(i => (ids(i), ids(find(i))))
  }

  /** The distributed loop of [[connectedComponents]] over the
    * materialized pair snapshot `p0` of `n` pairs. */
  private def roundLoop(p0: DataFrame, aCol: String, bCol: String, n: Long,
                        maxRounds: Int, snapshot: DataFrame => DataFrame): DataFrame = {
    // edges persist ALREADY HASH-PARTITIONED on dst — the per-round
    // neighbour-min join probes edges BY dst every round, so pinning
    // the partitioning into the cached blocks removes one exchange of
    // the edge table per round (guide §2.4: two operations keyed the
    // same way share one exchange); only the narrow (id, label) side
    // still shuffles per round.
    // SELF-LOOPS ride in the edge table: min-over-neighbours then
    // includes the node's own label, so each propagation is ONE
    // join + aggregate instead of join + aggregate + a second
    // left-outer join against the previous state (the old `prop`
    // shape) — one fewer exchange per propagation, same fixpoint.
    val edges = p0.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(p0.select(col(bCol).as("src"), col(aCol).as("dst")))
      .union(p0.select(col(aCol).as("src"), col(aCol).as("dst")))
      .union(p0.select(col(bCol).as("src"), col(bCol).as("dst")))
      .distinct()
      .repartition(col("dst"))
      // cache SORTED on the probe key: InMemoryRelation reports its
      // child's outputOrdering, so every round's neighbour-min SMJ
      // skips re-sorting the edge side (only the narrow label side
      // sorts per round)
      .sortWithinPartitions("dst")
      .persist()
    // seed one propagation ahead: label = min(id, min neighbour id)
    // (the self-loop makes the groupBy min exactly that). LAZY
    // snapshots: the round's single action (labelSum below) both
    // materializes the truncated-lineage round state AND returns the
    // convergence sum — one Spark job per round where an
    // eager-checkpoint-then-aggregate shape would pay two
    var labels = snapshot(edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("label")))
    // labels only ever DECREASE, so the (exact, overflow-free) decimal
    // label sum is strictly monotone until the fixpoint — one aggregate
    // action per round instead of a join-and-count against the
    // previous state
    def labelSum(df: DataFrame): BigDecimal = {
      val d = df.agg(sum(col("label").cast(DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
      if (d == null) BigDecimal(0) else BigDecimal(d) // null = empty graph
    }
    var prevSum = labelSum(labels)
    var round = 0
    var converged = n == 0 // no pairs → nothing to propagate
    // one pointer jump: label := min(label, label(label)) — composes
    // the label map with itself, so reach doubles per jump
    def jump(l: DataFrame): DataFrame = {
      val hop = l.select(col("id").as("lid"), col("label").as("llabel"))
      l.join(hop, l("label") === hop("lid"), "left_outer")
        .select(l("id"),
          least(l("label"), coalesce(col("llabel"), l("label"))).as("label"))
    }
    // one propagation: label := min over neighbours' labels (the
    // self-loop edge folds the own label in — one join + one agg)
    def prop(l: DataFrame): DataFrame =
      edges.join(l, edges("dst") === l("id"))
        .groupBy(edges("src").as("id")).agg(min(col("label")).as("label"))
    while (!converged && round < maxRounds) {
      // TWO propagations + one jump per MATERIALIZED round: the
      // measured d20/e14 convergence tail moves one edge-hop per
      // propagation (label chains stay short, so extra jumps buy
      // nothing — measured flat at 8 rounds with 1 or 2 jumps), and
      // the loop's dominant term is the per-round fixed cost
      // (planning + scheduling + checkpoint + convergence action).
      // Fusing 2 hops into one round halves that fixed cost for the
      // same hop count; the jump keeps the O(log diameter) guarantee
      // for long-chain components. Same fixpoint; labels still only
      // ever decrease, so the sum-based convergence test is unchanged.
      val next = snapshot(prop(jump(prop(labels))))
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      // the superseded round's checkpointed blocks are dead state —
      // release them instead of pinning every round in the block manager
      labels.unpersist()
      labels = next
      round += 1
    }
    // release everything but the final round's snapshot: edges and the
    // pair-list snapshot are dead once the loop exits (the returned
    // plan reads only `labels`' checkpoint blocks, which must outlive
    // this call — they are freed when the caller's terminal action's
    // session ends; one narrow (id, label) block set per invocation)
    edges.unpersist()
    p0.unpersist()
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** SimHash permutation constants (distinct seed from MinHash); also
    * embedded in the generated oracle SQL. */
  lazy val simhashPerms: (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(11L)
    val pairs = Array.fill(64)((math.abs(rnd.nextLong() % P) + 1, math.abs(rnd.nextLong() % P)))
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** 64-bit SimHash via the native portable expression — a narrow
    * one-pass projection (no explode, no shuffle), over the
    * engine-portable hash family so the query carries a full oracle;
    * see `graft.plans.SimHashPortable`. */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.Native.simhashPortable(Text.tokens(lower(col(textCol))),
        simhashPerms._1, simhashPerms._2, P).as("simhash"))

  /** Composed-builtins formulation of the same portable SimHash
    * (explode + groupBy of 64 vote sums). Kept for equivalence testing
    * of the native expression; the shuffle makes it the slow path. */
  private[graft] def simhashViaExplode(docs: DataFrame, idCol: String = "doc_id",
                                       textCol: String = "text"): DataFrame = {
    val (pa, pb) = simhashPerms
    val h = graft.functions.Native.polyHash(col("tok"), P)
    val votes = (0 until 64).map { b =>
      sum(when(pmod(h * pa(b) + pb(b), lit(P)) > lit(P / 2), 1).otherwise(-1)).as(s"v_$b")
    }
    val bits = (0 until 64).map { b =>
      when(col(s"v_$b") > 0, lit(1L) * lit(1L << b)).otherwise(lit(0L))
    }
    docs.select(col(idCol), explode(Text.tokens(lower(col(textCol)))).as("tok"))
      .groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), bits.reduce(_ + _).as("simhash"))
  }

  /** Near-dup candidates by identical 16-bit SimHash prefix (cheap
    * hamming-bucket; [[simhashBands]] is the full-recall scale path). */
  def simhashBuckets(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    simhash(docs, idCol, textCol)
      .select(col(idCol), col("simhash"),
        shiftrightunsigned(col("simhash"), 48).as("bucket"))

  /** Number of disjoint SimHash chunks and the b-th 16-bit chunk — ONE
    * definition of the band layout, shared with the streaming screen's
    * per-row band dedup. The `& 65535` mask makes the chunk identical
    * under arithmetic or logical shift, which keeps the oracle portable. */
  val SimhashBandCount = 4
  def simhashChunk(h: Column, b: Int): Column =
    shiftrightunsigned(h, b * 16).bitwiseAND(lit(65535L))

  /** SimHash banding for hamming near-dup candidates: the 64-bit
    * fingerprint splits into 4 disjoint 16-bit chunks; by pigeonhole,
    * two fingerprints within hamming distance 3 share at least one
    * chunk EXACTLY, so candidate generation is a (band, chunk)
    * equi-join with GUARANTEED recall at distance ≤ 3 — the multi-probe
    * upgrade over the single-prefix bucket, with no bit-flip probe
    * explosion (4 keys per doc, narrow map). */
  def simhashBands(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    bandChunks(simhash(docs, idCol, textCol), idCol, "simhash")

  /** The ONE banding construction: (id, hash) → one row per 16-bit
    * chunk, keyed (band, chunk) — shared by the simhash path, the
    * image-phash path and the streaming screen so the layout can
    * never diverge between them. */
  private[graft] def bandChunks(hashed: DataFrame, idCol: String,
                                hashCol: String): DataFrame =
    hashed.select(col(idCol), col(hashCol),
      posexplode(array((0 until SimhashBandCount).map(b =>
        simhashChunk(col(hashCol), b)): _*)).as(Seq("band", "chunk")))

  /** Near-dup pairs within `maxHamming` (≤ 3 for complete recall with
    * 4 bands): banded candidates verified by exact XOR popcount. The
    * explicit repartition on the band key makes both self-join sides
    * the same canonical exchange, so the corpus-wide SimHash pass runs
    * ONCE and the shuffled output feeds both sides (without it each
    * join side recomputes the scan + signatures). */
  def simhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", maxHamming: Int = 3): DataFrame =
    // spread the scan before the fingerprint map (guide §2.5 input
    // skew): a single-row-group file would otherwise compute every
    // SimHash in the one scan task under the band exchange
    hammingNearDups(simhash(Spread.byKey(docs.select(col(idCol),
      col(textCol)), col(idCol)), idCol, textCol), idCol, "simhash", maxHamming)

  /** Near-dup pairs within `maxHamming` over an ARBITRARY 64-bit
    * fingerprint column — the generic core of [[simhashNearDups]],
    * equally the image-phash (m5) path: 4×16-bit chunk banding
    * (complete recall at hamming ≤ 3 by pigeonhole), the explicit
    * band-key repartition making both self-join sides one canonical
    * exchange, exact XOR-popcount verify on candidates only. */
  def hammingNearDups(hashed: DataFrame, idCol: String, hashCol: String,
                      maxHamming: Int = 3): DataFrame = {
    // explicit data-aware count: a keyless count lets AQE coalesce the
    // tiny-bytes band table to ONE partition and serialize the whole
    // hamming self-join into a single task (measured on d20)
    val b = Spread.byKey(bandChunks(hashed, idCol, hashCol),
      col("band"), col("chunk"))
    b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"),
        col(s"x.$hashCol").as("ha"), col(s"y.$hashCol").as("hb"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The (doc_id, cluster) assignment that d20 computes: connected
    * components over the banded SimHash near-dup pairs, cluster id =
    * minimum member id. The ONE definition shared by the per-query
    * path (d20/d37) and the persisted-map lifecycle below, so a
    * cluster map read back from disk can never diverge from a
    * recompute. */
  def clusterMap(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", maxHamming: Int = 3): DataFrame =
    connectedComponents(simhashNearDups(docs, idCol, textCol, maxHamming))
      .select(col("id").as(idCol), col("cluster"))

  /** Persist the cluster map as a table — the cluster-side analog of
    * [[writeSimhashIndex]]: at corpus scale you compute clusters ONCE
    * per generation and every consumer (keep-best selection, dedup
    * reporting, routing) JOINS the persisted 16-byte (id, cluster)
    * rows instead of re-running banding + the iterative CC loop per
    * query. Docs in no near-dup pair are absent here (they are their
    * own singleton cluster); consumers coalesce to the doc id — the
    * same contract as the in-query path. */
  def writeClusterMap(docs: DataFrame, path: String, idCol: String = "doc_id",
                      textCol: String = "text", maxHamming: Int = 3): Unit =
    clusterMap(docs, idCol, textCol, maxHamming)
      .write.mode("overwrite").parquet(path)

  /** Read a [[writeClusterMap]] table. */
  def readClusterMap(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    spark.read.parquet(path)

  /** Read the persisted cluster map, building it first iff `path` has
    * never been committed (no parquet `_SUCCESS` marker) — the
    * memoized lifecycle the d47 read-path query rides: the first
    * invocation pays the build, every later one is a pure table read.
    * The build is deterministic in `docs`, so a reread can never go
    * stale against the same input generation. */
  def ensureClusterMap(docs: DataFrame, path: String, idCol: String = "doc_id",
                       textCol: String = "text", maxHamming: Int = 3): DataFrame =
    graft.sources.Materialize.ensure(docs.sparkSession, path) {
      writeClusterMap(docs, path, idCol, textCol, maxHamming)
    }

  /** The corpus's DUPLICATED k-shingle hash set — every shingle hash
    * occurring in at least two distinct documents (min ≠ max doc id:
    * no countDistinct, no Expand). This is the dup-set side of the
    * d66 duplicated-span extraction; a shingle repeated only WITHIN
    * one document is not cross-document duplication and stays out.
    * Per-doc `array_distinct` before the explode cannot change any
    * hash's min/max doc id, so the set is identical to one derived
    * from the full positional grid — while shuffling each (doc, gram)
    * pair once instead of once per occurrence. */
  def dupGramSet(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(col(textCol), k))).as("gram"))
      .select(col("doc_id"), shingleHash(col("gram")).as("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("h")

  /** Persist the duplicated-gram set as a table — the span-side analog
    * of [[writeClusterMap]]: at corpus scale span removal runs
    * repeatedly per corpus generation (screen, cut, re-screen), and
    * the corpus-wide dup-set aggregate — the one full shuffle of the
    * gram grid — must be paid ONCE, not per query. Each row is a lone
    * 8-byte hash, so the stored artifact is tiny next to the corpus
    * and usually broadcast-joins back at read time. */
  def writeDupGrams(docs: DataFrame, path: String, k: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text"): Unit =
    dupGramSet(docs, k, idCol, textCol)
      .write.mode("overwrite").parquet(path)

  /** Read a [[writeDupGrams]] table. */
  def readDupGrams(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    spark.read.parquet(path)

  /** Read the persisted duplicated-gram set, building it first iff
    * `path` carries no committed `_SUCCESS` marker — the memoized
    * d47/d50/e28 lifecycle on the span side. Deterministic in `docs`,
    * so a reread can never go stale against the same generation. */
  def ensureDupGrams(docs: DataFrame, path: String, k: Int = 5,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.sources.Materialize.ensure(docs.sparkSession, path) {
      writeDupGrams(docs, path, k, idCol, textCol)
    }

  /** Persist the SimHash fingerprint index as a TABLE — the text-side
    * analog of `Similarity.writeIvfIndex`: an index is data. Each
    * document costs 16 bytes (id + 64-bit fingerprint) regardless of
    * text size; band keys recompute on read (a narrow map over those
    * 16-byte rows), so no band materialization is stored. The layout
    * is hive-partitioned by `ingest` GENERATION — the base build is
    * generation 0, every [[screenDeltaAppend]] lands its survivors in
    * its own generation directory — which is what makes incremental
    * ingest exactly-once (the idempotentParquetSink epoch pattern). */
  def writeSimhashIndex(docs: DataFrame, path: String,
                        idCol: String = "doc_id", textCol: String = "text"): Unit =
    simhash(docs, idCol, textCol).select(col(idCol), col("simhash"))
      .write.mode("overwrite").parquet(s"$path/ingest=0")

  /** Incremental corpus dedup: screen a DELTA of new documents against
    * the persisted fingerprint index and append the survivors — the
    * production ingest shape at 100 TB (the day's delta dedups against
    * the corpus index; the corpus is never re-deduped). A delta doc
    * drops iff an already-INDEXED doc sits within `maxHamming`, or an
    * earlier-id doc in the same delta does (the delta self-screens via
    * [[hammingNearDups]]). Both screens are (band, chunk) equi-joins
    * over 16-byte (id, fingerprint) rows with complete recall at
    * hamming ≤ 3 by pigeonhole; raw text never leaves its scan.
    *
    * Exactly-once: the screen reads ONLY generations < `ingestId`
    * (partition pruning — the cast-free filter is the same trap-aware
    * shape as the IVF cell read) and overwrites its own
    * `ingest=<ingestId>` directory, so replaying an ingest recomputes
    * the identical survivor set and lands it idempotently — a crashed
    * and retried ingest cannot double-insert or self-collide.
    * Returns the surviving (id, simhash) rows read back from the
    * index, so re-executing the returned plan is stable. */
  def screenDeltaAppend(delta: DataFrame, path: String, ingestId: Int,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxHamming: Int = 3): DataFrame = {
    val spark = delta.sparkSession
    screenDelta(delta, path, ingestId, idCol, textCol, maxHamming)
      .write.mode("overwrite").parquet(s"$path/ingest=$ingestId")
    spark.read.parquet(path).filter(col("ingest") === ingestId)
      .select(col(idCol), col("simhash"))
  }

  /** The survivor computation of [[screenDeltaAppend]], exposed so the
    * plan gate can assert its shape (raw text never shuffles; both
    * screens are keyed equi-joins) without executing the write. */
  private[graft] def screenDelta(delta: DataFrame, path: String, ingestId: Int,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 maxHamming: Int = 3): DataFrame = {
    val spark = delta.sparkSession
    val dh = simhash(delta, idCol, textCol).select(col(idCol), col("simhash"))
    val prior = spark.read.parquet(path)
      .filter(col("ingest") < ingestId)
      .select(col(idCol), col("simhash"))
    val db = bandChunks(dh, idCol, "simhash")
    val ib = bandChunks(prior, idCol, "simhash")
    val vsIndex = db.as("x").join(ib.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHamming)
      .select(col(s"x.$idCol").as(idCol)).distinct()
    val withinDelta = hammingNearDups(dh, idCol, "simhash", maxHamming)
      .select(col("b_id").as(idCol)).distinct()
    dh.join(vsIndex.union(withinDelta).distinct(), Seq(idCol), "left_anti")
  }

  /** 1L << b for b in 0..63 — a 64-long literal lookup so the bit
    * test stays pure column API (no expr strings, no UDF). */
  private val BitMasks: Array[Long] = Array.tabulate(64)(1L << _)

  /** Build a Bloom-filter bitmap over a key column: k positions per
    * key (xxhash64 seeded by the probe index), OR-folded into
    * `numBits/64` words by a keyed bit_or aggregate. The collect is
    * BOUNDED at numBits/64 longs (e.g. 128 for 8192 bits) — the
    * centroid-bootstrap discipline, a constant independent of corpus
    * size, not data movement. At 100 TB the filter this returns is the
    * broadcast side of the delta screen; size numBits at ~10 bits per
    * historical key (the standard 1% fp-rate budget) while it fits the
    * broadcast ceiling, and shard by key range beyond that. */
  def bloomBuild(keys: DataFrame, keyCol: String,
                 numBits: Int, k: Int): Array[Long] = {
    require(numBits % 64 == 0 && numBits > 0, "numBits must be a multiple of 64")
    require(k >= 1, "need at least one probe")
    val pos = explode(array((0 until k).map(j =>
      pmod(xxhash64(col(keyCol), lit(j)), lit(numBits.toLong))): _*))
    val words = keys.select(pos.as("pos"))
      .select(shiftrightunsigned(col("pos"), 6).cast("int").as("w"),
        element_at(typedlit(BitMasks),
          pmod(col("pos"), lit(64L)).cast("int") + 1).as("m"))
      .groupBy("w").agg(bit_or(col("m")).as("word"))
      .collect()
    val bits = new Array[Long](numBits / 64)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    bits
  }

  /** Membership probe against a [[bloomBuild]] bitmap: true if ALL k
    * seeded positions are set (no false negatives; false positives at
    * the sized rate). One in-row expression over a broadcast array
    * literal — stateless, codegen-friendly, zero shuffle. The bitmap
    * literal is bound ONCE inside a `forall` over the position array
    * (not once per probe), so plan size stays one bitmap copy even
    * when the filter is sized at ~10 bits/key for a large corpus. */
  def bloomMightContain(bits: Array[Long], key: Column,
                        numBits: Int, k: Int): Column = {
    val positions = array((0 until k).map(j =>
      pmod(xxhash64(key, lit(j)), lit(numBits.toLong))): _*)
    forall(positions, pos =>
      element_at(typedlit(bits),
        shiftrightunsigned(pos, 6).cast("int") + 1)
        .bitwiseAND(element_at(typedlit(BitMasks),
          pmod(pos, lit(64L)).cast("int") + 1)) =!= 0L)
  }
}
