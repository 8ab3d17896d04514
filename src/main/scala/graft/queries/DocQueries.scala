package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine.q
import graft.operators.Spread
import graft.ScratchDirs
import graft.functions.Text
import graft.operators.{Dedup, Graphs, SuffixArray}
import graft.sources.Tables.table

/** §2c text/dedup operators over the `documents` table. Oracle parity
  * notes: DuckDB `regexp_replace` needs the 'g' flag to match Spark's
  * replace-all; int/int division is double in both engines; every
  * double expression is written with identical operation order.
  */
object DocQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // RANGE-PARTITION FIRST, compute after (guide §2.4): a global
    // sort's range exchange SAMPLES its child with a separate pass,
    // so `select(heavy).orderBy(key)` runs the heavy projection TWICE
    // — and over a single-row-group file, single-task both times. An
    // explicit repartitionByRange on the sort key moves the exchange
    // BELOW the heavy projection: the sampling pass is now a bare
    // scan, the stats expression runs once (parallel — the explicit
    // partition count is not AQE-coalesced), and the final orderBy is
    // satisfied by the range partitioning (prefix rule), planning as
    // an in-partition sort with NO second exchange. Same rows, same
    // order; the oracle is order-identical.
    "d1_token_count" -> q { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .transform(Spread.byRange(_, col("doc_id")))
        .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_actual"))
        .orderBy("doc_id")
    },

    "d2_quality_score" -> q { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .transform(Spread.byRange(_, col("doc_id")))
        .select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"),
          Text.stopwordCount(col("text")).as("n_stop"),
          Text.punctCount(col("text")).as("n_punct"),
          length(col("text")).as("n_chars"))
        .select(col("doc_id"), col("n_tokens"),
          (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio"),
          // n_chars = 0 (empty doc) must not hit 0/0: Spark's non-ANSI
          // double division yields NULL while DuckDB yields NaN (which
          // sorts ABOVE all reals) — pin both engines to 0.0
          when(col("n_chars") === 0, lit(0.0))
            .otherwise(col("n_punct").cast("double") / col("n_chars").cast("double"))
            .as("punct_ratio"))
        .select(col("doc_id"), col("n_tokens"), col("stop_ratio"), col("punct_ratio"),
          Text.qualityScore(col("n_tokens"), col("stop_ratio"), col("punct_ratio")).as("score"))
        .orderBy("doc_id")
    },

    // d1's range-partition-first shape (sampling reads the bare scan;
    // langId runs once, parallel; orderBy needs no second exchange)
    "d3_langid" -> q { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .transform(Spread.byRange(_, col("doc_id")))
        .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    "d4_dedup_exact" -> q { (s, d) =>
      Dedup.exact(table(s, d, "documents")).orderBy("text_hash")
    },

    "d5_ngram_jaccard" -> q { (s, d) =>
      val t = table(s, d, "documents").select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 30).as("pfx"),
        array_distinct(Text.tokens(col("text"))).as("toks"))
      t.as("a").join(t.as("b"),
          col("a.lang") === col("b.lang") && col("a.pfx") === col("b.pfx") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          (size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
            size(array_union(col("a.toks"), col("b.toks"))).cast("double")).as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    // full oracle: portable polynomial shingle hash + embedded
    // permutation constants (exact-Jaccard pair checks in DedupSpec)
    "d6_minhash_lsh" -> q { (s, d) =>
      Dedup.minhashBands(Dedup.minhashSignatures(table(s, d, "documents")))
        .orderBy("doc_id", "band")
    },

    // rows-only (hamming-distance behavior verified in DedupSpec)
    "d7_simhash" -> q { (s, d) =>
      Dedup.simhashBuckets(table(s, d, "documents")).orderBy("doc_id")
    },

    // chunked-band near-dup pairs: complete recall at hamming <= 3 by
    // pigeonhole over 4 disjoint 16-bit chunks (spec-asserted vs brute
    // force); full oracle over the portable hash family
    "d7b_simhash_bands" -> q { (s, d) =>
      Dedup.simhashNearDups(table(s, d, "documents")).orderBy("a_id", "b_id")
    },

    // d1's range-partition-first shape
    "d8_fingerprint" -> q { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .transform(Spread.byRange(_, col("doc_id")))
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // CURATION VIA MERGE-ON-READ (d83): the drop leg of a curation
    // pass (here a language gate — keep the target languages) lands as
    // DELETION VECTORS on a corpus MergeTable instead of rewriting it.
    // Quality/language kills are SCATTERED — uncorrelated with storage
    // order — so COW would rewrite nearly every file to drop 15% of
    // rows; the MOR epoch writes one sidecar from a doc_id-pruned
    // candidate scan and the corpus files keep their place. Emits the
    // curated snapshot plus the feed's dropped rows, both stated
    // directly from the gate by the oracle.
    "d83_mor_curate" -> q { (s, d) =>
      import graft.sources.MergeTable
      val path = ensureMorCorpus(s, d)
      def agg(df: DataFrame, part: String) = df
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("part", lit(part))
      val feed = MergeTable.changes(s, path, 0, 1, "doc_id")
        .filter(col("_change_type") === "delete")
      agg(feed, "dropped")
        .unionByName(agg(MergeTable.read(s, path, 1), "live"))
        .select("part", "lang", "source", "n", "chars")
        .orderBy("part", "lang", "source")
    },

    // apply exact dedup: keep only each duplicate-group's keeper row —
    // the anti-join shape that materializes a deduplicated corpus
    "d11_dedup_apply" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val keepers = Dedup.exact(docs).select(col("keeper"))
      docs.join(keepers, col("doc_id") === col("keeper"), "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // curation pipeline: language + quality + length gates composed —
    // the end-to-end "training-data filter" over the text operators
    "d12_curate" -> q { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), col("text"),
          Text.langId(col("text")).as("lang_pred"),
          Text.tokenCount(col("text")).as("n_tokens"),
          Text.stopwordCount(col("text")).as("n_stop"))
        .filter(col("lang_pred") === "en" && col("n_tokens") >= 30 &&
          (col("n_stop").cast("double") / col("n_tokens").cast("double")) >= 0.1)
        .select("doc_id", "lang_pred", "n_tokens")
        .orderBy("doc_id")
    },

    // exploded to (doc_id, fingerprint) rows: the fingerprint set is the
    // deliverable, and scalar rows are what the driver harness (and any
    // downstream equi-join on fingerprint) consumes
    "d10_winnow" -> q { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), explode(Dedup.winnow(col("text"))).as("fingerprint"))
        .orderBy("doc_id", "fingerprint")
    },

    // train/eval contamination check: the winnowing guarantee (any
    // sufficiently-long shared passage shares a fingerprint) turns
    // overlap detection into a fingerprint equi-join + count — no
    // text-vs-text comparison ever happens
    "d16_contamination" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      def fps(side: DataFrame, idAs: String) =
        side.select(col("doc_id").as(idAs),
          explode(Dedup.winnow(col("text"))).as("fingerprint"))
      fps(docs.filter(col("doc_id") % 10 =!= 0), "train_id")
        .join(fps(docs.filter(col("doc_id") % 10 === 0), "eval_id"), "fingerprint")
        .groupBy("train_id", "eval_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy("train_id", "eval_id")
    },

    // the corpus dedup dashboard: the one-row summary every pipeline
    // reports after a dedup pass — document count, exact-duplicate
    // count (docs minus normalized-hash groups, the d4 unit) and
    // near-duplicate pair count (the d7b banded join) with the exact
    // rate. Two 1-row aggregates broadcast-crossed; all counts exact
    // integers.
    "d27_dedup_report" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val docs = table(s, d, "documents")
      val exact = Dedup.exact(docs)
        .agg(count(lit(1)).as("n_groups"), sum(col("n_docs")).as("n_docs"))
        .select(col("n_docs"),
          (col("n_docs") - col("n_groups")).as("n_exact_dups"))
      val near = Dedup.simhashNearDups(docs)
        .agg(count(lit(1)).as("n_neardup_pairs"))
      exact.crossJoin(broadcast(near))
        .select(col("n_docs"), col("n_exact_dups"), col("n_neardup_pairs"),
          (col("n_exact_dups").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("exact_dup_rate"))
    },

    // asymmetric CONTAINMENT detection: |fp(A)∩fp(B)| / |fp(A)| over
    // winnowing fingerprint sets — catches a document quoted/embedded
    // inside a much larger one, where Jaccard (d5/d6) is diluted to
    // nothing by the size imbalance. Candidates come from the same
    // fingerprint equi-join as d16; fingerprints shared by more than
    // 100 documents are dropped FIRST (the classic stop-shingle cap:
    // a boilerplate fingerprint would otherwise fan the join out
    // quadratically at corpus scale), and every count is an exact
    // integer so both engines agree bit-for-bit.
    "d26_containment" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      // ONE winnow pass: the explicit fingerprint repartition makes the
      // df-cap aggregate, the cap join and both pair-join sides
      // canonically identical exchanges (AQE stage reuse — the q42 /
      // hammingNearDups pattern; without it the fingerprint fold over
      // full text re-runs once per consumer)
      val fps = table(s, d, "documents")
        .select(col("doc_id"), explode(Dedup.winnow(col("text"))).as("fingerprint"))
        .repartition(col("fingerprint"))
      val keep = fps.groupBy("fingerprint")
        .agg(count(lit(1)).as("df")).filter(col("df") <= 100)
        .select("fingerprint")
      val f2 = fps.join(keep, "fingerprint")
      val sizes = f2.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      val pairs = f2.as("a").join(f2.as("b"),
          col("a.fingerprint") === col("b.fingerprint") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
      pairs
        .join(sizes.select(col("doc_id").as("a_id"), col("n_fp").as("a_fp")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n_fp").as("b_fp")), "b_id")
        .select(col("a_id"), col("b_id"), col("n_shared"),
          (col("n_shared").cast(DoubleType) / col("a_fp").cast(DoubleType))
            .as("containment_a"),
          (col("n_shared").cast(DoubleType) / col("b_fp").cast(DoubleType))
            .as("containment_b"))
        .orderBy("a_id", "b_id")
    },

    // sub-document (passage) dedup, C4-style: each doc splits into
    // consecutive 20-token blocks; a block survives only at its FIRST
    // corpus-wide occurrence (ordered by doc_id, then position).
    // Shape: narrow generate (block hashes at the scan) → ONE shuffle
    // on the block hash (window row_number picks the keeper) → keyed
    // re-aggregation per doc. No text travels through the shuffle —
    // only 32-byte hashes — and no self-join exists at any scale.
    "d18_passage_dedup" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Dedup.passageBlocks(table(s, d, "documents"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("bh").orderBy("doc_id", "block_idx")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("doc_id")
    },

    // duplicate-cluster assignment: connected components over the
    // banded SimHash near-dup pairs — A~B~C chains collapse into one
    // cluster labeled by the minimum member id. Dedup.connectedComponents
    // finishes a pair list this small with union-find in one task (one
    // pair-count action, no per-round jobs); a large one takes the
    // pointer-jumping min-label loop, O(log diameter) rounds of keyed
    // equi-joins over narrow (id, label) state. Neither path
    // materializes anything driver-side.
    "d20_dedup_clusters" -> q { (s, d) =>
      Dedup.clusterMap(table(s, d, "documents")).orderBy("doc_id")
    },

    // the data-mixture report every pretraining run starts from:
    // per-(source, lang) document/token counts and each cell's share
    // of corpus tokens. One keyed aggregation; the 1-row global total
    // broadcasts back (no second shuffle).
    "d21_source_mix" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val per = table(s, d, "documents")
        .select(col("source"), col("lang"), Text.tokenCount(col("text")).as("nt"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("tot"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast(DoubleType) / col("tot").cast(DoubleType))
            .as("token_share"))
        .orderBy("source", "lang")
    },

    // per-document lexical diversity: vocabulary size and the Simpson
    // diversity index 1 - Σn²/N² (the probability two random tokens
    // differ) — a repetition/quality screen like d17, chosen over
    // entropy because it is LOG-FREE: exact integer sums + one double
    // division are bit-portable across engines, while ln() differs in
    // the last ulp between libm implementations. Same scale shape as
    // d17: token generate → two keyed aggs with map-side combine.
    "d22_token_diversity" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val counts = table(s, d, "documents")
        .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("n"))
      counts.groupBy("doc_id")
        .agg(sum(col("n")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(col("n") * col("n")).as("s2"))
        .select(col("doc_id"), col("n_tokens"), col("vocab"),
          (lit(1.0) - col("s2").cast(DoubleType) /
            (col("n_tokens").cast(DoubleType) * col("n_tokens").cast(DoubleType)))
            .as("simpson"))
        .orderBy("doc_id")
    },

    "d9_bpe_tokens" -> q { (s, d) =>
      docsByRange(s, d)
        .select(col("doc_id"),
          Text.bpeTokenCount(col("text")).as("n_bpe"),
          Text.tokenCount(col("text")).as("n_ws"))
        .orderBy("doc_id")
    },

    "m1_binary_meta" -> q { (s, d) =>
      // multimodal plumbing: opaque binary payload + typed metadata.
      docsByRange(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"), octet_length(col("payload")).as("byte_len"),
          sha2(col("payload"), 256).as("sha"))
        .orderBy("doc_id")
    },

    // corpus n-gram statistics: explode word bigrams (narrow generate),
    // count (map-side partial agg), deterministic top-20
    "d14_top_ngrams" -> q { (s, d) =>
      val toks = Text.tokens(lower(col("text")))
      table(s, d, "documents")
        .select(explode(graft.functions.Native.wordShingles(toks, 2)).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },

    // Gopher-style repetition screen, per document: the fraction of
    // bigram occurrences taken by the most frequent bigram and the
    // duplicate-bigram fraction. Shape: narrow bigram generate →
    // two keyed aggregations with map-side combine — handles documents
    // of ANY length (a per-row O(n^2) lambda would not), so the same
    // plan holds at 100 TB.
    "d17_repetition" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val toks = Text.tokens(lower(col("text")))
      val counts = table(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Native.wordShingles(toks, 2)).as("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(count(lit(1)).as("n"))
      counts.groupBy("doc_id")
        .agg(sum(col("n")).as("n_bigrams"),
          (max(col("n")).cast(DoubleType) / sum(col("n")).cast(DoubleType))
            .as("top_bigram_frac"),
          (lit(1.0) - count(lit(1)).cast(DoubleType) / sum(col("n")).cast(DoubleType))
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // PII redaction: the scrub pass every training-data text pipeline
    // runs — phones/emails replaced with typed tags, plus per-doc
    // redaction counts for the audit trail. Synthesized contact text
    // (TPC-H phone + derived email) makes the oracle end-to-end; the
    // op itself is a narrow per-row map (regexp_replace + regexp_count
    // — zero shuffle before the final sort).
    "d19_pii_redact" -> q { (s, d) =>
      val phoneRe = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val emailRe = "[a-z0-9.]+@[a-z]+\\.[a-z]+"
      // the synthetic customer table carries no phone column; build a
      // TPC-H-format one deterministically from the keys
      val phone = concat(
        (col("c_nationkey") % 90 + 10).cast("string"), lit("-"),
        lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("c_custkey") * 7 % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("c_custkey") * 13 % 10000).cast("string"), 4, "0"))
      val txt = concat(lit("reach "), col("c_name"), lit(" at "), phone,
        lit(" or "), lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]+", ".")),
        lit("@example.com today"))
      table(s, d, "customer")
        .select(col("c_custkey"), txt.as("text"))
        // d1's range-partition-first shape: the regex pass runs once,
        // parallel, above the one exchange (sampling reads only the
        // cheap synthesized text); orderBy collapses to an in-partition
        // sort under the prefix rule
        .transform(Spread.byRange(_, col("c_custkey")))
        .select(col("c_custkey"),
          regexp_replace(regexp_replace(col("text"), phoneRe, "[PHONE]"),
            emailRe, "[EMAIL]").as("redacted"),
          regexp_count(col("text"), lit(phoneRe)).as("n_phone"),
          regexp_count(col("text"), lit(emailRe)).as("n_email"))
        .orderBy("c_custkey")
    },

    // deterministic hash sampling: the training-data "take x%" that is
    // reproducible across runs/engines (portable multiplicative hash on
    // the key, not rand()); output = per-language sample counts
    "d15_hash_sample" -> q { (s, d) =>
      table(s, d, "documents")
        .filter(Text.portableHash(col("doc_id")) % 100 < 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    },

    // C4-style line-level boilerplate cleaning: the page-structure
    // scrub every web-scrape pipeline runs before tokenization. A
    // multi-line page is synthesized deterministically from the doc
    // text (navigation chrome, a lorem-ipsum block on doc_id%7, a
    // javascript block on doc_id%5 — the d19 synthesis pattern), then
    // cleaned with the C4 rules: keep only lines with >= 5 words
    // ending in terminal punctuation; drop WHOLE documents containing
    // 'lorem ipsum' or a curly brace. Narrow per-row map (split +
    // higher-order filter + join, all codegen-able builtins), zero
    // shuffle before the final sort — the same plan at any scale.
    "d23_boilerplate_clean" -> q { (s, d) =>
      val words = split(trim(col("text")), "\\s+")
      val raw = concat_ws("\n",
        concat(array_join(slice(words, 1, 8), " "), lit(".")),
        lit("click here to continue"),
        concat(array_join(slice(words, 9, 4), " "), lit(" today!")),
        lit("terms of service apply"),
        when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit amet.")),
        when(col("doc_id") % 5 === 0, lit("enable javascript { var x = 1; }")))
      val keepLine = (ln: org.apache.spark.sql.Column) =>
        size(split(ln, " ")) >= 5 &&
          (ln.endsWith(".") || ln.endsWith("!") || ln.endsWith("?"))
      table(s, d, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .filter(!col("raw").contains("lorem ipsum") && !col("raw").contains("{"))
        // d1's range-partition-first shape (split/filter once, parallel)
        .transform(Spread.byRange(_, col("doc_id")))
        .select(col("doc_id"),
          size(split(col("raw"), "\n")).as("n_lines"),
          size(filter(split(col("raw"), "\n"), keepLine)).as("n_kept"),
          array_join(filter(split(col("raw"), "\n"), keepLine), "\n")
            .as("clean_text"))
        .orderBy("doc_id")
    },

    // corpus-wide exact LINE dedup (the C4/RefinedWeb line-level pass,
    // complementing d18's 20-token blocks): every line keeps ONLY its
    // first occurrence across the WHOLE corpus — (smallest doc_id,
    // then smallest line index) — and documents reassemble from their
    // surviving lines. Boilerplate lines shared by every page collapse
    // to one global keeper; exact-duplicate pages lose all their lines
    // to the earlier copy. Pages synthesize multi-line from doc text
    // (the d23 pattern: 2 content + 2 boilerplate lines). Only (hash
    // of line → the 16-byte (doc_id, idx) winner) crosses the line
    // exchange conceptually — here lines are short so they ride the
    // shuffle directly; the keeper rule is one row_number window, the
    // reassembly one grouped sort-collect. Docs with zero surviving
    // lines stay in the output (empty text) via the left join.
    // CONTENT-DEFINED CHUNKING dedup (the LBFS/FastCDC idea —
    // Muthitacharoen et al. SOSP'01, Xia et al. ATC'16 — at token
    // granularity): chunk boundaries fall AFTER any token whose hash
    // ≡ 0 mod 16 (gear-hash single-token rule: expected chunk ≈ 16
    // tokens), so boundaries depend on CONTENT, not position — an
    // insertion near the top of a page moves only its own chunk's
    // boundary, and every later chunk re-aligns (d18's fixed
    // passages shift globally under one inserted word; this is the
    // insertion-robust passage dedup). Per source: chunk count,
    // distinct chunks (identity = order-sensitive hash fold + length
    // — the fpSql convention), duplicated-token volume and its
    // fraction (the storage/compute a chunk store would save). Scale
    // shape: chunking is ONE pure per-row expression
    // (operators/Chunking — the SAME kernel the streaming ingest
    // screen rides, so the twins cannot drift): token hashes,
    // boundary positions, segment slicing and the signature fold all
    // happen inside the row — NO doc exchange, no window; the explode
    // feeds a map-side-combining hash aggregate directly, so only
    // 16-byte chunk signatures ever reach an exchange. Per-row state
    // is content-capped (~16 tokens per chunk).
    "d82_cdc_chunks" -> q { (s, d) =>
      table(s, d, "documents").filter(trim(col("text")) =!= "")
        .select(col("source"),
          explode(graft.operators.Chunking.chunkSigs(col("text"))).as("c"))
        .select(col("source"), col("c.sig").as("sig"),
          col("c.n_toks").as("n_toks"))
        .groupBy("source", "sig", "n_toks")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(sum(col("cnt")).as("n_chunks"),
          count(lit(1)).as("n_distinct_chunks"),
          sum((col("cnt") - 1L) * col("n_toks")).as("dup_toks"),
          sum(col("cnt") * col("n_toks")).as("tot_toks"))
        .withColumn("dup_tok_frac",
          col("dup_toks").cast("double") / col("tot_toks").cast("double"))
        .select("source", "n_chunks", "n_distinct_chunks", "dup_toks",
          "dup_tok_frac")
        .orderBy("source")
    },

    "d57_line_dedup" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val words = split(trim(col("text")), "\\s+")
      val lines = array(
        concat(array_join(slice(words, 1, 8), " "), lit(".")),
        lit("click here to continue"),
        concat(array_join(slice(words, 9, 4), " "), lit(" today!")),
        lit("terms of service apply"))
      val docs = table(s, d, "documents")
      val exploded = docs
        .select(col("doc_id"), posexplode(lines).as(Seq("line_idx", "line")))
      val kept = exploded
        .withColumn("rn", row_number().over(
          Window.partitionBy("line").orderBy("doc_id", "line_idx")))
        .filter(col("rn") === 1)
      val agg = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("line_idx"),
              col("line")))), x => x("line")), "\n").as("clean_text"))
      docs.select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_kept"), lit(0L)).as("n_lines_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },

    // bigram language-model score (KenLM-lite): each document scored
    // by the mean corpus frequency of its bigrams — the fluency /
    // typicality signal quality filters threshold on. Two keyed
    // aggregations + one equi-join, ALL riding a single explicit
    // bigram repartition (the q42 canonical-exchange pattern: the
    // frequency agg AND the join probe sit on the same exchange);
    // the per-doc reduce is the only other shuffle. Integer sums +
    // one double division keep the score bit-portable (no log()).
    "d24_bigram_lm" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val toks = Text.tokens(lower(col("text")))
      val bg = table(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Native.wordShingles(toks, 2)).as("bigram"))
        .repartition(col("bigram"))
      val freq = bg.groupBy("bigram").agg(count(lit(1)).as("cf"))
      bg.join(freq, "bigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cf")).as("sum_cf"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sum_cf").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
            .as("mean_cf"))
        .orderBy("doc_id")
    },

    // stratified (mixture-balancing) sample: every (lang, source)
    // stratum downsampled to ≈ the smallest stratum's size — the
    // "rebalance the data mixture" step after d21's report. Rate =
    // mincnt/cnt applied WITHOUT division: keep iff (h mod M)*cnt <
    // mincnt*M over d15's portable multiplicative hash — all-integer,
    // bit-reproducible across engines/runs. Stratum counts are a
    // broadcast (bounded by |langs|×|sources|), the min is one row;
    // the corpus itself only streams through a narrow filter.
    "d25_stratified_sample" -> q { (s, d) =>
      val M = 1000003L
      val docs = table(s, d, "documents")
      val cnt = docs.groupBy(col("lang").as("cl"), col("source").as("cs"))
        .agg(count(lit(1)).as("cnt"))
      val minc = cnt.agg(min(col("cnt")).as("mincnt"))
      docs.join(broadcast(cnt),
          col("lang") === col("cl") && col("source") === col("cs"))
        .crossJoin(broadcast(minc))
        .filter(Text.portableHash(col("doc_id")) % M *
          col("cnt") < col("mincnt") * M)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // REAL image decode: deterministic PPM payloads (pixel bytes derive
    // from the supplier key) ride a binary column; the pure-JVM codec
    // extracts dimensions + per-channel means per partition. The oracle
    // computes the expected features from the generation formula — the
    // encode→binary→decode loop is what's being checked.
    "m2_image_decode" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h) = (16, 8)
          val rgb = Array.tabulate[Byte](w * h * 3)(i => ((id * 31 + i) % 256).toByte)
          (id, graft.operators.PpmCodec.encode(w, h, rgb))
        }
      graft.operators.Multimodal.decodeImages(media)
        .toDF()
        .select(col("id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // REAL image near-dup dedup: perceptual hashes (dHash) from
    // actually-decoded pixels, then the d7b banded hamming join —
    // image dedup as a keyed equi-join, never pixel-vs-pixel. Each
    // supplier contributes two renditions (the original and a
    // +1-brightness copy, wrap-free by the %254 pixel formula);
    // brightness shifts every gray equally so the pair is
    // hamming-0 — the invariance a content hash (m1) cannot give.
    "m5_image_phash" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .flatMap { sid =>
          val (w, h) = (16, 8)
          // xor-mixed per-(sid, pixel) pattern: hash ENTROPY must grow
          // with the corpus. The earlier 13-family gradient slope gave
          // every image ~n/13 hash-near neighbors — a quadratic pair
          // count, measured as a 13.4× wall-clock ratio at the
          // sf0.1→sf1 decade (SURVEY §6h). Mixed patterns make
          // cross-supplier dhash bits independent coins, so the only
          // surviving pairs are each supplier's delta-twins — linear
          // at any corpus size, like real photo corpora.
          def img(delta: Int) = graft.operators.PpmCodec.encode(w, h,
            Array.tabulate[Byte](w * h * 3)(i =>
              ((((sid * 2654435761L) ^ (i * 1103515245L)) % 254) + delta).toByte))
          Seq((sid * 2, img(0)), (sid * 2 + 1, img(1)))
        }
      val hashed = graft.operators.Multimodal.hashImages(media).toDF()
        .select(col("id"), col("dhash"))
      Dedup.hammingNearDups(hashed, "id", "dhash")
        .orderBy("a_id", "b_id")
    },

    // REAL video decode + frame sampling: deterministic Y4M (YUV4MPEG2,
    // luma-only `Cmono`) payloads ride a binary column; the pure-JVM
    // codec parses the stream header, walks FRAME markers, and every
    // 2nd frame becomes a row with luma stats from actual plane bytes
    // (exact integer sum / n, identical on both sides). The oracle
    // computes expected features from the frame-generation formula —
    // the encode→binary→decode→sample loop is what's being checked.
    "m4_video_frames" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h) = (8, 8)
          val n = (4 + id % 3).toInt
          val frames = Array.tabulate(n)(f =>
            Array.tabulate[Byte](w * h)(i => ((id * 17 + f * 29 + i * 7) % 256).toByte))
          (id, graft.operators.Y4mCodec.encode(w, h, 25, 1, "mono", frames))
        }
      graft.operators.Multimodal.sampleVideoFrames(media, stride = 2)
        .toDF()
        .select(col("id"), col("frame_idx"), col("width"), col("height"),
          col("n_frames"), col("mean_y"), col("peak_y"))
        .repartition(col("id"))
        .orderBy("id", "frame_idx")
    },

    // REAL audio decode: deterministic 16-bit mono PCM WAV payloads
    // (samples derive from the supplier key) ride a binary column; the
    // pure-JVM RIFF codec extracts rate/duration/amplitude stats per
    // partition. The oracle computes the expected features from the
    // sample-generation formula — the encode→binary→decode loop is
    // what's being checked (amplitude mean = exact integer sum / n,
    // identical on both sides).
    "m3_audio_decode" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val rate = 8000
          val n = (800 + (id % 5) * 100).toInt
          val samples = Array.tabulate[Short](n)(i =>
            (((id * 37 + i * 13) % 2003) - 1001).toShort)
          (id, graft.operators.WavCodec.encode(rate, samples))
        }
      graft.operators.Multimodal.decodeAudio(media)
        .toDF()
        .select(col("id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("mean_abs"), col("peak_abs"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // sample-rate normalization — the resample every audio-training
    // pipeline runs before feature extraction (all corpus audio to one
    // rate): 2× linear-interpolation upsample of the decoded PCM,
    // reported at the stats level (midpoints are exact half-integers,
    // so the double fold is exact and cross-engine bit-deterministic).
    // Same per-partition decode shape as m3; payloads never shuffle.
    "m16_audio_resample" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val rate = 8000
          val n = (800 + (id % 5) * 100).toInt
          val samples = Array.tabulate[Short](n)(i =>
            (((id * 37 + i * 13) % 2003) - 1001).toShort)
          (id, graft.operators.WavCodec.encode(rate, samples))
        }
      graft.operators.Multimodal.resampleAudio2x(media)
        .toDF()
        .select(col("id"), col("src_rate"), col("dst_rate"), col("n_out"),
          col("mean_abs"), col("peak_abs"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // voice-activity detection — the silence-segmentation pass an
    // audio-training pipeline runs before feature extraction: clips
    // alternate loud/quiet 100-sample blocks aligned with the VAD
    // frames (every 3rd frame quiet), so the report exercises both
    // verdicts and real run boundaries. The voiced rule is an exact
    // integer comparison (2·frameSum·nFrames > totalSum — half the mean
    // frame energy), bit-deterministic cross-engine; same per-partition
    // decode shape as m3/m13, payloads never shuffle.
    "m17_vad" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val n = (600 + (id % 4) * 100).toInt
          val pcm = Array.tabulate[Short](n) { i =>
            (if ((i / 100 + id) % 3 == 0) (id * 7 + i * 13) % 41 - 20
             else (id * 37 + i * 13) % 2003 - 1001).toShort
          }
          (id, graft.operators.WavCodec.encode(8000, pcm))
        }
      graft.operators.Multimodal.vadStats(media)
        .toDF()
        .select(col("id"), col("n_frames"), col("n_voiced"),
          col("n_segments"), col("voiced_ratio"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // REAL COMPRESSED image decode #3: baseline JPEG through the
    // from-scratch Huffman/IDCT JpegCodec. Payloads are genuine JPEGs
    // written by the JVM's independent ImageIO encoder per executor
    // task (the only honest way to synthesize real lossy streams).
    // JPEG decode is standard-bounded, not bit-fixed, so the ORACLE
    // checks what is deterministic — every payload decodes with the
    // exact expected geometry — while pixel fidelity is proven by the
    // MultimodalSpec interop tests against ImageIO's own reader.
    "m10_jpeg_decode" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h) = (24, 16)
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, (((id * 7 + x) % 256) << 16).toInt |
                (((id * 11 + y) % 256) << 8).toInt | ((x + y) % 256))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          if (id % 2 == 0) javax.imageio.ImageIO.write(img, "jpg", bos)
          else {
            // odd ids encode PROGRESSIVE (SOF2) — most real crawl
            // JPEGs are; the decoder handles both coding processes
            val wr = javax.imageio.ImageIO
              .getImageWritersByFormatName("jpg").next()
            val p = wr.getDefaultWriteParam
            p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
            // memory-cache stream, closed explicitly: the file-cache
            // stream ImageIO.createImageOutputStream returns opens a
            // /tmp file PER ROW that dispose() does not close — at sf1
            // that leaks thousands of fds across a long bench run
            val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
            wr.setOutput(ios)
            wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
            wr.dispose()
            ios.close()
          }
          (id, bos.toByteArray)
        }
      graft.operators.Multimodal.decodeJpegImages(media)
        .toDF()
        .select(col("id"), col("width"), col("height"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // REAL COMPRESSED image decode #2: PNG (DEFLATE via the JVM's
    // built-in zlib; the chunk/CRC-32/scanline-filter layer is the
    // from-scratch PngCodec). The encoder cycles all five PNG row
    // filters, so the 8-row payloads exercise every de-filter path
    // before the stats land — checked against the generation formula.
    "m9_png_decode" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h) = (16, 8)
          val rgb = Array.tabulate[Byte](w * h * 3)(i => ((id * 29 + i * 3) % 256).toByte)
          (id, graft.operators.PngCodec.encode(w, h, rgb))
        }
      graft.operators.Multimodal.decodePngImages(media)
        .toDF()
        .select(col("id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // REAL COMPRESSED audio decode: G.711 µ-law WAVs (format tag 7 —
    // 8 companded bits on the wire per 16-bit sample) expand through
    // the closed-form ulawDecode8 into the same amplitude stats as the
    // PCM path. The oracle replicates the µ-law expansion formula per
    // sample — the whole encode→container→expand loop is checked.
    "m8_ulaw_decode" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val rate = 8000
          val n = (600 + (id % 4) * 100).toInt
          val u = Array.tabulate[Byte](n)(i => ((id * 7 + i * 31) % 256).toByte)
          (id, graft.operators.WavCodec.encodeUlaw(rate, u))
        }
      graft.operators.Multimodal.decodeAudio(media)
        .toDF()
        .select(col("id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("mean_abs"), col("peak_abs"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // G.711 A-LAW decode (m19): the companion telephony codec (WAV
    // format tag 6 — Europe's half of G.711, µ-law's sibling with the
    // XOR-0x55 toggle pattern and the inverse sign convention). Same
    // container walk and stats chain as m8; the oracle replicates the
    // ITU-T expansion formula per byte, so the whole
    // encode→container→expand loop is hash-checked.
    "m19_alaw_decode" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val rate = 8000
          val n = (500 + (id % 5) * 100).toInt
          val a = Array.tabulate[Byte](n)(i => ((id * 11 + i * 17) % 256).toByte)
          (id, graft.operators.WavCodec.encodeAlaw(rate, a))
        }
      graft.operators.Multimodal.decodeAudio(media)
        .toDF()
        .select(col("id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("mean_abs"), col("peak_abs"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // aspect-preserving letterbox (m23): the "everything to one square
    // input size without distortion" normalization image models need
    // where a bare resize (m2's box path) would stretch — 16×8 PPMs
    // scale to 8×4 (exact 2×2 box means, floor) and center on an 8×8
    // black canvas (pad_top 2). Canvas means divide by t², so the
    // pad geometry sits ON the hash-checked path, not just the pixels.
    "m23_image_letterbox" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h) = (16, 8)
          val rgb = Array.tabulate[Byte](w * h * 3)(i => ((id * 31 + i) % 256).toByte)
          (id, graft.operators.PpmCodec.encode(w, h, rgb))
        }
      graft.operators.Multimodal.letterboxImages(media, t = 8)
        .toDF()
        .select(col("id"), col("out_w"), col("out_h"),
          col("pad_left"), col("pad_top"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // BT.601 color conversion (m22): C420 Y4M frames → per-channel
    // RGB means through the published limited-range fixed-point math
    // (298/409/100/208/516 coefficients, >> 8, [0,255] clip) — the
    // color path a video pipeline runs before pixels feed an image
    // model (m4/m14 consume luma only; this exercises the CHROMA
    // planes and the 2×2 subsampling addressing). The negative-total
    // clip happens BEFORE the shift, so the oracle's integer division
    // replays the shift exactly in any engine.
    "m22_yuv_rgb" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h) = (8, 4)
          val (cw, ch) = (4, 2)
          val frames = (0 until 3).map { f =>
            val y = Array.tabulate[Byte](w * h)(p => ((id * 7 + f * 11 + p * 3) % 256).toByte)
            val u = Array.tabulate[Byte](cw * ch)(q => ((id * 5 + f * 3 + q * 9) % 256).toByte)
            val v = Array.tabulate[Byte](cw * ch)(q => ((id * 3 + f * 7 + q * 13) % 256).toByte)
            y ++ u ++ v
          }.toArray
          (id, graft.operators.Y4mCodec.encode(w, h, 25, 1, "420", frames))
        }
      graft.operators.Multimodal.decodeVideoRgb(media)
        .toDF()
        .select(col("id"), col("frame_idx"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .repartition(col("id"))
        .orderBy("id", "frame_idx")
    },

    // WARC record parse (m21): crawl containers split into framed
    // records by HONORING Content-Length — the bodies deliberately
    // embed the `\r\n\r\n` record separator between tokens 3 and 4,
    // so a split-based reader would mis-frame every record (wrong
    // lengths, wrong record count); only header-driven framing
    // reproduces the oracle's closed-form lengths and token counts.
    // The ingestion step that runs BEFORE any text operator.
    "m21_warc_records" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val recs = (0 until (2 + id % 3).toInt).map { r =>
            val k = (5 + (id + r) % 4).toInt
            val toks = (0 until k).map(j => s"tok${(id * 7 + r * 13 + j) % 50}")
            // the separator REPLACES the space between tokens 3 and 4
            val body = toks.take(3).mkString(" ") + "\r\n\r\n" +
              toks.drop(3).mkString(" ")
            (s"http://site$id.example/p$r", body)
          }
          (id, graft.operators.WarcCodec.encode(recs))
        }
      graft.operators.Multimodal.decodeWarcRecords(media)
        .toDF()
        .select(col("id"), col("rec_idx"), col("uri"), col("content_length"),
          size(split(trim(col("body")), "\\s+")).as("n_tokens"))
        .repartition(col("id"))
        .orderBy("id", "rec_idx")
    },

    // STEREO downmix (m20): 2-channel PCM16 WAVs (interleaved L,R
    // frames) normalize to mono as (l + r) >> 1 — the channel
    // normalization every mono-input audio pipeline applies before
    // feature extraction. Both channel generators emit EVEN samples,
    // so the downmix mean is division-convention-free and the oracle
    // replicates the interleave + mix closed-form per frame.
    "m20_stereo_downmix" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val rate = 16000
          val n = (400 + (id % 4) * 150).toInt
          val l = Array.tabulate[Short](n)(i =>
            (2 * ((id * 5 + i * 7) % 8000) - 8000).toShort)
          val r = Array.tabulate[Short](n)(i =>
            (2 * ((id * 3 + i * 11) % 8000) - 8000).toShort)
          (id, graft.operators.WavCodec.encodeStereo(rate, l, r))
        }
      graft.operators.Multimodal.decodeAudio(media)
        .toDF()
        .select(col("id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("mean_abs"), col("peak_abs"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // ANIMATED GIF decode (m15): each payload is a 4-frame GIF89a on
    // an 8×4 screen — even frames overwrite the full screen, odd
    // frames draw a 4×2 patch at (2,1) over the previous canvas — so
    // the COMPOSITION path (placement + keep-disposal) sits on the
    // hash-checked path, not just the per-frame LZW decode. The
    // oracle replicates the composed per-pixel palette index piecewise
    // (patch membership by pixel coordinates) and the palette channel
    // formulas. Transparency and disposal 2/3 are spec-proven
    // (MultimodalSpec) alongside both-way ImageIO interop.
    "m15_gif_frames" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val pal = Array.tabulate(256)(c =>
            (c << 16) | (((c * 5 + 1) % 256) << 8) | ((c * 11 + 3) % 256))
          val (sw, sh) = (8, 4)
          val frames = (0 until 4).map { f =>
            if (f % 2 == 0)
              graft.operators.GifCodec.AnimFrame(0, 0, sw, sh,
                Array.tabulate[Byte](sw * sh)(p => ((id * 7 + f * 13 + p * 3) % 256).toByte))
            else
              graft.operators.GifCodec.AnimFrame(2, 1, 4, 2,
                Array.tabulate[Byte](8)(q => ((id * 9 + f * 5 + q * 7) % 256).toByte))
          }
          (id, graft.operators.GifCodec.encodeAnimated(sw, sh, pal, frames))
        }
      graft.operators.Multimodal.decodeAnimatedGifs(media)
        .toDF()
        .select(col("id"), col("frame_idx"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .repartition(col("id"))
        .orderBy("id", "frame_idx")
    },

    // video scene-change detection over Y4M: per consecutive-frame
    // boundary, the mean absolute luma difference and the cut verdict
    // — the shot-boundary pass a video pipeline runs BEFORE frame
    // sampling (one frame per shot beats one per N). Payloads carry 6
    // mono frames whose base pattern jumps every S(id) frames:
    // within-scene neighbors are identical (mad 0), scene boundaries
    // jump by ≥101 per pixel, so threshold 1.0 cuts exactly at scene
    // edges. Integer |diff| sums with one division — the oracle
    // replicates the whole per-pixel formula and fold in SQL.
    "m14_scene_change" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h, nf) = (8, 4, 6)
          val scene = (2 + id % 3).toInt
          val frames = Array.tabulate(nf) { f =>
            Array.tabulate[Byte](w * h)(p =>
              ((id * 7 + (f / scene) * 101 + p * 3) % 256).toByte)
          }
          (id, graft.operators.Y4mCodec.encode(w, h, 25, 1, "mono", frames))
        }
      graft.operators.Multimodal.sceneChanges(media, threshold = 1.0)
        .toDF()
        .select(col("id"), col("frame_idx"), col("mad"), col("is_cut"))
        .repartition(col("id"))
        .orderBy("id", "frame_idx")
    },

    // audio ANALYSIS beyond decode: zero-crossing count (the cheap
    // pitch/voicing proxy), RMS energy and the near-silence ratio —
    // the dead-air / degenerate-clip screens an audio pipeline runs
    // first. Payloads are square waves with id-dependent amplitude
    // and half-period, so every stat is integer-exact and the oracle
    // replicates the whole sample formula + folds in SQL; the only
    // float steps are one division and one IEEE sqrt (both
    // correctly-rounded, engine-identical). Amplitudes below the 1%
    // silence threshold make whole rows silent — that branch is on
    // the hash-checked path too.
    "m13_audio_stats" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val n = (400 + (id % 3) * 100).toInt
          val half = (4 + (id % 5)).toInt
          val a = (id * 13 % 1000).toInt
          val pcm = Array.tabulate[Short](n)(i =>
            (if ((i / half) % 2 == 0) a else -a).toShort)
          (id, graft.operators.WavCodec.encode(8000, pcm))
        }
      graft.operators.Multimodal.audioStats(media)
        .toDF()
        .select(col("id"), col("n_samples"), col("zero_crossings"),
          col("rms"), col("silence_ratio"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // REAL COMPRESSED image decode: GIF87a payloads (variable-width
    // LZW over palette indices — the from-scratch GifCodec) decode per
    // partition and yield the same channel statistics as the PPM path.
    // The oracle computes expected features from the index+palette
    // generation formulas — what's being checked is the whole
    // encode→LZW→sub-blocks→decode→palette-resolve loop.
    "m7_gif_decode" -> q { (s, d) =>
      import s.implicits._
      val palette = Array.tabulate(256)(c =>
        (((c * 3 + 5) % 256) << 16) | (((c * 7 + 1) % 256) << 8) |
          ((c * 11 + 9) % 256))
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h) = (16, 8)
          val idx = Array.tabulate[Byte](w * h)(i => ((id * 13 + i * 11) % 256).toByte)
          (id, graft.operators.GifCodec.encode(w, h, idx, palette))
        }
      graft.operators.Multimodal.decodeGifImages(media)
        .toDF()
        .select(col("id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // REAL Windows-DIB image decode: even ids encode 24-bit bottom-up
    // BI_RGB (width 13 → stride 40, so 4-byte row padding and the
    // bottom-up BGR flip are oracle-checked); odd ids encode the SAME
    // pixels as 8-bit BI_RLE8 (compression 1 — run-length escapes,
    // EOL/EOF, palette resolve) with a per-pixel palette, so both
    // compression paths land on one unchanged generation-formula
    // oracle. RLE8 interop with ImageIO is spec-proven both ways.
    "m11_bmp_decode" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val (w, h) = (13, 9)
          val rgb = new Array[Byte](w * h * 3)
          var i = 0
          while (i < w * h) {
            rgb(i * 3) = ((id * 5 + i * 7) % 256).toByte
            rgb(i * 3 + 1) = ((id * 9 + i * 3) % 256).toByte
            rgb(i * 3 + 2) = ((id * 11 + i * 13) % 256).toByte
            i += 1
          }
          if (id % 2 == 0) (id, graft.operators.BmpCodec.encode(w, h, rgb))
          else {
            // palette entry p = pixel p's color; 117 pixels < 256
            val pal = Array.tabulate(w * h)(p =>
              ((rgb(p * 3) & 0xff) << 16) | ((rgb(p * 3 + 1) & 0xff) << 8) |
                (rgb(p * 3 + 2) & 0xff))
            val idx = Array.tabulate[Byte](w * h)(p => p.toByte)
            (id, graft.operators.BmpCodec.encodeRle8(w, h, idx, pal))
          }
        }
      graft.operators.Multimodal.decodeBmpImages(media)
        .toDF()
        .select(col("id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // REAL COMPRESSED audio decode #2: IMA ADPCM WAVs (format tag
    // 0x11 — 4 differential bits on the wire per 16-bit sample, the
    // block-structured adaptive codec). The payloads are ramps with
    // slope ∈ {0,±1,±3,±4}: at step index 0 (step=7) the greedy
    // quantizer hits those deltas EXACTLY and the index adjustment
    // clamps at 0, so decode reproduces every sample bit-exactly and
    // the oracle checks FULL sample fidelity in closed form — the
    // container walk, fact-chunk trim, per-block predictor re-seed,
    // low-nibble-first unpack, the 3-bit diff composition and the
    // sign bit are all on the hash-checked path. The adaptive
    // (step-growth) path is spec-proven in MultimodalSpec (SNR +
    // independent straight-line reference decode). blockAlign 32 →
    // 57 samples/block, so every id spans 2-6 blocks with a padded
    // final block the fact count must trim.
    "m12_adpcm_decode" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { id =>
          val slope = Array(0, 1, 3, 4, -1, -3, -4)((id % 7).toInt)
          val a = (id * 37 % 1000).toInt - 500
          val n = (100 + (id % 5) * 57).toInt
          val pcm = Array.tabulate[Short](n)(i => (a + slope * i).toShort)
          (id, graft.operators.WavCodec.encodeAdpcm(16000, pcm, blockAlign = 32))
        }
      graft.operators.Multimodal.decodeAudio(media)
        .toDF()
        .select(col("id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("mean_abs"), col("peak_abs"))
        .repartition(col("id"))
        .orderBy("id")
    },

    // URL canonicalization + dedup: the crawl-pipeline step BEFORE any
    // text dedup — the same page re-crawled through different tracking
    // links must collapse first. URLs are synthesized deterministically
    // from doc fields (the d19/d23 pattern): scheme + WWW casing noise,
    // a path that repeats across docs, a utm_* tracking tail and one
    // real param. Canonicalize = lowercase, strip scheme/www, drop
    // utm_* params (keep real ones), then keep the EARLIEST doc per
    // canonical URL. Narrow per-row map + one keyed agg — the d4 shape
    // with a canonicalizer in front, same plan at any crawl size.
    "d30_url_dedup" -> q { (s, d) =>
      val raw = concat(lit("https://WWW."), col("source"), lit(".Example.com/"),
        col("lang"), lit("/p"), (col("doc_id") % 50).cast("string"),
        lit("?utm_source=feed&utm_id="), col("doc_id").cast("string"),
        lit("&ref="), (col("doc_id") % 3).cast("string"))
      val ns = regexp_replace(lower(raw), "^https?://(www\\.)?", "")
      val path = substring_index(ns, "?", 1)
      val kept = array_join(
        filter(split(substring_index(ns, "?", -1), "&"),
          p => !p.startsWith("utm_")), "&")
      table(s, d, "documents")
        .select(col("doc_id"),
          when(kept === "", path).otherwise(concat(path, lit("?"), kept))
            .as("canonical_url"))
        .groupBy("canonical_url")
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_dups"))
        .orderBy("canonical_url")
    },

    // video frame near-dup dedup: the m4 Y4M decode composed with the
    // m5 dHash + banded hamming join — catches a re-encoded AND
    // re-brightened frame (the +f luma offset below) where a content
    // hash misses both. Per-video slope k diversifies hashes across
    // videos (m5's hot-band lesson: a shared slope would near-dup
    // EVERY frame against every other through one band bucket). Only
    // (frame id, 8-byte hash) rows leave the decode task — the luma
    // planes never shuffle (plan-gated).
    "m6_video_frame_dedup" -> q { (s, d) =>
      import s.implicits._
      val media = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long")).transform(spreadByKey).as[Long]
        .map { sid =>
          val (w, h) = (16, 8)
          // xor-mixed per-(sid, pixel) luma (same rationale as m5: the
          // 63-family gradient slope made cross-video collisions
          // quadratic — a 30.4× wall-clock ratio at the sf0.1→sf1
          // decade, SURVEY §6h); frame f = frame 0 re-brightened by
          // +f, so each video's 3 frames stay dHash-identical and the
          // pair count is 3 per video — linear by construction
          val frames = Array.tabulate(3)(f =>
            Array.tabulate[Byte](w * h)(i =>
              ((((sid * 2654435761L) ^ (i * 2246822519L)) % 254) + f).toByte))
          (sid, graft.operators.Y4mCodec.encode(w, h, 25, 1, "mono", frames))
        }
      val hashed = graft.operators.Multimodal.hashVideoFrames(media, stride = 1)
        .toDF()
        .select((col("id") * 4 + col("frame_idx")).as("fid"), col("dhash"))
      Dedup.hammingNearDups(hashed, "fid", "dhash")
        .orderBy("a_id", "b_id")
    },

    // sequence packing (concat-and-chunk): the step between curation
    // and the trainer — documents are laid head-to-tail into fixed
    // SEQ_LEN-token training sequences. The global order is the d15
    // portable hash (a deterministic, engine-reproducible epoch
    // shuffle), sharded so the running token offset is a window SUM
    // PARTITIONED BY shard — shards pack independently, so at 100 TB
    // this is N_SHARDS-way parallel with ONE hash exchange (a single
    // un-partitioned running sum would serialize the corpus through
    // one task). Each doc reports the sequence it starts in, its
    // offset inside it, and how many sequences it straddles —
    // all-integer (`div`/`%`), bit-reproducible.
    "d28_sequence_pack" -> q { (s, d) =>
      graft.operators.Packing.sequencePack(table(s, d, "documents"))
        .orderBy("doc_id")
    },

    // BM25 keyword retrieval top-k — the text-side retrieval primitive
    // next to the e-series vector ANN. Shape for scale: tokens are
    // FILTERED to the query's terms inside the per-row array (narrow
    // map) BEFORE the explode, so only matching (doc, term) rows ever
    // reach the tf shuffle — the corpus-wide vocabulary never does;
    // the 3-row df table and the 1-row corpus stats broadcast. The idf
    // is the RATIONAL Robertson form (N - df + 0.5)/(df + 0.5) without
    // the log: ln() differs in the last ulp across libm
    // implementations (the repo-wide log-free determinism rule), and
    // the monotone ranking signal is what retrieval needs.
    "d29_bm25" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val terms = Seq("spark", "join", "vector")
      val docs = table(s, d, "documents")
        .select(col("doc_id"), Text.tokens(lower(col("text"))).as("ts"))
      val matches = docs
        .select(col("doc_id"), size(col("ts")).as("dl"),
          explode(filter(col("ts"), t => t.isin(terms: _*))).as("term"))
      val tf = matches.groupBy("doc_id", "dl", "term")
        .agg(count(lit(1)).as("tf"))
      val df = matches.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        sum(size(col("ts"))).as("sum_dl"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("term"),
          ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") /
              (col("sum_dl").cast(DoubleType) / col("n_docs"))))).as("w"))
        // per-doc score = LEFT FOLD of the term weights in term-ascending
        // order: a plain sum(double) adds in shuffle-arrival order, which
        // differs between engines (and between runs) in the last ulp —
        // the e7-oracle sorted-fold rule
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          array_sort(collect_list(struct(col("term"), col("w")))).as("tw"))
        .select(col("doc_id"), col("n_terms"),
          aggregate(col("tw"), lit(0.0),
            (acc, x) => acc + x.getField("w")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    },

    // d29's PRODUCTION shape (the d47 pattern on the retrieval side):
    // BM25 against the PERSISTED inverted index — postings/df/stats
    // build once per corpus generation (memoized behind the parquet
    // _SUCCESS marker), then the query reads ONLY the postings slice
    // its terms name (term predicate pushed to the parquet scan; the
    // corpus text is never read at query time). Same Robertson weights
    // and sorted-fold score as d29 — spec pins d50 ≡ d29 row-for-row,
    // and both share one oracle.
    "d50_bm25_indexed" -> q { (s, d) =>
      val terms = Seq("spark", "join", "vector")
      val dir = ScratchDirs.stable("d50_bm25_index", d)
      graft.operators.Bm25.ensureIndex(table(s, d, "documents"), dir)
      graft.operators.Bm25.scoreFromIndex(s, dir, terms, k = 10)
    },

    // per-source distribution drift: total-variation distance between
    // each source's token distribution and the corpus distribution —
    // the data-mixing diagnostic that flags a source whose text
    // stopped looking like the rest (crawl rot, a format change, a
    // spam burst) before it contaminates a training mix. TV =
    // 1/2 Σ_t |c_st/N_s − c_t/N| is rearranged to the all-integer
    // numerator |c_st·N − c_t·N_s| (one double division at the very
    // end — the repo's integer-exact determinism rule), and tokens
    // ABSENT from a source contribute N_s·(N − Σ_{t∈s} c_t) in closed
    // form, so only (source, token) rows that exist are ever joined —
    // the full |sources|×|vocab| grid never materializes. Raw tokens
    // aggregate once; token totals re-aggregate the (source, token)
    // counts (vocab-sized, not corpus-sized) and share one token
    // exchange with the probe join (the d24 pattern); the per-source
    // totals and the 1-row corpus total broadcast.
    "d31_source_divergence" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val st = table(s, d, "documents")
        .select(col("source"), explode(Text.tokens(lower(col("text")))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cst"))
        .repartition(col("tok"))
      val tot = st.groupBy("tok").agg(sum(col("cst")).as("ct"))
      val ns = st.groupBy("source").agg(sum(col("cst")).as("nsrc"))
      val n = st.agg(sum(col("cst")).as("ntot"))
      st.join(tot, "tok")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(n))
        .groupBy(col("source"), col("nsrc"), col("ntot"))
        .agg(sum(abs(col("cst") * col("ntot") - col("ct") * col("nsrc"))).as("s1"),
          sum(col("ct")).as("s2"))
        .select(col("source"), col("nsrc").as("n_tokens"),
          ((col("s1") + col("nsrc") * (col("ntot") - col("s2"))).cast(DoubleType) /
            (lit(2.0) * col("nsrc") * col("ntot"))).as("tv_dist"))
        .orderBy("source")
    },

    // crawl-screen: domain blocklist + per-domain document cap.
    // Domains synthesized from doc fields (the d30 pattern); a tiny
    // blocklist broadcast-anti-joins the corpus (spam/SEO domains drop
    // wholesale) and each surviving domain keeps only its K earliest
    // docs — the anti-bulk gate crawl pipelines apply before any text
    // filter sees the data. row_number ≤ K plans as WindowGroupLimit:
    // the partial top-K runs BEFORE the domain shuffle, so a
    // million-page domain ships K rows per input partition, never the
    // whole domain (plan-gated).
    "d32_domain_cap" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val docs = table(s, d, "documents")
        .select(col("doc_id"),
          concat(col("source"), lit("."), col("lang"), lit(".example.com"))
            .as("domain"))
      val block = Seq("src3.zh.example.com", "src7.de.example.com",
        "src11.en.example.com").toDF("domain")
      val w = Window.partitionBy(col("domain")).orderBy(col("doc_id"))
      docs.join(broadcast(block), Seq("domain"), "left_anti")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("domain", "rk", "doc_id")
        .orderBy("domain", "rk")
    },

    // the Gopher quality rules (Rae et al. 2021, arXiv:2112.11446
    // table A1) as one document gate: word-count bounds, mean-word-
    // length bounds, symbol-to-word ratio, alphabetic-word fraction,
    // and the required-stopword count — the heuristic battery most
    // pretraining pipelines run before any model-based filter (d33).
    // All five signals come from the native one-pass GopherStats
    // expression (plans/GopherStats.scala): the composed array-fold
    // form became the slowest text row on the round-6 data (~1.3 s
    // deep-warm at sf0.1 — interpreted higher-order lambdas, §6d) and
    // is kept as the NativePropertySpec equivalence oracle. Zero
    // shuffles, scan-speed at 100 TB; integer counts, the two ratio
    // divisions are the only double ops.
    "d36_gopher_rules" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, IntegerType}
      table(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.Native.gopherStats(col("text")).as("g"))
        .select(col("doc_id"),
          col("g")("n_words").as("n_words"),
          (col("g")("sum_wlen").cast(DoubleType) /
            col("g")("n_words").cast(DoubleType)).as("mean_wlen"),
          (col("g")("n_sym").cast(DoubleType) /
            col("g")("n_words").cast(DoubleType)).as("sym_ratio"),
          (col("g")("n_alpha").cast(DoubleType) /
            col("g")("n_words").cast(DoubleType)).as("alpha_frac"),
          col("g")("n_req_stop").as("n_req_stop"),
          // the gate itself is the SHARED Text.gopherPass kernel (the
          // streaming ingest screen mounts the same boolean)
          Text.gopherPass(col("g")).cast(IntegerType).as("pass"))
        .orderBy("doc_id")
    },

    // benchmark decontamination by FRACTIONAL n-gram overlap (the
    // GPT-3 appendix-C rule, kept by most pretraining pipelines): a
    // train doc is contaminated when the fraction of its distinct
    // 13-gram fingerprints that appear anywhere in the eval set
    // crosses a threshold — robust where d16's shared-fingerprint
    // count is not (a long doc quoting one benchmark item scores low
    // here). Grams are 8-byte polyHash values: the explode and both
    // keyed joins ship (id, hash) rows, never text; one gram join +
    // one per-doc agg. Output = the contamination report (any-overlap
    // docs with the ≥ 0.5 drop verdict).
    "d35_decontaminate" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, IntegerType}
      val docs = table(s, d, "documents")
      val toks = Text.tokens(lower(col("text")))
      def grams(side: DataFrame, idAs: String) = side
        .select(col("doc_id").as(idAs),
          explode(array_distinct(transform(
            graft.functions.Native.wordShingles(toks, 13),
            sh => graft.functions.Native.polyHash(sh, 1000003L)))).as("gram"))
      val evalGrams = grams(docs.filter(col("doc_id") % 10 === 0), "eval_id")
        .select("gram").distinct().withColumn("hit", lit(1))
      grams(docs.filter(col("doc_id") % 10 =!= 0), "train_id")
        .join(evalGrams, Seq("gram"), "left_outer")
        .groupBy("train_id")
        .agg(count(lit(1)).as("n_grams"),
          coalesce(sum(col("hit")), lit(0)).cast("long").as("n_hit"))
        .filter(col("n_hit") > 0)
        .withColumn("overlap",
          col("n_hit").cast(DoubleType) / col("n_grams").cast(DoubleType))
        .withColumn("drop_doc", (col("overlap") >= 0.5).cast(IntegerType))
        .orderBy("train_id")
    },

    // decontamination against a PERSISTED eval-gram index (d73): the
    // index-is-data read path for d35 — the eval set's distinct
    // 13-gram fingerprints build ONCE (Materialize.ensure, the
    // d47/d50/e28 lifecycle) and every train batch screens against
    // the stored 8-byte hash table; at 100 TB the eval side is
    // re-derived per benchmark release, not per screen. Shares d35's
    // ORACLE text verbatim, so persisted ≡ recompute is proven at the
    // driver gate itself, not just in spec.
    "d73_decontaminate_indexed" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, IntegerType}
      val docs = table(s, d, "documents")
      val toks = Text.tokens(lower(col("text")))
      def grams(side: DataFrame, idAs: String) = side
        .select(col("doc_id").as(idAs),
          explode(array_distinct(transform(
            graft.functions.Native.wordShingles(toks, 13),
            sh => graft.functions.Native.polyHash(sh, 1000003L)))).as("gram"))
      val dir = ScratchDirs.stable("d73_eval_grams", d)
      val evalGrams = graft.sources.Materialize.ensure(s, s"$dir/grams") {
        grams(docs.filter(col("doc_id") % 10 === 0), "eval_id")
          .select("gram").distinct()
          .write.mode("overwrite").parquet(s"$dir/grams")
      }.withColumn("hit", lit(1))
      grams(docs.filter(col("doc_id") % 10 =!= 0), "train_id")
        .join(evalGrams, Seq("gram"), "left_outer")
        .groupBy("train_id")
        .agg(count(lit(1)).as("n_grams"),
          coalesce(sum(col("hit")), lit(0)).cast("long").as("n_hit"))
        .filter(col("n_hit") > 0)
        .withColumn("overlap",
          col("n_hit").cast(DoubleType) / col("n_grams").cast(DoubleType))
        .withColumn("drop_doc", (col("overlap") >= 0.5).cast(IntegerType))
        .orderBy("train_id")
    },

    // incremental corpus dedup (the text-side e11): even docs build the
    // persisted fingerprint index, odd docs arrive as the delta and
    // screen against it — survivors land in their own ingest generation
    // (exactly-once replay). Complete recall at hamming ≤ 3 by
    // pigeonhole banding, so the oracle reproduces the drop set with
    // the same banded-pairs derivation as d7b.
    "d34_incremental_dedup" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val dir = ScratchDirs.fresh("d34_idx", d)
      Dedup.writeSimhashIndex(docs.filter(col("doc_id") % 2 === 0), s"$dir/idx")
      Dedup.screenDeltaAppend(docs.filter(col("doc_id") % 2 === 1),
          s"$dir/idx", ingestId = 1)
        .orderBy("doc_id")
    },

    // Bloom-screened incremental exact dedup — the Dolma-style delta
    // screen: a re-crawl batch probes a BLOOM FILTER of the historical
    // text hashes (a broadcast bitmap whose size is set by the key
    // count, NOT the corpus — kilobytes here, ~10 bits/key at scale)
    // so only might-contain suspects pay the join against the real
    // hash index; definite misses bypass it entirely. At 100 TB the
    // delta's join probe side shrinks to the suspected-dup fraction,
    // and the result stays EXACT: Bloom has no false negatives, and
    // every false positive is resolved by the confirm join (so the
    // oracle is the plain join logic — the filter is invisible in the
    // answer, visible only in the plan). Delta synthesis (the d39
    // two-generation pattern): every doc_id%3==0 doc re-ingests
    // verbatim (a true dup), every doc_id%3==1 doc arrives revised
    // (new hash, must pass).
    "d60_bloom_dedup" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val hist = docs.select(col("doc_id"), md5(lower(col("text"))).as("h"))
      val delta = docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(lit("rev2 "), col("text")).as("text")))
        .select(col("doc_id"), md5(lower(col("text"))).as("h"))
      val bits = Dedup.bloomBuild(hist.select("h"), "h", numBits = 8192, k = 3)
      val screened = delta.withColumn("might",
        Dedup.bloomMightContain(bits, col("h"), numBits = 8192, k = 3))
      val keepers = hist.groupBy(col("h").as("kh"))
        .agg(min(col("doc_id")).as("dup_of"))
      // ONE outer join whose condition carries the Bloom verdict as a
      // residual predicate: definite misses (might=false) never probe
      // the index and fall out with null dup_of — single delta scan,
      // no filter/filter/union double-evaluation
      screened.join(keepers, col("h") === col("kh") && col("might"), "left_outer")
        .select(col("doc_id"), col("h"), col("dup_of"),
          col("dup_of").isNotNull.cast("int").as("is_dup"))
        .orderBy("doc_id")
    },

    // model-based quality filtering (the CCNet/GPT-3/FineWeb classifier
    // gate): LINEAR CLASSIFIER INFERENCE over hashed token features —
    // feature = polyHash(token) mod 1024 buckets, fixed deterministic
    // per-bucket weights (stand-ins for an offline-trained model; the
    // engine's job is the inference plan, not the training), logit =
    // weight sum / token count. The whole score is ONE narrow per-row
    // fold over the token array (no explode, no join, no aggregation
    // state — the d29 in-row discipline), so at 100 TB it runs at scan
    // speed and composes with any screen. Integer weight sums; the one
    // double division happens at the end (log-free determinism rule).
    "d33_quality_classifier" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val toks = Text.tokens(lower(col("text")))
      table(s, d, "documents")
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
          Text.classifierRawScore(toks).as("raw_score"))
        .select(col("doc_id"), col("n_tokens"), col("raw_score"),
          (col("raw_score").cast(DoubleType) / col("n_tokens").cast(DoubleType))
            .as("logit"))
        .withColumn("keep",
          (col("logit") >= 0).cast(org.apache.spark.sql.types.IntegerType))
        .orderBy("doc_id")
    },

    // cluster-aware dedup keeping the BEST member (d37): where d11
    // keeps each duplicate group's lowest id, real curation keeps the
    // highest-QUALITY copy (the boilerplate-stripped mirror beats the
    // ad-laden original). Near-dup clusters come from the proven d20
    // chain (banded SimHash pairs closed by pointer-jumping CC);
    // quality is the d2 score computed in the scan projection (text
    // never shuffles — only (doc_id, score) joins the narrow cluster
    // map); the per-cluster argmax is one max_by aggregate (highest
    // score, lowest doc_id on ties — matching the oracle's ROW_NUMBER
    // order; d2's hash-green oracle proves the score doubles are
    // bit-equal cross-engine, so the tie order is portable). Docs in
    // no near-dup pair are their own singleton cluster.
    "d37_dedup_keep_best" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      keepBestPerCluster(docs, Dedup.clusterMap(docs))
    },

    // d37's PRODUCTION shape: keep-best against the PERSISTED cluster
    // map (Dedup.ensureClusterMap — built once per input generation,
    // then a pure 16-byte-row table read). d37 re-derives banding +
    // the iterative CC loop inside every invocation, which is the
    // honest self-contained build path but is never what a 100 TB
    // deployment does per consumer query — there the map is a table
    // (the e11/d34 index-is-data pattern) and keep-best is one scan +
    // one keyed join + one grouped argmax. Same oracle as d37:
    // map-reuse ≡ recompute (also spec-pinned in DedupSpec).
    "d47_keep_best_indexed" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val dir = ScratchDirs.stable("d47_cluster_map", d)
      keepBestPerCluster(docs,
        Dedup.ensureClusterMap(docs, s"$dir/cluster_map"))
    },

    // LEAKAGE-SAFE train/val/test SPLIT ASSIGNMENT (d81): splitting
    // per-document leaks — near-duplicates straddle the boundary and
    // the eval split silently restates training text (the
    // contamination channel d16/d35 screen for, created at split
    // time). The safe unit is the NEAR-DUP CLUSTER: assignment hashes
    // the cluster id (d20/d47's SimHash-CC map — the SAME persisted
    // `cluster_map` artifact d47 reads, one build serving selection,
    // reporting AND splitting), so every member of a cluster lands in
    // the same split BY CONSTRUCTION, singletons hash their own id.
    // The 90/5/5 gate rides the divisionless portable hash (the
    // d15/d69 kernel — deterministic, engine-identical, stable under
    // re-partitioning and re-runs, so an incremental re-split never
    // migrates old docs). One broadcast-or-keyed join of 16-byte
    // (id, cluster) rows + an in-row projection; FULL oracle (the
    // keep-best CC chain + the same hash arithmetic).
    "d81_cluster_split" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val dir = ScratchDirs.stable("d47_cluster_map", d)
      val cm = Dedup.ensureClusterMap(docs, s"$dir/cluster_map")
      docs.select(col("doc_id"))
        .join(cm, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .withColumn("bucket", Text.portableHash(col("cluster")) % 100L)
        .withColumn("split",
          when(col("bucket") < 90L, "train")
            .when(col("bucket") < 95L, "val").otherwise("test"))
        .orderBy("doc_id")
    },

    // temperature-scaled source resampling (d38): the mixture-
    // flattening step of the published pretraining data recipes
    // (GPT-3 / LLaMA sample sources ∝ count^α rather than raw size so
    // a huge crawl can't drown the small high-quality sources). α=1/2
    // here: each source's target = floor(sqrt(mincnt·cnt)) — the
    // geometric mean of the smallest source and itself, exactly
    // between full (α=1) and equal-allocation (α=0, which is d25).
    // The keep decision is the d15/d25 divisionless portable-hash
    // gate ((h mod M)·cnt < target·M, all-integer), so it is
    // deterministic, engine-reproducible, and replay-stable; per-
    // source stats broadcast, the corpus streams through one narrow
    // filter. sqrt is IEEE-correctly-rounded so both engines compute
    // the identical target from the identical integers.
    "d38_temperature_mix" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val docs = table(s, d, "documents")
      val c = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
      val m = c.agg(min(col("cnt")).as("mincnt"))
      val t = c.crossJoin(broadcast(m))
        .select(col("source"), col("cnt"),
          floor(sqrt(col("mincnt").cast(DoubleType) * col("cnt").cast(DoubleType)))
            .cast(LongType).as("target"))
      val M = 1000003L
      docs.join(broadcast(t), "source")
        .filter(Text.portableHash(col("doc_id")) % M
          * col("cnt") < col("target") * M)
        .groupBy("source", "cnt", "target")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    },

    // corpus snapshot diff (d39): the report run between two crawl
    // generations before any re-processing — which documents were
    // added, removed, changed, or carried unchanged, per source. Two
    // snapshot versions are synthesized deterministically from the one
    // documents table (the d19/d23/d30 pattern: v1 drops doc_id%5==4,
    // v2 drops doc_id%7==6 and edits doc_id%11==0 by prepending a
    // revision marker), each reduced AT THE SCAN to (doc_id, source,
    // fingerprint) — the d8 polynomial content fingerprint — so the
    // full-outer join on doc_id ships 24-byte rows, never text.
    // Classification is fingerprint equality; one keyed join + one
    // grouped conditional aggregation.
    "d39_corpus_diff" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val v1 = docs.filter(col("doc_id") % 5 =!= 4)
        .select(col("doc_id"), col("source").as("src1"),
          Text.fingerprint(col("text")).as("fp1"))
      val v2text = when(col("doc_id") % 11 === 0,
        concat(lit("rev2 "), col("text"))).otherwise(col("text"))
      val v2 = docs.filter(col("doc_id") % 7 =!= 6)
        .select(col("doc_id"), col("source").as("src2"),
          Text.fingerprint(v2text).as("fp2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(coalesce(col("src1"), col("src2")).as("source"),
          when(col("fp1").isNull, lit("added"))
            .when(col("fp2").isNull, lit("removed"))
            .when(col("fp1") === col("fp2"), lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
        .groupBy("source")
        .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
        .orderBy("source")
    },

    // ---- SFT / chat-data curation (d40-d43): the post-pretraining
    // data family — instruction corpora arrive as multi-turn
    // conversations, and the engine's jobs are template rendering with
    // loss-mask spans, structural validation, prompt-level dedup and
    // batch-shape planning. Conversations are synthesized
    // deterministically from the documents table (the d19/d23/d30
    // pattern): tokens chunk into turns of 8, roles alternate
    // user/assistant, so every query below is a FULL oracle. --------

    // chat-template rendering with loss-mask offsets (d40): each turn
    // renders as "<|role|>\n" + body + "\n" and the trainer needs the
    // char span of every assistant body (the only tokens that take
    // loss). All offsets are exact integer arithmetic computed IN-ROW
    // (per-turn lengths -> prefix sums over the lens array), so the
    // whole query is one narrow projection + explode — zero shuffles
    // before the final sort, scan-speed at 100 TB. Marker lengths: 5
    // chars of frame + len(role) (user=9, assistant=14), +1 trailing
    // newline per turn.
    "d40_chat_render" -> q { (s, d) =>
      import org.apache.spark.sql.types.LongType
      val t = docsByRange(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          least(lit(6L), greatest(lit(1L),
            expr("(size(toks) + 7) div 8"))).as("n_turns"))
        .select(col("doc_id"), col("n_turns"),
          transform(sequence(lit(0L), col("n_turns") - 1), j =>
            length(array_join(
              slice(col("toks"), (j * 8 + 1).cast("int"), lit(8)), " "))
              .cast(LongType)).as("lens"))
      t.select(col("doc_id"), col("lens"),
          explode(sequence(lit(0L), col("n_turns") - 1)).as("turn_idx"))
        .select(col("doc_id"), col("turn_idx"),
          when(col("turn_idx") % 2 === 0, "user").otherwise("assistant")
            .as("role"),
          element_at(col("lens"), (col("turn_idx") + 1).cast("int"))
            .as("body_len"),
          (aggregate(slice(col("lens"), lit(1), col("turn_idx").cast("int")),
            lit(0L), (a, x) => a + x)
            + expr("9 * ((turn_idx + 1) div 2) + 14 * (turn_idx div 2)")
            + col("turn_idx")).as("start_off"))
        .select(col("doc_id"), col("turn_idx"), col("role"), col("body_len"),
          col("start_off"),
          (col("start_off") + length(col("role")) + 5).cast(LongType)
            .as("body_start"),
          (col("start_off") + length(col("role")) + 5 + col("body_len"))
            .cast(LongType).as("body_end"),
          when(col("role") === "assistant", 1L).otherwise(0L).as("in_loss"))
        .orderBy("doc_id", "turn_idx")
    },

    // conversation-structure validation (d41): the screen every SFT
    // pipeline runs before training — roles must start at user,
    // alternate strictly, end at assistant, with no empty turns and at
    // least one exchange. Defects are injected deterministically
    // (doc_id%13 swaps all roles, %17 forces turn 1 to 'user' making a
    // consecutive pair, %19 empties the last turn) so the screen has
    // real positives to catch. Roles/bodies build and fold IN-ROW —
    // zero shuffles before the final sort.
    "d41_turn_validate" -> q { (s, d) =>
      val t = docsByRange(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          least(lit(6L), greatest(lit(1L),
            expr("(size(toks) + 7) div 8"))).as("n_turns"))
      val roles = transform(sequence(lit(0L), col("n_turns") - 1), i =>
        when(col("doc_id") % 17 === 0 && i === 1, lit("user"))
          .otherwise(when(
            when(col("doc_id") % 13 === 0, (i + 1) % 2).otherwise(i % 2) === 0,
            "user").otherwise("assistant")))
      val bodies = transform(sequence(lit(0L), col("n_turns") - 1), i =>
        when(col("doc_id") % 19 === 0 && i === col("n_turns") - 1, lit(""))
          .otherwise(array_join(
            slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")))
      t.select(col("doc_id"), col("n_turns"),
          roles.as("roles"), bodies.as("bodies"))
        .select(col("doc_id"), col("n_turns"),
          graft.functions.Chat.firstUser(col("roles")).as("first_user"),
          graft.functions.Chat.alternationOk(col("roles")).as("alternation_ok"),
          graft.functions.Chat.noEmpty(col("bodies")).as("no_empty"),
          graft.functions.Chat.endsAssistant(col("roles")).as("ends_assistant"),
          graft.functions.Chat.valid(col("roles"), col("bodies")).as("valid"))
        .orderBy("doc_id")
    },

    // prompt-level dedup (d42): instruction corpora are deduplicated
    // by the PROMPT (the first user turn), not the whole conversation
    // — the same question answered twice trains the answer twice.
    // Key = the d8 polynomial fingerprint of the normalized first
    // turn; keep the earliest conversation. The d4 shape: 8-byte keys
    // through one keyed agg, text never shuffles.
    "d42_prompt_dedup" -> q { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.Chat.promptFingerprint(col("text")).as("prompt_fp"))
        .groupBy("prompt_fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_convs"))
        .orderBy("prompt_fp")
    },

    // preference-pair construction (d44): the DPO/RLHF dataset builder
    // — within every duplicate-prompt group (the d42 key), the highest-
    // quality conversation becomes `chosen` and the lowest becomes
    // `rejected` (ties: lowest id wins chosen, highest id takes
    // rejected, so an all-tie group still yields a distinct pair).
    // Quality is the d2 score (hash-proven bit-equal doubles, so the
    // cross-engine argmax/argmin can never disagree — the d37 lesson).
    // One keyed agg over 16-byte (fp, score) rows with two struct
    // extremes as the ENTIRE group state — no per-group member
    // buffering, text never shuffles.
    "d44_preference_pairs" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val scored = docs
        .select(col("doc_id"), col("text"),
          Text.tokenCount(col("text")).as("n_tokens"),
          Text.stopwordCount(col("text")).as("n_stop"),
          Text.punctCount(col("text")).as("n_punct"),
          length(col("text")).as("n_chars"))
        .select(col("doc_id"), col("text"), col("n_tokens"),
          (col("n_stop").cast("double") / col("n_tokens").cast("double"))
            .as("stop_ratio"),
          when(col("n_chars") === 0, lit(0.0))
            .otherwise(col("n_punct").cast("double") / col("n_chars").cast("double"))
            .as("punct_ratio"))
        .select(col("doc_id"),
          graft.functions.Chat.promptFingerprint(col("text")).as("prompt_fp"),
          Text.qualityScore(col("n_tokens"), col("stop_ratio"),
            col("punct_ratio")).as("score"))
      scored.groupBy("prompt_fp")
        .agg(count(lit(1)).as("n_convs"),
          max(struct(col("score"), (-col("doc_id")).as("nid"))).as("c"),
          min(struct(col("score"), (-col("doc_id")).as("nid"))).as("r"))
        .filter(col("n_convs") >= 2)
        .select(col("prompt_fp"), col("n_convs"),
          (-col("c")("nid")).as("chosen_id"),
          (-col("r")("nid")).as("rejected_id"),
          (col("c")("score") - col("r")("score")).as("score_gap"))
        .orderBy("prompt_fp")
    },

    // distributed BPE tokenizer TRAINING (Sennrich 2016): learn the
    // first 10 merges over the documents corpus. One corpus-sized
    // word-frequency agg (map-side combine — the shuffle carries the
    // DISTINCT-word dict, not the text), then every round runs on the
    // dict alone: pair-explode + sum + a 1-row argmax to the driver,
    // the d20 driver-loop shape. Deterministic tie-break (count desc,
    // then lexicographic), so the merge table is reproducible under
    // any partitioning — spec-proven equal to an independent local
    // reference trainer AND fully oracled: the 10 merge rounds unroll
    // as a fixed DuckDB CTE chain (bpeTrainOracle) whose symbol state
    // rides a space-delimited string encoding where `replace` IS
    // applyMerge.
    "d45_bpe_train" -> q { (s, d) =>
      graft.operators.BpeTrain.train(table(s, d, "documents"), "text", 10)
    },

    // sentence/segment-level language-MIXING detection: d3 assigns one
    // language per document, but crawl documents interleave languages
    // (boilerplate, quotes, spam) and a doc-level vote hides it — the
    // standard curation screen re-runs language ID per fixed 40-token
    // window and reports the per-doc mix: distinct non-und languages,
    // the mixed verdict, and the deterministic majority (count desc,
    // lang asc). Narrow explode (40-token windows re-joined as text),
    // one (doc, lang) agg, a WindowGroupLimit argmax — text segments
    // shuffle once, keyed by doc_id; FULL oracle re-deriving windows
    // and the d3 marker rule per segment.
    "d46_lang_mix" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val segLen = 40
      val base = table(s, d, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          // Column `/` is double division — floor+cast keeps the
          // ceil-divide integral
          floor((size(col("toks")) + segLen - 1) / segLen)
            .cast("int").as("n_segments"))
      val segs = base
        .select(col("doc_id"), col("n_segments"),
          // greatest(n,1) guards sequence(0,-1)'s step=-1 fabrication
          // ([0,-1]); an n=0 doc would get one empty ("und") segment,
          // which the non-und filter drops — same as the oracle's
          // empty generate_series
          explode(sequence(lit(0), greatest(col("n_segments"), lit(1)) - 1))
            .as("i"), col("toks"))
        .select(col("doc_id"),
          Text.langId(concat_ws(" ",
            slice(col("toks"), col("i") * segLen + 1, lit(segLen)))).as("seg_lang"))
      val counts = segs.groupBy("doc_id", "seg_lang").agg(count(lit(1)).as("n"))
        .filter(col("seg_lang") =!= "und")
      val nLangs = counts.groupBy("doc_id")
        .agg(countDistinct("seg_lang").as("n_langs"))
      val w = Window.partitionBy("doc_id").orderBy(col("n").desc, col("seg_lang").asc)
      val maj = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("seg_lang").as("majority_lang"))
      base.select("doc_id", "n_segments")
        .join(nLangs, Seq("doc_id"), "left")
        .join(maj, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segments"),
          coalesce(col("n_langs"), lit(0L)).as("n_langs"),
          (coalesce(col("n_langs"), lit(0L)) >= 2).as("is_mixed"),
          coalesce(col("majority_lang"), lit("und")).as("majority_lang"))
        .orderBy("doc_id")
    },

    // CCNet-style perplexity bucketing (arXiv:1911.00359): score every
    // document with the d24 bigram-LM typicality signal, then split the
    // corpus into head/middle/tail at the score tertiles — the published
    // "keep the head, down-weight the tail" curation step. The tertile
    // thresholds are ONE exact-percentile row (percentile ≡ DuckDB
    // quantile_cont bit-for-bit — the q26 precedent) broadcast over the
    // scored corpus; the corpus itself only streams through the d24
    // chain plus one narrow CASE tag, so the bucketing adds no shuffle
    // beyond the score it already needed. High mean corpus-frequency =
    // most typical = head (CCNet's low-perplexity head).
    "d48_perplexity_buckets" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val toks = Text.tokens(lower(col("text")))
      val bg = table(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Native.wordShingles(toks, 2)).as("bigram"))
        .repartition(col("bigram"))
      val freq = bg.groupBy("bigram").agg(count(lit(1)).as("cf"))
      val scored = bg.join(freq, "bigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cf")).as("sum_cf"))
        .select(col("doc_id"),
          (col("sum_cf").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
            .as("mean_cf"))
      val th = scored.agg(
        expr("percentile(mean_cf, 0.3333333333333333D)").as("t1"),
        expr("percentile(mean_cf, 0.6666666666666666D)").as("t2"))
      scored.crossJoin(broadcast(th))
        .select(col("doc_id"), col("mean_cf"),
          when(col("mean_cf") < col("t1"), lit("tail"))
            .when(col("mean_cf") < col("t2"), lit("middle"))
            .otherwise(lit("head")).as("bucket"))
        .orderBy("doc_id")
    },

    // LSH → edit-distance verify cascade (the e17 rerank pattern on the
    // dedup side): d6's MinHash bands nominate candidate pairs via the
    // band/bucket equi-join (no all-pairs path exists), then the
    // expensive O(len²) Levenshtein verify runs ONLY on the deduped
    // candidates, over a bounded 256-char prefix that caps the per-pair
    // cost — at 100 TB full-document edit distance is never affordable,
    // and the banding already guarantees candidates share shingle mass.
    // Raw text never rides the banding shuffle: it joins back by id
    // after the candidate set is distinct. greatest(max_len, 1) keeps
    // the similarity division total when both prefixes are empty.
    "d49_lsh_edit_verify" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val docs = table(s, d, "documents")
      val b = Dedup.minhashBands(Dedup.minhashSignatures(docs))
        .repartition(col("band"), col("bucket"))
      val cands = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val txt = docs.select(col("doc_id"), substring(col("text"), 1, 256).as("t"))
      cands
        .join(txt.select(col("doc_id").as("a_id"), col("t").as("t_a")), "a_id")
        .join(txt.select(col("doc_id").as("b_id"), col("t").as("t_b")), "b_id")
        .select(col("a_id"), col("b_id"),
          levenshtein(col("t_a"), col("t_b")).cast(LongType).as("edit_dist"),
          greatest(greatest(length(col("t_a")), length(col("t_b"))), lit(1))
            .as("max_len"))
        .select(col("a_id"), col("b_id"), col("edit_dist"),
          (lit(1.0) - col("edit_dist").cast(DoubleType)
            / col("max_len").cast(DoubleType)).as("edit_sim"))
        .orderBy("a_id", "b_id")
    },

    // classifier-calibration report — the reliability diagnostic every
    // model-based quality filter ships with: d33's hashed-feature
    // logit binned into 10 equal-width bins over the corpus range,
    // each bin reporting how often the INDEPENDENT d36 Gopher rule
    // verdict agrees (pass rate). A calibrated filter's pass rate
    // climbs with the logit; a flat report means the classifier
    // threshold is noise. Per-bin state is COUNTS only — no double
    // sums, so the mean-of-doubles shuffle-order trap never arises;
    // the [mn, mx] range is one broadcast row; both signals compute
    // in the scan projection (one corpus pass, zero pre-agg shuffles).
    "d51_quality_calibration" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, IntegerType}
      val toks = Text.tokens(lower(col("text")))
      val scored = table(s, d, "documents")
        .select(col("doc_id"),
          (graft.functions.Text.classifierRawScore(toks).cast(DoubleType) /
            size(toks).cast("long").cast(DoubleType)).as("logit"),
          graft.functions.Native.gopherStats(col("text")).as("g"))
        .select(col("logit"),
          (col("g")("n_words") >= 50 && col("g")("n_words") <= 100000 &&
            col("g")("sum_wlen").cast(DoubleType) /
              col("g")("n_words").cast(DoubleType) >= 3.0 &&
            col("g")("sum_wlen").cast(DoubleType) /
              col("g")("n_words").cast(DoubleType) <= 10.0 &&
            col("g")("n_sym").cast(DoubleType) /
              col("g")("n_words").cast(DoubleType) <= 0.1 &&
            col("g")("n_alpha").cast(DoubleType) /
              col("g")("n_words").cast(DoubleType) >= 0.8 &&
            col("g")("n_req_stop") >= 2).cast(IntegerType).as("pass"))
      val rng = scored.agg(min(col("logit")).as("mn"), max(col("logit")).as("mx"))
      scored.crossJoin(broadcast(rng))
        .select(col("pass"),
          when(col("mx") > col("mn"),
            least(floor((col("logit") - col("mn"))
              / (col("mx") - col("mn")) * 10).cast(IntegerType), lit(9)))
            .otherwise(lit(0)).as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pass").cast("long")).as("n_pass"))
        .select(col("bin"), col("n_docs"), col("n_pass"),
          (col("n_pass").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("pass_rate"))
        .orderBy("bin")
    },

    // duplicate-density report — the RefinedWeb/FineWeb per-document
    // duplication diagnostic: the fraction of a doc's distinct 13-gram
    // fingerprints that appear in ANY other document. Where d35 screens
    // train-vs-eval overlap and d4/d6 decide drop/keep, this measures
    // HOW duplicated every surviving doc still is (the curation report
    // that decides whether another dedup pass pays for itself). Grams
    // are the d35 8-byte polyHash rows: the explode and both keyed aggs
    // ship (id, hash), never text; the count side is filtered to
    // duplicated grams BEFORE the join back, so the join's build side
    // is only the duplicated tail of the gram distribution — at 100 TB
    // most grams are unique and never re-shuffle.
    "d52_dup_density" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val toks = Text.tokens(lower(col("text")))
      // the cross-doc gram count is a WINDOW over the gram-partitioned
      // rows (the d66 marking shape): the r13 aggregate + join-back
      // computed the shingle projection TWICE (column pruning forks the
      // two consumers' subtrees past ReuseExchange) and single-task
      // (keyless scan); now the grid computes once above a data-aware
      // fan-out and crosses the network once on gram
      val grams = Spread.byKey(table(s, d, "documents")
          .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"),
          explode(array_distinct(transform(
            graft.functions.Native.wordShingles(toks, 13),
            sh => graft.functions.Native.polyHash(sh, 1000003L)))).as("gram"))
      grams
        .withColumn("gram_docs",
          count(lit(1)).over(Window.partitionBy("gram")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("gram_docs") > 1L, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          (col("n_dup").cast(DoubleType) / col("n_grams").cast(DoubleType))
            .as("dup_frac"))
        .orderBy("doc_id")
    },

    // curation survival funnel — the report every pretraining pipeline
    // publishes: how many documents survive each successive gate (raw →
    // d36 Gopher rules → d33 classifier → d4 exact-dedup keeper), with
    // the cumulative retained fraction. All three gate flags compute in
    // ONE corpus pass (the Gopher stats and classifier logit are the
    // proven in-row folds; the keeper flag is a min-over-window keyed by
    // the d4 md5 text hash — the single shuffle), then the funnel is a
    // 1-row conjunction aggregate unpivoted to 4 stage rows via stack.
    // No per-stage corpus re-scan: at 100 TB the funnel costs exactly
    // one scan + one hash-keyed exchange more than d36 alone.
    "d53_pipeline_funnel" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      import org.apache.spark.sql.expressions.Window
      val toks = Text.tokens(lower(col("text")))
      val flags = table(s, d, "documents")
        .select(col("doc_id"), md5(lower(col("text"))).as("text_hash"),
          (graft.functions.Text.classifierRawScore(toks).cast(DoubleType) /
            size(toks).cast("long").cast(DoubleType)).as("logit"),
          graft.functions.Native.gopherStats(col("text")).as("gs"))
        .select(col("doc_id"), col("text_hash"), col("logit"),
          (col("gs")("n_words") >= 50 && col("gs")("n_words") <= 100000 &&
            col("gs")("sum_wlen").cast(DoubleType) /
              col("gs")("n_words").cast(DoubleType) >= 3.0 &&
            col("gs")("sum_wlen").cast(DoubleType) /
              col("gs")("n_words").cast(DoubleType) <= 10.0 &&
            col("gs")("n_sym").cast(DoubleType) /
              col("gs")("n_words").cast(DoubleType) <= 0.1 &&
            col("gs")("n_alpha").cast(DoubleType) /
              col("gs")("n_words").cast(DoubleType) >= 0.8 &&
            col("gs")("n_req_stop") >= 2).cast("long").as("g"))
        .select(col("doc_id"), col("g"),
          (col("logit") >= 0).cast("long").as("c"),
          (col("doc_id") === min(col("doc_id"))
            .over(Window.partitionBy(col("text_hash")))).cast("long").as("k"))
      flags
        .agg(count(lit(1)).as("n_raw"),
          sum(col("g")).as("n_g"),
          sum(col("g") * col("c")).as("n_gc"),
          sum(col("g") * col("c") * col("k")).as("n_gck"))
        .select(col("n_raw"),
          expr("stack(4, 0, 'raw', n_raw, 1, 'gopher', n_g, " +
            "2, 'classifier', n_gc, 3, 'exact_dedup', n_gck) " +
            "as (stage_idx, stage, n_docs)"))
        .select(col("stage_idx"), col("stage"), col("n_docs"),
          (col("n_docs").cast(DoubleType) / col("n_raw").cast(DoubleType))
            .as("retained_frac"))
        .orderBy("stage_idx")
    },

    // sliding-window chunking — the RAG/embedding prep primitive: every
    // document splits into 64-token chunks on a 48-token stride
    // (16-token overlap keeps boundary context retrievable), each chunk
    // carrying its index, token offset, and re-joined text. Chunk count
    // = ⌈(n − overlap) / stride⌉ floored at 1, so every doc (even
    // empty) yields at least one chunk and the trailing tokens are
    // always covered. Pure in-row: one projection + explode, ZERO
    // shuffles before the final sort — chunking 100 TB runs at scan
    // speed and feeds the e-series embed/index chain downstream.
    "d54_rag_chunks" -> q { (s, d) =>
      val toks = Text.tokens(lower(col("text")))
      docsByRange(s, d)
        .select(col("doc_id"),
          explode(Text.ragChunks(toks, chunkSize = 64, stride = 48)).as("c"))
        .select(col("doc_id"),
          col("c")("chunk_idx").as("chunk_idx"),
          col("c")("start_tok").as("start_tok"),
          size(col("c")("chunk")).as("n_tok"),
          concat_ws(" ", col("c")("chunk")).as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    },

    // span-corruption pair builder — the T5 denoising objective
    // (Raffel et al. 2020, arXiv:1910.10683 §3.1.4): mask contiguous
    // spans, emit (input with sentinels, target of sentinel+span) —
    // re-expressed with DETERMINISTIC span placement so the pairs are
    // replayable and cross-engine oracle-able (the d15/d25 portable-
    // hash discipline, where T5 draws randomly): each FULL 20-token
    // block corrupts one 3-token span (15% corruption, mean span 3 —
    // the published defaults) at offset hash(doc_id, block) % 18;
    // blocks make spans non-overlapping by construction, the tail
    // stays clean. Everything is one in-row projection (transform /
    // slice / flatten over the token array — zero shuffles, scan
    // speed at 100 TB, the d40 offsets discipline).
    "d55_span_corruption" -> q { (s, d) =>
      import org.apache.spark.sql.Column
      val blk = 20
      val span = 3
      val toks = Text.tokens(lower(col("text")))
      val emptyArr = array().cast("array<string>")
      // portableHash pre-reduces its argument mod 2^31−1 before the
      // multiply, so the product can't wrap; doc_id·131 + b itself
      // stays in-long for any doc_id < 7.0e16 (all real id spaces)
      def off(b: Column): Column =
        (Text.portableHash(col("doc_id") * 131 + b)
          % (blk - span + 1)).cast("int")
      def sentinel(b: Column): Column =
        concat(lit("<extra_id_"), b.cast("string"), lit(">"))
      docsByRange(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n_tokens"),
          floor(size(col("toks")) / blk).cast("int").as("n_spans"))
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          concat_ws(" ", concat(
            when(col("n_spans") > 0,
              flatten(transform(sequence(lit(0), col("n_spans") - 1), b =>
                concat(
                  slice(col("toks"), b * blk + 1, off(b)),
                  array(sentinel(b)),
                  slice(col("toks"), b * blk + off(b) + span + 1,
                    lit(blk - span) - off(b))))))
              .otherwise(emptyArr),
            slice(col("toks"), col("n_spans") * blk + 1,
              col("n_tokens") - col("n_spans") * blk))).as("input_text"),
          concat_ws(" ",
            when(col("n_spans") > 0,
              transform(sequence(lit(0), col("n_spans") - 1), b =>
                concat(sentinel(b), lit(" "),
                  array_join(slice(col("toks"), b * blk + off(b) + 1, lit(span)),
                    " "))))
              .otherwise(emptyArr)).as("target_text"))
        .orderBy("doc_id")
    },

    // tokenizer-fertility report — the per-language tokenizer
    // evaluation every multilingual pipeline publishes (fertility =
    // subword tokens per whitespace word; compression = chars per
    // subword token): a tokenizer with fertility ≫ 1 on a language
    // wastes that language's context budget and signals a vocab gap.
    // Both counts are the proven d9 in-row folds (BPE-ish regex +
    // whitespace split), so the whole report is one scan + one tiny
    // per-lang aggregate of integer sums — the single double division
    // happens on the aggregated totals (log-free rule).
    "d56_tokenizer_fertility" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      table(s, d, "documents")
        .select(col("lang"), col("n_chars").cast("long").as("nc"),
          Text.bpeTokenCount(col("text")).cast("long").as("nb"),
          Text.tokenCount(col("text")).cast("long").as("nw"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nb").as("n_bpe"), sum("nw").as("n_ws"),
          sum("nc").as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_bpe"), col("n_ws"),
          col("n_chars"),
          (col("n_bpe").cast(DoubleType) / col("n_ws").cast(DoubleType))
            .as("fertility"),
          (col("n_chars").cast(DoubleType) / col("n_bpe").cast(DoubleType))
            .as("chars_per_token"))
        .orderBy("lang")
    },

    // length-bucket batch planning (d43): pad-to-power-of-two bucketing
    // — the trainer pads every sequence in a batch to the bucket
    // capacity, so the padding-waste report per bucket is what decides
    // the bucket boundaries and the packing strategy (vs d28's
    // concat-packing). Capacity ladder is a pure CASE ladder (the
    // repo's log-free rule: no float log2 whose ulp could fork the
    // bucket at an exact power), over-4096 sequences truncate and are
    // counted. One narrow projection + an 8-row agg; one double
    // division for utilization at the very end.
    "d43_length_buckets" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val caps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)
      val capacity = caps.foldRight(lit(4096L): org.apache.spark.sql.Column)(
        (c, acc) => when(col("n") <= c, lit(c)).otherwise(acc))
      table(s, d, "documents")
        .select(Text.tokenCount(col("text")).cast(LongType).as("n"))
        .select(col("n"), capacity.as("capacity"),
          least(col("n"), lit(4096L)).as("kept"))
        .groupBy("capacity")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept")).as("sum_tokens"),
          sum(col("capacity") - col("kept")).as("n_pad"),
          sum(when(col("n") > 4096L, 1L).otherwise(0L)).as("n_truncated"))
        .select(col("capacity"), col("n_docs"), col("sum_tokens"),
          col("n_pad"), col("n_truncated"),
          (col("sum_tokens").cast(DoubleType)
            / (col("n_docs") * col("capacity")).cast(DoubleType))
            .as("utilization"))
        .orderBy("capacity")
    },

    // curriculum scheduling — the data-ORDERING step after curation:
    // phase 1 = the top quality tertile (clean text first), phase 3 =
    // the tail, each phase deterministically shuffled via the d38
    // multiplicative hash so shard order is replayable. Deliberately
    // NO global row_number: a dense global position is a single-
    // partition window at 100 TB — the loader consumes shards sorted
    // by (phase, shuffle_key), which is exactly what this emits.
    // Thresholds are ONE exact-percentile row broadcast over the d2
    // in-row score chain (the d48/q26 quantile precedent), so the plan
    // is one scan + one 1-row broadcast.
    "d58_curriculum_order" -> q { (s, d) =>
      val scored = table(s, d, "documents")
        .select(col("doc_id"), Text.docQualityScore(col("text")).as("score"))
      val th = scored.agg(
        expr("percentile(score, 0.3333333333333333D)").as("t1"),
        expr("percentile(score, 0.6666666666666666D)").as("t2"))
      scored.crossJoin(broadcast(th))
        .select(col("doc_id"), col("score"),
          when(col("score") >= col("t2"), lit(1))
            .when(col("score") >= col("t1"), lit(2))
            .otherwise(lit(3)).as("phase"),
          Text.portableHash(col("doc_id")).as("shuffle_key"))
        .orderBy("phase", "shuffle_key", "doc_id")
    },

    // epoch mixture MATERIALIZATION — the upsampling complement of
    // d38's subsample, on the published axis: per-LANGUAGE targets
    // equalize toward the largest language under a sqrt temperature
    // (target = ⌊√(maxcnt·cnt)⌋ — the mC4/XLM-R α=0.5 language-
    // balancing shape, in d38's overflow-safe integer arithmetic with
    // NO cross-row double sums), so rare languages repeat (de/es/fr/zh
    // get 1-2 copies against the en majority) and the epoch is emitted
    // as real (doc_id, copy) rows via an in-row sequence explode. The
    // fractional residual picks docs by hash threshold
    // (hash % cnt < target % cnt) instead of an exact per-language
    // rank — a rank is a single-partition window per language at
    // 100 TB, while the threshold is stateless and lands within
    // O(√cnt) of the target. Plan: one scan + one tiny per-language
    // agg broadcast back + explode.
    "d59_epoch_upsample" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val docs = table(s, d, "documents")
      val c = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      val m = c.agg(max(col("cnt")).as("maxcnt"))
      val t = c.crossJoin(broadcast(m))
        .select(col("lang"), col("cnt"),
          floor(sqrt(col("maxcnt").cast(DoubleType) * col("cnt").cast(DoubleType)))
            .cast(LongType).as("target"))
      docs.join(broadcast(t), "lang")
        .select(col("doc_id"), col("lang"),
          (expr("target DIV cnt") +
            when(Text.portableHash(col("doc_id")) % col("cnt")
              < col("target") % col("cnt"), lit(1L)).otherwise(lit(0L)))
            .as("n_copies"))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1L), col("n_copies"))).as("copy"))
        .orderBy("doc_id", "copy")
    },

    // DSIR-style data selection (arXiv:2302.03169): importance weight
    // of each document under hashed-bigram models of a TARGET corpus
    // (here the lang='en' slice — the high-quality reference) vs the
    // RAW corpus, select the top quartile. Deterministic re-expression
    // of the published estimator: instead of Σ log p̂_t/p̂_r (libm log
    // ulps fork cross-engine), the score is the ratio of two EXACT
    // integer sums — Σ(target_cnt[bkt]+1) / Σ(raw_cnt[bkt]+1) over the
    // doc's bigram buckets (add-one smoothing; one double division at
    // the end, the log-free rule). Scale shape: pass 1 builds the two
    // 1024-bucket count models (a 1024-row aggregate — the collect is
    // BOUNDED at the bucket count, the centroid/bloom discipline) and
    // pass 2 scores IN-ROW against the broadcast array literals — at
    // 100 TB the model is an artifact and scoring runs at scan speed,
    // exactly the streamPerplexityRoute posture. Threshold = one exact
    // percentile row broadcast (the d48 precedent).
    "d61_dsir_select" -> q { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val docs = table(s, d, "documents")
      // both 1024-bucket models come out of ONE conditional
      // aggregation over a single exploded-bigram pass — the target
      // count is just a filtered count of the same rows
      val tArr = new Array[Long](1024)
      val rArr = new Array[Long](1024)
      docs.select(col("lang"), explode(Text.dsirBuckets(col("text"))).as("bkt"))
        .groupBy("bkt")
        .agg(count(lit(1)).as("rc"),
          count(when(col("lang") === "en", lit(1))).as("tc"))
        .collect()
        .foreach { r =>
          rArr(r.getInt(0)) = r.getLong(1)
          tArr(r.getInt(0)) = r.getLong(2)
        }
      val bkts = Text.dsirBuckets(col("text"))
      val scored = docs.select(col("doc_id"),
          Text.dsirSum(bkts, tArr).as("t_sum"),
          Text.dsirSum(bkts, rArr).as("r_sum"))
        .select(col("doc_id"), col("t_sum"), col("r_sum"),
          (col("t_sum").cast(DoubleType) / col("r_sum").cast(DoubleType))
            .as("score"))
      val th = scored.agg(expr("percentile(score, 0.75D)").as("t"))
      scored.crossJoin(broadcast(th))
        .select(col("doc_id"), col("t_sum"), col("r_sum"), col("score"),
          (col("score") >= col("t")).cast("int").as("selected"))
        .orderBy("doc_id")
    },

    // language-ID evaluation harness (the e12/e23/q61 measurement-loop
    // pattern on the text side): confusion matrix of the d3 marker-rule
    // prediction against the corpus's stored lang label, with per-true-
    // language row totals and shares — the report that decides whether
    // the cheap n-gram ID is good enough to route on, per language.
    // ONE explicit true_lang repartition serves the (true, pred) agg
    // (its grouping is a superset of the partitioning) AND the row-
    // total window — single exchange, plan-gated; share is one double
    // division on exact longs. FULL oracle (the d3 marker CTE verbatim)
    "d63_langid_eval" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("true_lang")
      table(s, d, "documents")
        .select(col("lang").as("true_lang"), Text.langId(col("text")).as("pred_lang"))
        .repartition(col("true_lang"))
        .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
        .withColumn("lang_total", sum(col("n")).over(w))
        .select(col("true_lang"), col("pred_lang"), col("n"), col("lang_total"),
          (col("n").cast("double") / col("lang_total").cast("double")).as("share"),
          (col("true_lang") === col("pred_lang")).cast("int").as("is_correct"))
        .orderBy("true_lang", "pred_lang")
    },

    // per-document TF-IDF keywords (the keyword-extraction / index-
    // summarization primitive): tf from one (doc, term) agg; df is a
    // COUNT(*) over those already-distinct (doc, term) rows — no
    // second distinct pass; both the df aggregation and the tf⋈df
    // probe ride ONE explicit term repartition (the d24 canonical-
    // exchange pattern, plan-gated), then the per-doc top-5 plans as
    // WindowGroupLimit. The score is the log-free tf·N/df (one double
    // division, bit-portable — ln(N/df) ranks identically for fixed N
    // but walks libm differences across engines); corpus size N is a
    // 1-row broadcast. FULL oracle
    "d62_tfidf_keywords" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents")
      val terms = docs.select(col("doc_id"),
          explode(Text.tokens(lower(col("text")))).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .repartition(col("term"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          ((col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
            .as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"),
          col("df"), col("score"))
        .orderBy("doc_id", "rank")
    },

    // content-type sniffing over raw payload bytes (the libmagic /
    // HTTP-mime-sniff shape): a crawl corpus's stated types lie, so
    // decoder routing keys on magic bytes. Payloads synthesized
    // deterministically per doc (the d19/d23 pattern — doc_id % 8
    // picks which published signature prefixes the text bytes; the
    // remainder stays raw text), but the SNIFF never sees doc_id: it
    // reads only the bytes, so text that happens to open with "BM"
    // routes as bmp in BOTH engines — honest sniffing, not an id
    // lookup. Pure in-row prefix compares, zero shuffle before the
    // output sort (plan-gated): at 100 TB this runs at the scan and
    // no payload ever moves. FULL oracle (same blob built from blob
    // literals, same hex-prefix precedence chain)
    "m18_mime_sniff" -> q { (s, d) =>
      import graft.operators.Multimodal
      val fmt = pmod(col("doc_id"), lit(8))
      val magic = when(fmt === 0, lit(Multimodal.MagicPng))
        .when(fmt === 1, lit(Multimodal.MagicJpeg))
        .when(fmt === 2, lit(Multimodal.MagicGif))
        .when(fmt === 3, lit(Multimodal.MagicBmp))
        .when(fmt === 4, lit(Multimodal.MagicRiff ++ Array[Byte](0, 0, 0, 0) ++
          Multimodal.MagicWave))
        .when(fmt === 5, lit(Multimodal.MagicY4m))
        .when(fmt === 6, lit(Multimodal.MagicId3))
        .otherwise(lit(Array.empty[Byte]))
      docsByRange(s, d)
        .select(col("doc_id"),
          concat(magic, col("text").cast("binary")).as("payload"))
        .select(col("doc_id"),
          Multimodal.sniffMime(col("payload")).as("mime"),
          octet_length(col("payload")).as("byte_len"))
        .select(col("doc_id"), col("mime"),
          graft.operators.Multimodal.mimeRoute(col("mime")).as("route"),
          col("byte_len"))
        .orderBy("doc_id")
    },

    // the MinHash-LSH measurement loop (the e12/e23/d63 evaluation-
    // harness pattern on the dedup side): the banding theory says
    // P[candidate] follows an S-curve in true Jaccard — this MEASURES
    // that curve on the real corpus. Per signature-agreement count
    // (matching components of the 64-hash sketch), how many band
    // candidates are true duplicates (exact token Jaccard ≥ 0.5 — the
    // divisionless 2·|∩| ≥ |∪| integer test, so the verdict can never
    // fork cross-engine)? The report is what tunes bands×rows before
    // a 100 TB dedup run commits to a screen. Scale shape: candidates
    // from the band equi-join ONLY (no all-pairs path, plan-gated);
    // signatures (64×8 B) and token arrays join back by id for
    // CANDIDATE pairs only (the d49 verify-join shape) — raw text
    // never shuffles; one double division per output row at the end
    "d64_lsh_curve" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val sigs = Dedup.minhashSignatures(docs)
      val bands = Dedup.minhashBands(sigs)
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val toks = docs.select(col("doc_id"),
        array_distinct(Text.tokens(col("text"))).as("toks"))
      cand
        .join(sigs.select(col("doc_id").as("a_id"), col("signature").as("sa")),
          Seq("a_id"))
        .join(sigs.select(col("doc_id").as("b_id"), col("signature").as("sb")),
          Seq("b_id"))
        .join(toks.select(col("doc_id").as("a_id"), col("toks").as("ta")),
          Seq("a_id"))
        .join(toks.select(col("doc_id").as("b_id"), col("toks").as("tb")),
          Seq("b_id"))
        .select(
          aggregate(zip_with(col("sa"), col("sb"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), _ + _).as("n_match"),
          (lit(2) * size(array_intersect(col("ta"), col("tb"))) >=
            size(array_union(col("ta"), col("tb")))).as("is_dup"))
        .groupBy("n_match")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
        .select(col("n_match"), col("n_pairs"), col("n_dups"),
          (col("n_dups").cast("double") / col("n_pairs").cast("double"))
            .as("dup_share"))
        .orderBy("n_match")
    },

    // per-document n-gram NOVELTY (first-seen attribution): what share
    // of a doc's distinct 3-shingles first appears IN THIS DOC, under
    // the corpus-wide first-occurrence rule (min doc_id per shingle —
    // the deterministic "earlier wins" of d11/d57)? The signal that
    // values a new source by its incremental content instead of raw
    // volume (near-1 novelty = fresh corpus, near-0 = re-crawl).
    // Scale shape: shingles travel as 8-byte polyHash values, never
    // strings (the d52/d8 sketch convention — hash collisions merge
    // grams identically in both engines, so parity is exact); one
    // (hash → first doc) aggregate + an equi-join back + a per-doc
    // count — text never keys a shuffle, no all-pairs path
    "d65_ngram_novelty" -> q { (s, d) =>
      val grams = table(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(col("text"), 3))).as("gram"))
        .select(col("doc_id"), Dedup.shingleHash(col("gram")).as("h"))
      val first = grams.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams").cast("double"))
            .as("novelty"))
        .orderBy("doc_id")
    },

    // cross-document duplicated-SPAN extraction (the ExactSubstr side
    // of Lee et al., arXiv:2107.06499 — find the token ranges a doc
    // shares verbatim with ANY other doc, not just flag the doc): a
    // 5-shingle whose hash occurs in ≥2 distinct docs (min≠max doc_id
    // — no countDistinct, no Expand) marks its start position
    // duplicated; per doc, marked positions ≤5 apart chain into
    // maximal spans (gaps-and-islands over ONE doc_id window), so
    // overlapping/adjacent duplicated 5-grams report as one
    // [start_tok, end_tok] range — the unit a surgical span-removal
    // pass would cut, where d11's doc-level dedup would drop whole
    // docs. Scale shape: positions travel with 8-byte hashes (text
    // never keys an exchange), the dup set is a keyed agg + equi-join
    // back, and the span merge is linear per doc — no all-pairs, no
    // suffix array materialization (the hash-marked grid IS the
    // suffix-array hit list at shingle resolution)
    "d66_dup_spans" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val K = 5
      // the dup marking IS a window over the h-partitioned grid:
      // min/max doc_id per hash as one partition-wide Window instead of
      // the round-13 aggregate + join-back — the grid is computed ONCE
      // and crosses the network ONCE on h (guide §2.3/§2.4; the old
      // shape computed the grid twice — column pruning forked the
      // agg/join exchange subtrees past ReuseExchange — and shuffled it
      // twice, behind a localCheckpoint action that pinned blocks for
      // the session). No join, no checkpoint, same marked rows.
      val wH = Window.partitionBy("h")
      val marked = spanGrid(table(s, d, "documents"), K)
        .withColumn("mn", min(col("doc_id")).over(wH))
        .withColumn("mx", max(col("doc_id")).over(wH))
        .filter(col("mn") =!= col("mx"))
        .drop("mn", "mx")
      dupSpanMergeMarked(marked, K)
    },

    // d66's PRODUCTION shape: span extraction against the PERSISTED
    // duplicated-gram set (Dedup.ensureDupGrams — the d47/d50/e28
    // index-is-data lifecycle on the span side). d66 re-derives the
    // corpus-wide dup-set aggregate — the one full shuffle of the
    // positional gram grid — inside every invocation; at 100 TB span
    // removal runs repeatedly per corpus generation (screen, cut,
    // re-screen), so the dup set is a table built once and every pass
    // is ONE doc scan + a join against stored 8-byte hashes (usually
    // broadcast) + the per-doc span merge. No shingle re-explode, no
    // grid aggregate on the dup-set side — plan-gated. Same oracle
    // text as d66: persisted ≡ recompute is proven at the driver gate
    // itself (the d47/d73 precedent), also spec-pinned in DedupSpec.
    "d66_spans_indexed" -> q { (s, d) =>
      val K = 5
      val docs = table(s, d, "documents")
      val dir = ScratchDirs.stable("d66_dup_grams", d)
      val dup = Dedup.ensureDupGrams(docs, s"$dir/dup_grams", K)
      dupSpanMerge(spanGrid(docs, K), dup, K)
    },

    // the surgical CUT d66's spans exist for (the removal half of
    // ExactSubstr, Lee et al. arXiv:2107.06499): every doc re-emits
    // with its duplicated [start_tok, end_tok] ranges EXCISED from the
    // normalized token stream — where d11/d37 drop whole documents,
    // this keeps the unique remainder (the paper's measured win: cut
    // docs, don't discard them). Rides the SAME persisted dup-gram
    // set as d66_spans_indexed (one `ensureDupGrams` artifact per
    // generation serves screen AND cut); the per-doc span list
    // aggregates to one array row per dup-carrying doc and joins back
    // onto the doc scan BY doc_id with NO forced hint: the span side
    // is O(docs-with-cross-doc-dup-spans) — on a dup-heavy crawl that
    // is a large corpus fraction, far over any broadcast budget, and a
    // pinned broadcast() would OOM instead of degrading — so the
    // planner (static stats + AQE) broadcasts while the side is small
    // and falls back to the natural doc_id equi-exchange when it
    // isn't (both sides are already doc_id-keyed). At test SF the
    // plan still broadcasts (PlanSpec-gated); the cut itself is an
    // in-row indexed-lambda filter over the token array either way,
    // so text never keys an exchange. Cleaning operates on the
    // lowercased whitespace-normalized token stream — the coordinate
    // system every shingle op in the suite speaks — so cut output is
    // directly re-screenable. FULL oracle (same span CTEs + the same
    // indexed list_filter in SQL).
    "d75_span_cut" -> q { (s, d) =>
      val K = 5
      val docs = table(s, d, "documents")
      val dir = ScratchDirs.stable("d66_dup_grams", d)
      val dup = Dedup.ensureDupGrams(docs, s"$dir/dup_grams", K)
      val spans = dupSpanMerge(spanGrid(docs, K), dup, K)
        .groupBy("doc_id")
        .agg(collect_list(struct(col("start_tok").as("s"),
          col("end_tok").as("e"))).as("spans"))
      // d1's range-partition-first shape on the doc side: tokenize +
      // the in-row cut run once, parallel, above the one exchange (the
      // span join broadcasts, preserving the partitioning), and the
      // final orderBy(doc_id) is an in-partition sort — no second
      // exchange, no sampling re-run of the cut
      Spread.byRange(docs.select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), Text.tokens(lower(col("text"))).as("toks"))
        .join(spans, Seq("doc_id"), "left")
        .withColumn("kept", filter(col("toks"), (t, i) =>
          coalesce(not(exists(col("spans"),
            p => (i + 1) >= p("s") && (i + 1) <= p("e"))), lit(true))))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          (size(col("toks")) - size(col("kept"))).cast("long").as("n_cut"),
          array_join(col("kept"), " ").as("cleaned_text"))
        .orderBy("doc_id")
    },

    // the span-dedup END-TO-END cost report (d76): corpus → dup-gram
    // screen (d66's grid) → surgical cut (d75's excision) → RE-SCREEN
    // of the cleaned corpus, in one row — the Lee et al.
    // (arXiv:2107.06499) headline metric: does cutting duplicated
    // spans actually drive residual cross-doc dup density down?
    // Initial density counts every positional gram occurrence whose
    // hash lands in the persisted dup set; residual density re-derives
    // the dup rule (min doc ≠ max doc) from scratch over the CUT token
    // streams (docs cut to nothing drop out — no grams to screen).
    // All counts are exact longs off the same d66/d75 kernels (one
    // `dup_grams/` artifact serves screen, cut, and this report);
    // densities are one long/long division each (single-edge-division,
    // cross-engine identical). DocSpec-class assertion rides in
    // DedupSpec: residual < initial on the template-dup corpus.
    "d76_span_residual" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val K = 5
      val docs = table(s, d, "documents")
      val dir = ScratchDirs.stable("d66_dup_grams", d)
      val dup = Dedup.ensureDupGrams(docs, s"$dir/dup_grams", K)
      // ROUND-14 SHAPE: the grid is computed ONCE (guide §1.2 — the
      // round-13 form derived the initial-density report from a second
      // grid pass + a second grid-wide join). n_grams_initial needs no
      // grid at all — each doc contributes exactly
      // max(n_toks − K + 1, 1) positional grams (the shingle-list
      // length), a scan-level sum — and n_dup_initial is the sum of
      // the merged spans' n_dup_grams: every dup-marked grid row lands
      // in exactly one merged span, so the tiny span table already
      // carries the count. The span table snapshots (localCheckpoint)
      // because the stats row and the cut both read it.
      val spans = dupSpanMerge(spanGrid(docs, K), dup, K)
        .groupBy("doc_id")
        .agg(collect_list(struct(col("start_tok").as("s"),
          col("end_tok").as("e"))).as("spans"),
          sum(col("n_dup_grams")).as("nd"))
        .localCheckpoint()
      val joined = docs
        .select(col("doc_id"), Text.tokens(lower(col("text"))).as("toks"))
        .join(spans, Seq("doc_id"), "left")
      val init = joined
        .agg(count(lit(1)).as("n_docs"),
          sum(greatest(size(col("toks")) - (K - 1), lit(1)).cast("long"))
            .as("n_grams_initial"),
          coalesce(sum(coalesce(col("nd"), lit(0L))), lit(0L))
            .as("n_dup_initial"))
      val kept = joined
        .select(col("doc_id"), filter(col("toks"), (t, i) =>
          coalesce(not(exists(col("spans"),
            p => (i + 1) >= p("s") && (i + 1) <= p("e"))), lit(true))).as("kept"))
        .filter(size(col("kept")) > 0)
      val resid = kept
        .select(col("doc_id"),
          explode(Dedup.shingles(array_join(col("kept"), " "), K)).as("gram"))
        .select(col("doc_id"), Dedup.shingleHash(col("gram")).as("h"))
        .groupBy("h")
        .agg(count(lit(1)).as("occ"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .agg(coalesce(sum(col("occ")), lit(0L)).as("n_grams_residual"),
          coalesce(sum(when(col("mn") =!= col("mx"), col("occ"))
            .otherwise(lit(0L))), lit(0L)).as("n_dup_residual"))
      init.crossJoin(resid)
        .select(col("n_docs"), col("n_grams_initial"), col("n_dup_initial"),
          col("n_grams_residual"), col("n_dup_residual"),
          (col("n_dup_initial").cast(DoubleType) /
            col("n_grams_initial").cast(DoubleType)).as("initial_density"),
          (col("n_dup_residual").cast(DoubleType) /
            col("n_grams_residual").cast(DoubleType)).as("residual_density"))
    },

    // distributed SUFFIX ARRAY over the corpus token grid, by PREFIX
    // DOUBLING — the structure ExactSubstr dedup (Lee et al.
    // arXiv:2107.06499) actually builds, where d66/d75 screen at one
    // fixed shingle width. The paper's build is single-node (corpus ≤
    // RAM); prefix doubling distributes it: round k dense-ranks
    // (rank_k(pos), rank_k(pos + 2^k)) pairs, so 6 rounds order every
    // suffix by its first 64 tokens, and each round is ONE keyed
    // exchange of 8-byte rank pairs — token text keys nothing after
    // round 0. The global dense rank itself is distributed (range-
    // partition + per-partition offsets — operators/SuffixArray): no
    // corpus-wide single-task Window anywhere. The array BUILDS ONCE
    // per corpus generation (ensureLadder — measured: 8.5 s at sf0.1,
    // ~75 s at sf1, linear-in-corpus construction nobody re-pays per
    // query; §6k) and all three consumers (this digest, d78's repeat
    // screen, d80's audit) read the same stored ladder. Emitted as a
    // per-doc digest (suffix count + exact integer rank moments:
    // Σrank and Σrank·pos pin every rank positionally), which keeps
    // the result row count per-doc while the oracle certifies the
    // full ranking — the oracle states the suffix array DECLARATIVELY
    // (dense-rank by the 64-token slice; DuckDB orders LISTs
    // lexicographically with shorter-prefix-first, exactly the
    // doc-end-sentinel suffix order) and never sees a doubling round
    // NOR the persistence, so persisted ≡ recomputed ≡ declarative is
    // certified at the gate itself. SuffixArraySpec additionally pins
    // the raw (doc, pos, rank) table against a local brute-force
    // sort, ladder level by ladder level.
    "d77_suffix_array" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      SuffixArray.ensureLadder(docs,
        ScratchDirs.stable("d78_ladder", d) + "/ladder").last._2
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_suffixes"),
          sum(col("rank")).as("rank_sum"),
          sum(col("rank") * col("pos")).as("rank_pos_sum"))
        .orderBy("doc_id")
    },

    // the suffix array's consumer: a MULTI-RESOLUTION repeat screen —
    // per document, the longest token run shared verbatim with ANY
    // other document, read off the doubling ladder (width-w rank
    // shared across ≥2 docs ⇔ a w-token match), at power-of-two
    // resolution: a true repeat of length L reports in (L/2, L] —
    // never an overestimate, less than 2× under. This is d66's gram
    // screen generalized to every width at once: ONE build answers
    // 1..64-token repeats where the gram grid would re-shingle per
    // width. A shared rank at doc end certifies the (shorter) actual
    // tail, hence the LEAST against remaining length — a doc whose
    // whole 54-token suffix repeats reports 54, not the 64 level
    // width. Rides the PERSISTED rank ladder (ensureLadder — the
    // d66_spans_indexed convention: d77 is the self-contained build
    // demonstrator, this is the production consumer): at 100 TB the
    // six doubling exchanges run once per corpus generation, then
    // every screen pass reads stored 8-byte ranks. Per level: one
    // rank-keyed min≠max aggregate + a join back; text keys nothing.
    // Same screen code over built or stored levels; the spec pins
    // persisted ≡ recomputed row-for-row.
    "d78_repeat_screen" -> q { (s, d) =>
      val docs = table(s, d, "documents")
      val ladder = SuffixArray.ensureLadder(docs,
        ScratchDirs.stable("d78_ladder", d) + "/ladder")
      SuffixArray.repeatScreen(docs, ladder).orderBy("doc_id")
    },

    // the MEMORIZATION AUDIT off the suffix array (the unit of the
    // extraction-attack literature, Carlini et al. USENIX Sec'21 /
    // Lee et al. arXiv:2107.06499 §6: the most-replicated verbatim
    // contexts are the ones a trained model regurgitates): the top-20
    // 64-token contexts by corpus copy count, each with its document
    // spread, earliest exemplar (doc, pos) and honest context length
    // (a group capped at doc end reports the actual shared tail, the
    // d78 rule; trivial tails gated by ctx_len >= 8). Fixed-window
    // counting would report every 1-token slide of one duplicated
    // document as its own row (pre-flighted: a triplicated doc floods
    // the top-20 with ~90 shifts of ONE event) — so the audit keeps
    // only LEFT-MAXIMAL positions: a context counts where extending
    // one token left CHANGES its copy count (pos 1, or the pos-1
    // window's group has different support) — each memorization event
    // reports once, at its boundary. Rides the SAME persisted ladder
    // artifact as d78 — one suffix-array build per generation serves
    // screen AND audit. Scale shape: copies ride a rank-keyed window
    // count, left-maximality one doc-keyed lag, the report a
    // (rank, doc) + rank rollup (two-level doc spread, NOT a
    // countDistinct — no Expand); top-20 is sort+limit; text never
    // keys an exchange — it enters ONCE, at the very end, when the
    // 20-row report broadcast-joins back to the corpus to read each
    // exemplar's actual context string (bounded: 20 rows × ≤ 64
    // tokens), so the audit is actionable without a second query.
    "d80_top_contexts" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents")
      val ladder = SuffixArray.ensureLadder(docs,
        ScratchDirs.stable("d78_ladder", d) + "/ladder")
      val wR = Window.partitionBy("rank")
      val wD = Window.partitionBy("doc_id").orderBy("pos")
      val report = ladder.last._2
        .withColumn("copies", count(lit(1)).over(wR))
        .withColumn("pc", lag(col("copies"), 1).over(wD))
        .filter(col("copies") >= 2L &&
          (col("pc").isNull || col("pc") =!= col("copies")))
        .groupBy("rank", "doc_id")
        .agg(max(col("copies")).as("copies"), min(col("pos")).as("mp"),
          min(least(lit(64L), col("n_toks") - col("pos") + 1)).as("ml"))
        .groupBy("rank")
        .agg(max(col("copies")).as("n_copies"), count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          min_by(col("mp"), col("doc_id")).as("first_pos"),
          min(col("ml")).as("ctx_len"))
        .filter(col("ctx_len") >= 8L)
        .select("n_copies", "n_docs", "first_doc", "first_pos", "ctx_len")
        .orderBy(desc("n_copies"), col("first_doc"), col("first_pos"))
        .limit(20)
      // read the exemplar text: the 20-row report broadcasts, so the
      // corpus side is one (doc_id, text) projection hash-probed down
      // to the ≤ 20 exemplar docs — the tokenGrid coordinate system
      // (lowercased whitespace tokens, 1-based) re-applied to slice
      docs.join(broadcast(report), col("doc_id") === col("first_doc"))
        .withColumn("context", array_join(
          slice(graft.functions.Text.tokens(lower(col("text"))),
            col("first_pos").cast("int"), col("ctx_len").cast("int")), " "))
        .select("n_copies", "n_docs", "first_doc", "first_pos", "ctx_len",
          "context")
        .orderBy(desc("n_copies"), col("first_doc"), col("first_pos"))
    },

    // host-graph PAGERANK (Brin & Page 1998) — the link-centrality
    // prior a web-corpus pipeline feeds into crawl scheduling and
    // quality weighting (domain trust scores, the d33/d51 family's
    // graph-side complement). The host link graph is synthesized
    // deterministically from doc_ids (the T24 convention: both
    // engines build the same graph, then compute) — 97 hosts, two
    // out-links per doc, self-loops bumped to the next host so every
    // host keeps out-degree ≥ 1 (no dangling mass). The recurrence is
    // ALL-INTEGER — "random surfer units": each host starts with 10^12
    // units, an iteration ships floor(floor(rank·85/100)/outdeg) along
    // every edge and tops up a constant floor(10^12·15/100) teleport —
    // so five power iterations are exact long arithmetic on both
    // engines (doubles would drift associativity cross-engine; floors
    // are deterministic). Scale shape: the rank vector is a TABLE
    // keyed by host and the edge list a table keyed by src — one
    // src-keyed join + one dst-keyed aggregate per iteration, no
    // driver action anywhere: all five iterations unroll into ONE
    // Catalyst plan (the edge scan's exchange is reused across
    // iterations), so at 10^9 hosts nothing ever funnels through the
    // driver — contrast d20's convergence-checked loop, which must
    // act per round; PageRank's fixed iteration count needs no
    // convergence action. PageRankSpec replays the recurrence locally
    // from the same edge formula (independent derivation).
    "d79_pagerank" -> q { (s, d) =>
      Graphs.pagerank(Graphs.hostEdges(table(s, d, "documents")))
        .orderBy("host")
    },

    // EXACT set-similarity screen with PREFIX FILTERING (the
    // AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    // ICDE'08): every (probe, corpus) doc pair with token-Jaccard
    // >= 0.6, with a COMPLETENESS GUARANTEE — d6's MinHash-LSH is
    // probabilistic (tunable misses) and d5's 30-char blocking is
    // heuristic; this join CANNOT miss a qualifying pair. Order each
    // doc's distinct token hashes globally rarest-first (df asc,
    // h asc) and keep only the first n - ceil(t*n) + 1 as the prefix:
    // by pigeonhole, two sets with Jaccard >= t must collide on a
    // prefix token, so the prefix equi-join's candidate set is
    // complete — and rarest-first ordering is what keeps those
    // buckets tiny at 100 TB (a stopword never lands in a prefix
    // unless the doc is almost all stopwords). The probe side is a
    // fixed arriving batch (doc_id < 64 here — the d34 delta-screen
    // shape): a corpus x corpus pair MATERIALIZATION is inherently
    // quadratic on any corpus with dup cliques (this template corpus
    // qualifies 40% of ALL pairs at t=0.6), so the production unit is
    // the batch screen, whose output grows linearly with the corpus.
    // Verify is exact integer arithmetic (5*|∩| >= 3*|∪| — the d64
    // divisionless verdict, so no cross-engine double can fork it);
    // token sets travel as 8-byte hash arrays keyed by doc_id (the
    // d49 verify-join shape) — text never keys an exchange, and no
    // all-pairs path exists anywhere
    "d67_prefix_join" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // fan the tokenize+hash out BEFORE computing it (one doc_id-keyed
      // exchange): the corpus bytes are tiny next to the per-doc hash
      // work, so the derivation must not inherit the FILE COUNT as its
      // parallelism; localCheckpoint materializes the narrow hash table
      // once for its three consumers (df, prefix, verify) — the e8
      // compute-once precedent
      val hs = Spread.byKey(table(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), array_distinct(transform(
          array_distinct(Text.tokens(lower(col("text")))),
          t => graft.functions.Native.polyHash(t, Dedup.P))).as("hs"))
        .localCheckpoint()
      val g = hs.select(col("doc_id"), size(col("hs")).cast("long").as("n"),
        explode(col("hs")).as("h"))
      // (doc, h) rows are distinct, so df is a plain count — no Expand
      val dfx = g.groupBy("h").agg(count(lit(1)).as("df"))
      // the prefix table IS the index — materialize it once for its
      // two join sides (probe + corpus); without this the whole
      // corpus-sized df+window derivation re-computes per consumer
      // (plan-verified double chain; neutral at toy SF where the
      // verify join dominates, 2× the derivation cost at scale)
      val pfx = g.join(dfx, Seq("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
        .filter(col("rk") <=
          col("n") - ((col("n") * 3 + 4) / 5).cast("long") + 1)
        .select("doc_id", "n", "h")
        .localCheckpoint()
      val cand = pfx.filter(col("doc_id") < 64).as("a").join(pfx.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id") &&
            least(col("a.n"), col("b.n")) * 5 >=
              greatest(col("a.n"), col("b.n")) * 3)
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      cand.join(hs.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
        .join(hs.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
        .withColumn("n_inter",
          size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .withColumn("n_union",
          size(col("ha")).cast("long") + size(col("hb")) - col("n_inter"))
        .filter(col("n_inter") * 5 >= col("n_union") * 3)
        .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"),
          (col("n_inter").cast("double") / col("n_union").cast("double"))
            .as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    // PMI-ranked collocations (Church & Hanks 1990): the top bigrams
    // whose corpus frequency exceeds what their parts' unigram
    // frequencies predict — the phrase-mining pass that seeds
    // tokenizer vocabularies and multi-word stop lists. Reported
    // score is the PMI ratio p(xy)/(p(x)p(y)) itself (log-free, the
    // repo's bit-determinism idiom: logs rank identically). Exchanges
    // carry only (gram, count) dictionary rows — the text never
    // shuffles; the two corpus totals are 1-row broadcasts; the
    // cxy ≥ 5 support prune lands BEFORE the dictionary joins, so the
    // join probe side is the (tiny) collocation candidate set, not
    // the bigram vocabulary.
    "d68_pmi_collocations" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val docs = table(s, d, "documents")
      val toks = Text.tokens(lower(col("text")))
      val bg = docs
        .select(explode(graft.functions.Native.wordShingles(toks, 2)).as("bigram"))
        .filter(col("bigram").contains(" "))
        .groupBy("bigram").agg(count(lit(1)).as("cxy"))
      val nBg = bg.agg(sum(col("cxy")).as("n_bg"))
      val ug = docs.select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val nUg = ug.agg(sum(col("cw")).as("n_ug"))
      bg.filter(col("cxy") >= 5)
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
        .join(ug.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(ug.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(broadcast(nBg)).crossJoin(broadcast(nUg))
        .select(col("w1"), col("w2"), col("cxy"), col("c1"), col("c2"),
          ((col("cxy").cast(DoubleType) * col("n_ug").cast(DoubleType) *
            col("n_ug").cast(DoubleType)) /
            (col("n_bg").cast(DoubleType) * col("c1").cast(DoubleType) *
              col("c2").cast(DoubleType))).as("pmi_ratio"))
        .orderBy(desc("pmi_ratio"), col("w1"), col("w2"))
        .limit(20)
    },

    // soft deduplication (d74): the drop→REWEIGHT alternative (the
    // SoftDeDup idea, arXiv:2401.00396 — duplicated text keeps
    // contributing, at 1/commonness of its duplicate set, instead of
    // a hard keep/drop): every doc carries sample_weight =
    // 1/n_copies of its exact-content group — the loss-weighting
    // column a training loader multiplies in. A count-over-window on
    // the 16-byte content hash: ONE scan, ONE exchange, NO join
    // (plan-gated — the count-then-join-back spelling scans the
    // corpus twice and wastes a broadcast); text never keys a
    // shuffle; one double division at the edge.
    "d74_soft_dedup_weights" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      table(s, d, "documents")
        .select(col("doc_id"), md5(lower(col("text"))).as("h"))
        .withColumn("n_copies",
          count(lit(1)).over(Window.partitionBy("h")))
        .select(col("doc_id"), col("n_copies"),
          (lit(1.0) / col("n_copies").cast(DoubleType)).as("sample_weight"))
        .orderBy("doc_id")
    },

    // robots.txt politeness filter (d72): apply per-domain robots
    // rules to the URL corpus with Google's published matching
    // algorithm (REP, RFC 9309): among rules whose path is a PREFIX
    // of the URL path, the LONGEST wins; a length tie resolves to
    // allow; no match defaults to allow — the crawl-side gate that
    // runs before any document enters the corpus. Rules are a TINY
    // per-domain table (broadcast; real robots files are a few rules
    // per site at any corpus scale), derived deterministically from
    // the domain hash so every branch — longest-override (the
    // /lang/p1 allow inside a disallowed /lang/), the no-"/"-rule
    // default, the blanket allow — is exercised and oracle-checkable.
    // One broadcast prefix-join + one doc_id agg; argmax rides a
    // struct max (len, allow, path), never a per-doc sort.
    "d72_robots_filter" -> q { (s, d) =>
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source").as("domain"), col("lang"),
          concat(lit("/"), col("lang"), lit("/p"),
            (col("doc_id") % 50).cast("string")).as("path"))
      val rules = docs.select("domain").distinct()
        .select(col("domain").as("rdomain"),
          explode(Text.robotsRuleArray(col("domain"))).as("r"))
        .select(col("rdomain"), col("r")("rpath").as("rpath"),
          col("r")("allow").as("allow"))
      docs.join(broadcast(rules),
          col("domain") === col("rdomain") &&
            col("path").startsWith(col("rpath")), "left_outer")
        .groupBy("doc_id", "path")
        .agg(max(when(col("rpath").isNotNull,
          struct(length(col("rpath")).as("l"), col("allow").as("a"),
            col("rpath").as("rp")))).as("m"))
        .select(col("doc_id"), col("path"),
          col("m")("rp").as("matched_rule"),
          coalesce(col("m")("a") === 1, lit(true)).as("allowed"))
        .orderBy("doc_id")
    },

    // Kneser-Ney smoothed bigram LM (Kneser & Ney 1995; the Chen &
    // Goodman interpolated form with absolute discount d = 0.75 —
    // KenLM's default order-2 math): P(w2|w1) = max(c−d,0)/c(w1) +
    // d·N1+(w1·)/c(w1) · N1+(·w2)/N1+(··). With d = 3/4 every term is
    // RATIONAL: p = (max(4c−3,0)·T + 3·n1l·n1r) / (4·cl·T) — integer
    // numerator and denominator, ONE double division at the edge, so
    // the smoothed table is bit-identical across engines (the d24/d64
    // log-free idiom; at corpus sizes where 4·c·T nears 2^63 the
    // numerator moves to DECIMAL — documented seam). All continuation
    // counts (N1+) are plain COUNTs over the DEDUPED bigram dictionary
    // — no countDistinct, no Expand (the q27 lesson); the dictionary
    // materializes once (localCheckpoint) for its three consumers.
    "d71_kn_smoothing" -> q { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val toks = Text.tokens(lower(col("text")))
      val bc = table(s, d, "documents")
        .select(explode(graft.functions.Native.wordShingles(toks, 2)).as("bigram"))
        .filter(col("bigram").contains(" "))
        .groupBy("bigram").agg(count(lit(1)).as("cxy"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
        .localCheckpoint()
      val ls = bc.groupBy("w1")
        .agg(sum(col("cxy")).as("cl"), count(lit(1)).as("n1l"))
      val rs = bc.groupBy("w2").agg(count(lit(1)).as("n1r"))
      val nt = bc.agg(count(lit(1)).as("n_types"))
      bc.join(ls, "w1").join(rs, "w2").crossJoin(broadcast(nt))
        .select(col("w1"), col("w2"), col("cxy"), col("cl"),
          col("n1l"), col("n1r"),
          ((greatest(col("cxy") * 4 - 3, lit(0L)) * col("n_types") +
            lit(3L) * col("n1l") * col("n1r")).cast(DoubleType) /
            (lit(4L) * col("cl") * col("n_types")).cast(DoubleType))
            .as("p_kn"))
        .orderBy(desc("p_kn"), col("w1"), col("w2"))
        .limit(20)
    },

    // deterministic training-shard materialization (d69): the final
    // "shuffle the corpus into shards" step every pretraining run
    // ships — shard = portable hash mod nShards, within-shard order =
    // a SECOND independent hash (ties to doc_id), so the global
    // permutation is reproducible under any partitioning and any
    // engine. NO global sort/row_number anywhere (the d58 rule): the
    // only window is PER-SHARD, and the shard count is OCCUPANCY-HELD
    // (smallest 32·2^j with nShards·2048 ≥ corpus rows — the
    // autoNlist/autoPlanes idiom), so the per-key sort is bounded by
    // the ~2048-doc shard budget at ANY corpus size — exactly how
    // real shard writers pick file counts. Oracle derives the same
    // shard count from count(*) (the lshMaskSql precedent).
    "d69_shuffle_shard" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents")
      val n = docs.count()
      var nShards = 32L
      while (nShards * 2048L < n && nShards < (32L << 20)) nShards *= 2
      val w = Window.partitionBy("shard").orderBy(col("sort_key"), col("doc_id"))
      docs.select(col("doc_id"),
          Text.shardOf(col("doc_id"), nShards).as("shard"),
          Text.portableHash2(col("doc_id")).as("sort_key"))
        .withColumn("pos", row_number().over(w))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    },

    // fill-in-the-middle transform (Bavarian et al. 2022,
    // arXiv:2207.14255): rewrite ~half the corpus into the PSM layout
    // (<PRE> prefix <SUF> suffix <MID> middle) so an autoregressive
    // model learns infilling "for free" — the code-model sibling of
    // d55's T5 span corruption (ONE contiguous middle, REORDERED, vs
    // multi-span sentinel denoising). Cut points and the apply gate
    // derive from the d15 portable hash family, so the transform is
    // deterministic under any partitioning and engine-reproducible.
    // ZERO shuffles: pure in-row token slicing at scan speed (the
    // d40/d55 shape) — the one ORDER BY is the output sort.
    "d70_fim_transform" -> q { (s, d) =>
      docsByRange(s, d)
        .select(col("doc_id"),
          Text.fimTransform(col("doc_id"), col("text")).as("f"))
        .select(col("doc_id"), col("f")("fim_applied").as("fim_applied"),
          col("f")("n_prefix").as("n_prefix"),
          col("f")("n_middle").as("n_middle"),
          col("f")("n_suffix").as("n_suffix"),
          col("f")("psm_text").as("psm_text"))
        .orderBy("doc_id")
    }
  )

  private val toksSql = "list_distinct(regexp_split_to_array(trim(text), '\\s+'))"

  /** d6's oracle: the full MinHash+banding pipeline in SQL — the
    * polynomial shingle hash and the 64 embedded permutation constants
    * reproduce the Spark signatures exactly (see Dedup.shingleHash). */
  /** Shared CTE chain for the MinHash banding pipeline (mirrors
    * Dedup.minhashSignatures + minhashBands with the embedded d6
    * constants): ends in `bnd(doc_id, band, bucket)` — d6 and d49 both
    * build on it. */
  private def minhashChain: String = {
    val (pa, pb) = Dedup.minhashPerms(64)
    val p = Dedup.P
    val mins = (0 until 64)
      .map(i => s"list_min(list_transform(hl, h -> (h*${pa(i)} + ${pb(i)}) % $p))")
      .mkString(",\n    ")
    val bandVals = (0 until 16).map(b => s"($b)").mkString(", ")
    s"""sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_transform(generate_series(1, len(toks) - 3 + 1),
       |      i -> array_to_string(toks[i:i+2], ' ')) END) AS shs
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |        FROM documents) a),
       |hs AS (SELECT doc_id, list_transform(shs, s -> list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_split_to_array(s, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |    (a, b) -> (a*31 + b) % $p)) AS hl FROM sh),
       |sig AS (SELECT doc_id, [
       |    $mins] AS sig FROM hs),
       |bnd AS (SELECT doc_id, CAST(b.band AS INTEGER) AS band,
       |  ((((sig[b.band*4+1]*31 + sig[b.band*4+2]) % $p)*31 + sig[b.band*4+3]) % $p * 31 + sig[b.band*4+4]) % $p AS bucket
       |FROM sig CROSS JOIN (VALUES $bandVals) b(band))""".stripMargin
  }

  private def minhashOracle: String =
    s"""WITH $minhashChain
       |SELECT doc_id, band, bucket FROM bnd ORDER BY doc_id, band""".stripMargin

  /** d65's oracle: the same distinct-shingle + polyHash derivation as
    * the minhash chain's sh/hs CTEs, with first-occurrence = min
    * doc_id per hash. */
  /** d67's oracle: the same hashed-token-set derivation, global
    * rarest-first (df, h) ordering, the identical integer prefix
    * bound n - ceil(3n/5) + 1, and the exact divisionless verify. */
  private def prefixJoinOracle: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
       |  FROM documents),
       |hsx AS (
       |  SELECT doc_id, list_distinct(list_transform(toks,
       |    t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_split_to_array(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (a, b) -> (a*31 + b) % ${Dedup.P}))) AS hs
       |  FROM tk),
       |g AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n, unnest(hs) AS h FROM hsx),
       |dfx AS (SELECT h, COUNT(*) AS df FROM g GROUP BY h),
       |r AS (SELECT g.doc_id, g.n, g.h,
       |    ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY dfx.df, g.h) AS rk
       |  FROM g JOIN dfx USING (h)),
       |p AS (SELECT doc_id, n, h FROM r WHERE rk <= n - (3*n + 4)//5 + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM p a JOIN p b ON a.h = b.h AND a.doc_id <> b.doc_id
       |    AND a.doc_id < 64
       |    AND 5*LEAST(a.n, b.n) >= 3*GREATEST(a.n, b.n)),
       |v AS (SELECT a_id, b_id,
       |    CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS n_inter,
       |    CAST(len(ha.hs) AS BIGINT) + CAST(len(hb.hs) AS BIGINT)
       |      - CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS n_union
       |  FROM cand JOIN hsx ha ON cand.a_id = ha.doc_id
       |            JOIN hsx hb ON cand.b_id = hb.doc_id)
       |SELECT a_id, b_id, n_inter, n_union,
       |  CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |FROM v WHERE 5*n_inter >= 3*n_union
       |ORDER BY a_id, b_id""".stripMargin

  /** The d66 span-derivation CTE chain (positional 5-shingles — the
    * struct list keeps the position through the unnest — the same
    * polynomial hash, the dup set via min≠max doc_id, the identical
    * gaps-and-islands merge over a doc_id window), shared by the
    * three span oracles so the chains cannot drift. */
  private def dupSpanCtes: String =
    s"""t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, len(toks) AS n_toks,
       |    CASE WHEN len(toks) < 5 THEN [{'p': 1, 'g': array_to_string(toks, ' ')}]
       |      ELSE list_transform(generate_series(1, len(toks) - 4),
       |        i -> {'p': i, 'g': array_to_string(toks[i:i+4], ' ')}) END AS pgs
       |  FROM t),
       |g AS (
       |  SELECT doc_id, n_toks, CAST(u.pg.p AS BIGINT) AS spos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_split_to_array(u.pg.g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (a, b) -> (a*31 + b) % ${Dedup.P}) AS h
       |  FROM sh, unnest(sh.pgs) AS u(pg)),
       |dup AS (SELECT h FROM g GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
       |mk AS (
       |  SELECT g.doc_id, g.n_toks, g.spos,
       |    CASE WHEN LAG(g.spos) OVER w IS NULL
       |      OR g.spos - LAG(g.spos) OVER w > 5 THEN 1 ELSE 0 END AS ns
       |  FROM g JOIN dup USING (h)
       |  WINDOW w AS (PARTITION BY g.doc_id ORDER BY g.spos)),
       |sp AS (
       |  SELECT doc_id, n_toks, spos,
       |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY spos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM mk)""".stripMargin

  /** d66's oracle over [[dupSpanCtes]]. */
  private def dupSpansOracle: String =
    s"""WITH $dupSpanCtes
       |SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
       |  MIN(spos) AS start_tok,
       |  LEAST(MAX(spos) + 4, CAST(MAX(n_toks) AS BIGINT)) AS end_tok,
       |  COUNT(*) AS n_dup_grams
       |FROM sp GROUP BY doc_id, span_id
       |ORDER BY doc_id, start_tok""".stripMargin

  /** d75's oracle: the same span chain collapsed to a per-doc span
    * list, then the identical 1-based indexed-lambda cut in SQL. */
  private def spanCutOracle: String =
    s"""WITH $dupSpanCtes,
       |spandocs AS (
       |  SELECT doc_id, MIN(spos) AS start_tok,
       |    LEAST(MAX(spos) + 4, CAST(MAX(n_toks) AS BIGINT)) AS end_tok
       |  FROM sp GROUP BY doc_id, span_id),
       |spanlists AS (
       |  SELECT doc_id, list({'s': start_tok, 'e': end_tok}) AS spans
       |  FROM spandocs GROUP BY doc_id),
       |c AS (
       |  SELECT t.doc_id, t.toks,
       |    CASE WHEN s.spans IS NULL THEN t.toks
       |      ELSE list_filter(t.toks, (x, i) ->
       |        len(list_filter(s.spans, p -> i >= p.s AND i <= p.e)) = 0) END AS kept
       |  FROM t LEFT JOIN spanlists s USING (doc_id))
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |  CAST(len(toks) - len(kept) AS BIGINT) AS n_cut,
       |  -- a fully-cut doc: DuckDB's array_to_string([]) is NULL where
       |  -- Spark's array_join is '' — coalesce to the Spark spelling
       |  COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
       |FROM c ORDER BY doc_id""".stripMargin

  /** d77's oracle: the suffix array stated DECLARATIVELY — dense-rank
    * every (doc, pos) suffix by its first-64-token slice (DuckDB
    * orders LISTs lexicographically, shorter-prefix-first — exactly
    * the doc-end-sentinel suffix order the doubling's partner-rank-0
    * encodes), then the identical per-doc digest. The oracle never
    * sees a doubling round — construction and statement are
    * independent derivations. Integer moments fit BIGINT with ~9
    * decades of headroom (rank ≤ n, pos ≤ 100, ≤ 100 terms/doc);
    * SUMs cast back from DuckDB's HUGEINT widening. */
  private def suffixArrayOracle: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |sfx AS (
      |  SELECT doc_id, pos, list_slice(toks, pos, pos + 63) AS pfx
      |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS pos)),
      |rk AS (SELECT doc_id, pos, DENSE_RANK() OVER (ORDER BY pfx) AS r FROM sfx)
      |SELECT doc_id, COUNT(*) AS n_suffixes,
      |  CAST(SUM(r) AS BIGINT) AS rank_sum,
      |  CAST(SUM(r * pos) AS BIGINT) AS rank_pos_sum
      |FROM rk GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** d78's oracle: the repeat screen stated per level — for each
    * width w = 2^k (k = 0..6), dense-rank suffixes by their first-w-
    * token slice, flag ranks spanning ≥2 docs (MIN≠MAX doc), report
    * per doc the max of LEAST(w, remaining) over flagged suffixes —
    * the same actual-tail-length cap the Spark side applies. */
  private def repeatScreenOracle: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |sfx AS (
      |  SELECT doc_id, len(toks) AS n_toks, pos, toks
      |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS pos)),
      |lv AS (SELECT unnest(generate_series(0, 6)) AS k),
      |rk AS (
      |  SELECT s.doc_id, s.n_toks, s.pos, (1 << l.k) AS w,
      |    DENSE_RANK() OVER (PARTITION BY l.k
      |      ORDER BY list_slice(s.toks, s.pos, s.pos + (1 << l.k) - 1)) AS r
      |  FROM sfx s CROSS JOIN lv l),
      |shared AS (SELECT w, r FROM rk GROUP BY 1, 2 HAVING MIN(doc_id) <> MAX(doc_id)),
      |hit AS (
      |  SELECT rk.doc_id,
      |    MAX(LEAST(CAST(rk.w AS BIGINT), rk.n_toks - rk.pos + 1)) AS max_shared_len
      |  FROM rk JOIN shared USING (w, r) GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
      |  COALESCE(h.max_shared_len, 0) AS max_shared_len
      |FROM tk t LEFT JOIN hit h ON h.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** d80's oracle: the audit stated over the declarative suffix ranks
    * (the d77 oracle's rk CTE), with the same rank-window copy count,
    * doc-window left-maximality lag, two-level (rank, doc) rollup,
    * arg_min exemplar, LEAST-capped context length, and the same
    * bounded join back to the corpus for each exemplar's context
    * string (list_slice over the tk token arrays). */
  private def topContextsOracle: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |sfx AS (
      |  SELECT doc_id, len(toks) AS n_toks, pos,
      |    list_slice(toks, pos, pos + 63) AS pfx
      |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS pos)),
      |rk AS (SELECT doc_id, n_toks, pos,
      |  DENSE_RANK() OVER (ORDER BY pfx) AS r FROM sfx),
      |rk2 AS (SELECT doc_id, n_toks, pos, r,
      |  COUNT(*) OVER (PARTITION BY r) AS copies FROM rk),
      |lm AS (SELECT doc_id, n_toks, pos, r, copies,
      |  LAG(copies) OVER (PARTITION BY doc_id ORDER BY pos) AS pc FROM rk2),
      |keep AS (SELECT * FROM lm
      |  WHERE copies >= 2 AND (pc IS NULL OR pc <> copies)),
      |pd AS (
      |  SELECT r, MAX(copies) AS copies, doc_id, MIN(pos) AS mp,
      |    MIN(LEAST(64, n_toks - pos + 1)) AS ml
      |  FROM keep GROUP BY 1, 3),
      |g AS (
      |  SELECT CAST(MAX(copies) AS BIGINT) AS n_copies, COUNT(*) AS n_docs,
      |    MIN(doc_id) AS first_doc, ARG_MIN(mp, doc_id) AS first_pos,
      |    MIN(ml) AS ctx_len
      |  FROM pd GROUP BY r),
      |sel AS (
      |  SELECT n_copies, n_docs, first_doc, first_pos, ctx_len FROM g
      |  WHERE ctx_len >= 8
      |  ORDER BY n_copies DESC, first_doc, first_pos LIMIT 20)
      |SELECT s.n_copies, s.n_docs, s.first_doc, s.first_pos, s.ctx_len,
      |  array_to_string(list_slice(t.toks, s.first_pos,
      |    s.first_pos + s.ctx_len - 1), ' ') AS context
      |FROM sel s JOIN tk t ON t.doc_id = s.first_doc
      |ORDER BY n_copies DESC, first_doc, first_pos""".stripMargin

  /** d79's oracle: the same deterministic host graph off doc_id, then
    * five UNROLLED integer power-iteration CTE pairs (contribution
    * aggregate + teleport top-up). Every arithmetic step is a long
    * floor division (`//`), matching Spark's DIV exactly; SUMs cast
    * back from DuckDB's HUGEINT widening. */
  private def pagerankOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""c$i AS (
         |  SELECT e.dst,
         |    CAST(SUM(((r.rank * 85) // 100) // o.outd) AS BIGINT) AS inmass
         |  FROM edges e JOIN r${i - 1} r ON r.host = e.src
         |    JOIN outd o ON o.src = e.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT h.host, 150000000000 + COALESCE(c.inmass, 0) AS rank
         |  FROM hosts h LEFT JOIN c$i c ON c.dst = h.host)"""
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS d1,
       |    (doc_id * 17 + 3) % 97 AS d2 FROM documents),
       |e0 AS (SELECT src, unnest([d1, d2]) AS dst FROM raw),
       |edges AS (SELECT DISTINCT src,
       |  CASE WHEN dst = src THEN (dst + 1) % 97 ELSE dst END AS dst FROM e0),
       |outd AS (SELECT src, COUNT(*) AS outd FROM edges GROUP BY 1),
       |hosts AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
       |r0 AS (SELECT host, CAST(1000000000000 AS BIGINT) AS rank FROM hosts),
       |$iters
       |SELECT host, rank FROM r5 ORDER BY host""".stripMargin
  }

  /** d76's oracle: the span chain + the d75 cut CTEs, then a from-
    * scratch re-derivation of the dup rule over the CUT token arrays
    * (same positional shingle CASE, same polynomial hash). Every SUM
    * casts back to BIGINT (DuckDB widens integer sums to HUGEINT). */
  private def spanResidualOracle: String =
    s"""WITH $dupSpanCtes,
       |spandocs AS (
       |  SELECT doc_id, MIN(spos) AS start_tok,
       |    LEAST(MAX(spos) + 4, CAST(MAX(n_toks) AS BIGINT)) AS end_tok
       |  FROM sp GROUP BY doc_id, span_id),
       |spanlists AS (
       |  SELECT doc_id, list({'s': start_tok, 'e': end_tok}) AS spans
       |  FROM spandocs GROUP BY doc_id),
       |c AS (
       |  SELECT t.doc_id, t.toks,
       |    CASE WHEN s.spans IS NULL THEN t.toks
       |      ELSE list_filter(t.toks, (x, i) ->
       |        len(list_filter(s.spans, p -> i >= p.s AND i <= p.e)) = 0) END AS kept
       |  FROM t LEFT JOIN spanlists s USING (doc_id)),
       |init AS (
       |  SELECT COUNT(*) AS n_grams_initial,
       |    CAST(COALESCE(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS n_dup_initial
       |  FROM g LEFT JOIN dup ON g.h = dup.h),
       |r AS (SELECT doc_id, kept FROM c WHERE len(kept) > 0),
       |rsh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(kept) < 5 THEN [array_to_string(kept, ' ')]
       |      ELSE list_transform(generate_series(1, len(kept) - 4),
       |        i -> array_to_string(kept[i:i+4], ' ')) END AS gs
       |  FROM r),
       |rg AS (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_split_to_array(u.gg, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (a, b) -> (a*31 + b) % ${Dedup.P}) AS h
       |  FROM rsh, unnest(rsh.gs) AS u(gg)),
       |rstat AS (SELECT h, COUNT(*) AS occ, MIN(doc_id) AS mn, MAX(doc_id) AS mx
       |  FROM rg GROUP BY h),
       |res AS (
       |  SELECT CAST(COALESCE(SUM(occ), 0) AS BIGINT) AS n_grams_residual,
       |    CAST(COALESCE(SUM(CASE WHEN mn <> mx THEN occ ELSE 0 END), 0) AS BIGINT)
       |      AS n_dup_residual
       |  FROM rstat),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT nd.n_docs, init.n_grams_initial, init.n_dup_initial,
       |  res.n_grams_residual, res.n_dup_residual,
       |  CAST(init.n_dup_initial AS DOUBLE) / CAST(init.n_grams_initial AS DOUBLE)
       |    AS initial_density,
       |  CAST(res.n_dup_residual AS DOUBLE) / CAST(res.n_grams_residual AS DOUBLE)
       |    AS residual_density
       |FROM nd CROSS JOIN init CROSS JOIN res""".stripMargin

  private def noveltyOracle: String =
    s"""WITH sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_transform(generate_series(1, len(toks) - 3 + 1),
       |      i -> array_to_string(toks[i:i+2], ' ')) END) AS shs
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |        FROM documents) a),
       |g AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(regexp_split_to_array(s.sgl, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |    (a, b) -> (a*31 + b) % ${Dedup.P}) AS h
       |  FROM sh, unnest(sh.shs) AS s(sgl)),
       |fst AS (SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h)
       |SELECT g.doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN fst.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN fst.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS novelty
       |FROM g JOIN fst USING (h)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** d64's oracle: the d6 chain's candidate pairs scored by signature
    * agreement and verified with the exact integer token-Jaccard test. */
  private def lshCurveOracle: String =
    s"""WITH $minhashChain,
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bnd x JOIN bnd y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |m AS (SELECT a_id, b_id,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS n_match
       |  FROM cand JOIN sig sa ON cand.a_id = sa.doc_id
       |            JOIN sig sb ON cand.b_id = sb.doc_id),
       |v AS (SELECT m.n_match,
       |    (2 * len(list_intersect(ta.toks, tb.toks))
       |      >= len(list_distinct(list_concat(ta.toks, tb.toks)))) AS is_dup
       |  FROM m JOIN tk ta ON m.a_id = ta.doc_id
       |         JOIN tk tb ON m.b_id = tb.doc_id)
       |SELECT n_match, COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS dup_share
       |FROM v GROUP BY n_match ORDER BY n_match""".stripMargin

  /** d49's oracle: the d6 chain's candidate pairs verified with
    * Levenshtein over the same 256-char prefix. */
  private def lshEditVerifyOracle: String =
    s"""WITH $minhashChain,
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bnd x JOIN bnd y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |t AS (SELECT doc_id, substring(text, 1, 256) AS t FROM documents),
       |v AS (SELECT a_id, b_id,
       |    CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS edit_dist,
       |    greatest(greatest(length(ta.t), length(tb.t)), 1) AS max_len
       |  FROM cand JOIN t ta ON cand.a_id = ta.doc_id
       |            JOIN t tb ON cand.b_id = tb.doc_id)
       |SELECT a_id, b_id, edit_dist,
       |  1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE) AS edit_sim
       |FROM v ORDER BY a_id, b_id""".stripMargin

  /** d7's oracle: portable SimHash — per-token polynomial hash, 64
    * sign-vote bits from the embedded permutation constants; bit 63
    * uses Long.MinValue wrap semantics on both engines. */
  private def simhashOracle: String = {
    val (pa, pb) = Dedup.simhashPerms
    val p = Dedup.P
    val half = p / 2
    val terms = (0 until 64).map { b =>
      val w = if (b < 63) (1L << b).toString else "(-9223372036854775807 - 1)"
      s"(CASE WHEN list_sum(list_transform(hl, h -> CASE WHEN (h*${pa(b)} + ${pb(b)}) % $p > $half THEN 1 ELSE -1 END)) > 0 THEN $w ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH hs AS (SELECT doc_id, list_transform(
       |    regexp_split_to_array(trim(lower(text)), '\\s+'),
       |    t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_split_to_array(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (a, b) -> (a*31 + b) % $p)) AS hl
       |  FROM documents)
       |SELECT doc_id, simhash, (simhash >> 48) & 65535 AS bucket FROM (
       |  SELECT doc_id, $terms AS simhash FROM hs) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain for the SimHash banded near-dup pairs (mirrors
    * Dedup.simhashNearDups with the embedded d7 constants): ends in
    * `prs(a_id, b_id, hamming)` — d7b and d20 both build on it. */
  private def simhashPairsChain: String = {
    val (pa, pb) = Dedup.simhashPerms
    val p = Dedup.P
    val half = p / 2
    val terms = (0 until 64).map { b =>
      val w = if (b < 63) (1L << b).toString else "(-9223372036854775807 - 1)"
      s"(CASE WHEN list_sum(list_transform(hl, h -> CASE WHEN (h*${pa(b)} + ${pb(b)}) % $p > $half THEN 1 ELSE -1 END)) > 0 THEN $w ELSE 0 END)"
    }.mkString("\n    + ")
    s"""hs AS (SELECT doc_id, list_transform(
       |    regexp_split_to_array(trim(lower(text)), '\\s+'),
       |    t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_split_to_array(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (a, b) -> (a*31 + b) % $p)) AS hl
       |  FROM documents),
       |sims AS (SELECT doc_id, $terms AS simhash FROM hs),
       |b AS (SELECT doc_id, simhash, t.band AS band,
       |      (simhash >> (t.band * 16)) & 65535 AS chunk
       |      FROM sims CROSS JOIN (VALUES (0), (1), (2), (3)) t(band)),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |    x.simhash AS ha, y.simhash AS hb
       |  FROM b x JOIN b y ON x.band = y.band AND x.chunk = y.chunk
       |    AND x.doc_id < y.doc_id),
       |prs AS (SELECT a_id, b_id,
       |    CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming FROM cand)""".stripMargin
  }

  /** d7b's oracle: the portable SimHash (same embedded constants as
    * d7), 4×16-bit chunk banding, exact XOR-popcount verification. */
  private def simhashBandsOracle: String =
    s"""WITH $simhashPairsChain
       |SELECT a_id, b_id, hamming FROM prs
       |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin

  /** d20's oracle: transitive closure over the same edges via a
    * recursive CTE; cluster id = min reachable doc id. */
  private def dedupClustersOracle: String =
    s"""WITH RECURSIVE $simhashPairsChain,
       |e AS (SELECT a_id AS s, b_id AS t FROM prs WHERE hamming <= 3
       |      UNION SELECT b_id, a_id FROM prs WHERE hamming <= 3),
       |reach AS (SELECT s, t FROM e
       |  UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s)
       |SELECT s AS doc_id, least(s, MIN(t)) AS cluster
       |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin

  /** (doc_id, fingerprint) rows via the same winnowing fold as
    * Dedup.winnow — shared by the d10 and d16 oracles; the k/w/modulus
    * constants interpolate from Dedup so they can never drift. */
  private val winnowFpSql: String = {
    val k = Dedup.WinnowK; val w = Dedup.WinnowW; val p = Dedup.WinnowModulus
    raw"""SELECT doc_id, unnest(list_sort(list_distinct(list_transform(
      |    generate_series(1, greatest(len(hashes) - $w + 1, 1)),
      |    i -> list_min(hashes[i:i+${w - 1}]))))) AS fingerprint
      |FROM (
      |  SELECT doc_id, list_transform(sh, s -> list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(regexp_split_to_array(s, ''), c2 -> CAST(ascii(c2) AS BIGINT))),
      |      (a, b) -> (a*31 + b) % $p)) AS hashes
      |  FROM (
      |    SELECT doc_id, CASE WHEN len(toks) < $k THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(generate_series(1, len(toks) - $k + 1),
      |        i -> array_to_string(toks[i:i+${k - 1}], ' ')) END AS sh
      |    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |          FROM documents) a) b) c""".stripMargin
  }

  /** Spread a synthesized-media key scan across the session's
    * parallelism BEFORE the per-row encode/decode map (the t24
    * `topicShaped` rule, guide §2.5 "input skew"): the sf parquet
    * tables are single-row-group files, so without this the whole
    * encode+decode pipeline of every m-query serializes into the one
    * scan task — the opposite of the many-file corpus layout the
    * binaryFile ingest has in production. Hash on the key column keeps
    * the layout deterministic (no round-robin sort-before-repartition
    * pass, stable under retries). */
  private def spreadByKey(df: DataFrame): DataFrame =
    Spread.byKey(df, col(df.columns.head))

  /** `documents` range-partitioned on doc_id for queries shaped
    * scan -> heavy per-row projection -> orderBy(doc_id...): the one
    * exchange moves BELOW the projection, so (1) the global sort's
    * range-sampling pass reads the bare scan instead of re-running
    * the projection, (2) the projection runs once and parallel (an
    * explicit partition count is never AQE-coalesced; the sf files
    * are single-row-group, so the plain scan is one task), and
    * (3) the final orderBy is satisfied by the range partitioning
    * (prefix rule) and plans as an in-partition sort with no second
    * exchange. Same rows, same order — column pruning still reaches
    * the scan through the repartition. */
  private def docsByRange(s: SparkSession, d: String): DataFrame =
    Spread.byRange(table(s, d, "documents"), col("doc_id"))

  /** The positional K-shingle hash grid shared by d66 (self-contained
    * build) and d66_spans_indexed (persisted dup set): one doc_id-keyed
    * exchange fans the shingling out, then positions travel with 8-byte
    * hashes — the text never keys an exchange. `spos` is 1-based token
    * position (the span coordinate system both oracles speak). */
  private def spanGrid(docs: DataFrame, k: Int): DataFrame =
    Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"), Text.tokenCount(col("text")).as("n_toks"),
        posexplode(Dedup.shingles(col("text"), k)).as(Seq("p", "gram")))
      .select(col("doc_id"), col("n_toks"),
        (col("p") + 1).cast("long").as("spos"),
        Dedup.shingleHash(col("gram")).as("h"))

  /** The gaps-and-islands span merge shared by d66 and
    * d66_spans_indexed: duplicated shingle-start positions ≤ k apart
    * chain into one maximal [start_tok, end_tok] range per doc — ONE
    * doc_id window, linear per doc, identical whichever side the dup
    * set came from (in-query aggregate or persisted table). */
  private def dupSpanMerge(sh: DataFrame, dup: DataFrame, k: Int): DataFrame =
    dupSpanMergeMarked(sh.join(dup, Seq("h")), k)

  /** The merge half of [[dupSpanMerge]] over already-marked grid rows —
    * d66 derives the marking in-line (a min/max window on the
    * h-partitioned grid), the indexed variants join the persisted dup
    * set; the gaps-and-islands chain is identical either way. */
  private def dupSpanMergeMarked(marked: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wD = Window.partitionBy("doc_id").orderBy("spos")
    marked
      .withColumn("ns",
        when(lag(col("spos"), 1).over(wD).isNull ||
          col("spos") - lag(col("spos"), 1).over(wD) > k, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("ns")).over(
        wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(min(col("spos")).as("start_tok"),
        least(max(col("spos")) + (k - 1), max(col("n_toks")).cast("long"))
          .as("end_tok"),
        count(lit(1)).as("n_dup_grams"))
      .orderBy("doc_id", "start_tok")
  }

  /** The keep-best-per-cluster selection shared by d37 (self-contained
    * build) and d47 (persisted map): d2's quality score per doc, left
    * join to the (doc_id, cluster) assignment (singletons coalesce to
    * their own id), one grouped struct-max argmax — score desc then
    * LOWEST doc id via the negated-id trick, no member buffering. */
  private def keepBestPerCluster(docs: DataFrame,
                                 clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val quality = docs
      .select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.stopwordCount(col("text")).as("n_stop"),
        Text.punctCount(col("text")).as("n_punct"),
        length(col("text")).as("n_chars"))
      .select(col("doc_id"),
        Text.qualityScore(col("n_tokens"),
          col("n_stop").cast(DoubleType) / col("n_tokens").cast(DoubleType),
          when(col("n_chars") === 0, lit(0.0))
            .otherwise(col("n_punct").cast(DoubleType) / col("n_chars").cast(DoubleType)))
          .as("score"))
    quality.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"), col("score"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster"), (-col("m")("nid")).as("kept_doc"),
        col("n_members"), col("m")("score").as("score"))
      .orderBy("cluster")
  }

  /** d45's oracle: the BPE merge loop UNROLLED as a fixed CTE chain —
    * one (pairs → counts → 1-row argmax → rewrite) block per merge
    * round, the e22 unrolling precedent. The iterative symbol state
    * rides a STRING encoding: symbols joined by TWO spaces and padded
    * with one space each side (`" a  b  c "`), so every symbol
    * occurrence is space-bounded on both sides. That makes DuckDB's
    * `replace` — a single left-to-right, non-overlapping scan of the
    * input that never rescans its own output — EXACTLY
    * [[graft.operators.BpeTrain.applyMerge]]: pattern
    * `" a  b "` → `" ab "` consumes both boundary spaces, so an
    * adjacent candidate pair reusing the just-merged token cannot
    * match (applyMerge's i += 2), while the next disjoint occurrence
    * still has its own delimiters ("a a a a" merges to [aa, aa], and
    * "a a a" to [aa, a], on both engines). Symbols are substrings of
    * whitespace-split tokens, so they never contain a space and the
    * encoding is unambiguous. Early exhaustion degrades identically:
    * an empty argmax row empties every later round's CROSS JOIN. */
  private def bpeTrainOracle(numMerges: Int): String = {
    def round(k: Int): String = {
      val p = k - 1
      s"""p$k AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, n FROM (
         |    SELECT syms, n, unnest(generate_series(1, len(syms) - 1)) AS i
         |    FROM (SELECT string_split(trim(s), '  ') AS syms, n FROM w$p) t0) t1),
         |c$k AS (SELECT l, r, CAST(SUM(n) AS BIGINT) AS cnt FROM p$k GROUP BY l, r),
         |m$k AS (SELECT CAST($p AS INTEGER) AS "rank", l AS "left", r AS "right",
         |               cnt AS pair_count
         |        FROM c$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |w$k AS (SELECT replace(s, ' ' || m."left" || '  ' || m."right" || ' ',
         |                          ' ' || m."left" || m."right" || ' ') AS s, n
         |        FROM w$p, m$k m)""".stripMargin
    }
    val rounds = (1 to numMerges).map(round).mkString(",\n")
    val union = (1 to numMerges).map(k => s"SELECT * FROM m$k").mkString(" UNION ALL ")
    raw"""WITH w0 AS (
      |  SELECT ' ' || array_to_string(
      |           list_append(string_split(w, ''), '</w>'), '  ') || ' ' AS s,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |        FROM documents) t
      |  WHERE length(w) > 0
      |  GROUP BY 1
      |),
      |$rounds
      |SELECT * FROM ($union) u ORDER BY "rank"""".stripMargin
  }

  /** d37's oracle: the d20 transitive-closure clusters + the d2
    * quality score, argmax per cluster (singletons cluster to
    * themselves via the LEFT JOIN + COALESCE). */
  private def dedupKeepBestOracle: String =
    s"""WITH RECURSIVE $simhashPairsChain,
       |e AS (SELECT a_id AS s, b_id AS t FROM prs WHERE hamming <= 3
       |      UNION SELECT b_id, a_id FROM prs WHERE hamming <= 3),
       |reach AS (SELECT s, t FROM e
       |  UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
       |clu AS (SELECT s AS doc_id, least(s, MIN(t)) AS cluster
       |  FROM reach GROUP BY s),
       |q AS (
       |  SELECT doc_id,
       |    0.4*stop_ratio + 0.3*(1.0 - punct_ratio)
       |      + 0.3*least(1.0, CAST(n_tokens AS DOUBLE)/100.0) AS score
       |  FROM (
       |    SELECT doc_id, n_tokens,
       |      CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stop_ratio,
       |      CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE)/CAST(n_chars AS DOUBLE) END AS punct_ratio
       |    FROM (
       |      SELECT doc_id,
       |        len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |        len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |          w -> w IN ('the','a','and','of','to','in'))) AS n_stop,
       |        length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
       |        length(text) AS n_chars
       |      FROM documents) x) y),
       |mem AS (SELECT q.doc_id, COALESCE(clu.cluster, q.doc_id) AS cluster, q.score
       |  FROM q LEFT JOIN clu ON q.doc_id = clu.doc_id),
       |sel AS (SELECT cluster, doc_id, score,
       |    COUNT(*) OVER (PARTITION BY cluster) AS n_members,
       |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id) AS rn
       |  FROM mem)
       |SELECT cluster, doc_id AS kept_doc, n_members, score
       |FROM sel WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** d81's oracle: the keep-best CC chain (cluster = least reachable
    * id, singletons their own id) + the same divisionless portable
    * hash gate — `%` binds left-to-right, so the spelling is the two
    * pmods then the bucket mod, exactly the kernel's arithmetic. */
  private def clusterSplitOracle: String =
    s"""WITH RECURSIVE $simhashPairsChain,
       |e AS (SELECT a_id AS s, b_id AS t FROM prs WHERE hamming <= 3
       |      UNION SELECT b_id, a_id FROM prs WHERE hamming <= 3),
       |reach AS (SELECT s, t FROM e
       |  UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
       |clu AS (SELECT s AS doc_id, least(s, MIN(t)) AS cluster
       |  FROM reach GROUP BY s),
       |asg AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN clu c ON c.doc_id = d.doc_id),
       |bkt AS (SELECT doc_id, cluster,
       |  ((cluster % 2147483647) * 2654435761) % 2147483647 % 100 AS bucket
       |  FROM asg)
       |SELECT doc_id, cluster, bucket,
       |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
       |    ELSE 'test' END AS split
       |FROM bkt ORDER BY doc_id""".stripMargin

  /** The d8 content-fingerprint fold over an arbitrary text
    * expression — shared by the d39 oracle's two synthesized snapshot
    * versions so it can never drift from Text.fingerprint. */
  /** Shared d40/d41 conversation-synthesis CTE: tokens chunk into turns
    * of 8, at most 6 turns, n_turns ≥ 1 (the Spark side's `(size+7)
    * div 8` clamped the same way). */
  private val chatTurnsCte: String =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
      |    CAST(least(6, greatest(1, (len(regexp_split_to_array(trim(text), '\s+')) + 7) // 8)) AS BIGINT) AS n_turns
      |  FROM documents)""".stripMargin

  private def fpSql(textExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(regexp_split_to_array(substring(lower($textExpr), 1, 64), ''),
       |      c -> CAST(ascii(c) AS BIGINT))),
       |    (a, b) -> (a*31 + b) % 1000000000000000)""".stripMargin

  /** Shared by d29 (from-scratch) and d50 (persisted inverted index) —
    * one oracle, two execution strategies: the index is a deterministic
    * derivation of the corpus, so both prove against the same SQL. */
  private def bm25Oracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, CAST(len(ts) AS INTEGER) AS dl,
      |    unnest(list_filter(ts,
      |      x -> x IN ('spark', 'join', 'vector'))) AS term
      |  FROM t),
      |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM m
      |       GROUP BY doc_id, dl, term),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM m
      |       GROUP BY term),
      |st AS (SELECT COUNT(*) AS n_docs,
      |         CAST(SUM(len(ts)) AS BIGINT) AS sum_dl FROM t)
      |-- decimal literals must be cast: DuckDB parses 2.2 as
      |-- DECIMAL(2,1) and decimal intermediates round differently
      |-- from IEEE double arithmetic (last-ulp hash mismatch)
      |SELECT doc_id, COUNT(*) AS n_terms,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list((n_docs - df + CAST(0.5 AS DOUBLE)) /
      |        (df + CAST(0.5 AS DOUBLE)) *
      |        (tf * CAST(2.2 AS DOUBLE)) /
      |      (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
      |        CAST(0.75 AS DOUBLE) * dl /
      |        (CAST(sum_dl AS DOUBLE) / n_docs))) ORDER BY term)),
      |    (a, b) -> a + b) AS score
      |FROM tf JOIN df USING (term) CROSS JOIN st
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** m18's oracle: the identical payload built from BLOB literals and
    * the identical longest-prefix-first sniff over hex(payload) — both
    * the blob literals and the hex comparands are generated from the
    * SAME [[graft.operators.Multimodal]] magic constants the Spark
    * side sniffs with, so the two chains cannot drift. */
  private def mimeSniffOracle: String = {
    import graft.operators.Multimodal._
    def hx(b: Array[Byte]): String = b.map(x => "%02X".format(x & 0xff)).mkString
    def blob(b: Array[Byte]): String =
      b.map(x => "\\x" + "%02X".format(x & 0xff)).mkString
    val wav = MagicRiff ++ Array[Byte](0, 0, 0, 0) ++ MagicWave
    s"""WITH pl AS (
       |  SELECT doc_id, (CASE doc_id % 8
       |    WHEN 0 THEN '${blob(MagicPng)}'::BLOB
       |    WHEN 1 THEN '${blob(MagicJpeg)}'::BLOB
       |    WHEN 2 THEN '${blob(MagicGif)}'::BLOB
       |    WHEN 3 THEN '${blob(MagicBmp)}'::BLOB
       |    WHEN 4 THEN '${blob(wav)}'::BLOB
       |    WHEN 5 THEN '${blob(MagicY4m)}'::BLOB
       |    WHEN 6 THEN '${blob(MagicId3)}'::BLOB
       |    ELSE ''::BLOB END) || encode(text) AS payload
       |  FROM documents),
       |hx AS (SELECT doc_id, payload, hex(payload) AS h FROM pl),
       |sn AS (SELECT doc_id, octet_length(payload) AS byte_len,
       |  CASE
       |    WHEN left(h, ${MagicPng.length * 2}) = '${hx(MagicPng)}' THEN 'image/png'
       |    WHEN left(h, ${MagicY4m.length * 2}) = '${hx(MagicY4m)}' THEN 'video/x-yuv4mpeg'
       |    WHEN left(h, ${MagicGif.length * 2}) = '${hx(MagicGif)}' THEN 'image/gif'
       |    WHEN left(h, ${MagicJpeg.length * 2}) = '${hx(MagicJpeg)}' THEN 'image/jpeg'
       |    WHEN left(h, ${MagicId3.length * 2}) = '${hx(MagicId3)}' THEN 'audio/mpeg'
       |    WHEN left(h, ${MagicRiff.length * 2}) = '${hx(MagicRiff)}'
       |      AND substring(h, 17, ${MagicWave.length * 2}) = '${hx(MagicWave)}' THEN 'audio/x-wav'
       |    WHEN left(h, ${MagicRiff.length * 2}) = '${hx(MagicRiff)}' THEN 'application/octet-stream'
       |    WHEN left(h, ${MagicPpm.length * 2}) = '${hx(MagicPpm)}' THEN 'image/x-portable-pixmap'
       |    WHEN left(h, ${MagicBmp.length * 2}) = '${hx(MagicBmp)}' THEN 'image/bmp'
       |    ELSE 'text/plain' END AS mime
       |  FROM hx)
       |SELECT doc_id, mime,
       |  CASE WHEN mime LIKE 'image/%' THEN 'image'
       |       WHEN mime LIKE 'audio/%' THEN 'audio'
       |       WHEN mime LIKE 'video/%' THEN 'video'
       |       WHEN mime = 'text/plain' THEN 'text'
       |       ELSE 'binary' END AS route,
       |  byte_len
       |FROM sn ORDER BY doc_id""".stripMargin
  }

  /** d83's build: the documents corpus as a doc_id-tracked MergeTable
    * driven through one MOR curation epoch (drop the non-target
    * language). Memoized per generation. */
  private def ensureMorCorpus(s: SparkSession, d: String): String = {
    import graft.sources.MergeTable
    val path = graft.ScratchDirs.stable("d83_mor", d) + "/corpus"
    if (MergeTable.latestVersion(s, path) < 1) {
      val docs = table(s, d, "documents")
      if (MergeTable.latestVersion(s, path) < 0)
        MergeTable.create(docs, path, statsCol = Some("doc_id"))
      MergeTable.deleteKeysMor(s, path,
        docs.filter(col("lang") === "zh").select("doc_id"), "doc_id")
    }
    path
  }

  val oracles: Map[String, String] = Map(
    "m18_mime_sniff" -> mimeSniffOracle,

    "d63_langid_eval" ->
      raw"""WITH pred AS (
        |  SELECT lang AS true_lang,
        |    CASE
        |      WHEN c_en >= 3 AND c_en >= c_es AND c_en >= c_de THEN 'en'
        |      WHEN c_es >= 3 AND c_es >= c_de THEN 'es'
        |      WHEN c_de >= 3 THEN 'de'
        |      ELSE 'und' END AS pred_lang
        |  FROM (
        |    SELECT lang,
        |      len(regexp_extract_all(text, '\b(?:the|and|of|to)\b')) AS c_en,
        |      len(regexp_extract_all(text, '\b(?:el|la|de|que)\b')) AS c_es,
        |      len(regexp_extract_all(text, '\b(?:der|die|das|und)\b')) AS c_de
        |    FROM documents) t),
        |cm AS (SELECT true_lang, pred_lang, COUNT(*) AS n FROM pred GROUP BY 1, 2)
        |SELECT true_lang, pred_lang, n,
        |  CAST(SUM(n) OVER (PARTITION BY true_lang) AS BIGINT) AS lang_total,
        |  CAST(n AS DOUBLE) /
        |    CAST(CAST(SUM(n) OVER (PARTITION BY true_lang) AS BIGINT) AS DOUBLE) AS share,
        |  CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END AS is_correct
        |FROM cm ORDER BY true_lang, pred_lang""".stripMargin,

    "d62_tfidf_keywords" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM t WHERE term <> '' GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, rank, term, tf, df, score FROM r
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "d7b_simhash_bands" -> simhashBandsOracle,

    "d20_dedup_clusters" -> dedupClustersOracle,

    "d37_dedup_keep_best" -> dedupKeepBestOracle,
    // same oracle: the persisted-map path must be indistinguishable
    // from the recompute
    "d47_keep_best_indexed" -> dedupKeepBestOracle,

    "d48_perplexity_buckets" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(generate_series(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+1], ' ')) END) AS bigram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents) a),
        |f AS (SELECT bigram, COUNT(*) AS cf FROM b GROUP BY bigram),
        |scored AS (
        |  SELECT doc_id, CAST(SUM(cf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_cf
        |  FROM b JOIN f USING (bigram) GROUP BY doc_id),
        |th AS (SELECT quantile_cont(mean_cf, 0.3333333333333333) AS t1,
        |              quantile_cont(mean_cf, 0.6666666666666666) AS t2 FROM scored)
        |SELECT doc_id, mean_cf,
        |  CASE WHEN mean_cf < t1 THEN 'tail'
        |       WHEN mean_cf < t2 THEN 'middle' ELSE 'head' END AS bucket
        |FROM scored CROSS JOIN th ORDER BY doc_id""".stripMargin,

    "d49_lsh_edit_verify" -> lshEditVerifyOracle,

    "d38_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
        |m AS (SELECT MIN(cnt) AS mincnt FROM c),
        |t AS (SELECT source, cnt,
        |    CAST(floor(sqrt(CAST(mincnt AS DOUBLE) * CAST(cnt AS DOUBLE))) AS BIGINT) AS target
        |  FROM c CROSS JOIN m)
        |SELECT d.source, t.cnt, t.target, COUNT(*) AS n_kept
        |FROM documents d JOIN t ON d.source = t.source
        |WHERE (((d.doc_id % 2147483647) * 2654435761) % 2147483647) % 1000003 * t.cnt
        |  < t.target * 1000003
        |GROUP BY d.source, t.cnt, t.target
        |ORDER BY d.source""".stripMargin,

    // the d2 score chain + quantile_cont tertiles (≡ Spark percentile,
    // the d48 precedent) + the d38 multiplicative hash
    "d58_curriculum_order" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    0.4*stop_ratio + 0.3*(1.0 - punct_ratio) + 0.3*least(1.0, CAST(n_tokens AS DOUBLE)/100.0) AS score
        |  FROM (
        |    SELECT doc_id, n_tokens,
        |      CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |      CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE)/CAST(n_chars AS DOUBLE) END AS punct_ratio
        |    FROM (
        |      SELECT doc_id,
        |        len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |        len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |          w -> w IN ('the','a','and','of','to','in'))) AS n_stop,
        |        length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
        |        length(text) AS n_chars
        |      FROM documents) x) y),
        |th AS (SELECT quantile_cont(score, 0.3333333333333333) AS t1,
        |              quantile_cont(score, 0.6666666666666666) AS t2 FROM scored)
        |SELECT doc_id, score,
        |  CASE WHEN score >= t2 THEN CAST(1 AS INTEGER)
        |       WHEN score >= t1 THEN CAST(2 AS INTEGER)
        |       ELSE CAST(3 AS INTEGER) END AS phase,
        |  ((doc_id % 2147483647) * 2654435761) % 2147483647 AS shuffle_key
        |FROM scored CROSS JOIN th
        |ORDER BY phase, shuffle_key, doc_id""".stripMargin,

    // d38's integer target arithmetic equalizing toward the largest
    // language, materialized to copies via // and the hash residual
    "d59_epoch_upsample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
        |m AS (SELECT MAX(cnt) AS maxcnt FROM c),
        |t AS (SELECT lang, cnt,
        |    CAST(floor(sqrt(CAST(maxcnt AS DOUBLE) * CAST(cnt AS DOUBLE))) AS BIGINT) AS target
        |  FROM c CROSS JOIN m),
        |k AS (
        |  SELECT d.doc_id, d.lang,
        |    t.target // t.cnt +
        |      CASE WHEN (((d.doc_id % 2147483647) * 2654435761) % 2147483647) % t.cnt < t.target % t.cnt
        |        THEN 1 ELSE 0 END AS n_copies
        |  FROM documents d JOIN t ON d.lang = t.lang)
        |SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS copy
        |FROM k WHERE n_copies > 0
        |ORDER BY doc_id, copy""".stripMargin,

    // the d48 bigram chain + the d33 polyHash bucket + exact integer
    // sums with add-one smoothing; one double division, quantile_cont
    // threshold (≡ Spark percentile)
    "d61_dsir_select" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(generate_series(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+1], ' ')) END) AS bigram
        |  FROM (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents) a),
        |h AS (SELECT doc_id, lang,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(bigram, ''),
        |        c2 -> CAST(ascii(c2) AS BIGINT))),
        |      (x, y) -> (x*31 + y) % 1000003) % 1024 AS bkt
        |  FROM b),
        |tc AS (SELECT bkt, COUNT(*) AS tcnt FROM h WHERE lang = 'en' GROUP BY bkt),
        |rc AS (SELECT bkt, COUNT(*) AS rcnt FROM h GROUP BY bkt),
        |s AS (SELECT h.doc_id,
        |    CAST(SUM(COALESCE(tc.tcnt, 0) + 1) AS BIGINT) AS t_sum,
        |    CAST(SUM(COALESCE(rc.rcnt, 0) + 1) AS BIGINT) AS r_sum
        |  FROM h LEFT JOIN tc USING (bkt) LEFT JOIN rc USING (bkt)
        |  GROUP BY h.doc_id),
        |sc AS (SELECT doc_id, t_sum, r_sum,
        |    CAST(t_sum AS DOUBLE)/CAST(r_sum AS DOUBLE) AS score FROM s),
        |th AS (SELECT quantile_cont(score, 0.75) AS t FROM sc)
        |SELECT doc_id, t_sum, r_sum, score,
        |  CASE WHEN score >= t THEN 1 ELSE 0 END AS selected
        |FROM sc CROSS JOIN th ORDER BY doc_id""".stripMargin,

    "d39_corpus_diff" ->
      s"""WITH v1 AS (
         |  SELECT doc_id, source, ${fpSql("text")} AS fp
         |  FROM documents WHERE doc_id % 5 <> 4),
         |v2 AS (
         |  SELECT doc_id, source,
         |    ${fpSql("CASE WHEN doc_id % 11 = 0 THEN 'rev2 ' || text ELSE text END")} AS fp
         |  FROM documents WHERE doc_id % 7 <> 6),
         |j AS (
         |  SELECT COALESCE(v1.source, v2.source) AS source,
         |    CASE WHEN v1.fp IS NULL THEN 'added'
         |         WHEN v2.fp IS NULL THEN 'removed'
         |         WHEN v1.fp = v2.fp THEN 'unchanged'
         |         ELSE 'changed' END AS status
         |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         |SELECT source,
         |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |  CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "d40_chat_render" ->
      s"""WITH $chatTurnsCte,
         |l AS (
         |  SELECT doc_id, n_turns,
         |    list_transform(generate_series(0, n_turns - 1),
         |      j -> CAST(length(array_to_string(toks[j*8+1:j*8+8], ' ')) AS BIGINT)) AS lens
         |  FROM t),
         |r AS (SELECT doc_id, lens, unnest(generate_series(0, n_turns - 1)) AS turn_idx FROM l)
         |SELECT doc_id, turn_idx, role, body_len, start_off,
         |  CAST(start_off + mlen AS BIGINT) AS body_start,
         |  CAST(start_off + mlen + body_len AS BIGINT) AS body_end,
         |  CAST(CASE WHEN turn_idx % 2 = 1 THEN 1 ELSE 0 END AS BIGINT) AS in_loss
         |FROM (
         |  SELECT doc_id, turn_idx,
         |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         |    CASE WHEN turn_idx % 2 = 0 THEN 9 ELSE 14 END AS mlen,
         |    lens[CAST(turn_idx + 1 AS INTEGER)] AS body_len,
         |    CAST(COALESCE(list_sum(lens[1:CAST(turn_idx AS INTEGER)]), 0)
         |      + 9*((turn_idx+1)//2) + 14*(turn_idx//2) + turn_idx AS BIGINT) AS start_off
         |  FROM r) x
         |ORDER BY doc_id, turn_idx""".stripMargin,

    "d41_turn_validate" ->
      s"""WITH $chatTurnsCte,
         |v AS (
         |  SELECT doc_id, n_turns,
         |    list_transform(generate_series(0, n_turns - 1), i ->
         |      CASE WHEN doc_id % 17 = 0 AND i = 1 THEN 'user'
         |           WHEN (CASE WHEN doc_id % 13 = 0 THEN (i+1)%2 ELSE i%2 END) = 0 THEN 'user'
         |           ELSE 'assistant' END) AS roles,
         |    list_transform(generate_series(0, n_turns - 1), i ->
         |      CASE WHEN doc_id % 19 = 0 AND i = n_turns - 1 THEN ''
         |           ELSE array_to_string(toks[i*8+1:i*8+8], ' ') END) AS bodies
         |  FROM t),
         |f AS (
         |  SELECT doc_id, n_turns,
         |    CASE WHEN roles[1] = 'user' THEN 1 ELSE 0 END AS first_user,
         |    CASE WHEN n_turns < 2 OR len(list_filter(generate_series(0, n_turns - 2),
         |        i -> roles[CAST(i+1 AS INTEGER)] = roles[CAST(i+2 AS INTEGER)])) = 0
         |      THEN 1 ELSE 0 END AS alternation_ok,
         |    CASE WHEN len(list_filter(bodies, b -> b = '')) = 0 THEN 1 ELSE 0 END AS no_empty,
         |    CASE WHEN roles[CAST(n_turns AS INTEGER)] = 'assistant' THEN 1 ELSE 0 END AS ends_assistant
         |  FROM v)
         |SELECT doc_id, n_turns,
         |  CAST(first_user AS BIGINT) AS first_user,
         |  CAST(alternation_ok AS BIGINT) AS alternation_ok,
         |  CAST(no_empty AS BIGINT) AS no_empty,
         |  CAST(ends_assistant AS BIGINT) AS ends_assistant,
         |  CAST(first_user * alternation_ok * no_empty * ends_assistant
         |    * (CASE WHEN n_turns >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS valid
         |FROM f ORDER BY doc_id""".stripMargin,

    "d42_prompt_dedup" ->
      s"""SELECT ${fpSql("array_to_string((regexp_split_to_array(trim(text), '\\s+'))[1:8], ' ')")} AS prompt_fp,
         |  MIN(doc_id) AS keep_id, COUNT(*) AS n_convs
         |FROM documents GROUP BY prompt_fp ORDER BY prompt_fp""".stripMargin,

    "d44_preference_pairs" ->
      s"""WITH sc AS (
         |  SELECT doc_id, prompt_fp,
         |    0.4*stop_ratio + 0.3*(1.0 - punct_ratio)
         |      + 0.3*least(1.0, CAST(n_tokens AS DOUBLE)/100.0) AS score
         |  FROM (
         |    SELECT doc_id, prompt_fp, n_tokens,
         |      CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stop_ratio,
         |      CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE)/CAST(n_chars AS DOUBLE) END AS punct_ratio
         |    FROM (
         |      SELECT doc_id,
         |        ${fpSql("array_to_string((regexp_split_to_array(trim(text), '\\s+'))[1:8], ' ')")} AS prompt_fp,
         |        len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         |        len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
         |          w -> w IN ('the','a','and','of','to','in'))) AS n_stop,
         |        length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
         |        length(text) AS n_chars
         |      FROM documents) x) y),
         |g AS (SELECT prompt_fp, COUNT(*) AS n_convs FROM sc
         |  GROUP BY prompt_fp HAVING COUNT(*) >= 2),
         |ch AS (SELECT prompt_fp, doc_id AS chosen_id, score AS cscore FROM (
         |  SELECT prompt_fp, doc_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY prompt_fp ORDER BY score DESC, doc_id) AS rn
         |  FROM sc) t WHERE rn = 1),
         |rj AS (SELECT prompt_fp, doc_id AS rejected_id, score AS rscore FROM (
         |  SELECT prompt_fp, doc_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY prompt_fp ORDER BY score ASC, doc_id DESC) AS rn
         |  FROM sc) t WHERE rn = 1)
         |SELECT g.prompt_fp, g.n_convs, ch.chosen_id, rj.rejected_id,
         |  ch.cscore - rj.rscore AS score_gap
         |FROM g JOIN ch USING (prompt_fp) JOIN rj USING (prompt_fp)
         |ORDER BY prompt_fp""".stripMargin,

    "d43_length_buckets" ->
      """WITH t AS (SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n FROM documents),
        |b AS (SELECT n,
        |    CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
        |         WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |         WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048 ELSE 4096 END AS BIGINT) AS capacity,
        |    least(n, 4096) AS kept FROM t)
        |SELECT capacity, COUNT(*) AS n_docs,
        |  CAST(SUM(kept) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(capacity - kept) AS BIGINT) AS n_pad,
        |  CAST(SUM(CASE WHEN n > 4096 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
        |  CAST(CAST(SUM(kept) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) * capacity AS DOUBLE) AS utilization
        |FROM b GROUP BY capacity ORDER BY capacity""".stripMargin,

    "d16_contamination" ->
      s"""WITH fp AS ($winnowFpSql),
         |tr AS (SELECT doc_id AS train_id, fingerprint FROM fp WHERE doc_id % 10 <> 0),
         |ev AS (SELECT doc_id AS eval_id, fingerprint FROM fp WHERE doc_id % 10 = 0)
         |SELECT train_id, eval_id, COUNT(*) AS n_shared
         |FROM tr JOIN ev USING (fingerprint)
         |GROUP BY train_id, eval_id HAVING COUNT(*) >= 3
         |ORDER BY train_id, eval_id""".stripMargin,
    "d1_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  length(text) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d2_quality_score" ->
      """SELECT doc_id, n_tokens, stop_ratio, punct_ratio,
        |  0.4*stop_ratio + 0.3*(1.0 - punct_ratio) + 0.3*least(1.0, CAST(n_tokens AS DOUBLE)/100.0) AS score
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |    CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE)/CAST(n_chars AS DOUBLE) END AS punct_ratio
        |  FROM (
        |    SELECT doc_id,
        |      len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |      len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        w -> w IN ('the','a','and','of','to','in'))) AS n_stop,
        |      length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
        |      length(text) AS n_chars
        |    FROM documents) x) y
        |ORDER BY doc_id""".stripMargin,

    "d3_langid" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN c_en >= 3 AND c_en >= c_es AND c_en >= c_de THEN 'en'
        |    WHEN c_es >= 3 AND c_es >= c_de THEN 'es'
        |    WHEN c_de >= 3 THEN 'de'
        |    ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\b(?:the|and|of|to)\b')) AS c_en,
        |    len(regexp_extract_all(text, '\b(?:el|la|de|que)\b')) AS c_es,
        |    len(regexp_extract_all(text, '\b(?:der|die|das|und)\b')) AS c_de
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "d4_dedup_exact" ->
      """SELECT md5(lower(text)) AS text_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,

    // 40-token windows re-joined as text, the d3 marker rule per
    // segment, distinct non-und count + deterministic majority
    "d45_bpe_train" -> bpeTrainOracle(10),

    "d46_lang_mix" ->
      raw"""WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |base AS (SELECT doc_id, toks,
        |  CAST((len(toks) + 39) // 40 AS INTEGER) AS n_segments FROM t),
        |ix AS (SELECT doc_id, n_segments, toks,
        |  unnest(generate_series(0, n_segments - 1)) AS i FROM base),
        |segs AS (SELECT doc_id,
        |  array_to_string(toks[i*40 + 1 : i*40 + 40], ' ') AS seg FROM ix),
        |lang AS (SELECT doc_id,
        |  CASE WHEN c_en >= 3 AND c_en >= c_es AND c_en >= c_de THEN 'en'
        |       WHEN c_es >= 3 AND c_es >= c_de THEN 'es'
        |       WHEN c_de >= 3 THEN 'de' ELSE 'und' END AS seg_lang
        |  FROM (SELECT doc_id,
        |    len(regexp_extract_all(seg, '\b(?:the|and|of|to)\b')) AS c_en,
        |    len(regexp_extract_all(seg, '\b(?:el|la|de|que)\b')) AS c_es,
        |    len(regexp_extract_all(seg, '\b(?:der|die|das|und)\b')) AS c_de
        |  FROM segs) x),
        |nu AS (SELECT doc_id, seg_lang, COUNT(*) AS n FROM lang
        |  WHERE seg_lang <> 'und' GROUP BY 1, 2),
        |nl AS (SELECT doc_id, COUNT(DISTINCT seg_lang) AS n_langs FROM nu GROUP BY 1),
        |maj AS (SELECT doc_id, seg_lang AS majority_lang FROM (
        |  SELECT doc_id, seg_lang,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, seg_lang) AS rn
        |  FROM nu) r WHERE rn = 1)
        |SELECT b.doc_id, b.n_segments,
        |  COALESCE(nl.n_langs, 0) AS n_langs,
        |  COALESCE(nl.n_langs, 0) >= 2 AS is_mixed,
        |  COALESCE(maj.majority_lang, 'und') AS majority_lang
        |FROM base b
        |LEFT JOIN nl ON nl.doc_id = b.doc_id
        |LEFT JOIN maj ON maj.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    "d5_ngram_jaccard" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, substring(text, 1, 30) AS pfx, $toksSql AS toks
         |  FROM documents)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jaccard
         |FROM t a JOIN t b ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin,

    "d8_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(regexp_split_to_array(substring(lower(text), 1, 64), ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a*31 + b) % 1000000000000000) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d6_minhash_lsh" -> minhashOracle,

    "d64_lsh_curve" -> lshCurveOracle,

    "d65_ngram_novelty" -> noveltyOracle,

    "d66_dup_spans" -> dupSpansOracle,
    // shared oracle TEXT: persisted ≡ recompute certified at the gate
    "d66_spans_indexed" -> dupSpansOracle,
    "d75_span_cut" -> spanCutOracle,
    "d76_span_residual" -> spanResidualOracle,
    "d77_suffix_array" -> suffixArrayOracle,
    "d78_repeat_screen" -> repeatScreenOracle,
    "d79_pagerank" -> pagerankOracle,
    "d80_top_contexts" -> topContextsOracle,
    "d81_cluster_split" -> clusterSplitOracle,

    "d67_prefix_join" -> prefixJoinOracle,

    "d7_simhash" -> simhashOracle,

    "d83_mor_curate" ->
      """SELECT 'dropped' AS part, lang, source, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'zh' GROUP BY 2, 3
        |UNION ALL
        |SELECT 'live', lang, source, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE lang <> 'zh' GROUP BY 2, 3
        |ORDER BY part, lang, source""".stripMargin,

    "d11_dedup_apply" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT MIN(doc_id) FROM documents GROUP BY md5(lower(text)))
        |ORDER BY doc_id""".stripMargin,

    "d12_curate" ->
      """SELECT doc_id, lang_pred, n_tokens FROM (
        |  SELECT doc_id,
        |    CASE
        |      WHEN c_en >= 3 AND c_en >= c_es AND c_en >= c_de THEN 'en'
        |      WHEN c_es >= 3 AND c_es >= c_de THEN 'es'
        |      WHEN c_de >= 3 THEN 'de'
        |      ELSE 'und' END AS lang_pred,
        |    n_tokens, n_stop
        |  FROM (
        |    SELECT doc_id,
        |      len(regexp_extract_all(text, '\b(?:the|and|of|to)\b')) AS c_en,
        |      len(regexp_extract_all(text, '\b(?:el|la|de|que)\b')) AS c_es,
        |      len(regexp_extract_all(text, '\b(?:der|die|das|und)\b')) AS c_de,
        |      len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |      len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        w -> w IN ('the','a','and','of','to','in'))) AS n_stop
        |    FROM documents) x) y
        |WHERE lang_pred = 'en' AND n_tokens >= 30
        |  AND CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) >= 0.1
        |ORDER BY doc_id""".stripMargin,

    "d10_winnow" ->
      s"""SELECT doc_id, fingerprint FROM ($winnowFpSql) t
         |ORDER BY doc_id, fingerprint""".stripMargin,

    "d27_dedup_report" ->
      s"""WITH $simhashPairsChain,
         |ex AS (SELECT COUNT(*) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_docs
         |  FROM (SELECT md5(lower(text)) AS h, COUNT(*) AS n
         |        FROM documents GROUP BY 1) g),
         |np AS (SELECT COUNT(*) AS n_neardup_pairs FROM prs WHERE hamming <= 3)
         |SELECT n_docs, n_docs - n_groups AS n_exact_dups, n_neardup_pairs,
         |  CAST(n_docs - n_groups AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    AS exact_dup_rate
         |FROM ex CROSS JOIN np""".stripMargin,

    "d26_containment" ->
      s"""WITH fp AS ($winnowFpSql),
         |keep AS (SELECT fingerprint FROM fp
         |  GROUP BY fingerprint HAVING COUNT(*) <= 100),
         |f2 AS (SELECT fp.doc_id, fp.fingerprint
         |  FROM fp JOIN keep USING (fingerprint)),
         |sz AS (SELECT doc_id, COUNT(*) AS n_fp FROM f2 GROUP BY doc_id),
         |prs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    COUNT(*) AS n_shared
         |  FROM f2 a JOIN f2 b
         |    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
         |SELECT a_id, b_id, n_shared,
         |  CAST(n_shared AS DOUBLE) / CAST(sa.n_fp AS DOUBLE) AS containment_a,
         |  CAST(n_shared AS DOUBLE) / CAST(sb.n_fp AS DOUBLE) AS containment_b
         |FROM prs
         |JOIN sz sa ON sa.doc_id = a_id
         |JOIN sz sb ON sb.doc_id = b_id
         |ORDER BY a_id, b_id""".stripMargin,

    "d18_passage_dedup" ->
      """WITH b AS (
        |  SELECT doc_id, u.i AS block_idx,
        |    md5(array_to_string(toks[(u.i*20+1):(u.i*20+20)], ' ')) AS bh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents) t
        |  CROSS JOIN unnest(generate_series(0,
        |    greatest(CAST(ceil(len(toks)/20.0) AS INT) - 1, 0))) u(i)),
        |k AS (SELECT doc_id, bh,
        |    ROW_NUMBER() OVER (PARTITION BY bh ORDER BY doc_id, block_idx) AS rn
        |  FROM b)
        |SELECT doc_id, COUNT(*) AS n_blocks,
        |  CAST(COUNT(*) FILTER (rn = 1) AS BIGINT) AS n_kept
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d22_token_diversity" ->
      """WITH c AS (
        |  SELECT doc_id, tok, COUNT(*) AS n FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |    FROM documents) t
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS vocab,
        |  1.0 - CAST(SUM(n*n) AS DOUBLE) /
        |    (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS simpson
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d21_source_mix" ->
      """WITH per AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source, lang),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share
        |FROM per CROSS JOIN tot ORDER BY source, lang""".stripMargin,

    "d9_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+')) AS n_bpe,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m1_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len, sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d14_top_ngrams" ->
      """SELECT bigram, COUNT(*) AS n FROM (
        |  SELECT unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(generate_series(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+1], ' ')) END) AS bigram
        |  FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents) a) b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "d15_hash_sample" ->
      """SELECT lang, COUNT(*) AS n_sampled FROM documents
        |WHERE (((doc_id % 2147483647) * 2654435761) % 2147483647) % 100 < 10
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "d23_boilerplate_clean" -> {
      val keep = "ln -> len(string_split(ln, ' ')) >= 5 AND " +
        "(ends_with(ln, '.') OR ends_with(ln, '!') OR ends_with(ln, '?'))"
      s"""WITH r AS (
         |  SELECT doc_id, concat_ws(chr(10),
         |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[1:8], ' ') || '.',
         |    'click here to continue',
         |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[9:12], ' ') || ' today!',
         |    'terms of service apply',
         |    CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.' END,
         |    CASE WHEN doc_id % 5 = 0 THEN 'enable javascript { var x = 1; }' END) AS raw
         |  FROM documents)
         |SELECT doc_id,
         |  len(string_split(raw, chr(10))) AS n_lines,
         |  len(list_filter(string_split(raw, chr(10)), $keep)) AS n_kept,
         |  array_to_string(list_filter(string_split(raw, chr(10)), $keep),
         |    chr(10)) AS clean_text
         |FROM r
         |WHERE NOT contains(raw, 'lorem ipsum') AND NOT contains(raw, '{')
         |ORDER BY doc_id""".stripMargin
    },

    "d24_bigram_lm" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(generate_series(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+1], ' ')) END) AS bigram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents) a),
        |f AS (SELECT bigram, COUNT(*) AS cf FROM b GROUP BY bigram)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(cf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_cf
        |FROM b JOIN f USING (bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same bigram/unigram dictionaries as d24's chain; the PMI ratio
    // is written with the exact Spark cast-and-multiply order so the
    // doubles (and therefore the top-20 cut) cannot fork
    "d68_pmi_collocations" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |           FROM documents),
        |b AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |        ELSE list_transform(generate_series(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+1], ' ')) END) AS bigram
        |      FROM t),
        |bc AS (SELECT bigram, COUNT(*) AS cxy FROM b
        |       WHERE contains(bigram, ' ') GROUP BY bigram),
        |nbg AS (SELECT SUM(cxy) AS n_bg FROM bc),
        |uc AS (SELECT w, COUNT(*) AS cw FROM
        |         (SELECT unnest(toks) AS w FROM t) GROUP BY w),
        |nug AS (SELECT SUM(cw) AS n_ug FROM uc)
        |SELECT split_part(bigram, ' ', 1) AS w1,
        |  split_part(bigram, ' ', 2) AS w2, cxy,
        |  u1.cw AS c1, u2.cw AS c2,
        |  (CAST(cxy AS DOUBLE) * CAST(n_ug AS DOUBLE) * CAST(n_ug AS DOUBLE)) /
        |    (CAST(n_bg AS DOUBLE) * CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE))
        |    AS pmi_ratio
        |FROM bc CROSS JOIN nbg CROSS JOIN nug
        |JOIN uc u1 ON u1.w = split_part(bigram, ' ', 1)
        |JOIN uc u2 ON u2.w = split_part(bigram, ' ', 2)
        |WHERE cxy >= 5
        |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20""".stripMargin,

    // same exact-content grouping (md5 of the lowercased text — the
    // d4/d60 key), one edge division
    "d74_soft_dedup_weights" ->
      """WITH h AS (SELECT doc_id, md5(lower(text)) AS h FROM documents),
        |c AS (SELECT h, COUNT(*) AS n_copies FROM h GROUP BY h)
        |SELECT doc_id, n_copies,
        |  1.0 / CAST(n_copies AS DOUBLE) AS sample_weight
        |FROM h JOIN c USING (h)
        |ORDER BY doc_id""".stripMargin,

    // the same hash-derived rule synthesis; the argmax replays as a
    // (length, allow, path)-ordered window — rows with no matching
    // rule surface as the left join's single null row → default allow
    "d72_robots_filter" -> {
      val ph = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(regexp_split_to_array(domain, ''), " +
        "ch -> CAST(ascii(ch) AS BIGINT))), (a, b) -> (a*31 + b) % 1000003)"
      s"""WITH docs AS (SELECT doc_id, source AS domain,
         |    '/' || lang || '/p' || CAST(doc_id % 50 AS VARCHAR) AS path
         |  FROM documents),
         |srcs AS (SELECT DISTINCT source AS domain FROM documents),
         |bl AS (SELECT domain, $ph AS h,
         |    (['en','es','de','fr','zh'])[($ph % 5) + 1] AS bl
         |  FROM srcs),
         |rules AS (
         |  SELECT domain, '/' AS rpath, 1 AS allow FROM bl WHERE h % 3 <> 0
         |  UNION ALL SELECT domain, '/' || bl || '/', 0 FROM bl
         |  UNION ALL SELECT domain, '/' || bl || '/p1', 1 FROM bl),
         |m AS (SELECT d.doc_id, d.path, r.rpath, r.allow
         |  FROM docs d LEFT JOIN rules r
         |    ON r.domain = d.domain AND starts_with(d.path, r.rpath)),
         |sel AS (SELECT doc_id, path, rpath, allow,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY length(rpath) DESC, allow DESC, rpath DESC) AS rn
         |  FROM m)
         |SELECT doc_id, path, rpath AS matched_rule,
         |  COALESCE(allow = 1, TRUE) AS allowed
         |FROM sel WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },

    // same deduped-dictionary continuation counts; the single edge
    // division is the only double op, so p_kn cannot fork
    "d71_kn_smoothing" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |           FROM documents),
        |b AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |        ELSE list_transform(generate_series(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+1], ' ')) END) AS bigram
        |      FROM t),
        |bc AS (SELECT bigram, split_part(bigram, ' ', 1) AS w1,
        |         split_part(bigram, ' ', 2) AS w2, COUNT(*) AS cxy
        |       FROM b WHERE contains(bigram, ' ') GROUP BY bigram),
        |ls AS (SELECT w1, CAST(SUM(cxy) AS BIGINT) AS cl, COUNT(*) AS n1l
        |       FROM bc GROUP BY w1),
        |rs AS (SELECT w2, COUNT(*) AS n1r FROM bc GROUP BY w2),
        |nt AS (SELECT COUNT(*) AS n_types FROM bc)
        |SELECT bc.w1, bc.w2, cxy, cl, n1l, n1r,
        |  CAST(greatest(cxy * 4 - 3, 0) * n_types + 3 * n1l * n1r AS DOUBLE) /
        |    CAST(4 * cl * n_types AS DOUBLE) AS p_kn
        |FROM bc JOIN ls ON ls.w1 = bc.w1 JOIN rs ON rs.w2 = bc.w2
        |CROSS JOIN nt
        |ORDER BY p_kn DESC, bc.w1, bc.w2 LIMIT 20""".stripMargin,

    // the same two-hash permutation; the shard count re-derives from
    // count(*) with the identical occupancy rule
    "d69_shuffle_shard" ->
      """WITH ns AS (SELECT COALESCE((SELECT MIN(CAST(32 AS BIGINT) << g.j)
        |    FROM generate_series(0, 20) g(j)
        |    WHERE (CAST(32 AS BIGINT) << g.j) * 2048 >=
        |      (SELECT count(*) FROM documents)), CAST(32 AS BIGINT) << 20) AS n_shards),
        |k AS (SELECT doc_id,
        |    (((doc_id % 2147483647) * 2654435761) % 2147483647) % n_shards AS shard,
        |    ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 AS sort_key
        |  FROM documents CROSS JOIN ns)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY sort_key, doc_id) AS INTEGER) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin,

    // the same hash-derived cuts and PSM concat; DuckDB's inclusive
    // 1-based list slices line up with Spark's (start, length) slices
    // at every boundary (lo = 0, lo = hi, hi = n included)
    "d70_fim_transform" ->
      """WITH t AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    ((doc_id % 2147483647) * 2654435761) % 2147483647 AS h1,
        |    ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 AS h2
        |  FROM documents),
        |c AS (SELECT doc_id, text, toks, h1 % 2 = 0 AS fim_applied,
        |    len(toks) AS n,
        |    least(h1 % (len(toks) + 1), h2 % (len(toks) + 1)) AS lo,
        |    greatest(h1 % (len(toks) + 1), h2 % (len(toks) + 1)) AS hi
        |  FROM t)
        |SELECT doc_id, fim_applied,
        |  CAST(CASE WHEN fim_applied THEN lo ELSE n END AS INTEGER) AS n_prefix,
        |  CAST(CASE WHEN fim_applied THEN hi - lo ELSE 0 END AS INTEGER) AS n_middle,
        |  CAST(CASE WHEN fim_applied THEN n - hi ELSE 0 END AS INTEGER) AS n_suffix,
        |  CASE WHEN fim_applied THEN
        |    concat('<PRE> ', array_to_string(toks[1:lo], ' '),
        |           ' <SUF> ', array_to_string(toks[hi+1:n], ' '),
        |           ' <MID> ', array_to_string(toks[lo+1:hi], ' '))
        |  ELSE text END AS psm_text
        |FROM c ORDER BY doc_id""".stripMargin,

    "d25_stratified_sample" ->
      """WITH c AS (
        |  SELECT lang, source, COUNT(*) AS cnt FROM documents
        |  GROUP BY lang, source),
        |m AS (SELECT MIN(cnt) AS mincnt FROM c)
        |SELECT doc_id, documents.lang, documents.source
        |FROM documents
        |JOIN c ON documents.lang = c.lang AND documents.source = c.source
        |CROSS JOIN m
        |WHERE (((doc_id % 2147483647) * 2654435761) % 2147483647) % 1000003 * cnt
        |  < mincnt * 1000003
        |ORDER BY doc_id""".stripMargin,

    // expected features from the pixel-generation formula: byte i of the
    // 16x8 RGB payload is (id*31 + i) % 256, so channel c's mean is the
    // average of (id*31 + p*3 + c) % 256 over the 128 pixels
    "m2_image_decode" -> {
      def mean(c: Int) =
        s"list_aggregate(list_transform(generate_series(0, 127), " +
          s"p -> CAST((s_suppkey*31 + p*3 + $c) % 256 AS DOUBLE)), 'avg')"
      s"""SELECT s_suppkey AS id,
         |  CAST(16 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
         |  ${mean(0)} AS mean_r,
         |  ${mean(1)} AS mean_g,
         |  ${mean(2)} AS mean_b
         |FROM supplier ORDER BY id""".stripMargin
    },

    "d19_pii_redact" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    concat('reach ', c_name, ' at ',
        |      CAST(c_nationkey % 90 + 10 AS VARCHAR), '-',
        |      lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'), '-',
        |      lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0'), '-',
        |      lpad(CAST(c_custkey * 13 % 10000 AS VARCHAR), 4, '0'), ' or ',
        |      lower(regexp_replace(c_name, '[^A-Za-z0-9]+', '.', 'g')),
        |      '@example.com today') AS text
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(text,
        |    '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
        |    '[a-z0-9.]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z]+\.[a-z]+')) AS INTEGER) AS n_email
        |FROM t ORDER BY c_custkey""".stripMargin,

    "d17_repetition" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(generate_series(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+1], ' ')) END) AS bigram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents) a),
        |c AS (SELECT doc_id, bigram, COUNT(*) AS n FROM b GROUP BY doc_id, bigram)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |  CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_bigram_frac,
        |  1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS dup_bigram_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // expected dhash from the pixel-generation formula: gray(p) of the
    // 16×8 image is the integer mean of three consecutive %254 channel
    // bytes (+delta brightness); bit b compares gray neighbors in the
    // 9×8 window; bit 63 uses Long.MinValue wrap semantics (the d7
    // trick); pairs brute-force in SQL — the banded Spark join has
    // COMPLETE recall at hamming ≤ 3 by pigeonhole, so the sets match
    "m5_image_phash" -> {
      def px(o: String) = s"xor(sid*2654435761, ($o)*1103515245) % 254"
      val grayExpr =
        s"(${px("p*3")} + ${px("p*3+1")} + ${px("p*3+2")} + 3*delta) // 3"
      val terms = (0 until 64).map { b =>
        val i = (b / 8) * 16 + (b % 8) + 1
        val w = if (b < 63) (1L << b).toString else "(-9223372036854775807 - 1)"
        s"(CASE WHEN gl[$i] < gl[${i + 1}] THEN $w ELSE 0 END)"
      }.mkString("\n    + ")
      s"""WITH imgs AS (
         |  SELECT s_suppkey * 2 + dlt.d AS id, s_suppkey AS sid, dlt.d AS delta
         |  FROM supplier CROSS JOIN (VALUES (0), (1)) dlt(d)),
         |g AS (SELECT id, list_transform(generate_series(0, 127),
         |    p -> $grayExpr) AS gl FROM imgs),
         |h AS (SELECT id, $terms AS dhash FROM g)
         |SELECT a.id AS a_id, b.id AS b_id,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.id < b.id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin
    },

    // expected features from the frame-generation formula: luma byte i
    // of frame f is (id*17 + f*29 + i*7) % 256 over the 8x8 plane
    "m4_video_frames" -> {
      val lumas = "list_transform(generate_series(0, 63), " +
        "i -> (s_suppkey*17 + f.f*29 + i*7) % 256)"
      s"""SELECT s_suppkey AS id, CAST(f.f AS INTEGER) AS frame_idx,
         |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
         |  CAST(4 + s_suppkey % 3 AS INTEGER) AS n_frames,
         |  CAST(list_aggregate($lumas, 'sum') AS DOUBLE) / 64.0 AS mean_y,
         |  CAST(list_max($lumas) AS INTEGER) AS peak_y
         |FROM supplier
         |CROSS JOIN unnest(generate_series(0, 4 + s_suppkey % 3 - 1)) f(f)
         |WHERE f.f % 2 = 0 ORDER BY id, frame_idx""".stripMargin
    },

    "m3_audio_decode" -> {
      val n = "(800 + (s_suppkey % 5) * 100)"
      val amp = s"abs((s_suppkey*37 + i*13) % 2003 - 1001)"
      s"""SELECT s_suppkey AS id,
         |  CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST($n AS INTEGER) AS n_samples,
         |  CAST($n AS DOUBLE) * 1000.0 / 8000 AS duration_ms,
         |  CAST(list_aggregate(list_transform(generate_series(0, $n - 1),
         |    i -> $amp), 'sum') AS DOUBLE) / $n AS mean_abs,
         |  CAST(list_max(list_transform(generate_series(0, $n - 1),
         |    i -> $amp)) AS INTEGER) AS peak_abs
         |FROM supplier ORDER BY id""".stripMargin
    },

    // m16: expected stats from the generation formula, the interp
    // midpoints as exact half-integer doubles — (a+b)/2.0 and the
    // running |out| sum are exact in double, so the fold is portable
    "m16_audio_resample" -> {
      val n = "(800 + (s_suppkey % 5) * 100)"
      def sig(i: String) = s"((s_suppkey*37 + ($i)*13) % 2003 - 1001)"
      val outj = s"CASE WHEN j % 2 = 0 THEN CAST(${sig("j//2")} AS DOUBLE) " +
        s"ELSE (CAST(${sig("(j-1)//2")} AS DOUBLE) + " +
        s"CAST(${sig("(j+1)//2")} AS DOUBLE)) / 2.0 END"
      s"""SELECT s_suppkey AS id,
         |  CAST(8000 AS INTEGER) AS src_rate,
         |  CAST(16000 AS INTEGER) AS dst_rate,
         |  CAST(2*$n - 1 AS INTEGER) AS n_out,
         |  CAST(list_aggregate(list_transform(generate_series(0, 2*$n - 2),
         |    j -> abs($outj)), 'sum') AS DOUBLE) / (2*$n - 1) AS mean_abs,
         |  CAST(list_max(list_transform(generate_series(0, 2*$n - 2),
         |    j -> abs($outj))) AS DOUBLE) AS peak_abs
         |FROM supplier ORDER BY id""".stripMargin
    },

    // frame f's |sample| sum and the clip total are exact integer
    // sums; the voiced rule (2·fs·nf > tot) and the run-start count
    // replay the kernel bit-for-bit (n is a multiple of 100, so every
    // sample sits in a full frame)
    "m17_vad" -> {
      val nf = "(6 + s_suppkey % 4)"
      val smp = "(CASE WHEN ((i // 100 + s_suppkey) % 3) = 0 " +
        "THEN (s_suppkey*7 + i*13) % 41 - 20 " +
        "ELSE (s_suppkey*37 + i*13) % 2003 - 1001 END)"
      s"""WITH fr AS (
         |  SELECT s_suppkey AS id, $nf AS nf,
         |    list_transform(generate_series(0, $nf - 1),
         |      f -> list_aggregate(list_transform(
         |        generate_series(f*100, f*100 + 99), i -> abs($smp)), 'sum')) AS fs
         |  FROM supplier),
         |v AS (
         |  SELECT id, nf,
         |    list_transform(generate_series(1, nf),
         |      f -> 2*fs[f]*nf > list_aggregate(fs, 'sum')) AS vf
         |  FROM fr)
         |SELECT id,
         |  CAST(nf AS INTEGER) AS n_frames,
         |  CAST(len(list_filter(vf, x -> x)) AS INTEGER) AS n_voiced,
         |  CAST(len(list_filter(generate_series(1, nf),
         |    f -> vf[f] AND (f = 1 OR NOT vf[f-1]))) AS INTEGER) AS n_segments,
         |  CAST(len(list_filter(vf, x -> x)) AS DOUBLE) / nf AS voiced_ratio
         |FROM v ORDER BY id""".stripMargin
    },

    // geometry-only oracle by design: JPEG pixel values are decoder-
    // bounded, not bit-fixed (see the query comment); a null width
    // (decode failure) or wrong dims fails the hash
    "m10_jpeg_decode" ->
      """SELECT s_suppkey AS id,
        |  CAST(24 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height
        |FROM supplier ORDER BY id""".stripMargin,

    // expected features from the pixel-generation formula: byte i of
    // the RGB buffer is (id*29 + i*3) % 256, channel c sits at 3p+c
    "m9_png_decode" -> {
      def mean(c: Int) =
        s"list_aggregate(list_transform(generate_series(0, 127), " +
          s"p -> CAST((s_suppkey*29 + (p*3 + $c)*3) % 256 AS DOUBLE)), 'avg')"
      s"""SELECT s_suppkey AS id,
         |  CAST(16 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
         |  ${mean(0)} AS mean_r,
         |  ${mean(1)} AS mean_g,
         |  ${mean(2)} AS mean_b
         |FROM supplier ORDER BY id""".stripMargin
    },

    // the µ-law expansion in SQL: byte u → b = 255 − u (complement),
    // magnitude ((b%16)·8 + 132)·2^((b//16)%8) − 132, |sample| = the
    // magnitude regardless of the sign bit
    "m8_ulaw_decode" -> {
      val n = "(600 + (s_suppkey % 4) * 100)"
      val b = "(255 - ((s_suppkey*7 + i*31) % 256))"
      val mag = s"((($b % 16) * 8 + 132) * " +
        s"([1,2,4,8,16,32,64,128])[(($b // 16) % 8) + 1] - 132)"
      s"""SELECT s_suppkey AS id,
         |  CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST($n AS INTEGER) AS n_samples,
         |  CAST($n AS DOUBLE) * 1000.0 / 8000 AS duration_ms,
         |  CAST(list_aggregate(list_transform(generate_series(0, $n - 1),
         |    i -> $mag), 'sum') AS DOUBLE) / $n AS mean_abs,
         |  CAST(list_max(list_transform(generate_series(0, $n - 1),
         |    i -> $mag)) AS INTEGER) AS peak_abs
         |FROM supplier ORDER BY id""".stripMargin
    },

    // the A-law expansion in SQL: byte a → x = a XOR 0x55, magnitude
    // (x%16)·16 + 8 in segment 0 and ((x%16)·16 + 264)·2^(e−1) in
    // segment e ≥ 1; |sample| = the magnitude regardless of sign
    "m19_alaw_decode" -> {
      val n = "(500 + (s_suppkey % 5) * 100)"
      val x = "xor((s_suppkey*11 + i*17) % 256, 85)"
      val mag = s"(CASE WHEN (($x // 16) % 8) = 0 THEN ($x % 16) * 16 + 8 " +
        s"ELSE (($x % 16) * 16 + 264) * " +
        s"([1,2,4,8,16,32,64])[(($x // 16) % 8)] END)"
      s"""SELECT s_suppkey AS id,
         |  CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST($n AS INTEGER) AS n_samples,
         |  CAST($n AS DOUBLE) * 1000.0 / 8000 AS duration_ms,
         |  CAST(list_aggregate(list_transform(generate_series(0, $n - 1),
         |    i -> $mag), 'sum') AS DOUBLE) / $n AS mean_abs,
         |  CAST(list_max(list_transform(generate_series(0, $n - 1),
         |    i -> $mag)) AS INTEGER) AS peak_abs
         |FROM supplier ORDER BY id""".stripMargin
    },

    // the scaled pixel is the floored 2×2 box mean of the generator
    // bytes; canvas means divide by 64 (the 32 pad pixels are 0)
    "m23_image_letterbox" -> {
      def v(dx: Int, dy: Int, c: String) =
        s"((s_suppkey*31 + ((2*(p // 8) + $dy)*16 + (2*(p % 8) + $dx))*3 + $c) % 256)"
      def rp(c: String) =
        s"((${v(0, 0, c)} + ${v(1, 0, c)} + ${v(0, 1, c)} + ${v(1, 1, c)}) // 4)"
      def mean(c: String) =
        s"CAST(list_aggregate(list_transform(generate_series(0, 31), " +
          s"p -> ${rp(c)}), 'sum') AS DOUBLE) / 64"
      s"""SELECT s_suppkey AS id,
         |  CAST(8 AS INTEGER) AS out_w, CAST(8 AS INTEGER) AS out_h,
         |  CAST(0 AS INTEGER) AS pad_left, CAST(2 AS INTEGER) AS pad_top,
         |  ${mean("0")} AS mean_r,
         |  ${mean("1")} AS mean_g,
         |  ${mean("2")} AS mean_b
         |FROM supplier ORDER BY id""".stripMargin
    },

    // the BT.601 fixed-point formulas replicated per pixel: chroma
    // sample q = (y/2)·4 + (x/2); negative totals clip to 0 before
    // the // 256, so no engine shift convention is in play
    "m22_yuv_rgb" -> {
      val yv = "((s_suppkey*7 + f*11 + p*3) % 256)"
      val q = "(((p // 8) // 2) * 4 + (p % 8) // 2)"
      val uv = s"((s_suppkey*5 + f*3 + $q*9) % 256)"
      val vv = s"((s_suppkey*3 + f*7 + $q*13) % 256)"
      def cl(t: String) =
        s"(CASE WHEN ($t) < 0 THEN 0 ELSE least(($t) // 256, 255) END)"
      val r = cl(s"298*($yv - 16) + 409*($vv - 128) + 128")
      val g = cl(s"298*($yv - 16) - 100*($uv - 128) - 208*($vv - 128) + 128")
      val b = cl(s"298*($yv - 16) + 516*($uv - 128) + 128")
      def mean(ch: String) =
        s"CAST(list_aggregate(list_transform(generate_series(0, 31), " +
          s"p -> CAST($ch AS BIGINT)), 'sum') AS DOUBLE) / 32"
      s"""SELECT s_suppkey AS id, f AS frame_idx,
         |  CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
         |  ${mean(r)} AS mean_r,
         |  ${mean(g)} AS mean_g,
         |  ${mean(b)} AS mean_b
         |FROM supplier CROSS JOIN
         |  (SELECT CAST(unnest(generate_series(0, 2)) AS INTEGER) AS f)
         |ORDER BY id, frame_idx""".stripMargin
    },

    // closed-form record geometry: k tokens "tok{v}" (v = (id·7 +
    // r·13 + j) % 50) joined by single spaces with the 4-byte
    // separator replacing one space → content_length = Σ(3 +
    // digits(v)) + k + 2; a parser that splits on \r\n\r\n instead of
    // honoring Content-Length cannot reproduce these rows
    "m21_warc_records" -> {
      val v = "((s_suppkey*7 + r*13 + j) % 50)"
      s"""SELECT s_suppkey AS id, CAST(r AS INTEGER) AS rec_idx,
         |  concat('http://site', s_suppkey, '.example/p', r) AS uri,
         |  CAST(list_aggregate(list_transform(generate_series(0, k - 1),
         |    j -> 3 + CASE WHEN $v < 10 THEN 1 ELSE 2 END), 'sum')
         |    + k + 2 AS INTEGER) AS content_length,
         |  CAST(k AS INTEGER) AS n_tokens
         |FROM (SELECT s_suppkey, r, 5 + (s_suppkey + r) % 4 AS k
         |      FROM supplier
         |      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
         |      WHERE r < 2 + s_suppkey % 3) t
         |ORDER BY id, rec_idx""".stripMargin
    },

    // the interleave + downmix closed form: frame i mixes to
    // A + B − 8000 with A/B the two channel generators (both channels
    // even, so >> 1 is exact division by 2 in any convention)
    "m20_stereo_downmix" -> {
      val n = "(400 + (s_suppkey % 4) * 150)"
      val mag = "abs(((s_suppkey*5 + i*7) % 8000) + " +
        "((s_suppkey*3 + i*11) % 8000) - 8000)"
      s"""SELECT s_suppkey AS id,
         |  CAST(16000 AS INTEGER) AS sample_rate,
         |  CAST($n AS INTEGER) AS n_samples,
         |  CAST($n AS DOUBLE) * 1000.0 / 16000 AS duration_ms,
         |  CAST(list_aggregate(list_transform(generate_series(0, $n - 1),
         |    i -> $mag), 'sum') AS DOUBLE) / $n AS mean_abs,
         |  CAST(list_max(list_transform(generate_series(0, $n - 1),
         |    i -> $mag)) AS INTEGER) AS peak_abs
         |FROM supplier ORDER BY id""".stripMargin
    },

    // the composed screen replicated piecewise: even frames are the
    // full-rect formula; odd frames keep the previous full frame
    // outside the (2,1)+4×2 patch and take the patch formula inside
    "m15_gif_frames" -> {
      // composed palette index at pixel p of frame f (x = p%8, y = p//8)
      val idx = "(CASE WHEN (f % 2) = 0 " +
        "THEN (s_suppkey*7 + f*13 + p*3) % 256 " +
        "ELSE (CASE WHEN (p % 8) BETWEEN 2 AND 5 AND (p // 8) BETWEEN 1 AND 2 " +
        "THEN (s_suppkey*9 + f*5 + (((p // 8) - 1)*4 + ((p % 8) - 2))*7) % 256 " +
        "ELSE (s_suppkey*7 + (f - 1)*13 + p*3) % 256 END) END)"
      def mean(ch: String) =
        s"CAST(list_aggregate(list_transform(generate_series(0, 31), " +
          s"p -> CAST($ch AS BIGINT)), 'sum') AS DOUBLE) / 32"
      s"""SELECT s_suppkey AS id, f AS frame_idx,
         |  CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
         |  ${mean(idx)} AS mean_r,
         |  ${mean(s"(($idx) * 5 + 1) % 256")} AS mean_g,
         |  ${mean(s"(($idx) * 11 + 3) % 256")} AS mean_b
         |FROM supplier CROSS JOIN
         |  (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS f)
         |ORDER BY id, frame_idx""".stripMargin
    },

    // the per-pixel luma formula and the |diff| fold replicated in
    // SQL per (id, boundary): frame f pixel p = (id*7 + (f//S)*101 +
    // p*3) % 256, S = 2 + id%3
    "m14_scene_change" -> {
      val scene = "(2 + s_suppkey % 3)"
      def lum(f: String) = s"((s_suppkey * 7 + ($f // $scene) * 101 + p * 3) % 256)"
      s"""SELECT s_suppkey AS id, f AS frame_idx,
         |  CAST(list_aggregate(list_transform(generate_series(0, 31),
         |    p -> abs(${lum("f")} - ${lum("(f - 1)")})), 'sum') AS DOUBLE) / 32 AS mad,
         |  (CAST(list_aggregate(list_transform(generate_series(0, 31),
         |    p -> abs(${lum("f")} - ${lum("(f - 1)")})), 'sum') AS DOUBLE) / 32) >= 1.0 AS is_cut
         |FROM supplier CROSS JOIN (SELECT CAST(unnest(generate_series(1, 5)) AS INTEGER) AS f)
         |ORDER BY id, frame_idx""".stripMargin
    },

    // the square-wave sample formula replicated in SQL; strict
    // sign-flip crossings, exact integer square/count folds, one
    // division + one IEEE sqrt at the end
    "m13_audio_stats" -> {
      val n = "(400 + (s_suppkey % 3) * 100)"
      val half = "(4 + (s_suppkey % 5))"
      val a = "((s_suppkey * 13) % 1000)"
      def smp(i: String) = s"(CASE WHEN (($i // $half) % 2) = 0 THEN $a ELSE -$a END)"
      s"""SELECT s_suppkey AS id,
         |  CAST($n AS INTEGER) AS n_samples,
         |  CAST(list_aggregate(list_transform(generate_series(1, $n - 1),
         |    i -> CASE WHEN ${smp("(i-1)")} * ${smp("i")} < 0 THEN 1 ELSE 0 END),
         |    'sum') AS BIGINT) AS zero_crossings,
         |  sqrt(CAST(list_aggregate(list_transform(generate_series(0, $n - 1),
         |    i -> CAST(${smp("i")} AS BIGINT) * ${smp("i")}), 'sum') AS DOUBLE)
         |    / $n) AS rms,
         |  CAST(list_aggregate(list_transform(generate_series(0, $n - 1),
         |    i -> CASE WHEN abs(${smp("i")}) < 328 THEN 1 ELSE 0 END), 'sum')
         |    AS DOUBLE) / $n AS silence_ratio
         |FROM supplier ORDER BY id""".stripMargin
    },

    // expected features from the index+palette generation formulas:
    // pixel p's palette index is (s_suppkey*13 + p*11) % 256 and
    // channel ch of palette entry c is (c*A + B) % 256
    "m7_gif_decode" -> {
      def mean(a: Int, b: Int) =
        s"list_aggregate(list_transform(generate_series(0, 127), " +
          s"p -> CAST((((s_suppkey*13 + p*11) % 256) * $a + $b) % 256 AS DOUBLE)), 'avg')"
      s"""SELECT s_suppkey AS id,
         |  CAST(16 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
         |  ${mean(3, 5)} AS mean_r,
         |  ${mean(7, 1)} AS mean_g,
         |  ${mean(11, 9)} AS mean_b
         |FROM supplier ORDER BY id""".stripMargin
    },

    "m11_bmp_decode" -> {
      def mean(a: Int, b: Int) =
        s"list_aggregate(list_transform(generate_series(0, 116), " +
          s"p -> CAST((s_suppkey*$a + p*$b) % 256 AS DOUBLE)), 'avg')"
      s"""SELECT s_suppkey AS id,
         |  CAST(13 AS INTEGER) AS width, CAST(9 AS INTEGER) AS height,
         |  ${mean(5, 7)} AS mean_r,
         |  ${mean(9, 3)} AS mean_g,
         |  ${mean(11, 13)} AS mean_b
         |FROM supplier ORDER BY id""".stripMargin
    },

    // FULL sample-fidelity oracle: the ramp generation formula —
    // sample i = a + slope*i — is exactly what IMA ADPCM reconstructs
    // for slopes in {0,±1,±3,±4} at step index 0 (see the query
    // comment), so mean|s| and peak|s| replicate closed-form
    "m12_adpcm_decode" -> {
      val n = "(100 + (s_suppkey % 5) * 57)"
      val a = "((s_suppkey * 37) % 1000 - 500)"
      val sl = "(([0,1,3,4,-1,-3,-4])[(s_suppkey % 7) + 1])"
      s"""SELECT s_suppkey AS id,
         |  CAST(16000 AS INTEGER) AS sample_rate,
         |  CAST($n AS INTEGER) AS n_samples,
         |  CAST($n AS DOUBLE) * 1000.0 / 16000 AS duration_ms,
         |  CAST(list_aggregate(list_transform(generate_series(0, $n - 1),
         |    i -> abs($a + $sl * i)), 'sum') AS DOUBLE) / $n AS mean_abs,
         |  CAST(list_max(list_transform(generate_series(0, $n - 1),
         |    i -> abs($a + $sl * i))) AS INTEGER) AS peak_abs
         |FROM supplier ORDER BY id""".stripMargin
    },

    "d30_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, lower('https://WWW.' || source || '.Example.com/'
        |    || lang || '/p' || CAST(doc_id % 50 AS VARCHAR)
        |    || '?utm_source=feed&utm_id=' || CAST(doc_id AS VARCHAR)
        |    || '&ref=' || CAST(doc_id % 3 AS VARCHAR)) AS lurl
        |  FROM documents),
        |n AS (SELECT doc_id,
        |        regexp_replace(lurl, '^https?://(www\.)?', '') AS ns
        |      FROM u),
        |c AS (SELECT doc_id,
        |  string_split(ns, '?')[1] AS path,
        |  array_to_string(list_filter(
        |    string_split(string_split(ns, '?')[2], '&'),
        |    p -> NOT starts_with(p, 'utm_')), '&') AS kept FROM n)
        |SELECT CASE WHEN kept = '' THEN path
        |         ELSE path || '?' || kept END AS canonical_url,
        |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
        |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin,

    // expected pairs from the frame-generation formula: the +f
    // brightness offset cancels in every dHash comparison (both sides
    // shift equally), so a video's hash depends only on (sid, k) and
    // the brute-force pairing runs over per-video hashes expanded to
    // frame ids — exactly what the banded join computes
    "m6_video_frame_dedup" -> {
      val lumExpr = "xor(sid*2654435761, p*2246822519) % 254"
      val terms = (0 until 64).map { b =>
        val i = (b / 8) * 16 + (b % 8) + 1
        val w = if (b < 63) (1L << b).toString else "(-9223372036854775807 - 1)"
        s"(CASE WHEN gl[$i] < gl[${i + 1}] THEN $w ELSE 0 END)"
      }.mkString("\n    + ")
      s"""WITH v AS (
         |  SELECT s_suppkey AS sid FROM supplier),
         |g AS (SELECT sid, list_transform(generate_series(0, 127),
         |    p -> $lumExpr) AS gl FROM v),
         |h AS (SELECT sid, $terms AS dhash FROM g),
         |fr AS (SELECT sid * 4 + f.f AS fid, dhash
         |       FROM h CROSS JOIN (VALUES (0), (1), (2)) f(f))
         |SELECT a.fid AS a_id, b.fid AS b_id,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM fr a JOIN fr b ON a.fid < b.fid
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin
    },

    // DuckDB SUM(INTEGER) widens to HUGEINT — every integer window/agg
    // sum is CAST back to BIGINT to match Spark's long (the q58 lesson)
    "d28_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER)
        |      AS n_tokens,
        |    (((doc_id % 2147483647) * 2654435761) % 2147483647) AS h
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens, h % 8 AS shard,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY h % 8
        |      ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tok_offset
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, tok_offset,
        |  tok_offset // 512 AS seq_id,
        |  tok_offset % 512 AS seq_off,
        |  (tok_offset + n_tokens - 1) // 512 - tok_offset // 512 + 1
        |    AS n_seqs
        |FROM o ORDER BY doc_id""".stripMargin,

    "d29_bm25" -> bm25Oracle,

    // the index is a deterministic derivation of the corpus, so the
    // indexed query proves against the SAME from-scratch oracle
    "d50_bm25_indexed" -> bm25Oracle,

    // every SUM is CAST back to BIGINT before entering arithmetic
    // (DuckDB widens to HUGEINT — the q58 lesson); the single double
    // division is written with the identical operand order as Spark
    "d31_source_divergence" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |st AS (SELECT source, tok, COUNT(*) AS cst FROM tok
        |       GROUP BY source, tok),
        |t AS (SELECT tok, CAST(SUM(cst) AS BIGINT) AS ct FROM st
        |      GROUP BY tok),
        |ns AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS nsrc FROM st
        |       GROUP BY source),
        |n AS (SELECT CAST(SUM(cst) AS BIGINT) AS ntot FROM st)
        |SELECT source, nsrc AS n_tokens,
        |  CAST(CAST(SUM(ABS(cst*ntot - ct*nsrc)) AS BIGINT)
        |     + nsrc * (ntot - CAST(SUM(ct) AS BIGINT)) AS DOUBLE)
        |  / (CAST(2.0 AS DOUBLE) * nsrc * ntot) AS tv_dist
        |FROM st JOIN t USING (tok) JOIN ns USING (source) CROSS JOIN n
        |GROUP BY source, nsrc, ntot
        |ORDER BY source""".stripMargin,

    "d32_domain_cap" ->
      """WITH docs AS (
        |  SELECT doc_id, source || '.' || lang || '.example.com' AS domain
        |  FROM documents),
        |f AS (SELECT * FROM docs WHERE domain NOT IN
        |  ('src3.zh.example.com', 'src7.de.example.com',
        |   'src11.en.example.com')),
        |r AS (SELECT domain, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
        |      FROM f)
        |SELECT domain, rk, doc_id FROM r WHERE rk <= 5
        |ORDER BY domain, rk""".stripMargin,

    // same in-row folds; BIGINT casts on the list sums, doubles only
    // in the two ratios (identical operand order)
    "d36_gopher_rules" ->
      raw"""WITH t AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_aggregate(list_transform(toks, tok -> len(tok)), 'sum')
        |      AS BIGINT) AS sum_wlen,
        |    CAST(len(text) - len(replace(text, '#', ''))
        |      + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(toks, tok -> regexp_matches(tok, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      w -> list_contains(toks, w))) AS BIGINT) AS n_req_stop
        |  FROM t),
        |r AS (SELECT doc_id, n_words,
        |    CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_wlen,
        |    CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) AS sym_ratio,
        |    CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_frac,
        |    n_req_stop
        |  FROM s)
        |SELECT doc_id, n_words, mean_wlen, sym_ratio, alpha_frac, n_req_stop,
        |  CASE WHEN n_words >= 50 AND n_words <= 100000
        |        AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
        |        AND sym_ratio <= 0.1 AND alpha_frac >= 0.8
        |        AND n_req_stop >= 2
        |       THEN 1 ELSE 0 END AS pass
        |FROM r ORDER BY doc_id""".stripMargin,

    // 13-gram shingles (whole-text fallback under 13 tokens — the
    // winnow/d24 convention), polyHash fingerprints, BIGINT-cast sums
    // d73 reads the PERSISTED eval-gram index; the screen itself is
    // the same math, so the two queries share ONE oracle text
    "d73_decontaminate_indexed" -> decontamOracle,

    "d35_decontaminate" -> decontamOracle,

    // exact semantics regardless of Bloom false positives: the filter
    // only prunes the plan, never the answer — plain left join logic
    "d60_bloom_dedup" ->
      """WITH hist AS (SELECT doc_id, md5(lower(text)) AS h FROM documents),
        |delta AS (
        |  SELECT doc_id + 100000 AS doc_id, md5(lower(text)) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, md5(lower('rev2 ' || text)) AS h
        |  FROM documents WHERE doc_id % 3 = 1),
        |k AS (SELECT h, MIN(doc_id) AS dup_of FROM hist GROUP BY h)
        |SELECT d.doc_id, d.h, k.dup_of,
        |  CASE WHEN k.dup_of IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |FROM delta d LEFT JOIN k ON d.h = k.h
        |ORDER BY d.doc_id""".stripMargin,

    // the banded-pairs chain is complete at hamming ≤ 3 (pigeonhole),
    // so the drop set is exact: an odd doc drops iff ANY pair links it
    // to an even doc (either side — the whole index screens) or to a
    // SMALLER odd doc (the delta keeps earliest arrivals)
    "d34_incremental_dedup" ->
      s"""WITH $simhashPairsChain,
         |dropped AS (
         |  SELECT b_id AS doc_id FROM prs WHERE hamming <= 3 AND b_id % 2 = 1
         |  UNION
         |  SELECT a_id FROM prs WHERE hamming <= 3 AND a_id % 2 = 1 AND b_id % 2 = 0)
         |SELECT doc_id, simhash FROM sims
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY doc_id""".stripMargin,

    // d52: the d35 gram CTE over the whole corpus; duplicated grams
    // filtered in the HAVING before the join back (mirrors the Spark
    // plan's build-side prune); BIGINT casts per the q58 lesson
    "d52_dup_density" ->
      raw"""WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(generate_series(1, len(toks) - 12),
        |        i -> array_to_string(toks[i:i+12], ' ')) END,
        |      s2 -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(s2, ''),
        |          c2 -> CAST(ascii(c2) AS BIGINT))),
        |        (a, b) -> (a*31 + b) % 1000003)))) AS gram
        |  FROM tk),
        |c AS (SELECT gram, COUNT(*) AS gram_docs FROM g
        |  GROUP BY gram HAVING COUNT(*) > 1),
        |agg AS (SELECT g.doc_id, COUNT(*) AS n_grams,
        |    CAST(SUM(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup
        |  FROM g LEFT JOIN c ON g.gram = c.gram GROUP BY g.doc_id)
        |SELECT doc_id, n_grams, n_dup,
        |  CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac
        |FROM agg ORDER BY doc_id""".stripMargin,

    // d53: the d36 + d33 CTE fragments plus the d4 keeper rule as a
    // min-over-window, one conjunction aggregate, 4-row UNION unpivot
    "d53_pipeline_funnel" ->
      raw"""WITH t AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, md5(lower(text)) AS text_hash,
        |    CAST(list_aggregate(list_transform(toks, tok ->
        |      ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(regexp_split_to_array(tok, ''),
        |            c2 -> CAST(ascii(c2) AS BIGINT))),
        |        (a, b) -> (a*31 + b) % 1000003) % 1024) * 2654435761) % 2039 - 1019
        |    ), 'sum') AS BIGINT) AS raw_score,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_aggregate(list_transform(toks, tok -> len(tok)), 'sum')
        |      AS BIGINT) AS sum_wlen,
        |    CAST(len(text) - len(replace(text, '#', ''))
        |      + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(toks, tok -> regexp_matches(tok, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      w -> list_contains(toks, w))) AS BIGINT) AS n_req_stop
        |  FROM t),
        |f AS (SELECT doc_id,
        |    CASE WHEN n_words >= 50 AND n_words <= 100000
        |          AND CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        |          AND CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
        |          AND CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1
        |          AND CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
        |          AND n_req_stop >= 2
        |         THEN 1 ELSE 0 END AS g,
        |    CASE WHEN CAST(raw_score AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0
        |         THEN 1 ELSE 0 END AS c,
        |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY text_hash)
        |         THEN 1 ELSE 0 END AS k
        |  FROM s),
        |a AS (SELECT COUNT(*) AS n_raw,
        |    CAST(SUM(g) AS BIGINT) AS n_g,
        |    CAST(SUM(g*c) AS BIGINT) AS n_gc,
        |    CAST(SUM(g*c*k) AS BIGINT) AS n_gck FROM f)
        |SELECT stage_idx, stage, n_docs,
        |  CAST(n_docs AS DOUBLE) / CAST(n_raw AS DOUBLE) AS retained_frac
        |FROM (
        |  SELECT 0 AS stage_idx, 'raw' AS stage, n_raw AS n_docs, n_raw FROM a
        |  UNION ALL SELECT 1, 'gopher', n_g, n_raw FROM a
        |  UNION ALL SELECT 2, 'classifier', n_gc, n_raw FROM a
        |  UNION ALL SELECT 3, 'exact_dedup', n_gck, n_raw FROM a)
        |ORDER BY stage_idx""".stripMargin,

    // d54: the d46 window-slice convention (1-based inclusive list
    // bounds) at 64/48 geometry; the same ceil-over-double chunk count
    "d54_rag_chunks" ->
      raw"""WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, toks,
        |    CAST(greatest(1, ceil((len(toks) - 16) / 48.0)) AS INTEGER) AS n_chunks
        |  FROM t),
        |ix AS (SELECT doc_id, toks,
        |    unnest(generate_series(0, n_chunks - 1)) AS i FROM b)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  CAST(i * 48 AS INTEGER) AS start_tok,
        |  CAST(len(toks[i*48 + 1 : i*48 + 64]) AS INTEGER) AS n_tok,
        |  array_to_string(toks[i*48 + 1 : i*48 + 64], ' ') AS chunk_text
        |FROM ix ORDER BY doc_id, chunk_idx""".stripMargin,

    // d55: the same portable-hash offset inlined per block lambda;
    // inclusive 1-based slices (off=0 → empty prefix, the d46/d54
    // convention); n_tokens/n_spans INTEGER to match Spark size()/cast
    "d55_span_corruption" -> {
      def off(bb: String) =
        s"(((((doc_id*131 + $bb) % 2147483647) * 2654435761) % 2147483647) % 18)"
      raw"""WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, toks,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(toks) // 20 AS INTEGER) AS n_spans FROM t)
        |SELECT doc_id, n_tokens, n_spans,
        |  array_to_string(list_concat(
        |    CASE WHEN n_spans > 0 THEN
        |      flatten(list_transform(generate_series(0, n_spans - 1), bb ->
        |        list_concat(list_concat(
        |          toks[bb*20 + 1 : bb*20 + ${off("bb")}],
        |          ['<extra_id_' || CAST(bb AS VARCHAR) || '>']),
        |          toks[bb*20 + ${off("bb")} + 4 : bb*20 + 20])))
        |    ELSE [] END,
        |    toks[n_spans*20 + 1 : n_tokens]), ' ') AS input_text,
        |  COALESCE(array_to_string(
        |    CASE WHEN n_spans > 0 THEN
        |      list_transform(generate_series(0, n_spans - 1), bb ->
        |        '<extra_id_' || CAST(bb AS VARCHAR) || '>' || ' ' ||
        |        array_to_string(
        |          toks[bb*20 + ${off("bb")} + 1 : bb*20 + ${off("bb")} + 3], ' '))
        |    ELSE [] END, ' '), '') AS target_text
        |FROM b ORDER BY doc_id""".stripMargin
    },

    // d56: the d9 count folds aggregated per lang; BIGINT sums, the
    // two double divisions on aggregated totals only
    "d56_tokenizer_fertility" ->
      raw"""WITH s AS (SELECT lang, n_chars,
        |    len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+')) AS nb,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS nw
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(nb) AS BIGINT) AS n_bpe,
        |  CAST(SUM(nw) AS BIGINT) AS n_ws,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(nb) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE) AS fertility,
        |  CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(nb) AS DOUBLE)
        |    AS chars_per_token
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    // d82: the same gear-hash boundary rule (inline polyHash fold mod
    // 1000003), cumulative boundary window, per-chunk ORDER BY list
    // fold for the signature, then the (source, sig, n_toks) rollup;
    // HUGEINT sums cast back, one double division at the end
    "d82_cdc_chunks" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |g AS (
        |  SELECT doc_id, source, pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(toks[pos], ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, b) -> (a*31 + b) % 1000003) AS th
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS pos)),
        |c AS (
        |  SELECT doc_id, source, pos, th,
        |    COALESCE(SUM(CASE WHEN th % 16 = 0 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
        |  FROM g),
        |ch AS (
        |  SELECT doc_id, source, chunk, COUNT(*) AS n_toks,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(th ORDER BY pos)),
        |      (a, b) -> (a*31 + b) % 1000000000000000) AS sig
        |  FROM c GROUP BY 1, 2, 3),
        |sg AS (SELECT source, sig, n_toks, COUNT(*) AS cnt
        |  FROM ch GROUP BY 1, 2, 3)
        |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
        |  COUNT(*) AS n_distinct_chunks,
        |  CAST(SUM((cnt-1)*n_toks) AS BIGINT) AS dup_toks,
        |  CAST(SUM((cnt-1)*n_toks) AS DOUBLE) / CAST(SUM(cnt*n_toks) AS DOUBLE)
        |    AS dup_tok_frac
        |FROM sg GROUP BY 1 ORDER BY 1""".stripMargin,

    // d57: the d23 page synthesis, a ROW_NUMBER keeper window over
    // (line → doc_id, line_idx), ORDER BY string_agg reassembly, and
    // a left join to keep zero-line docs; BIGINT coalesce on the count
    "d57_line_dedup" ->
      raw"""WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |pg AS (SELECT doc_id, [
        |    array_to_string(w[1:8], ' ') || '.',
        |    'click here to continue',
        |    array_to_string(w[9:12], ' ') || ' today!',
        |    'terms of service apply'] AS lines FROM t),
        |l0 AS (SELECT doc_id, lines,
        |    unnest(generate_series(0, 3)) AS li FROM pg),
        |l AS (SELECT doc_id, CAST(li AS INTEGER) AS line_idx,
        |    lines[li + 1] AS line FROM l0),
        |kept AS (SELECT doc_id, line_idx, line FROM (
        |  SELECT doc_id, line_idx, line,
        |    ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |  FROM l) k WHERE rn = 1),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY line_idx) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_lines_kept,
        |  COALESCE(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // d51: the d33 logit fold and the d36 Gopher stats in one CTE chain
    // (both oracles hash-green on their own, so the shared doubles are
    // bit-equal); the [mn, mx] range from one aggregate row, the same
    // left-assoc (logit-mn)/(mx-mn)*10 IEEE expression as the Spark
    // plan, BIGINT casts on the count-sums (HUGEINT lesson)
    "d51_quality_calibration" ->
      raw"""WITH t AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(list_aggregate(list_transform(toks, tok ->
        |      ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(regexp_split_to_array(tok, ''),
        |            c2 -> CAST(ascii(c2) AS BIGINT))),
        |        (a, b) -> (a*31 + b) % 1000003) % 1024) * 2654435761) % 2039 - 1019
        |    ), 'sum') AS BIGINT) AS raw_score,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_aggregate(list_transform(toks, tok -> len(tok)), 'sum')
        |      AS BIGINT) AS sum_wlen,
        |    CAST(len(text) - len(replace(text, '#', ''))
        |      + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(toks, tok -> regexp_matches(tok, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      w -> list_contains(toks, w))) AS BIGINT) AS n_req_stop
        |  FROM t),
        |p AS (SELECT doc_id,
        |    CAST(raw_score AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS logit,
        |    CASE WHEN n_words >= 50 AND n_words <= 100000
        |          AND CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        |          AND CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
        |          AND CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1
        |          AND CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
        |          AND n_req_stop >= 2
        |         THEN 1 ELSE 0 END AS pass
        |  FROM s),
        |r AS (SELECT min(logit) AS mn, max(logit) AS mx FROM p),
        |b AS (SELECT p.pass,
        |    CASE WHEN r.mx > r.mn
        |         THEN least(CAST(floor((p.logit - r.mn) / (r.mx - r.mn) * 10)
        |                      AS INTEGER), 9)
        |         ELSE 0 END AS bin
        |  FROM p, r)
        |SELECT bin, COUNT(*) AS n_docs,
        |  CAST(SUM(pass) AS BIGINT) AS n_pass,
        |  CAST(SUM(pass) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pass_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // the same polyHash char fold as the winnow oracles; BIGINT cast on
    // the list sum (DuckDB sums into HUGEINT — the q58 lesson)
    "d33_quality_classifier" ->
      raw"""WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, len(toks) AS n_tokens,
        |  CAST(list_aggregate(list_transform(toks, tok ->
        |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(tok, ''),
        |          c2 -> CAST(ascii(c2) AS BIGINT))),
        |      (a, b) -> (a*31 + b) % 1000003) % 1024) * 2654435761) % 2039 - 1019
        |  ), 'sum') AS BIGINT) AS raw_score
        |  FROM t)
        |SELECT doc_id, n_tokens, raw_score,
        |  CAST(raw_score AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS logit,
        |  CASE WHEN CAST(raw_score AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0
        |       THEN 1 ELSE 0 END AS keep
        |FROM s ORDER BY doc_id""".stripMargin
  )

  /** The d35/d73 decontamination oracle — ONE text for the recompute
    * and the indexed read path (the index is pure materialization, so
    * sharing the oracle is what proves persisted ≡ recompute at the
    * driver gate, not just in spec). */
  private def decontamOracle: String =
    raw"""WITH tk AS (SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(generate_series(1, len(toks) - 12),
      |        i -> array_to_string(toks[i:i+12], ' ')) END,
      |      s2 -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(regexp_split_to_array(s2, ''),
      |          c2 -> CAST(ascii(c2) AS BIGINT))),
      |        (a, b) -> (a*31 + b) % 1000003)))) AS gram
      |  FROM tk),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |agg AS (SELECT tr.doc_id AS train_id, COUNT(*) AS n_grams,
      |    CAST(SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0) tr
      |  LEFT JOIN ev ON tr.gram = ev.gram GROUP BY tr.doc_id)
      |SELECT train_id, n_grams, n_hit,
      |  CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE) AS overlap,
      |  CASE WHEN CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.5
      |       THEN 1 ELSE 0 END AS drop_doc
      |FROM agg WHERE n_hit > 0 ORDER BY train_id""".stripMargin
}
